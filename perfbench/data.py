"""Seeded input generators.

Every table the benchmark loads is generated here from the run's seed, so
the same seed gives the same inputs and the engine sees nothing else.
Shapes follow the TPC-H orders table the engine's own tests use and its
curation corpus (documents, embeddings).  Money columns are
BIGINT cents, so sums compare exactly against the DuckDB reference; DECIMAL
columns are avoided because the engine's executor-side footer harvest
cannot read their statistics (see README.md, "Known defects").
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

EPOCH = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    offsets = rng.integers(0, span_days, n).astype("int64") * DAY_US
    return pa.array(EPOCH + offsets.astype("timedelta64[us]"))


ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                  "5-LOW"]


def orders(rng: np.random.Generator, keys: np.ndarray,
           years: int = 7) -> pa.Table:
    """Orders rows for the given keys, o_orderdate spread over ``years``."""
    n = len(keys)
    return pa.table({
        "o_orderkey": np.asarray(keys, dtype="int64"),
        "o_custkey": rng.integers(1, 15_000, n).astype("int64"),
        "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n)),
        "o_totalprice": rng.integers(100_000, 50_000_000, n).astype("int64"),
        "o_orderdate": _days(rng, n, years * 365),
        "o_orderpriority": pa.array(rng.choice(ORDER_PRIORITY, n)),
    })


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Pseudo-words of 2-9 letters, plus the two words the C4 rules ban."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, int(rng.integers(2, 10))))
             for _ in range(size)}
    return np.array(sorted(words) + ["spam", "slow"])


def documents(seed: int, n_docs: int, vocab_size: int = 3000) -> pa.Table:
    """A text corpus with planted near duplicates: about a fifth of the
    documents copy an earlier original with one or two words changed, so the
    MinHash, SimHash and connected-components stages all find work, while
    a large vocabulary keeps unrelated documents apart."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, vocab_size)
    texts, originals = [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            # a copy of an original, never of a copy, so clusters keep the
            # same shape on every seed
            words = texts[originals[int(rng.integers(0, len(originals)))]
                          ].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(
                    rng.choice(vocab))
        else:
            n_words = int(rng.integers(3, 40))
            words = list(rng.choice(vocab, size=n_words))
            if rng.random() < 0.03:
                words.insert(int(rng.integers(0, n_words)), "{x}")
            originals.append(i)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "es", "zh"], n_docs)),
        "source": pa.array([f"src{i % 4}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def embeddings(seed: int, n_vecs: int, dims: int = 64,
               labels: int = 8) -> pa.Table:
    """Unit-ish float32 vectors drawn around ``labels`` centres."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(0, 1, (labels, dims))
    label = rng.integers(0, labels, n_vecs)
    vecs = (centres[label] + rng.normal(0, 0.8, (n_vecs, dims)))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    offsets = pa.array(np.arange(0, (n_vecs + 1) * dims, dims,
                                 dtype="int32"))
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label.astype("int32"),
    })
