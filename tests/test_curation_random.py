"""Randomized cross-checks of the curation/cluster operators against
pure-Python reference implementations (fixed seeds — deterministic)."""

import random

import pytest
from pyspark.sql import functions as F

from iceberg_go_spark.operators import curation as CU
from iceberg_go_spark.operators import dedup as DD
from conftest import components_on_both_paths


@pytest.mark.parametrize("seed", [7, 23, 99])
def test_connected_components_vs_union_find(spark, monkeypatch, seed):
    rng = random.Random(seed)
    n = 60
    edges = sorted({tuple(sorted(rng.sample(range(1, n + 1), 2)))
                    for _ in range(45)})

    # reference: classic union-find
    parent = list(range(n + 1))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    verts = {v for e in edges for v in e}
    expected = {}
    for v in verts:
        root = find(v)
        expected.setdefault(root, []).append(v)
    want = {v: min(members) for members in expected.values()
            for v in members}

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    assert components_on_both_paths(pairs, monkeypatch) == want


@pytest.mark.parametrize("seed", [3, 41])
def test_pack_sequences_vs_scalar_scan(spark, seed):
    rng = random.Random(seed)
    rows = [(i, " ".join("w" for _ in range(rng.randint(1, 50))),
             rng.choice(["en", "de", "fr"]))
            for i in range(1, 120)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    budget = 64
    got = {r["doc_id"]: r for r in
           CU.pack_sequences(df, budget=budget).collect()}

    by_shard = {}
    for i, text, lang in rows:
        by_shard.setdefault(lang, []).append((i, len(text.split())))
    for lang, docs in by_shard.items():
        cum = 0
        for i, ntok in sorted(docs):
            r = got[i]
            assert r["shard"] == lang and r["n_tokens"] == ntok
            assert r["pack_id"] == cum // budget, (lang, i)
            assert r["pack_offset"] == cum % budget, (lang, i)
            cum += ntok


def test_stratified_sample_subset_and_monotone(spark):
    df = spark.range(0, 5000).select(F.col("id").alias("doc_id"))
    small = {r["doc_id"] for r in
             CU.stratified_sample(df, hex_threshold="20").collect()}
    big = {r["doc_id"] for r in
           CU.stratified_sample(df, hex_threshold="80").collect()}
    assert small < big  # raising the threshold only ADDS rows
    # md5-hex uniformity: '20'/256 = 12.5%, '80'/256 = 50%
    assert abs(len(small) - 625) < 120
    assert abs(len(big) - 2500) < 250


@pytest.mark.parametrize("seed", [11, 23])
def test_cap_per_stratum_lossless_vs_single_window(spark, seed):
    """The salted two-phase top-K keeps EXACTLY the rows a single
    global window would (the claimed losslessness: every final
    survivor is top-cap within its own salt bucket), across random
    skew including strata far above and below the cap."""
    rng = random.Random(seed)
    rows = []
    did = 0
    for s in range(6):
        n = rng.choice([1, 3, 7, 40, 150])   # below/at/above cap
        for _ in range(n):
            did += 1
            rows.append((did, f"s{s}", rng.randint(0, 50)))  # many ties
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    for cap, n_salt in ((5, 4), (12, 8), (1, 2)):
        got = CU.cap_per_stratum(df, strat_col="source", cap=cap,
                                 order_col="n_chars", id_col="doc_id",
                                 n_salt=n_salt)
        from pyspark.sql import Window
        w = Window.partitionBy("source").orderBy(F.desc("n_chars"),
                                                 F.asc("doc_id"))
        want = (df.withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= cap))
        g = sorted(r.doc_id for r in got.select("doc_id").collect())
        e = sorted(r.doc_id for r in want.select("doc_id").collect())
        assert g == e, (cap, n_salt)


@pytest.mark.parametrize("seed", [5, 17])
def test_temperature_mixture_exact_and_flattening(spark, seed):
    """Exact-integer temperature sampling: membership equals the
    closed-form threshold predicate recomputed in Python (so the kept
    set is engine-independent), and the alpha=0.5 flattening holds —
    a stratum's expected keep-rate is proportional to 1/sqrt(c)."""
    import hashlib
    import math
    rng = random.Random(seed)
    rows = []
    did = 0
    sizes = {f"s{i}": rng.choice([20, 200, 2000]) for i in range(5)}
    for s, n in sizes.items():
        for _ in range(n):
            did += 1
            rows.append((did, s))
    df = spark.createDataFrame(rows, "doc_id long, source string")
    target = 300
    kept = CU.temperature_mixture(df, target_rows=target,
                                  strat_col="source", id_col="doc_id")
    got = sorted(r.doc_id for r in kept.select("doc_id").collect())

    # closed-form replay in pure Python
    w = {s: math.isqrt(n) for s, n in sizes.items()}
    sw = sum(w.values())
    thr = {s: min(1 << 48, ((1 << 48) * target * w[s])
                  // (sw * sizes[s])) for s in sizes}
    exp = []
    for doc, s in rows:
        h = int(hashlib.md5(str(doc).encode()).hexdigest()[:12], 16)
        if h < thr[s]:
            exp.append(doc)
    assert got == sorted(exp)
    # expected total is near target (hash uniformity)
    assert abs(len(got) - target) < target * 0.35


@pytest.mark.parametrize("seed,n,min_count", [(11, 4, 2), (29, 3, 3)])
def test_duplicate_spans_vs_bruteforce(spark, seed, n, min_count):
    """Random docs over a tiny alphabet (forcing heavy gram collisions,
    overlaps, self-repeats and adjacent-span merges) — the distributed
    gram-hash + gaps-and-islands pipeline must equal a scalar scan."""
    rng = random.Random(seed)
    docs = [(i, " ".join(rng.choice("ab") for _ in range(rng.randint(0, 24))))
            for i in range(1, 41)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    from collections import Counter
    grams = Counter()
    toks = {}
    for i, text in docs:
        ws = [w for w in text.split(" ") if w]
        toks[i] = ws
        for s in range(len(ws) - n + 1):
            grams[" ".join(ws[s:s + n])] += 1
    want = {}
    for i, ws in toks.items():
        spans = []
        for s in range(len(ws) - n + 1):
            if grams[" ".join(ws[s:s + n])] >= min_count:
                e = s + n - 1
                if spans and s <= spans[-1][1] + 1:
                    spans[-1][1] = max(spans[-1][1], e)
                else:
                    spans.append([s, e])
        dup = sum(b - a + 1 for a, b in spans)
        kept = [w for p, w in enumerate(ws)
                if not any(a <= p <= b for a, b in spans)]
        want[i] = (len(spans), dup, len(ws), " ".join(kept))

    stats = {r["doc_id"]: r for r in
             DD.duplicate_span_stats(df, n=n, min_count=min_count).collect()}
    clean = {r["doc_id"]: r for r in
             DD.strip_duplicate_spans(df, n=n, min_count=min_count).collect()}
    for i, (ns, dup, tot, ktext) in want.items():
        assert stats[i]["n_spans"] == ns, i
        assert stats[i]["dup_tokens"] == dup, i
        assert stats[i]["total_tokens"] == tot, i
        assert clean[i]["clean_text"] == ktext, i
        assert clean[i]["removed_tokens"] == dup, i


def _rand_docs(rng, n_docs=40, vocab=8, max_len=20):
    words = [f"w{i}" for i in range(vocab)]
    return [(i, " ".join(rng.choice(words)
                         for _ in range(rng.randrange(0, max_len))))
            for i in range(1, n_docs + 1)]


@pytest.mark.parametrize("seed", [11, 47])
def test_ngram_novelty_vs_bruteforce(spark, seed):
    """ngram_novelty == a pure-Python first-introducer scan over random
    small-vocab corpora (high gram collision rates on purpose)."""
    rng = random.Random(seed)
    docs = _rand_docs(rng)
    n = 2
    seen = {}
    ref = {}
    for i, text in docs:  # ascending doc id == min-id semantics
        ws = [w for w in text.split(" ") if w]
        grams = {" ".join(ws[j:j + n]) for j in range(len(ws) - n + 1)} \
            if len(ws) >= n else set()
        for g in grams:
            seen.setdefault(g, i)
        novel = sum(1 for g in grams if seen[g] == i)
        ref[i] = (len(grams), novel,
                  0 if not grams else novel * 1_000_000 // len(grams))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_grams, r.novel_grams, r.novelty_e6)
           for r in CU.ngram_novelty(df, n=n).collect()}
    assert got == ref


@pytest.mark.parametrize("seed", [13, 61])
def test_bigram_predictability_vs_bruteforce(spark, seed):
    rng = random.Random(seed)
    docs = _rand_docs(rng, vocab=5)
    from collections import Counter
    bg = Counter()
    for _i, text in docs:
        ws = [w for w in text.split(" ") if w]
        bg.update(zip(ws, ws[1:]))
    pre = Counter()
    for (w1, _w2), c in bg.items():
        pre[w1] += c
    ref = {}
    for i, text in docs:
        ws = [w for w in text.split(" ") if w]
        ps = [bg[(a, b)] * 1_000_000 // pre[a]
              for a, b in zip(ws, ws[1:])]
        ref[i] = (len(ps), 0 if not ps else sum(ps) // len(ps))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.mean_bigram_p_e6)
           for r in CU.bigram_predictability(df).collect()}
    assert got == ref


@pytest.mark.parametrize("seed", [29])
def test_source_divergence_vs_bruteforce(spark, seed):
    from collections import Counter
    from fractions import Fraction
    rng = random.Random(seed)
    docs = [(i, " ".join(rng.choice(["a", "b", "c", "d"])
                         for _ in range(rng.randrange(1, 12))),
             rng.choice(["s1", "s2", "s3"]))
            for i in range(1, 31)]
    per_src, corpus = {}, Counter()
    for _i, text, src in docs:
        ws = text.split(" ")
        per_src.setdefault(src, Counter()).update(ws)
        corpus.update(ws)
    n_total = sum(corpus.values())
    ref = {}
    for src, cnt in per_src.items():
        ns = sum(cnt.values())
        tv = Fraction(0)
        for w, cw in corpus.items():
            tv += abs(Fraction(cnt.get(w, 0), ns) - Fraction(cw, n_total))
        tv = tv / 2
        ref[src] = (ns, len(cnt), int(tv * 1_000_000))  # trunc
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    got = {r.source: (r.n_tokens, r.distinct_tokens, r.tv_e6)
           for r in CU.source_token_divergence(df).collect()}
    assert got == ref
