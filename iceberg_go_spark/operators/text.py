"""Text-analysis operators over document tables (DataFrame level)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import text_funcs as TX
from ..session import local_frame


def text_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-document text statistics: counts, ratios, quality, language,
    fingerprint — the standard cheap pre-filter columns for LLM corpora."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(c).alias("n_chars"),
        TX.token_count(c).alias("n_tokens"),
        TX.bpe_ish_token_count(c).alias("n_subword_tokens"),
        TX.alpha_ratio_e6(c).alias("alpha_ratio_e6"),
        TX.stopword_ratio_e6(c).alias("stopword_ratio_e6"),
        TX.quality_score_e6(c).alias("quality_e6"),
        TX.lang_id(c).alias("lang_guess"),
        TX.fingerprint(c).alias("fingerprint"),
    )


def language_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    return (df.select(TX.lang_id(F.col(text_col)).alias("lang_guess"))
            .groupBy("lang_guess").agg(F.count(F.lit(1)).alias("n_docs")))


def token_count_summary(df: DataFrame, text_col: str = "text",
                        group_col: str = "lang") -> DataFrame:
    c = F.col(text_col)
    return (df.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(TX.token_count(c)).alias("total_tokens"),
                 F.max(F.length(c)).alias("max_chars"))
            .withColumn("avg_tokens_e6",
                        TX.ratio_e6_dec(F.col("total_tokens"),
                                        F.col("n_docs")))
            .select(group_col, "n_docs", "total_tokens", "avg_tokens_e6",
                    "max_chars"))


def winnow_fp_rows(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 5,
                   window: int = 4) -> DataFrame:
    """Distinct (id, fp) winnowing-fingerprint rows — the shared front
    half of winnow_fingerprints / winnow_near_dup_pairs.

    Shape at scale: one explode per doc position (normalize materialized
    below the Generate, like dedup.char_ngram_rows), one md5 per gram,
    a bounded window-min (no shuffle beyond the per-doc partitioning),
    then a per-doc distinct."""
    from ..session import rebalance_for_amplification
    norm = rebalance_for_amplification(df).select(
        F.col(id_col), TX.normalized_text(F.col(text_col)).alias("__norm"))
    pos = (norm.filter(F.length("__norm") >= k)
           .select(F.col(id_col), F.col("__norm"),
                   F.explode(F.sequence(
                       F.lit(1), F.length("__norm") - (k - 1)))
                   .alias("__i")))
    hashed = pos.select(
        F.col(id_col), F.col("__i"),
        F.conv(F.substring(
            F.md5(F.col("__norm").substr(F.col("__i"), F.lit(k))), 1, 12),
            16, 10).cast("long").alias("__h"))
    w = Window.partitionBy(id_col).orderBy("__i").rowsBetween(0, window - 1)
    return (hashed.withColumn("__m", F.min("__h").over(w))
            .select(F.col(id_col), F.col("__m").alias("fp"))
            .distinct())


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        window: int = 4) -> DataFrame:
    """MOSS-style winnowing fingerprints: rolling k-gram hashes, minimum
    per sliding window, distinct selected hashes per document.

    The guarantee of winnowing: any shared substring of length >=
    k + window - 1 between two documents yields at least one shared
    fingerprint, with ~2/(window+1) of all gram hashes retained."""
    fps = winnow_fp_rows(df, text_col, id_col, k, window)
    return (fps.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_fingerprints"),
                 F.min("fp").alias("min_fp"),
                 F.max("fp").alias("max_fp")))


def bm25_scores(df: DataFrame, query_terms, text_col: str = "text",
                id_col: str = "doc_id", k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """Okapi BM25 relevance of every document for a bag of query terms
    (the classic sparse-retrieval ranking; idf = ln(1 + (N-df+0.5)/
    (df+0.5)), tf saturation k1, length normalization b).

    Scale shape (100 TB): the token explode is FILTERED to the query
    terms before any shuffle, so per-doc work is O(matching tokens) and
    the (doc, term) tf aggregation shuffles only matching rows; the
    query-term idf table is a handful of rows (broadcast); doc lengths
    join co-keyed on the doc id; N and avgdl are a 1-row broadcast
    cross join.  Only docs matching >= 1 term appear (score > 0)."""
    if not query_terms:
        raise ValueError("bm25 needs at least one query term")
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = df.select(F.col(id_col), TX.tokens(F.col(text_col))
                     .alias("__toks"))
    # corpus-level stats are ONE tokenization pass; hits carry the doc
    # length inline so no second tokenize-and-join per doc is needed
    # (at corpus scale, precompute/caching these two scalars amortizes
    # the remaining pass across queries)
    stats = toks.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.size("__toks")).alias("__avgdl"))
    hits = (toks.select(F.col(id_col), F.col("__toks"),
                        F.size("__toks").alias("__dl"),
                        F.explode(F.array_intersect(
                            F.array_distinct("__toks"), terms))
                        .alias("__probe"))
            .select(F.col(id_col), F.col("__probe"), F.col("__dl"),
                    F.size(F.filter("__toks",
                                    lambda t: t == F.col("__probe")))
                    .alias("__tf")))
    dfreq = (hits.groupBy("__probe")
             .agg(F.count(F.lit(1)).alias("__df")))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "__probe",
        F.log(1.0 + (F.col("__n") - F.col("__df") + 0.5)
              / (F.col("__df") + 0.5)).alias("__idf"))
    scored = (hits.join(F.broadcast(idf), "__probe")
              .crossJoin(F.broadcast(stats))
              .withColumn(
                  "__s",
                  F.col("__idf") * F.col("__tf") * (k1 + 1)
                  / (F.col("__tf") + k1 * (1 - b + b * F.col("__dl")
                                           / F.col("__avgdl")))))
    # per-term scores quantize to micro-units BEFORE the sum: a double
    # sum is combine-order-dependent (Spark's partial aggregation order
    # varies run to run), an integer sum is exact and engine-portable.
    # The one remaining double hop (idf's log) is transcendental — never
    # at a representable rounding boundary, unlike the rational ratios
    # the *_e6 sweep removed.
    return (scored.groupBy(id_col)
            .agg(F.sum(F.round(F.col("__s") * 1_000_000).cast("long"))
                 .alias("bm25_e6"),
                 F.count(F.lit(1)).cast("long").alias("n_terms_hit")))


def bpe_pair_counts(df: DataFrame, text_col: str = "text",
                    top_k: int = 30) -> DataFrame:
    """First iteration of BPE vocabulary induction: corpus-wide counts
    of adjacent character pairs inside whitespace tokens (the statistic
    a byte-pair-encoding trainer maximizes for its next merge).  Emits
    the ``top_k`` pairs ordered by (count desc, pair asc) — a total
    order, so the result is engine-reproducible.

    Scale shape: token explode then a per-token character-pair explode
    via sequence/substring inside whole-stage codegen (no UDF); the
    pair count is a map-side-combinable aggregation on a key space
    bounded by |alphabet|^2, and only top_k rows survive to the driver.
    """
    toks = (df.select(F.explode(F.split(F.col(text_col), " "))
                      .alias("__t"))
            .filter(F.length("__t") >= 2))
    pairs = toks.select(F.explode(F.expr(
        "transform(sequence(1, length(__t) - 1),"
        " i -> substring(__t, i, 2))")).alias("pair"))
    return (pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("pair"))
            .limit(top_k))


def distinctive_terms(df: DataFrame, text_col: str = "text",
                      lang_col: str = "lang", top_k: int = 5,
                      min_tf: int = 5) -> DataFrame:
    """Most distinctive terms per language — an integer-exact tf-idf
    analogue: score = tf_in_lang * 1_000_000 div tf_global, so a term
    concentrated in one language scores near 1e6 and corpus-wide terms
    score near its share.  Integer division keeps ranking identical on
    every engine (a float idf's last-ulp differences can flip ranks).

    Scale shape: one (lang, term) count — map-side combinable off the
    token explode — then a window over term for the global count and a
    per-lang top-k window.  Both windows partition by high-cardinality
    keys (term, lang), so no single reducer sees the corpus.
    """
    toks = (df.select(F.col(lang_col).alias("lang"),
                      F.explode(F.split(F.col(text_col), " "))
                      .alias("term"))
            .filter(F.col("term") != ""))
    tf = (toks.groupBy("lang", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    total = Window.partitionBy("term")
    scored = (tf.filter(F.col("tf") >= min_tf)
              .withColumn("tf_global", F.sum("tf").over(total))
              .withColumn("score", F.expr("tf * 1000000 div tf_global")))
    rank = Window.partitionBy("lang").orderBy(
        F.desc("score"), F.desc("tf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(rank))
            .filter(F.col("rank") <= top_k)
            .select("lang", "term", "tf", "score", "rank"))


def winnow_near_dup_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 5,
                          window: int = 4, min_shared: int = 2,
                          max_df: int = 50) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints
    (the MOSS comparison step): two documents pair when they share at
    least ``min_shared`` selected fingerprints.  The sparse alternative
    to full n-gram Jaccard — winnowing keeps ~2/(window+1) of gram
    hashes, so the inverted index is (window+1)/2 x smaller for the
    same shared-substring guarantee (any common substring of length >=
    k + window - 1 still collides).  Returns (id_a, id_b, n_shared_fp)
    with id_a < id_b.

    Scale shape (100 TB): an inverted-index equi-join on the
    fingerprint, never all-pairs; fingerprints appearing in more than
    ``max_df`` documents are dropped FIRST (boilerplate fingerprints
    pair everyone with everyone — the standard df-cap that bounds any
    single key's pair expansion at max_df^2), then one count
    aggregation keyed by the pair."""
    # fps feeds the doc-frequency agg AND (via kept) BOTH sides of the
    # pair self-join — un-materialized, the whole winnowing front half
    # (explode + md5 per gram + window-min + distinct) re-runs FOUR
    # times (the r9 before-plan shows 4 copies of the Generate+Window
    # subtree, 26 Exchanges).  Materialize fps once, then kept (cheap:
    # reads materialized fps twice) so each side of the self-join reads
    # rows instead of re-winnowing the corpus (guide §2.4 / §3.3).
    # localCheckpoint, not persist — plan-level cache entries would be
    # re-matched by a later identical run (cross-run result reuse).
    fps = winnow_fp_rows(df, text_col, id_col, k, window).localCheckpoint()
    docfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
    kept = fps.join(docfreq.filter(F.col("__df") <= max_df), "fp") \
        .localCheckpoint()
    a = kept.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = kept.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared_fp"))
            .filter(F.col("n_shared_fp") >= min_shared))


#: BPE symbol-sequence separator.  Words CONTAINING it cannot be
#: encoded unambiguously, so every path (train, both encode paths, the
#: DuckDB oracles) excludes them from merge statistics and encodes them
#: at character level (n_tokens = codepoint count) — the state an
#: unmerged word starts in.
BPE_SEP = "|"


def _sym_encode(col):
    """``|s1||s2||...||sn|`` symbol encoding of a word Column — double
    separators between symbols, single at the edges, so a literal
    replace of ``|a||b|`` -> ``|ab|`` is EXACTLY one greedy
    left-to-right merge pass (adjacent matches share no boundary)."""
    return F.concat(F.lit(BPE_SEP),
                    F.array_join(F.split(col, ""), BPE_SEP * 2),
                    F.lit(BPE_SEP))


def _sym_encode_py(w: str) -> str:
    """Python twin of _sym_encode (pinned bit-identical by tests)."""
    return BPE_SEP + (BPE_SEP * 2).join(list(w)) + BPE_SEP


#: bpe_train_merges' result: the merge table a tokenizer trainer persists
BPE_MERGES_SCHEMA = "step int, left string, right string, pair_count long"


def bpe_train_merges(df: DataFrame, n_merges: int = 3,
                     text_col: str = "text",
                     vocab_collect_max: int = 2_000_000,
                     max_distributed_steps: int = 64,
                     words: DataFrame | None = None) -> DataFrame:
    """Iterative BPE merge training (Sennrich et al. 2016): start from
    characters, repeatedly pick the corpus-wide most frequent adjacent
    symbol pair (count desc, then lexical left/right — deterministic)
    and merge ALL its non-overlapping occurrences left-to-right.
    Returns the merge table (step, left, right, pair_count) — the
    artifact a tokenizer trainer persists.  Extends bpe_pair_counts
    (one counting pass) to the full greedy loop.

    Cross-engine exactness: the symbol sequence is encoded as
    ``|s1||s2||...||sn|`` — double separators between symbols, single
    at the edges — so replacing ``|a||b|`` with ``|ab|`` implements the
    greedy left-to-right merge EXACTLY (two adjacent matches share no
    boundary characters; a space-separated encoding would let the first
    replacement consume the boundary the next match needs).  Both
    engines' literal replace() scan left-to-right over the source, so
    the DuckDB oracle reproduces every merge bit-for-bit.

    Scale shape (100 TB): the corpus collapses to (distinct word,
    count) ONCE — every later pass runs on the vocabulary, not the
    corpus (the standard BPE-trainer trick; vocabularies are millions
    of rows where corpora are trillions).  When the vocabulary fits
    the driver (<= ``vocab_collect_max`` distinct words, the default
    2M is tens of MB) the whole merge loop runs LOCALLY on the
    collected vocab — one Spark aggregation total, zero per-step jobs;
    this is how production tokenizer trainers (e.g. HF tokenizers)
    work, and a real 32k-vocab run is 32,000 driver iterations, not
    32,000 Spark jobs.  Past that size the loop falls back to one
    Spark pair-count job + 1-row argmax per step, HARD-CAPPED at
    ``max_distributed_steps`` (the sequential-jobs bound is the scale
    contract: raise, don't silently run 32k jobs).  Both paths are
    bit-identical (pinned by test_bpe_local_vs_distributed).

    ``words`` lets a caller that has ALREADY tokenized the corpus (e.g.
    bpe_token_counts, whose encode half needs the same (doc, word,
    count) frame) supply the mergeable vocabulary as (__w, __cnt) rows
    — skipping this function's own corpus pass (guide §2.4: one
    tokenize, two consumers)."""
    return local_frame(df.sparkSession, _bpe_merges(
        df, n_merges, text_col, vocab_collect_max, max_distributed_steps,
        words), BPE_MERGES_SCHEMA)


def _bpe_merges(df: DataFrame, n_merges: int, text_col: str = "text",
                vocab_collect_max: int = 2_000_000,
                max_distributed_steps: int = 64,
                words: DataFrame | None = None) -> list:
    """bpe_train_merges' rows as a driver list of (step, left, right,
    pair_count) tuples, from either training path."""
    if words is None:
        words = (df.select(F.explode(TX.tokens(F.col(text_col)))
                           .alias("__w"))
                 .filter((F.col("__w") != "") &
                         ~F.col("__w").contains(BPE_SEP))
                 .groupBy("__w").agg(F.count(F.lit(1)).alias("__cnt")))
    # ONE job both sizes the vocabulary and, when it fits, delivers it:
    # take(max+1) pulls at most max+1 aggregated rows (a count() would
    # run the same full corpus aggregation and then throw it away)
    head = words.take(vocab_collect_max + 1)
    if len(head) <= vocab_collect_max:
        return _bpe_train_local(head, n_merges)
    if n_merges > max_distributed_steps:
        raise ValueError(
            f"n_merges={n_merges} exceeds max_distributed_steps="
            f"{max_distributed_steps} with a vocabulary too large to "
            f"collect ({vocab_collect_max=}); each distributed merge "
            f"step is a sequential Spark job — raise vocab_collect_max "
            f"(driver-local training) or max_distributed_steps "
            f"explicitly if you accept the job count")
    cur = words.select(_sym_encode(F.col("__w")).alias("__s"),
                       F.col("__cnt"))
    cur = cur.localCheckpoint()  # the loop rewrites __s n_merges times
    merges = []
    for step in range(1, n_merges + 1):
        syms = F.filter(F.split(F.col("__s"), r"\|"),
                        lambda x: x != "")
        pairs = cur.select(
            F.col("__cnt"), F.col("__s"), syms.alias("__syms")) \
            .filter(F.size("__syms") >= 2) \
            .select(F.col("__cnt"),
                    F.explode(F.expr(
                        "transform(sequence(1, size(__syms) - 1), "
                        "i -> struct(__syms[i - 1] as l, "
                        "__syms[i] as r))")).alias("__p")) \
            .groupBy("__p.l", "__p.r") \
            .agg(F.sum("__cnt").alias("__n"))
        top = pairs.orderBy(F.col("__n").desc(), "l", "r").limit(1) \
            .collect()
        if not top:
            break
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["__n"])
        merges.append((step, l, r, n))
        pat = f"|{l}||{r}|"
        rep = f"|{l}{r}|"
        cur = cur.select(
            F.replace(F.col("__s"), F.lit(pat), F.lit(rep)).alias("__s"),
            F.col("__cnt")).localCheckpoint()
    return merges


#: Merge tables at or under this length apply as a chained JVM
#: F.replace expression (whole-stage codegen, zero Python); longer
#: tables (real tokenizers: 32k merges) switch to an Arrow-batched
#: pandas UDF looping str.replace per DISTINCT word — same semantics
#: (str.replace == F.replace for literal patterns), vocabulary-sized
#: work either way.
BPE_APPLY_EXPR_LIMIT = 64


def bpe_apply_token_counts(df: DataFrame, merges,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           dwc: DataFrame | None = None) -> DataFrame:
    """Apply a trained BPE merge table and return per-doc token counts
    (doc_id, n_tokens) — the encode half of the tokenizer pipeline
    (bpe_train_merges is the train half).

    Replays the merges IN ORDER with the same ``|s1||s2|`` encoding and
    left-to-right literal replace as training, so a word tokenizes
    exactly as the trainer's final vocab state.  Scale shape (100 TB):
    the merge replay runs on the DISTINCT-WORD vocabulary, not the
    corpus (the same vocabulary trick as training — vocabularies are
    millions where corpora are trillions), then token counts join back
    to the exploded corpus by word and sum per doc: one distinct
    shuffle + one keyed join + one keyed sum.  Small merge tables
    (<= BPE_APPLY_EXPR_LIMIT) inline as chained F.replace JVM
    expressions; larger ones run the loop in an Arrow-batched pandas
    UDF (a 32k-deep expression tree would blow analysis, and the
    per-word Python loop is the standard tokenizer-encode cost).
    Docs with no tokens (null/empty text) report n_tokens = 0; words
    containing the reserved separator encode at character level (see
    BPE_SEP)."""
    merges = [(str(left), str(right)) for left, right in merges]
    # ONE corpus explode: the per-(doc, word) count frame feeds both
    # the vocabulary (distinct words) and the join-back — without the
    # checkpoint the explode subtree evaluates once under the distinct
    # and again as the probe side (different exchanges, no reuse).
    # A caller that already built the frame (bpe_token_counts shares it
    # with the trainer) passes it via ``dwc``.
    if dwc is None:
        dwc = _bpe_doc_word_counts(df, text_col, id_col)
    vocab = dwc.select("__w").distinct()
    sep_fallback = F.length("__w").cast("int")
    if len(merges) <= BPE_APPLY_EXPR_LIMIT:
        col = _sym_encode(F.col("__w"))
        for left, right in merges:
            col = F.replace(
                col, F.lit(f"{BPE_SEP}{left}{BPE_SEP*2}{right}{BPE_SEP}"),
                F.lit(f"{BPE_SEP}{left}{right}{BPE_SEP}"))
        ntok = F.size(F.filter(F.split(col, r"\|"),
                               lambda x: x != ""))
        venc = vocab.select(
            "__w", F.when(F.col("__w").contains(BPE_SEP), sep_fallback)
            .otherwise(ntok).alias("__nt"))
    else:
        from pyspark.sql.functions import pandas_udf

        def _count(words):
            def one(w):
                if BPE_SEP in w:
                    return len(w)
                s = _sym_encode_py(w)
                for left, right in merges:
                    s = s.replace(
                        f"{BPE_SEP}{left}{BPE_SEP*2}{right}{BPE_SEP}",
                        f"{BPE_SEP}{left}{right}{BPE_SEP}")
                return sum(1 for x in s.split(BPE_SEP) if x != "")
            return words.map(one)

        count_udf = pandas_udf(_count, "int")
        venc = vocab.select("__w", count_udf(F.col("__w")).alias("__nt"))
    counts = (dwc.join(venc, "__w")
              .groupBy(id_col)
              .agg(F.sum(F.col("__c") * F.col("__nt")).alias("__n")))
    return (df.select(id_col).join(counts, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__n"), F.lit(0))
                    .cast("long").alias("n_tokens")))


def _bpe_doc_word_counts(df: DataFrame, text_col: str,
                         id_col: str) -> DataFrame:
    """(id, __w, __c) per-doc word counts, checkpointed — the shared
    front half of BPE encode (and of train-then-encode, where the
    trainer's vocabulary is a groupBy over the same frame)."""
    from ..session import rebalance_for_amplification
    return (rebalance_for_amplification(df)
            .select(F.col(id_col),
                    F.explode(TX.tokens(F.col(text_col))).alias("__w"))
            .filter(F.col("__w") != "")
            .groupBy(id_col, "__w")
            .agg(F.count(F.lit(1)).alias("__c"))
            .localCheckpoint())


def bpe_token_counts(df: DataFrame, n_merges: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Train-then-encode: bpe_train_merges on the corpus, then
    bpe_apply_token_counts with the learned table (the merge table is
    <= n_merges rows — a driver-side list by construction).

    The corpus is tokenized ONCE: the (doc, word, count) frame the
    encode half joins back to also yields the trainer's mergeable
    vocabulary as a word-keyed re-aggregation (was two independent full
    tokenize+explode passes — guide §2.4)."""
    dwc = _bpe_doc_word_counts(df, text_col, id_col)
    words = (dwc.filter(~F.col("__w").contains(BPE_SEP))
             .groupBy("__w").agg(F.sum("__c").alias("__cnt")))
    merges = [(left, right) for _step, left, right, _n
              in _bpe_merges(df, n_merges, text_col, words=words)]
    return bpe_apply_token_counts(df, merges, text_col, id_col, dwc=dwc)


def _bpe_train_local(word_rows, n_merges: int) -> list:
    """Driver-local BPE merge loop over collected (word, count) rows —
    bit-identical to the distributed loop: same ``|s1||s2|...|``
    encoding, same left-to-right all-occurrence replace (str.replace ==
    F.replace), same (count desc, left, right) tie-break (UTF-8 byte
    order equals code-point order, so Spark's binary string sort and
    Python's agree)."""
    vocab = [[_sym_encode_py(r["__w"]), int(r["__cnt"])]
             for r in word_rows]
    merges = []
    for step in range(1, n_merges + 1):
        counts: dict = {}
        for s, cnt in vocab:
            syms = [x for x in s.split("|") if x != ""]
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + cnt
        if not counts:
            break
        (l, r), n = min(counts.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((step, l, r, int(n)))
        pat, rep = f"|{l}||{r}|", f"|{l}{r}|"
        for row in vocab:
            row[0] = row[0].replace(pat, rep)
    return merges
