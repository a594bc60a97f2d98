"""Corpus-curation operators for LLM training-data pipelines.

Repetition metrics (Gopher-style repetitive-text signals), benchmark
decontamination (n-gram overlap against a held-out eval set), and
deterministic stratified sampling.  All three are pure DataFrame
compositions — no Python UDFs — so they stay inside whole-stage codegen
and scale as keyed aggregations / hash joins:

- repetition: explode words -> count per (doc, token) -> per-doc rollup.
  Two shuffles, both keyed by doc_id (+token), map-side combinable.
- decontamination: the benchmark shingle set is small by construction
  (eval sets are thousands of docs, the corpus is billions) -> distinct
  then broadcast hash join against corpus shingles; corpus side is
  never shuffled.
- sampling: stateless per-row predicate on md5(doc_id) — no shuffle at
  all, reproducible across engines and runs, and strata arrive already
  proportional without a per-stratum pass.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import text_funcs as TX
from ..session import local_frame, rebalance_for_amplification


def _words(df: DataFrame, text_col: str, id_col: str,
           with_pos: bool = False) -> DataFrame:
    """One row per whitespace token; split exactly like the oracle's
    string_split(text, ' ') with empties dropped.  Positions index the
    FILTERED token sequence (empties removed BEFORE posexplode) — the
    oracle's list_filter-then-ws[i] semantics; filtering after the
    explode leaves holes at runs of whitespace, silently dropping every
    bigram that spans one (found by review; the gate corpus has only
    single spaces, so it never showed)."""
    arr = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    if with_pos:
        return df.select(F.col(id_col),
                         F.posexplode(arr).alias("__p", "__w"))
    return df.select(F.col(id_col), F.explode(arr).alias("__w"))


def _adjacent_pairs(df: DataFrame, text_col: str,
                    id_col: str) -> DataFrame:
    """(id, __w, __w2) — one row per adjacent word pair, derived by
    zipping the token array with itself shifted one (slice + arrays_zip)
    and exploding.  Replaces the (doc, pos) adjacency SELF-JOIN shape:
    that join shuffled every token row twice (two exchanges keyed on
    (id, pos)) and duplicated the tokenize lineage per side — the zip is
    one narrow per-document O(len) expression, no shuffle at all (guide
    §2.4).  Pair multiset per document is identical: positions index the
    empty-filtered token sequence, docs under two tokens contribute
    nothing (filtered BEFORE the slice — a negative slice length
    raises)."""
    arr = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    base = rebalance_for_amplification(df).select(
        F.col(id_col), arr.alias("__ws"))
    pairs = F.arrays_zip(
        F.slice("__ws", 1, F.size("__ws") - 1).alias("__w"),
        F.slice("__ws", 2, F.size("__ws") - 1).alias("__w2"))
    return (base.filter(F.size("__ws") >= 2)
            .select(F.col(id_col), F.explode(pairs).alias("__pr"))
            .select(F.col(id_col), F.col("__pr.__w").alias("__w"),
                    F.col("__pr.__w2").alias("__w2")))


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition signals (the word-level analogues of the
    Gopher repetition filters — duplicate-line metrics degrade to word
    metrics on single-line documents):

    - n_words, n_distinct_words
    - dup_word_frac: 1 - distinct/total (mass in repeated tokens)
    - top_word_frac: occurrences of the most frequent word / total
    - top_bigram_frac: occurrences of the most frequent word 2-gram /
      total bigrams (0.0 for single-word docs)

    High values on any of these mark boilerplate/spam for removal before
    training."""
    words = _words(rebalance_for_amplification(df), text_col, id_col)
    wc = words.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__n"))
    word_agg = wc.groupBy(id_col).agg(
        F.sum("__n").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("__n").alias("__top_w"))

    # adjacent word pairs via array zip — no (doc, pos) self-join, no
    # token-scale shuffle (see _adjacent_pairs)
    bigrams = _adjacent_pairs(df, text_col, id_col).select(
        F.col(id_col), F.concat_ws(" ", "__w", "__w2").alias("__bg"))
    bc = bigrams.groupBy(id_col, "__bg").agg(F.count(F.lit(1)).alias("__n"))
    bg_agg = bc.groupBy(id_col).agg(F.sum("__n").alias("__n_bg"),
                                    F.max("__n").alias("__top_bg"))

    # exact micro-unit ratios (ratio_e6): round(k/n, 6) doubles tie at
    # 6 decimals whenever n divides k*2e6 (a 128-word doc guarantees
    # one) and the engines' HALF_UP paths diverge there
    return (word_agg.join(bg_agg, id_col, "left")
            .select(
                F.col(id_col), F.col("n_words"), F.col("n_distinct_words"),
                TX.ratio_e6(F.col("n_words") - F.col("n_distinct_words"),
                            F.col("n_words")).alias("dup_word_frac_e6"),
                TX.ratio_e6(F.col("__top_w"), F.col("n_words"))
                .alias("top_word_frac_e6"),
                TX.ratio_e6(F.coalesce(F.col("__top_bg"), F.lit(0)),
                            F.coalesce(F.col("__n_bg"), F.lit(0)))
                .alias("top_bigram_frac_e6")))


def shingle_rows(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """Distinct word n-gram shingles per document, hashed to md5 text.
    Explode-by-position then substring-free assembly via slice on the
    split array keeps everything JVM-side."""
    arr = F.split(F.col(text_col), " ")
    base = rebalance_for_amplification(df).select(
        F.col(id_col), F.filter(arr, lambda w: w != "").alias("__ws"))
    # docs shorter than n have no shingles; filter BEFORE the explode —
    # Spark's sequence(1, 0) counts DOWN (it is not empty like DuckDB's
    # generate_series), which would fabricate slice starts of 0
    pos = base.filter(F.size("__ws") >= n).select(
        F.col(id_col), F.col("__ws"),
        F.explode(F.sequence(F.lit(1), F.size("__ws") - (n - 1)))
        .alias("__i"))
    return (pos.select(
        F.col(id_col),
        F.md5(F.concat_ws(" ", F.slice("__ws", F.col("__i"), n)))
        .alias("shingle"))
        .distinct())


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8) -> DataFrame:
    """Flag corpus documents sharing any word n-gram with a benchmark
    (eval-set leakage detection).  Returns (doc_id, n_hits,
    n_benchmark_docs): overlapping shingle count and how many distinct
    benchmark documents they leak from.

    Scale shape: the benchmark shingle set is distinct-ed then broadcast
    (eval suites are tiny next to a training corpus); the corpus side
    streams through a broadcast hash join with no shuffle, and only
    matching rows reach the final doc_id aggregation."""
    bench = shingle_rows(benchmark, text_col, id_col, n).select(
        F.col("shingle"), F.col(id_col).alias("__bench_id"))
    corp = shingle_rows(corpus, text_col, id_col, n)
    hits = corp.join(F.broadcast(bench), "shingle")
    return (hits.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.countDistinct("__bench_id").alias("n_benchmark_docs")))


# portable across Java regex (Spark) and RE2 (DuckDB): no lookaround,
# no backreferences — so the oracle replaces byte-identically
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+\d{7,15}\b",
}


def scrub_pii(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Redact emails / IPv4 addresses / international phone numbers,
    returning per-doc match counts and the scrubbed text.  Pure
    regexp_replace/regexp_count — stateless, shuffle-free, whole-stage
    codegen; the patterns avoid lookaround so any RE2-class engine
    produces identical redactions (cross-engine reproducibility matters
    when scrub runs in one system and audit in another)."""
    c = F.col(text_col)
    scrubbed = c
    for name, p in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, p, f"<{name.upper()}>")
    return df.select(
        F.col(id_col),
        *[F.regexp_count(c, F.lit(p)).alias(f"n_{name}")
          for name, p in PII_PATTERNS.items()],
        scrubbed.alias("scrubbed"))


def pack_sequences(df: DataFrame, budget: int,
                   text_col: str = "text", id_col: str = "doc_id",
                   shard_col: str = "lang") -> DataFrame:
    """Assign documents to fixed-token-budget context windows (sequence
    packing for LLM pretraining): within each shard, documents are laid
    out in id order and cut into packs of ``budget`` tokens; a document
    longer than the remaining space starts at its natural cumulative
    offset (contiguous fill — deterministic, and exactly what a
    window-function oracle computes).

    Returns (shard, doc_id, n_tokens, pack_id, pack_offset): the window
    each document lands in and its token offset inside it.

    Scale shape: one window partitioned by the shard column — packing
    parallelizes across shards (languages / sources / hash buckets) and
    needs no global sort; each shard's cumsum is a single in-partition
    pass.  Documents above the budget are flagged by pack_offset +
    n_tokens > budget rather than split (splitting is the tokenizer's
    job downstream)."""
    from pyspark.sql import Window
    toks = (F.size(F.filter(F.split(F.col(text_col), " "),
                            lambda w: w != ""))).cast("bigint")
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    base = df.select(F.col(shard_col).alias("shard"), F.col(id_col),
                     toks.alias("n_tokens"))
    cum = base.withColumn(
        "__before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    # exact integral division: bigint/int promotes to DOUBLE and a
    # cumulative offset past 2^53 can floor off by one against the
    # exactly-computed % — same trunc idiom as the *_e6 helpers
    b = F.col("__before")
    return cum.select(
        "shard", id_col, "n_tokens",
        ((b - b % budget) / budget).cast("long").alias("pack_id"),
        (b % budget).alias("pack_offset"))


def stratified_sample(df: DataFrame, id_col: str = "doc_id",
                      hex_threshold: str = "40") -> DataFrame:
    """Deterministic, engine-reproducible sample: keep rows whose
    md5(id) first two hex chars sort below the threshold ('40' = 64/256
    = 25%).  md5 is uniform per stratum, so strata stay proportionally
    represented without a per-stratum pass; the filter is stateless and
    shuffle-free, and the same rows are selected by any engine with md5
    (the DuckDB oracle uses the identical predicate)."""
    key = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return df.filter(key < F.lit(hex_threshold))


def leakage_safe_split(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       val_hex_threshold: str = "1a",
                       group_col: Optional[str] = None) -> DataFrame:
    """Group-aware train/validation split: the unit of assignment is a
    content GROUP — by default the normalized-text fingerprint — so
    exact and normalized-duplicate documents can NEVER straddle the
    split (the classic train/val leakage failure of row-wise random
    splits).  Pass ``group_col`` to split by any precomputed group
    (near-dup cluster id, source domain, ...).

    Scale shape: assignment is a stateless per-row predicate on
    md5(group key) — no shuffle, no history table, engine-reproducible
    (the DuckDB oracle applies the identical predicate).  '1a' = 26/256
    ≈ 10% validation."""
    key = F.md5(TX.normalized_text(F.col(text_col))) \
        if group_col is None else F.md5(F.col(group_col).cast("string"))
    return df.withColumn(
        "split",
        F.when(F.substring(key, 1, 2) < F.lit(val_hex_threshold),
               F.lit("val")).otherwise(F.lit("train")))


def mixture_sample(df: DataFrame, thresholds: dict,
                   default_threshold: str = "40",
                   strat_col: str = "lang",
                   id_col: str = "doc_id") -> DataFrame:
    """Data-mixture reweighting by per-stratum sampling rates (the
    down-sampling half of mixture tuning a la DoReMi / The Pile's
    per-source epochs; upsampling is the loader's job).  ``thresholds``
    maps stratum value -> two-hex-char md5 cutoff ('40' = 64/256 = 25%,
    'ff'+ = keep all); unlisted strata use ``default_threshold``.

    Same engine-portable primitive as ``stratified_sample``: keep a row
    iff the first md5(id) byte sorts below its stratum's cutoff —
    stateless, shuffle-free, reproducible across engines and runs."""
    key = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    thr = F.lit(default_threshold)
    for value, cutoff in sorted(thresholds.items()):
        thr = F.when(F.col(strat_col) == value, F.lit(cutoff)) \
            .otherwise(thr)
    return df.filter(key < thr)


def shuffle_shards(df: DataFrame, n_shards: int = 64,
                   id_col: str = "doc_id") -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    export: shard = md5(id) mod n_shards, position = rank of the hash
    within its shard.  The md5 ordering is a reproducible permutation
    of the corpus (same shards, same order, any engine, any run) —
    exactly what a dataloader needs to resume mid-epoch.

    Scale shape: one hash shuffle keyed by shard; each shard's ordering
    is a window partitioned BY the shard (never a global sort), so all
    shards rank in parallel and a shard maps 1:1 to an output file."""
    from pyspark.sql import Window
    h = F.md5(F.col(id_col).cast("string"))
    shard = (F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")
             % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (df.select(F.col(id_col), h.alias("__h"),
                      shard.alias("shard"))
            .withColumn("pos", F.row_number().over(w))
            .select("shard", "pos", id_col))


def global_rank(df: DataFrame, order_cols, rank_col: str = "__rank",
                num_partitions: Optional[int] = None) -> DataFrame:
    """Exact global row_number over ``order_cols`` without the
    single-partition window Spark emits for ``Window.orderBy`` with no
    partition key (which serializes the whole input through one task).

    Distributed shape: range-partition + local sort on the order key
    (one shuffle, every partition holds a contiguous rank range), stamp
    the partition id, then row_number within each partition and add the
    partition's cumulative row offset.  The offsets are |partitions|
    integers collected to the driver — metadata, not data.  Ranks are
    exact wherever the range boundaries land, provided ``order_cols``
    is a total order (include a tiebreaker column)."""
    from pyspark.sql import Window
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # localCheckpoint: the sorted layout feeds two jobs (sizes + ranks);
    # without it the upstream aggregation would recompute per job
    part = (df.repartitionByRange(n, *cols)
            .sortWithinPartitions(*cols)
            .withColumn("__gr_pid", F.spark_partition_id())
            .localCheckpoint())
    sizes = {r[0]: r[1] for r in
             part.groupBy("__gr_pid").agg(F.count(F.lit(1))).collect()}
    if not sizes:
        return df.withColumn(rank_col, F.lit(None).cast("bigint"))
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    omap = F.create_map(
        *[F.lit(v) for kv in offsets.items() for v in kv])
    w = Window.partitionBy("__gr_pid").orderBy(*cols)
    return (part.withColumn("__gr_lr", F.row_number().over(w))
            .withColumn(rank_col,
                        (F.col("__gr_lr").cast("bigint")
                         + omap[F.col("__gr_pid")].cast("bigint")))
            .drop("__gr_pid", "__gr_lr"))


def token_rarity(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Rank-based token-rarity score per document (a deterministic
    perplexity proxy: rare-token-heavy docs score high, boilerplate of
    common tokens scores low).

    The corpus vocabulary is ranked by global frequency (count desc,
    word asc -> a unique integer rank per word); a document's score is
    the mean rank of its tokens.  All-integer sums keep the score
    bit-identical across engines; the single division is exact-operand
    IEEE and equally deterministic.

    Scale shape: one groupBy(word) builds the vocabulary (map-side
    combinable); the global frequency rank is computed distributed via
    ``global_rank`` (range-partition + per-partition row_number + offset
    — never a single-partition window, so a billion-n-gram vocabulary
    ranks in parallel); tokens join the ranked vocabulary on word
    (broadcast-gated on vocabulary size) and reduce per document."""
    words = _words(df, text_col, id_col)
    vocab = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    ranked = global_rank(
        vocab, [F.col("__c").desc(), F.col("__w")], "__rank"
    ).select("__w", "__rank")
    # ranked is exactly the vocabulary: broadcast only while it is known
    # small (collected offsets already told us |V| fits driver metadata;
    # the row data itself may not fit an executor broadcast at corpus
    # scale, so let AQE pick the join side instead of forcing it)
    scored = words.join(ranked, "__w")
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("__rank").alias("sum_rank"),
                 F.max("__rank").alias("max_rank"))
            # decimal-widened exact ratio: sum_rank*1e6 can pass 2^63
            # at a billion-word vocabulary (per-doc rank sums reach
            # n_tokens * |V|), so this one takes the DECIMAL(38,0) path
            .withColumn("mean_rank_e6",
                        TX.ratio_e6_dec(F.col("sum_rank"),
                                        F.col("n_tokens"))))


def boilerplate_ngrams(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", source_col: str = "source",
                       n: int = 3, min_docs: int = 3,
                       min_doc_frac: Optional[float] = None) -> DataFrame:
    """Per-source boilerplate detection (the n-gram analogue of CCNet's
    per-domain repeated-line removal): an n-gram is boilerplate for a
    source when it appears in at least ``min_docs`` documents of that
    source (or ``min_doc_frac`` of them when given — web pipelines use a
    fraction, dedup-support pipelines an absolute floor).  Returns per
    document: distinct n-gram count, how many of them are boilerplate,
    and the boilerplate fraction.

    Scale shape: per-(source, ngram) doc-frequency is one map-side-
    combinable aggregation over distinct doc shingles; the surviving
    frequent set is tiny by construction (frequency floor) and
    broadcasts back over the corpus — the corpus itself shuffles only
    for its per-doc distinct."""
    sh = shingle_rows(df.select(id_col, text_col), text_col, id_col, n)
    src = df.select(id_col, F.col(source_col).alias("__src"))
    # sh feeds the doc-frequency agg AND the boiler-mark join, so the
    # shingle explode runs twice — DELIBERATELY left un-materialized:
    # the shingle frame is corpus x n-grams rows (token-scale), and a
    # same-box A/B of localCheckpoint-ing it here measured +16%
    # (1.14 s -> 1.32 s at sf0.1) — storing token-scale rows costs more
    # than re-streaming the explode (guide §5: cache only when
    # recompute beats the storage pressure; at 100 TB the materialized
    # frame would be corpus-sized while the recompute streams).
    sh = sh.join(src, id_col)
    counted = (sh.groupBy("__src", "shingle")
               .agg(F.count(F.lit(1)).alias("__df")))
    if min_doc_frac is not None:
        per_src_docs = (src.groupBy("__src")
                        .agg(F.countDistinct(id_col).alias("__nd")))
        # floor of 2: an n-gram must recur ACROSS documents to be
        # boilerplate — otherwise every n-gram of a single-doc source
        # trivially clears any fraction
        counted = (counted.join(F.broadcast(per_src_docs), "__src")
                   .filter((F.col("__df") >=
                            F.col("__nd") * min_doc_frac) &
                           (F.col("__df") >= 2)))
    else:
        counted = counted.filter(F.col("__df") >= min_docs)
    freq = counted.select("__src", "shingle",
                          F.lit(1).alias("__boiler"))
    marked = sh.join(F.broadcast(freq), ["__src", "shingle"], "left")
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_ngrams"),
                 F.sum(F.coalesce(F.col("__boiler"), F.lit(0)))
                 .cast("bigint").alias("n_boiler"))
            .withColumn("boiler_frac_e6",
                        TX.ratio_e6(F.col("n_boiler"),
                                    F.col("n_ngrams"))))


def dedup_paragraphs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_occurrences: int = 1,
                     sep: str = "\n") -> DataFrame:
    """Paragraph-level corpus dedup (RefinedWeb/CCNet-style boilerplate
    removal): drop every paragraph whose normalized form appears in MORE
    than ``max_occurrences`` documents across the corpus, then
    reassemble each document from its surviving paragraphs in original
    order.  Returns (id, clean_text, n_kept, n_dropped).

    Scale shape (100 TB): posexplode -> md5 -> one map-side-combinable
    count shuffle on the paragraph hash -> AQE-gated join back (the
    over-represented hash set is small; a skewed boilerplate hash is
    exactly what AQE skew-join splits) -> one keyed reassembly
    aggregation.  Pure built-ins, whole-stage codegen throughout; never
    an all-pairs comparison."""
    import re as _re
    # F.split takes a REGEX; sep is a literal (concat_ws rejoins with
    # the same literal), so escape metacharacters
    paras = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col),
                                            _re.escape(sep)))
                       .alias("__pos", "__para"))
             .filter(F.trim(F.col("__para")) != "")
             .withColumn("__h", F.md5(F.trim(F.col("__para")))))
    # distinct docs per paragraph hash: the same paragraph repeated
    # WITHIN one doc does not make it corpus-boilerplate
    counts = (paras.select("__h", id_col).distinct()
              .groupBy("__h")
              .agg(F.count(F.lit(1)).alias("__docs")))
    kept = (paras.join(counts, "__h")
            .withColumn("__keep", F.col("__docs") <= max_occurrences))
    return (kept.groupBy(id_col)
            .agg(F.concat_ws(
                     sep,
                     F.transform(
                         F.array_sort(F.collect_list(F.when(
                             F.col("__keep"),
                             F.struct(F.col("__pos"),
                                      F.col("__para"))))),
                         lambda s: s.getField("__para")))
                 .alias("clean_text"),
                 F.sum(F.when(F.col("__keep"), 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
                 .cast("long").alias("n_dropped")))


def cap_per_stratum(df: DataFrame, strat_col: str = "source",
                    cap: int = 50, order_col: str = "n_chars",
                    id_col: str = "doc_id", n_salt: int = 8) -> DataFrame:
    """Per-stratum contribution caps (the per-domain caps of
    RefinedWeb / C4-style curation): keep at most ``cap`` documents per
    stratum, preferring the highest ``order_col`` with ``id_col`` as a
    total tie-break, so the kept set is deterministic on any engine.

    Scale shape — two-phase top-K, never a whole-stratum sort on one
    reducer: phase 1 ranks within (stratum, salt-of-id) sub-partitions
    and keeps ``cap`` from each, so a hot stratum (one domain = half the
    crawl) fans out across ``n_salt`` reducers and the survivor set is
    hard-bounded at cap x n_salt rows per stratum; phase 2 ranks only
    that bounded candidate set.  Lossless vs the single-window
    formulation: the global top-cap rows are each top-cap within their
    own salt bucket, so phase 1 never drops a final survivor.
    """
    ordr = [F.desc(order_col), F.asc(id_col)]
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                  F.lit(n_salt))
    w1 = Window.partitionBy(F.col(strat_col), salt).orderBy(*ordr)
    cand = (df.withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= cap).drop("__r1"))
    w2 = Window.partitionBy(strat_col).orderBy(*ordr)
    return (cand.withColumn("__rank", F.row_number().over(w2))
            .filter(F.col("__rank") <= cap))


def _exact_isqrt(c):
    """floor(sqrt(c)) as an exact integer column for c < 2^52: start
    from the double sqrt and correct the possible +-1 ulp error, so the
    result is identical on any engine with IEEE sqrt."""
    y = F.floor(F.sqrt(F.col(c) * F.lit(1.0))).cast("long")
    y = F.when(y * y > F.col(c), y - 1).otherwise(y)
    return F.when((y + 1) * (y + 1) <= F.col(c), y + 1).otherwise(y)


def temperature_mixture(df: DataFrame, target_rows: int,
                        strat_col: str = "source",
                        id_col: str = "doc_id") -> DataFrame:
    """Temperature-based mixture sampling (the alpha=0.5 multinomial
    flattening of mT5/XLM-R): stratum s with c_s documents is kept at a
    rate proportional to sqrt(c_s)/c_s, so small sources are
    up-weighted relative to their share and the expected total is
    ``target_rows``.  Every step is exact integer arithmetic — integer
    sqrt, DECIMAL(38,0) products, integer division — and membership is
    a cutoff on the first 48 bits of md5(id), so the kept set is
    bit-reproducible on any engine (no float ever appears; the same
    hazard class as the kmeans rounding divergence is designed out).

    Scale shape: one map-side-combinable count per stratum, a one-row
    weight-total broadcast (declared scalar cross join), then a
    stateless per-row hash predicate — the corpus never shuffles.
    """
    counts = df.groupBy(strat_col).agg(F.count(F.lit(1)).alias("__c"))
    weights = counts.withColumn("__w", _exact_isqrt("__c"))
    total = weights.agg(F.sum("__w").alias("__s"))
    dec = "decimal(38,0)"
    thr = F.least(
        F.lit(1 << 48).cast("long"),
        F.expr(f"CAST({1 << 48} AS {dec}) * CAST({target_rows} AS {dec})"
               f" * CAST(__w AS {dec})"
               f" div (CAST(__s AS {dec}) * CAST(__c AS {dec}))"))
    rates = (weights.crossJoin(F.broadcast(total))
             .select(strat_col, thr.alias("__thr")))
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 12),
               16, 10).cast("long")
    return (df.join(F.broadcast(rates), strat_col)
            .filter(h < F.col("__thr")).drop("__thr"))


def context_windows(df: DataFrame, window: int = 16, stride: int = 8,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Sliding context-window chunking for LLM pretraining: whitespace
    tokens are cut into windows of ``window`` tokens every ``stride``
    tokens (the standard overlapping-chunk shape for packing long
    documents into fixed context lengths).  Emits one row per window:
    (id, win_idx, start token pos, n_tokens, the window text).

    Scale shape: pure per-row array functions (split / sequence /
    slice / array_join) inside whole-stage codegen — no shuffle, no
    UDF, no state; each document expands to ceil(n/stride) rows.
    """
    toks = F.filter(F.split(F.col(text_col), " "),
                    lambda x: x != F.lit(""))
    out = (df.select(F.col(id_col), toks.alias("__toks"))
           .withColumn("__n", F.size("__toks"))
           .filter(F.col("__n") > 0)
           .select(id_col, "__toks", "__n",
                   F.explode(F.sequence(
                       F.lit(1), F.col("__n"),
                       F.lit(stride))).alias("start")))
    return (out.select(
        id_col,
        F.expr(f"(start - 1) div {stride}").alias("win_idx"),
        "start",
        F.least(F.lit(window),
                F.col("__n") - F.col("start") + 1).alias("n_tokens"),
        F.array_join(F.slice(F.col("__toks"), F.col("start"),
                             F.lit(window)), " ").alias("window_text")))


def length_quantile_profile(df: DataFrame, value_col: str = "n_chars",
                            strat_col: str = "source",
                            ps=(0.25, 0.5, 0.75, 0.9, 0.99)) -> DataFrame:
    """Exact per-stratum quantiles of an integer-valued column (document
    length profiles drive packing budgets and truncation limits).  The
    quantile at p is the value at 0-based sorted index floor(p*(n-1)) —
    an explicit integer index rule, so both engines agree bit-for-bit
    (no percentile_disc/quantile_cont semantics drift, and the index
    arithmetic is the same IEEE double multiply on both sides).

    Scale shape (100 TB): NOT a per-stratum sort.  Integer values make
    quantiles histogram-computable: one map-side-combinable groupBy on
    (stratum, value) collapses the corpus to |distinct values| rows per
    stratum, and the quantile is the smallest value whose cumulative
    count reaches the target index — a window over the tiny histogram,
    never over the corpus.  A per-source window sort of the raw corpus
    would put whole sources in single partitions; this never does."""
    hist = (df.groupBy(strat_col, value_col)
            .agg(F.count(F.lit(1)).alias("__c")))
    w_cum = (Window.partitionBy(strat_col).orderBy(value_col)
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = (Window.partitionBy(strat_col)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    cum = F.sum("__c").over(w_cum)
    cnt = F.sum("__c").over(w_all)
    h = hist.select(
        F.col(strat_col), F.col(value_col).cast("long").alias("__v"),
        F.col("__c"), cum.alias("__cum"), cnt.alias("__n"))
    aggs = [F.sum("__c").alias("n_docs"),
            F.min("__v").alias("min_len"),
            F.max("__v").alias("max_len"),
            F.sum(F.col("__v") * F.col("__c")).alias("sum_len")]
    for p in ps:
        idx = F.floor(F.lit(float(p)) * (F.col("__n") - 1))
        tag = f"p{str(p)[2:]}"
        aggs.append(F.min(F.when(F.col("__cum") >= idx + 1, F.col("__v")))
                    .alias(tag))
    return h.groupBy(strat_col).agg(*aggs)


def token_frequency_quality(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Corpus-frequency quality signals per document (the common-token
    heuristic of CCNet-class pipelines, arXiv:1911.00359, re-expressed
    without a language model): documents made of corpus-common tokens
    score high, token-noise (OCR garbage, base64, mangled boilerplate)
    scores low.  Returns one row per document:

    - ``n_tokens``
    - ``mean_token_freq_e6`` — mean relative corpus frequency of the
      document's tokens in exact integer micro-units:
      trunc(sum(count(tok)) * 1e6 / (n_tokens * corpus_tokens)).
    - ``hapax_ratio_e6`` — fraction of tokens occurring exactly once in
      the whole corpus (micro-units); high hapax mass = noise-like.

    Every value is exact integer arithmetic (DECIMAL(38,0) products so
    the formula survives 100-TB token counts, trunc division identical
    on Spark `div` / DuckDB `//`) — the same no-float contract as the
    cosine family.

    Scale shape (100 TB): explode to one row per token (inherent to any
    token-level signal), ONE map-side-combinable token-count aggregation
    (vocabulary-sized output), one equi-join of tokens to counts keyed
    by token (vocabularies follow Zipf — the count side is small enough
    to broadcast at sane vocab sizes, and a skewed head token is still a
    single-key join, not a cartesian), one per-doc rollup sharing the
    doc_id partitioning, and a one-row corpus-total broadcast (declared
    scalar cross join).  No collect, no window over the corpus."""
    toks = _words(rebalance_for_amplification(df), text_col, id_col)
    counts = toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    # counts feeds TWO consumers (the corpus-total subquery and the
    # token join), so the tokenize lineage appears twice in the plan.
    # A vocab-sized localCheckpoint of counts was tried (r10) and
    # measured WORSE at both sf0.1 (+21%) and a 10x rotated corpus
    # (0.94 vs 0.65 s min-of-5): the eager materialization pays the
    # full tokenize up front while the optimizer can prune most of the
    # duplicated subtree under the benched count() action.  Recompute
    # wins — same verdict as the r9 boilerplate-shingle checkpoint.
    total = counts.agg(F.sum("__c").alias("__ctot"))
    dec = "decimal(38,0)"
    per_doc = (toks.join(counts, "__w")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("__n"),
                    F.sum("__c").alias("__sc"),
                    F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
                    .alias("__h")))
    mean_e6 = F.expr(
        f"CAST(__sc AS {dec}) * 1000000 div "
        f"(CAST(__n AS {dec}) * CAST(__ctot AS {dec}))")
    hapax_e6 = F.expr(
        f"CAST(__h AS {dec}) * 1000000 div CAST(__n AS {dec})")
    return (df.select(id_col)
            .join(per_doc, id_col, "left")
            .crossJoin(F.broadcast(total))
            .select(F.col(id_col),
                    F.coalesce("__n", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.when(F.coalesce("__n", F.lit(0)) == 0,
                           F.lit(0).cast("long"))
                    .otherwise(mean_e6).alias("mean_token_freq_e6"),
                    F.when(F.coalesce("__n", F.lit(0)) == 0,
                           F.lit(0).cast("long"))
                    .otherwise(hapax_e6).alias("hapax_ratio_e6")))


def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word n-grams that the document INTRODUCES to the corpus — no
    document with a smaller id contains the gram.  A corpus-diversity
    signal: sampling pipelines up-weight high-novelty docs and flag
    near-zero-novelty docs as recombinations of existing content
    (complements dedup, which only sees whole-span duplication).
    Returns (id, n_grams, novel_grams, novelty_e6) with the exact
    micro-fraction trunc(novel*1e6/n_grams); docs shorter than n words
    report (0, 0, 0).

    Determinism: "first" is by document id (min over the corpus), not
    arrival order, so the measure is stable under any partitioning.

    Scale shape (100 TB): distinct (doc, gram) rows with xxhash64 LONG
    keys (the hash is only a grouping key, never an output — oracle
    groups on the raw gram); ONE map-side-combinable min-aggregation
    keyed by gram gives each gram's introducing doc; one equi-join back
    on the gram key and one per-doc rollup.  Same two-shuffle shape as
    duplicate_span_stats; never quadratic."""
    arr = F.split(F.col(text_col), " ")
    base = rebalance_for_amplification(df).select(
        F.col(id_col), F.filter(arr, lambda w: w != "").alias("__ws"))
    pos = base.filter(F.size("__ws") >= n).select(
        F.col(id_col), F.col("__ws"),
        F.explode(F.sequence(F.lit(1), F.size("__ws") - (n - 1)))
        .alias("__i"))
    grams = (pos.select(
        F.col(id_col),
        F.xxhash64(F.concat_ws(" ", F.slice("__ws", F.col("__i"), n)))
        .alias("__g"))
        .distinct())
    first = grams.groupBy("__g").agg(F.min(id_col).alias("__first"))
    per_doc = (grams.join(first, "__g")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.sum(F.when(F.col("__first") == F.col(id_col), 1)
                          .otherwise(0)).cast("long")
                    .alias("novel_grams")))
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_grams", F.lit(0)).cast("long")
                    .alias("n_grams"),
                    F.coalesce("novel_grams", F.lit(0)).cast("long")
                    .alias("novel_grams"))
            .withColumn("novelty_e6",
                        TX.ratio_e6(F.col("novel_grams"),
                                    F.col("n_grams"))))


def c4_rules(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", min_words: int = 5,
             banned_words: Optional[List[str]] = None,
             mean_word_len_bounds: tuple = (3, 10)) -> DataFrame:
    """C4/Gopher-style document rule flags (Raffel et al. 2020 §2.2;
    Rae et al. 2021 A1.1): per-document boolean heuristics a web
    pipeline applies before any expensive stage — too few words, a
    banned-word hit ("javascript", "lorem ipsum", policy terms), curly
    braces (code leakage), mean word length outside [3, 10].  Returns
    (id, n_words, flag_* ints, keep 0/1).

    Every rule is a single-pass JVM expression over the row — no
    shuffle, no UDF; the mean-word-length band is evaluated as the
    integer cross-multiplication lo*n <= sum_len <= hi*n so no ratio is
    ever materialized.

    Scale shape (100 TB): embarrassingly parallel map; at scale this is
    the cheapest filter and therefore runs FIRST, shrinking every
    downstream shuffle."""
    flags = _c4_flag_columns(text_col, min_words, banned_words,
                             mean_word_len_bounds)
    return df.select(
        F.col(id_col),
        F.size(TX.tokens(F.col(text_col))).cast("long").alias("n_words"),
        flags["few"].alias("flag_too_few_words"),
        flags["banned"].alias("flag_banned_word"),
        flags["brace"].alias("flag_brace"),
        flags["len"].alias("flag_word_length"),
        flags["keep"].alias("keep"))


def _c4_flag_columns(text_col, min_words, banned_words,
                     mean_word_len_bounds):
    banned = [w.lower() for w in
              (banned_words if banned_words is not None
               else ["javascript", "lorem", "ipsum", "cookies"])]
    toks = TX.tokens(F.col(text_col))
    n = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0).cast("long"),
                          lambda acc, w: acc + F.length(w))
    lo, hi = mean_word_len_bounds
    banned_arr = F.array(*[F.lit(w) for w in banned])
    flag_few = (n < min_words).cast("int")
    flag_banned = (F.size(F.array_intersect(
        F.array_distinct(toks), banned_arr)) > 0).cast("int")
    flag_brace = F.col(text_col).contains("{").cast("int")
    flag_len = ((sum_len < F.lit(lo).cast("long") * n) |
                (sum_len > F.lit(hi).cast("long") * n)).cast("int")
    keep = ((flag_few + flag_banned + flag_brace + flag_len) == 0) \
        .cast("int")
    return {"few": flag_few, "banned": flag_banned, "brace": flag_brace,
            "len": flag_len, "keep": keep}


def c4_filter(df: DataFrame, text_col: str = "text",
              min_words: int = 5,
              banned_words: Optional[List[str]] = None,
              mean_word_len_bounds: tuple = (3, 10)) -> DataFrame:
    """The filtering form of ``c4_rules``: returns the ORIGINAL rows
    that pass every rule, as a single inline predicate — no flag
    projection and, crucially for pipeline composition, no self-join
    back on the id (a rules->join composition costs a shuffle; this is
    a shuffle-free map filter)."""
    flags = _c4_flag_columns(text_col, min_words, banned_words,
                             mean_word_len_bounds)
    return df.filter(flags["keep"] == 1)


def bigram_predictability(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document mean bigram conditional probability in exact
    micro-units — a deterministic, corpus-self-trained stand-in for the
    KenLM perplexity filter (CCNet, Wenzek et al. 2020): for each
    adjacent word pair (w1, w2), P(w2|w1) = count(w1 w2) / count(w1 as
    a bigram prefix); the doc score is the mean of its positions'
    micro-probabilities.  Boilerplate built from common continuations
    scores high; incoherent or highly novel text scores low.  Returns
    (id, n_bigrams, mean_bigram_p_e6); single-word docs report (0, 0).

    Exactness: per-position p_e6 = trunc(cnt*1e6/prefix_cnt) is an
    integer, the per-doc sum is an integer, and the final mean is one
    more trunc division (ratio_e6_dec: the sum can reach n_bigrams*1e6,
    decimal-widened) — no float anywhere.

    Scale shape (100 TB): adjacent pairs come from one narrow array-zip
    pass (_adjacent_pairs — the old (doc, pos) adjacency self-join
    shuffled every token row twice and re-ran the tokenize per side;
    the before-plan carried 7 corpus scans / 32 Exchanges from the
    duplicated lineage); bigram and prefix counts are
    map-side-combinable aggregations whose outputs are
    vocabulary-sized; the count join back is keyed by bigram (Zipf
    head is a single hot key, AQE-splittable); the final rollup shares
    the doc partitioning.  No window over the corpus, no collect."""
    bigrams = _adjacent_pairs(df, text_col, id_col)
    bg_counts = (bigrams.groupBy("__w", "__w2")
                 .agg(F.count(F.lit(1)).alias("__cbg")))
    # prefix count = total bigram occurrences starting with w1 (sums the
    # bigram counts, so prefix and bigram marginals stay consistent)
    prefix = bg_counts.groupBy("__w").agg(F.sum("__cbg").alias("__cpre"))
    p_e6 = TX.ratio_e6(F.col("__cbg"), F.col("__cpre"))
    per_doc = (bigrams.join(bg_counts, ["__w", "__w2"])
               .join(prefix, "__w")
               .select(F.col(id_col), p_e6.alias("__p6"))
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.sum("__p6").alias("__sp")))
    # per-position values are ALREADY micro-units: the mean is a plain
    # trunc division (sum stays < 2^53 — n_bigrams * 1e6 per doc)
    sp = F.coalesce("__sp", F.lit(0)).cast("long")
    nb = F.coalesce("n_bigrams", F.lit(0)).cast("long")
    mean = ((sp - sp % nb) / nb).cast("long")
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(F.col(id_col), nb.alias("n_bigrams"),
                    F.when(nb == 0, F.lit(0).cast("long"))
                    .otherwise(mean).alias("mean_bigram_p_e6")))


def source_token_divergence(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            strat_col: str = "source") -> DataFrame:
    """Per-stratum token-distribution shift against the whole corpus:
    total-variation distance TV(s) = (1/2) * sum_w |p_s(w) - p(w)| in
    exact micro-units — the mixture-diagnostics signal a data-mixing
    pipeline watches when re-weighting sources (a KL analogue without
    the transcendental log, so it stays engine-exact).  Returns
    (stratum, n_tokens, distinct_tokens, tv_e6).

    Exact rational arithmetic: with c_sw (count of w in s), N_s, c_w,
    N all integers, TV_e6 = 1e6 * [sum_{w in s} |c_sw*N - c_w*N_s|
    + N_s*(N - C_cov)] div (2*N_s*N), where C_cov = sum_{w in s} c_w
    folds every word ABSENT from the stratum into one closed-form term
    — no |V| x |strata| dense join.  Products reach N_s*N ~ 1e24 at
    100-TB counts, so everything widens to DECIMAL(38,0).

    Scale shape: one (stratum, token) count aggregation; corpus token
    counts derive from it by a second map-side-combinable re-agg (the
    corpus never re-tokenizes); one equi-join keyed by token (Zipf head
    is a single hot key — AQE-splittable); a per-stratum rollup and a
    1-row corpus-total broadcast."""
    toks = _words(rebalance_for_amplification(
        df.select(strat_col, text_col, id_col)), text_col, strat_col)
    # sw feeds cw, ns AND the 3-way join (cw additionally feeds the
    # 1-row total) — un-materialized, the tokenize+explode+count front
    # half re-runs once per consumer (the r9 before-plan carries 4
    # copies of the Generate subtree, 32 Exchanges).  sw is vocabulary
    # x strata rows (tiny next to the token stream): materialize it and
    # every downstream agg/join reads counted rows (guide §2.4).
    # localCheckpoint, not persist — plan-level cache entries would be
    # re-matched by a later identical run (cross-run result reuse).
    sw = toks.groupBy(strat_col, "__w").agg(
        F.count(F.lit(1)).alias("__csw")).localCheckpoint()
    cw = sw.groupBy("__w").agg(F.sum("__csw").alias("__cw"))
    ns = sw.groupBy(strat_col).agg(
        F.sum("__csw").alias("__ns"),
        F.count(F.lit(1)).alias("distinct_tokens"))
    total = cw.agg(F.sum("__cw").alias("__n"))
    dec = "decimal(38,0)"
    joined = (sw.join(cw, "__w")
              .join(F.broadcast(ns), strat_col)
              .crossJoin(F.broadcast(total)))
    # per-(s,w): |c_sw*N - c_w*N_s| in decimal; C_cov accumulates c_w
    term = F.abs(F.col("__csw").cast(dec) * F.col("__n").cast(dec)
                 - F.col("__cw").cast(dec) * F.col("__ns").cast(dec))
    per_s = (joined.groupBy(strat_col)
             .agg(F.first("__ns").alias("__ns"),
                  F.first("distinct_tokens").alias("distinct_tokens"),
                  F.first("__n").alias("__n"),
                  F.sum(term).alias("__sum_abs"),
                  F.sum("__cw").alias("__ccov")))
    num = (F.col("__sum_abs").cast(dec)
           + F.col("__ns").cast(dec)
           * (F.col("__n").cast(dec) - F.col("__ccov").cast(dec)))
    den = (F.lit(2).cast(dec) * F.col("__ns").cast(dec)
           * F.col("__n").cast(dec))
    n6 = num * F.lit(1_000_000).cast(dec)
    tv = ((n6 - n6 % den) / den).cast("long")
    return per_s.select(
        F.col(strat_col),
        F.col("__ns").cast("long").alias("n_tokens"),
        F.col("distinct_tokens").cast("long").alias("distinct_tokens"),
        tv.alias("tv_e6"))


def negative_pairs(df: DataFrame, k: int = 3,
                   id_col: str = "doc_id") -> DataFrame:
    """Deterministic negative-pair generation for contrastive training:
    each anchor document gets ``k`` pseudo-random partners, selected by
    md5-mixing (anchor id, sample index) into a step in [1, N-1] and
    walking the dense id-rank ring — stateless given the corpus, so the
    same pairs come out of any engine, any run, any partitioning, and
    an anchor can never draw itself (the step is never 0 mod N).
    Returns (anchor_id, sample_idx, neg_id).

    Scale shape (100 TB): the dense rank comes from ``global_rank``
    (range-partition + per-partition row_number + broadcast offsets —
    never a single-partition window); anchors explode k-fold; one
    equi-join on the target rank resolves partner ids.  N itself is a
    driver-side count (a broadcast-size-class decision, not data
    movement)."""
    ids = df.select(id_col)
    n = ids.count()
    if n < 2:
        raise ValueError("negative_pairs needs at least 2 documents")
    ranked = global_rank(ids, [F.col(id_col)], "__r")
    mix = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.col(id_col), F.col("__j"))), 1, 12),
        16, 10).cast("long")
    anchors = (ranked.select(F.col(id_col).alias("anchor_id"),
                             F.col("__r"),
                             F.explode(F.sequence(F.lit(1), F.lit(k)))
                             .alias("__j"))
               .withColumnRenamed("anchor_id", id_col))
    step = F.lit(1).cast("long") + F.pmod(mix, F.lit(n - 1).cast("long"))
    targets = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col("__j").alias("sample_idx"),
        (F.lit(1).cast("long")
         + F.pmod(F.col("__r") - 1 + step, F.lit(n).cast("long")))
        .alias("__tr"))
    partner = ranked.select(F.col("__r").alias("__tr"),
                            F.col(id_col).alias("neg_id"))
    return targets.join(partner, "__tr").select(
        "anchor_id", "sample_idx", "neg_id")


def ngram_diversity(df: DataFrame, text_col: str = "text",
                    max_n: int = 4) -> DataFrame:
    """Corpus-level distinct-n diversity (the Self-BLEU complement used
    to monitor generation/corpus variety): for each n in 1..max_n, the
    number of distinct word n-grams, total n-gram occurrences, and the
    exact micro-ratio distinct/total (low values = templated text).
    Returns (n, distinct_ngrams, total_ngrams, diversity_e6).

    Scale shape: the tokenized array column is localCheckpoint-ed so
    the corpus scan + split run ONCE and each n reads the materialized
    arrays (union branches do not share work in Catalyst — without the
    checkpoint the source is re-scanned max_n times); per-n the count
    is a map-side-combinable distinct aggregation keyed by the gram
    hash.  Output is max_n rows."""
    arr = F.split(F.col(text_col), " ")
    base = rebalance_for_amplification(df).select(
        F.filter(arr, lambda w: w != "").alias("__ws")).localCheckpoint()
    frames = []
    for n in range(1, max_n + 1):
        pos = base.filter(F.size("__ws") >= n).select(
            F.col("__ws"),
            F.explode(F.sequence(F.lit(1), F.size("__ws") - (n - 1)))
            .alias("__i"))
        grams = pos.select(
            F.xxhash64(F.concat_ws(" ", F.slice("__ws", F.col("__i"), n)))
            .alias("__g"))
        agg = grams.agg(
            F.count(F.lit(1)).alias("total_ngrams"),
            F.countDistinct("__g").alias("distinct_ngrams")).select(
            F.lit(n).cast("int").alias("n"),
            F.col("distinct_ngrams").cast("long"),
            F.col("total_ngrams").cast("long"))
        frames.append(agg)
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.withColumn(
        "diversity_e6", TX.ratio_e6(F.col("distinct_ngrams"),
                                    F.col("total_ngrams")))


def snapshot_value_drift(table, spark, column: str,
                         from_ref: str) -> DataFrame:
    """Data-drift monitor across TABLE VERSIONS: exact total-variation
    distance between a column's value distribution at a tagged/branch
    snapshot and at the current snapshot — the check a training
    pipeline runs before retraining on a refreshed table ("did the
    ingest change the data mix?").  Returns one row
    (n_old, n_new, n_values, tv_e6).

    Time travel supplies both sides from the SAME table (no second
    copy): each side is one value-histogram aggregation; the histogram
    join is keyed by value; the TV fold is the closed-form used by
    source_token_divergence, in DECIMAL(38,0).

    Materialization: the joined histogram (one row per distinct value
    on either side) is localCheckpointed, so building the result runs
    a Spark job eagerly.  It is small for the categorical columns drift
    is meant for; on a high-cardinality column (a key, a timestamp) it
    holds about one row per table row in executor block storage.  Those
    blocks are unreplicated: losing an executor fails the query rather
    than recomputing it (see the module docstring of
    ``operators.dedup``)."""
    old = table.scan(selected=[column]).use_ref(from_ref).to_df(spark)
    new = table.scan(selected=[column]).to_df(spark)
    ch = old.groupBy(column).agg(F.count(F.lit(1)).alias("__co"))
    cn = new.groupBy(column).agg(F.count(F.lit(1)).alias("__cn"))
    j = ch.join(cn, column, "full_outer").select(
        F.coalesce("__co", F.lit(0)).cast("long").alias("__co"),
        F.coalesce("__cn", F.lit(0)).cast("long").alias("__cn"))
    # j feeds TWO consumers (the totals subquery and the TV fold), and
    # without a barrier each one re-runs BOTH table scans plus the
    # full-outer histogram join — the before-plan carried the whole j
    # subtree twice (4 scans / 22 Exchanges).  The histogram is tiny
    # (one row per distinct value), so materializing it is the cheap
    # side of the r9 cache-only-when-recompute-loses rule: at 100 TB
    # this halves the table scans.  Eager construction-time compute,
    # same contract as the other operators (see module docstring).
    j = j.localCheckpoint(eager=True)
    dec = "decimal(38,0)"
    tot = j.agg(F.sum("__co").alias("__no"),
                F.sum("__cn").alias("__nn"),
                F.count(F.lit(1)).alias("n_values"))
    term = F.abs(F.col("__co").cast(dec) * F.col("__nn").cast(dec)
                 - F.col("__cn").cast(dec) * F.col("__no").cast(dec))
    per = (j.crossJoin(F.broadcast(tot))
           .agg(F.sum(term).alias("__sum_abs"),
                F.first("__no").alias("__no"),
                F.first("__nn").alias("__nn"),
                F.first("n_values").alias("n_values")))
    num = F.col("__sum_abs").cast(dec) * F.lit(1_000_000).cast(dec)
    den = (F.lit(2).cast(dec) * F.col("__no").cast(dec)
           * F.col("__nn").cast(dec))
    tv = ((num - num % den) / den).cast("long")
    return per.select(
        F.col("__no").cast("long").alias("n_old"),
        F.col("__nn").cast("long").alias("n_new"),
        F.col("n_values").cast("long").alias("n_values"),
        F.when(den == 0, F.lit(0).cast("long")).otherwise(tv)
        .alias("tv_e6"))


def importance_weights(df: DataFrame, target_filter,
                       n_buckets: int = 4096,
                       clamp_e6: int = 1_000_000_000,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       ngram: int = 1) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    arXiv:2302.03169): score every document by how much its hashed
    token distribution looks like a TARGET slice of the corpus
    (``target_filter``, a boolean Column over ``df``'s columns)
    relative to the raw corpus.  Returns (id, score_e6).

    Per hash bucket ``b`` the importance ratio is the Laplace-smoothed
    likelihood ratio

        lam_b = clamp( (t_b+1)*(R+B) * 1e6 // ((r_b+1)*(T+B)) )

    with ``t_b``/``r_b`` the target/raw token counts in the bucket and
    ``T``/``R`` their totals; a document's score is the sum of its
    tokens' bucket ratios — the exact-integer, per-token-expected-
    importance surrogate for DSIR's log-ratio score (monotone in the
    same direction; no transcendental in the lineage, so every engine
    agrees bit-for-bit).  ``clamp_e6`` bounds a single bucket's ratio
    (clipped importance weights — standard practice) which also keeps
    the per-doc sum inside int64 for any real document length.

    Scale shape (100 TB): the corpus tokenizes and explodes ONCE with a
    pre-explode target flag; bucket stats are ONE map-side-combinable
    ``n_buckets``-row aggregation, collected driver-side (metadata
    scale — 4096 rows of counts) where the ratio table is computed with
    exact Python big ints (the intermediate products overflow int64 at
    trillion-token scale; the driver does them in arbitrary precision,
    executors only ever see the clamped per-bucket longs); the ratio
    table broadcast-joins back to the exploded tokens and the per-doc
    sum is the single keyed corpus shuffle.  Nothing quadratic, nothing
    collected at corpus scale.

    Hash parity: bucket = conv(md5(token)[:12], 16, 10) % n_buckets —
    the repo-wide md5-prefix integer form every oracle can reproduce.
    ``ngram=2`` hashes adjacent-token bigrams (DSIR's feature set)
    instead of unigrams."""
    if ngram == 1:
        tok = (rebalance_for_amplification(df)
               .select(F.col(id_col),
                       F.when(target_filter, F.lit(1)).otherwise(F.lit(0))
                       .alias("__t"),
                       F.explode(TX.tokens(F.col(text_col))).alias("__w")))
    elif ngram == 2:
        arr = TX.tokens(F.col(text_col))
        grams = F.when(
            F.size(arr) < 2, F.array().cast("array<string>")
        ).otherwise(
            F.zip_with(F.slice(arr, 1, F.size(arr) - 1),
                       F.slice(arr, 2, F.size(arr) - 1),
                       lambda a, b: F.concat_ws(" ", a, b)))
        tok = (rebalance_for_amplification(df)
               .select(F.col(id_col),
                       F.when(target_filter, F.lit(1)).otherwise(F.lit(0))
                       .alias("__t"),
                       F.explode(grams).alias("__w")))
    else:
        raise ValueError(f"ngram must be 1 or 2, got {ngram}")
    tok = tok.withColumn(
        "__b", F.pmod(F.conv(F.substring(F.md5(F.col("__w")), 1, 12),
                             16, 10).cast("long"),
                      F.lit(n_buckets)).cast("int"))
    # tok feeds TWO full passes — the eager bucket-stats collect below
    # and the per-doc score aggregation at action time.  Materialize it
    # once so the corpus tokenizes/explodes/hashes a single time
    # (guide §2.4; the r9 before-plan runs the Generate subtree twice).
    # Project the token string away first: both consumers key on the
    # hashed bucket only, so the materialized rows are 3 narrow columns
    # (guide §2.3 — shuffle/store keys, not payloads).  localCheckpoint,
    # not persist — plan-level cache entries would be re-matched by a
    # later identical run (cross-run result reuse).
    tok = tok.select(id_col, "__t", "__b").localCheckpoint()
    stats = (tok.groupBy("__b")
             .agg(F.count(F.lit(1)).alias("__r"),
                  F.sum("__t").alias("__tc"))
             .collect())
    R = sum(int(s["__r"]) for s in stats)
    T = sum(int(s["__tc"]) for s in stats)
    B = n_buckets
    lam_rows = [
        (int(s["__b"]),
         min(clamp_e6,
             ((int(s["__tc"]) + 1) * (R + B) * 1_000_000)
             // ((int(s["__r"]) + 1) * (T + B))))
        for s in stats]
    lam = local_frame(df.sparkSession, lam_rows, "__b int, __lam long")
    scores = (tok.join(F.broadcast(lam), "__b")
              .groupBy(id_col)
              .agg(F.sum("__lam").alias("__s")))
    return (df.select(id_col).join(scores, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("__s"), F.lit(0)).cast("long")
                    .alias("score_e6")))


def importance_resample(df: DataFrame, target_filter, n_keep: int,
                        n_buckets: int = 4096,
                        clamp_e6: int = 1_000_000_000,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        ngram: int = 1) -> DataFrame:
    """Keep the ``n_keep`` documents whose DSIR importance score is
    highest — deterministic rank-based resampling (score desc, id asc;
    the reproducible stand-in for DSIR's Gumbel top-k, which needs a
    noise source no two engines would agree on).  Returns the kept
    (id, score_e6) rows.

    Scale shape: the selection is a global top-k (TakeOrdered — per-
    partition heaps + a k-row driver merge), never a full sort."""
    w = importance_weights(df, target_filter, n_buckets, clamp_e6,
                           text_col, id_col, ngram)
    return w.orderBy(F.col("score_e6").desc(), F.col(id_col)) \
        .limit(n_keep)


def token_budget_allocation(df: DataFrame, budget_tokens: int,
                            max_epochs: int = 4,
                            strat_col: str = "source",
                            text_col: str = "text") -> DataFrame:
    """Plan a training-data mix: split a token budget across sources by
    exact water-filling under per-source epoch caps — the allocation
    step behind published pretraining recipes where low-resource
    sources are up-weighted (temperature flattening) but never repeated
    past ``max_epochs`` passes.  Returns one row per source:
    (source, n_tokens, cap_tokens, alloc_tokens, epochs_e6).

    The ideal share is proportional to sqrt(n_tokens) (the alpha=0.5
    flattening temperature_mixture uses), capped at
    ``max_epochs * n_tokens``; water-filling finds the unique scale
    where capped sources take their cap and the rest split the
    remaining budget by weight:

        alloc_s = min(cap_s, lam * w_s),  sum_s alloc_s = budget

    Closed form, exact integers: sources sort by cap/weight ascending —
    and because cap = max_epochs * n and w = isqrt(n), that ratio is
    monotone in n_tokens, so the sort key is (n_tokens, source): plain
    integers, no division anywhere near an ORDER BY (rational sort keys
    round differently across engines).  A source is capped iff
    cap_s * W_after <= (budget - Cap_prefix) * w_s (cross-multiplied
    rational comparison; the predicate is monotone along the sort so
    the capped set is a prefix); uncapped sources get
    trunc((budget - Cap_all_capped) * w_s / W_uncapped).  Every product
    runs in DECIMAL(38,0) — token totals at 100 TB (~1e13) times summed
    isqrt weights overflow int64.  epochs_e6 = alloc * 1e6 div n_tokens
    reports repeat pressure per source.

    Scale shape (100 TB): ONE map-side-combinable per-source token-sum
    over the corpus; everything after runs on the |sources|-row frame
    (window prefix sums over a tiny partition — declared, not a corpus
    sort).  The corpus never shuffles."""
    if budget_tokens < 0 or max_epochs < 0:
        raise ValueError("budget_tokens and max_epochs must be >= 0")
    dec = "decimal(38,0)"
    per = (df.groupBy(strat_col)
           .agg(F.sum(TX.token_count(F.col(text_col)))
                .cast("long").alias("n_tokens")))
    per = (per.withColumn("cap_tokens",
                          (F.col("n_tokens") * F.lit(max_epochs))
                          .cast("long"))
           .withColumn("__w", _exact_isqrt("n_tokens")))
    owin = Window.orderBy(F.col("n_tokens"), F.col(strat_col))
    whole = owin.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    b = F.lit(int(budget_tokens)).cast(dec)
    ranked = per.select(
        strat_col, "n_tokens", "cap_tokens", "__w",
        F.sum(F.col("cap_tokens").cast(dec)).over(owin).alias("__cp"),
        (F.sum(F.col("__w").cast(dec)).over(whole)
         - F.sum(F.col("__w").cast(dec)).over(owin)).alias("__wafter"))
    is_capped = ((F.col("__w") == 0) |
                 ((F.col("cap_tokens").cast(dec) * F.col("__wafter"))
                  <= (b - F.col("__cp")) * F.col("__w").cast(dec)))
    staged = ranked.select(
        strat_col, "n_tokens", "cap_tokens", "__w",
        is_capped.alias("__capped"),
        F.sum(F.when(is_capped, F.col("cap_tokens").cast(dec))
              .otherwise(F.lit(0).cast(dec))).over(whole).alias("__ct"),
        F.sum(F.when(is_capped, F.lit(0).cast(dec))
              .otherwise(F.col("__w").cast(dec))).over(whole)
        .alias("__wu"))
    share = F.expr(
        f"CAST(__w AS {dec})"
        f" * greatest(CAST({int(budget_tokens)} AS {dec}) - __ct,"
        f"            CAST(0 AS {dec}))"
        f" div __wu")
    alloc = F.when(F.col("__capped"), F.col("cap_tokens").cast(dec)) \
        .otherwise(F.when(F.col("__wu") == 0, F.lit(0).cast(dec))
                   .otherwise(share))
    out = staged.select(
        F.col(strat_col), F.col("n_tokens"), F.col("cap_tokens"),
        alloc.cast("long").alias("alloc_tokens"))
    epochs = F.when(
        F.col("n_tokens") == 0, F.lit(0).cast("long")
    ).otherwise(F.expr(
        f"CAST(CAST(alloc_tokens AS {dec}) * CAST(1000000 AS {dec}) "
        f"div CAST(n_tokens AS {dec}) AS LONG)"))
    return out.withColumn("epochs_e6", epochs)
