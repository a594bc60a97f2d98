"""Corpus-curation operators (operators/curation.py): repetition
metrics, benchmark decontamination, deterministic stratified sampling."""

import datetime

import pytest
from pyspark.sql import functions as F

from iceberg_go_spark.operators import curation as CU


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spam spam spam spam spam spam"),          # one word repeated
        (2, "a b a b a b a b"),                        # repeated bigram
        (3, "the quick brown fox jumps over dogs"),    # all distinct
        (4, "solo"),                                   # single word
        (5, "the quick brown fox jumps over cats"),    # shares 5-gram w/ 3
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_repetition_metrics(docs):
    m = {r["doc_id"]: r for r in CU.repetition_metrics(docs).collect()}
    spam = m[1]
    assert spam["n_words"] == 6 and spam["n_distinct_words"] == 1
    assert spam["top_word_frac_e6"] == 1_000_000
    assert spam["top_bigram_frac_e6"] == 1_000_000
    assert spam["dup_word_frac_e6"] == 5 * 1_000_000 // 6  # trunc(5e6/6)

    ab = m[2]
    assert ab["top_word_frac_e6"] == 500_000
    # 7 bigrams: 'a b' x4, 'b a' x3
    assert ab["top_bigram_frac_e6"] == 4 * 1_000_000 // 7

    distinct = m[3]
    assert distinct["dup_word_frac_e6"] == 0
    assert distinct["top_word_frac_e6"] == 1_000_000 // 7

    solo = m[4]  # no bigrams -> 0, not null
    assert solo["n_words"] == 1 and solo["top_bigram_frac_e6"] == 0


def test_decontaminate_flags_overlap(docs):
    bench = docs.filter(F.col("doc_id") == 3)
    corpus = docs.filter(F.col("doc_id") != 3)
    out = CU.decontaminate(corpus, bench, n=5).collect()
    # doc 5 shares 'the quick brown fox jumps' (+ 'quick brown fox jumps
    # over') with the benchmark doc 3; nothing else overlaps
    assert {r["doc_id"] for r in out} == {5}
    assert out[0]["n_hits"] == 2 and out[0]["n_benchmark_docs"] == 1
    # shingles shorter than n never match spuriously
    assert CU.decontaminate(corpus, bench, n=8).count() == 0


def test_decontaminate_broadcasts_benchmark(docs):
    plan = CU.decontaminate(docs, docs.limit(2), n=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # benchmark side must broadcast


def test_stratified_sample_deterministic_and_proportional(spark):
    df = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("lang"))
    s1 = CU.stratified_sample(df)
    s2 = CU.stratified_sample(df)
    assert s1.count() == s2.count()  # same rows every run
    assert s1.exceptAll(s2).count() == 0
    n = s1.count()
    assert abs(n - 20000 * 0.25) < 400  # ~25% overall
    per = {r["lang"]: r["n"] for r in
           s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, cnt in per.items():  # each stratum stays ~25% of its 5000
        assert abs(cnt - 1250) < 200, (lang, cnt)
    # threshold scales the rate: '80' hex = 50%
    half = CU.stratified_sample(df, hex_threshold="80").count()
    assert abs(half - 10000) < 600


def test_pack_sequences_contiguous_fill(spark):
    rows = [(1, "a " * 100, "en"), (2, "b " * 60, "en"),
            (3, "c " * 80, "en"), (4, "d " * 10, "de")]
    df = spark.createDataFrame(
        [(i, t.strip(), l) for i, t, l in rows], ["doc_id", "text", "lang"])
    out = {r["doc_id"]: r for r in
           CU.pack_sequences(df, budget=128).collect()}
    # en shard: 100 -> pack 0 @ 0; 60 -> cum 100: pack 0 @ 100 (spills
    # past the budget -> flagged by offset+n > budget); 80 -> cum 160:
    # pack 1 @ 32
    assert (out[1]["pack_id"], out[1]["pack_offset"]) == (0, 0)
    assert (out[2]["pack_id"], out[2]["pack_offset"]) == (0, 100)
    assert out[2]["pack_offset"] + out[2]["n_tokens"] > 128
    assert (out[3]["pack_id"], out[3]["pack_offset"]) == (1, 32)
    # de shard packs independently
    assert (out[4]["pack_id"], out[4]["pack_offset"]) == (0, 0)


def test_connected_components(spark, monkeypatch):
    from conftest import components_on_both_paths
    # two components: a 4-chain (diameter > 1 forces multiple rounds)
    # and a separate pair; ids chosen so min-label must propagate "up"
    pairs = spark.createDataFrame(
        [(9, 7), (7, 5), (5, 1), (20, 30)], ["id_a", "id_b"])
    out = components_on_both_paths(pairs, monkeypatch)
    assert out == {1: 1, 5: 1, 7: 1, 9: 1, 20: 20, 30: 20}


def test_connected_components_empty_pairs(spark, monkeypatch):
    # a clean corpus yields ZERO duplicate pairs; F.sum over zero rows is
    # NULL, so the convergence count must coalesce to 0 instead of
    # raising TypeError on None arithmetic (ADVICE r9, high)
    from conftest import components_on_both_paths
    from iceberg_go_spark.operators import dedup as DD
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert components_on_both_paths(pairs, monkeypatch) == {}
    # a zero-row edge list passes even a closed gate, so run the
    # distributed rounds on it directly
    edges = pairs.select(pairs.id_a.alias("src"), pairs.id_b.alias("dst"))
    assert DD._components_in_rounds(edges, 50).collect() == []


@pytest.mark.parametrize("rows, ddl, want", [
    # a NULL endpoint: NULL takes its neighbors' cluster, passes none on
    ([(1, 2), (None, 3), (3, 4)], "id_a long, id_b long",
     {1: 1, 2: 1, 3: 3, 4: 3, None: 3}),
    # NULL's label appears while other labels fall: a label-sum check
    # saw no net change here and stopped one round early (None: 3)
    ([(None, 3), (3, 1), (7, 6)], "id_a long, id_b long",
     {1: 1, 3: 1, 6: 6, 7: 6, None: 1}),
    # a self-loop, duplicate and reversed pairs, int ids
    ([(1, 1), (2, 1), (1, 2), (2, 1), (5, 5), (6, 5), (5, 6)],
     "id_a int, id_b int", {1: 1, 2: 1, 5: 5, 6: 5}),
    # string ids order as strings ("10" < "9"), including non-ASCII
    ([("9", "10"), ("b", "a"), ("é", "b"), (None, "é")],
     "id_a string, id_b string",
     {"9": "10", "10": "10", "a": "a", "b": "a", "é": "a", None: "a"}),
    # a NULL with only NULL neighbors keeps a NULL cluster, also once
    # the 64-chain has switched pointer jumping on
    ([(i, i + 1) for i in range(63)] + [(None, None)],
     "id_a long, id_b long", {**{i: 0 for i in range(64)}, None: None}),
    # a date id always runs the distributed rounds
    ([(datetime.date(2024, 1, 3), datetime.date(2024, 1, 2))],
     "id_a date, id_b date",
     {datetime.date(2024, 1, d): datetime.date(2024, 1, 2) for d in (2, 3)}),
], ids=["null_endpoint", "null_label_appears", "int_self_loop_dup_reversed",
        "string_ids", "null_only_null_neighbors", "date_ids"])
def test_connected_components_edge_inputs_match_across_gate(
        spark, monkeypatch, rows, ddl, want):
    from conftest import components_on_both_paths
    from pyspark.sql.types import StructType
    from iceberg_go_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(rows, ddl)
    assert components_on_both_paths(pairs, monkeypatch) == want
    # output columns take the id type
    id_type = StructType.fromDDL(ddl)["id_a"].dataType
    assert [f.dataType for f in connected_components(pairs).schema] == \
        [id_type, id_type]


def test_connected_components_without_observed_metrics(spark, monkeypatch):
    """The edge count and each round's changed count ride their
    checkpoint jobs as observed metrics, read with a bounded wait.  When
    a metric is absent the gate falls back to a bounded fetch and the
    rounds to an explicit agg, with the same components."""
    from conftest import components_on_both_paths
    from iceberg_go_spark.operators import dedup as DD
    monkeypatch.setattr(DD, "_observed", lambda obs: None)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)] + [(100, 101)],
        "id_a long, id_b long")
    got = components_on_both_paths(chain, monkeypatch, max_iterations=10)
    assert got == {**{i: 0 for i in range(21)}, 100: 100, 101: 100}


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io or 10.0.0.1 or +123456789 end"),
         (2, "clean text no pii 1.2.3 +12 345")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in CU.scrub_pii(df).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_ipv4"], r1["n_phone"]) == (1, 1, 1)
    assert r1["scrubbed"] == "mail <EMAIL> or <IPV4> or <PHONE> end"
    r2 = out[2]  # 3-octet and short numbers are NOT redacted
    assert (r2["n_email"], r2["n_ipv4"], r2["n_phone"]) == (0, 0, 0)
    assert r2["scrubbed"] == "clean text no pii 1.2.3 +12 345"


def test_token_rarity(spark):
    from iceberg_go_spark.operators.curation import token_rarity
    df = spark.createDataFrame(
        [(1, "the the the the rare"), (2, "the the the the the")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in token_rarity(df).collect()}
    # vocab: the(count 9, rank 1), rare(count 1, rank 2)
    assert rows[1].n_tokens == 5 and rows[2].n_tokens == 5
    assert rows[1].sum_rank == 4 * 1 + 2
    assert rows[2].sum_rank == 5
    assert rows[1].mean_rank_e6 > rows[2].mean_rank_e6  # rare-heavy scores higher
    assert rows[1].max_rank == 2 and rows[2].max_rank == 1


def test_boilerplate_ngrams(spark):
    from iceberg_go_spark.operators.curation import boilerplate_ngrams
    boiler = "click here to subscribe"
    df = spark.createDataFrame(
        [(1, f"{boiler} alpha beta gamma", "a"),
         (2, f"{boiler} delta epsilon zeta", "a"),
         (3, f"{boiler} eta theta iota", "a"),
         (4, "kappa lambda mu nu xi", "a"),
         # same boilerplate in source b, but only once there
         (5, f"{boiler} omicron pi rho", "b")],
        "doc_id long, text string, source string")
    rows = {r.doc_id: r for r in
            boilerplate_ngrams(df, n=4, min_docs=3).collect()}
    # docs 1-3 share the 4-gram "click here to subscribe" (3 docs in a)
    for d in (1, 2, 3):
        assert rows[d].n_boiler == 1, rows[d]
        assert rows[d].boiler_frac_e6 > 0
    assert rows[4].n_boiler == 0
    # source b has it only once -> not boilerplate there
    assert rows[5].n_boiler == 0
    # fraction mode: 3/4 of source a's docs => frac threshold 0.7 fires
    rows_f = {r.doc_id: r for r in
              boilerplate_ngrams(df, n=4, min_doc_frac=0.7).collect()}
    assert rows_f[1].n_boiler == 1 and rows_f[5].n_boiler == 0


def test_mixture_sample(spark):
    from iceberg_go_spark.operators.curation import (mixture_sample,
                                                     stratified_sample)
    df = spark.createDataFrame(
        [(i, "x", "en" if i % 2 == 0 else "zh") for i in range(200)],
        "doc_id long, text string, lang string")
    # 'ff...' cutoff keeps ~all of zh; '00' drops all of en
    kept = mixture_sample(df, {"en": "00", "zh": "zz"}).collect()
    assert all(r.lang == "zh" for r in kept)
    assert len(kept) == 100
    # default threshold matches stratified_sample's 25% cut exactly
    only_default = mixture_sample(df, {})
    base = stratified_sample(df)
    assert sorted(r.doc_id for r in only_default.collect()) == \
        sorted(r.doc_id for r in base.collect())


def test_shuffle_shards(spark):
    from iceberg_go_spark.operators.curation import shuffle_shards
    df = spark.createDataFrame([(i, "t") for i in range(300)],
                               "doc_id long, text string")
    out = shuffle_shards(df, n_shards=8).collect()
    assert len(out) == 300
    assert {r.shard for r in out} <= set(range(8))
    # positions are dense 1..len per shard
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # deterministic: a second run yields the identical permutation
    again = shuffle_shards(df, n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_semantic_dedup(spark):
    from iceberg_go_spark.operators.similarity import semantic_dedup
    # vec 1 and 2 identical direction, 3 orthogonal, 4 near-1 but
    # higher id -> 2 and 4 flagged, 1 (lowest id of group) kept
    rows = [(1, [1.0, 0.0, 0.0]),
            (2, [2.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.999, 0.01, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           semantic_dedup(df, k=2, iters=2, threshold=0.95).collect()}
    assert out[1].is_dup == 0
    assert out[2].is_dup == 1
    assert out[3].is_dup == 0
    assert out[4].is_dup == 1


def test_exact_dedup_keep_best_and_soft_weights(spark):
    from iceberg_go_spark.operators.dedup import (exact_dedup_keep_best,
                                                  soft_dedup_weights)
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, "same text", 0.2), (2, "same text", 0.9),
         (3, "same text", 0.9), (4, "unique", 0.1)],
        "doc_id long, text string, q double")
    kept = exact_dedup_keep_best(df, "q").collect()
    by_id = {r.doc_id: r for r in kept}
    # highest score wins, doc_id breaks the 2-vs-3 tie
    assert set(by_id) == {2, 4}
    assert by_id[2].n_copies == 3 and by_id[4].n_copies == 1
    w = {r.doc_id: r for r in soft_dedup_weights(df).collect()}
    assert len(w) == 4
    for d in (1, 2, 3):
        assert w[d].n_copies == 3 and w[d].weight_e6 == 333_333
    assert w[4].weight_e6 == 1_000_000


def test_incremental_bloom_dedup(spark):
    from iceberg_go_spark.operators.dedup import (build_content_bloom,
                                                  incremental_dedup)
    hist = spark.createDataFrame(
        [(i, f"historical document {i}") for i in range(500)],
        "doc_id long, text string")
    bloom = build_content_bloom(hist)
    # new batch: 100 replays of history + 100 genuinely new docs
    new = spark.createDataFrame(
        [(1000 + i, f"historical document {i}") for i in range(100)]
        + [(2000 + i, f"fresh document {i}") for i in range(100)],
        "doc_id long, text string")
    out = incremental_dedup(new, bloom).collect()
    ids = {r.doc_id for r in out}
    # every replayed doc dropped (bloom has no false negatives)
    assert not any(1000 <= i < 1100 for i in ids)
    # ~99%+ of fresh docs survive (fpp is ~1% at this fill ratio)
    fresh = [i for i in ids if i >= 2000]
    assert len(fresh) >= 95


def test_unicode_nfc_fingerprint(spark):
    from iceberg_go_spark.operators.dedup import unicode_nfc_fingerprint
    # same content, two canonical encodings: precomposed vs combining
    rows = [(1, "café menu"), (2, "café menu"),
            (3, "different"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.nfc_md5 for r in
           unicode_nfc_fingerprint(df).collect()}
    assert out[1] == out[2]           # canonical equivalents collapse
    assert out[1] != out[3]
    assert out[4] is None


def test_incremental_bloom_dedup_sharded(spark):
    from iceberg_go_spark.operators.dedup import (incremental_dedup,
                                                  build_content_bloom,
                                                  incremental_dedup_sharded)
    hist = spark.createDataFrame(
        [(i, f"historical document {i}") for i in range(400)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1000 + i, f"historical document {i}") for i in range(80)]
        + [(2000 + i, f"fresh document {i}") for i in range(80)]
        + [(3000, None), (3001, None)],
        "doc_id long, text string")
    sharded = {r.doc_id for r in
               incremental_dedup_sharded(new, hist, n_shards=4).collect()}
    single = {r.doc_id for r in
              incremental_dedup(new, build_content_bloom(hist)).collect()}
    # shards partition the key space: no replayed doc survives, and the
    # survivor set matches the single-bloom path up to fpp noise
    assert not any(1000 <= i < 1080 for i in sharded)
    # null-text rows match no md5 shard; both paths must keep them
    # (advisor-found: the sharded path silently dropped them)
    assert {3000, 3001} <= sharded and {3000, 3001} <= single
    assert len(sharded.symmetric_difference(single)) <= 4


def test_simhash_near_dup_pairs_matches_bruteforce(spark):
    """Pigeonhole banding must find EXACTLY the pairs the quadratic
    scan finds (blocking is lossless for hamming <= max_hamming)."""
    from pyspark.sql import functions as F
    from iceberg_go_spark.functions import text_funcs as TX
    from iceberg_go_spark.operators.dedup import simhash_near_dup_pairs

    rows = [(i, f"shared prefix words {i % 7} tail {i % 3}")
            for i in range(120)] + [(500, None)] + [
            (600 + i, "identical near dup corpus text") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_near_dup_pairs(df, max_hamming=3).collect()}

    parts = TX.simhash64_parts(F.col("text"))
    h = df.select("doc_id",
                  *[p.alias(f"p{j}") for j, p in enumerate(parts)])
    a = h.select(F.col("doc_id").alias("id_a"),
                 *[F.col(f"p{j}").alias(f"a{j}") for j in range(4)])
    b = h.select(F.col("doc_id").alias("id_b"),
                 *[F.col(f"p{j}").alias(f"b{j}") for j in range(4)])
    ham = sum([F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}")))
               for j in range(4)][1:],
              F.bit_count(F.col("a0").bitwiseXOR(F.col("b0"))))
    brute = {(r.id_a, r.id_b, r.hamming)
             for r in (a.join(b, F.col("id_a") < F.col("id_b"))
                       .withColumn("hamming", ham)
                       .filter(F.col("hamming") <= 3)).collect()}
    assert got == brute
    # the blocked plan must not be a cartesian join
    plan = simhash_near_dup_pairs(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_simhash64_frame_matches_parts(spark):
    """The codegen explode+groupBy signature frame (r9 optimization)
    must be bit-identical to the inline TX.simhash64_parts expressions,
    including NULL text, empty text and whitespace-only text (all of
    which must keep an all-zero signature, not disappear)."""
    from pyspark.sql import functions as F
    from iceberg_go_spark.functions import text_funcs as TX
    from iceberg_go_spark.operators.dedup import _simhash64_sig_frame

    rows = [(i, f"some body text {i % 11} with shared words {i % 4}")
            for i in range(50)] + [(100, None), (101, ""), (102, "   "),
                                   (103, "single")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r["doc_id"], r["__p0"], r["__p1"], r["__p2"], r["__p3"])
           for r in _simhash64_sig_frame(df, "text", "doc_id").collect()}
    parts = TX.simhash64_parts(F.col("text"))
    want = {(r.doc_id, r.p0, r.p1, r.p2, r.p3)
            for r in df.select(
                "doc_id", *[p.cast("long").alias(f"p{j}")
                            for j, p in enumerate(parts)]).collect()}
    assert got == want
    assert (100, 0, 0, 0, 0) in got and (101, 0, 0, 0, 0) in got


def test_simhash_degenerate_bucket_salt_split(spark):
    """A degenerate corpus (thousands of IDENTICAL docs -> one (band,
    key) bucket per band) must be salt-split so no collect_list row and
    no pair expansion exceeds the bound: pair count stays ~linear
    (n * max_bucket_size-ish), not the quadratic C(n, 2)."""
    from pyspark.sql import functions as F
    from iceberg_go_spark.operators.dedup import simhash_near_dup_pairs

    n = 2000
    df = spark.createDataFrame(
        [(i, "the exact same boilerplate page") for i in range(n)],
        "doc_id long, text string")
    out = simhash_near_dup_pairs(df, max_hamming=3, max_bucket_size=50)
    pairs = out.count()
    # quadratic would be C(2000, 2) = 1_999_000; the bound keeps each
    # salt shard's expansion at ~C(50, 2) per band
    assert 0 < pairs < n * 50 * 4
    assert out.filter(F.col("hamming") != 0).count() == 0
    # under the bound the salted shape is bit-identical to unsalted
    small = spark.createDataFrame(
        [(i, f"doc number {i % 5} body") for i in range(60)],
        "doc_id long, text string")
    a = {(r.id_a, r.id_b) for r in
         simhash_near_dup_pairs(small, max_bucket_size=4096).collect()}
    b = {(r.id_a, r.id_b) for r in
         simhash_near_dup_pairs(small, max_bucket_size=10 ** 9).collect()}
    assert a == b


def test_embedding_near_dup_auto_dims_and_salt(spark):
    """bucket_dims='auto' scales the sign-bucket count with the corpus
    (expected population ~ target_bucket_size) and max_bucket_size
    hard-bounds degenerate buckets."""
    from iceberg_go_spark.operators.dedup import (auto_bucket_dims,
                                                  embedding_near_dup_pairs)
    # formula: 2^dims buckets keep n/2^dims ~ target, clamped [4, 16/dim]
    assert auto_bucket_dims(100, 64) == 4
    assert auto_bucket_dims(256 * 256, 64) == 8
    assert auto_bucket_dims(1 << 20, 64, target_bucket_size=256) == 12
    assert auto_bucket_dims(1 << 40, 64) == 16        # dims cap
    assert auto_bucket_dims(1 << 40, 6) == 6          # vector-width cap
    assert auto_bucket_dims(10, 64) == 4              # floor

    # degenerate corpus: every vector identical -> one bucket; the salt
    # bound keeps the self-join ~linear instead of C(n, 2)
    n = 1000
    df = spark.createDataFrame(
        [(i, [1.0, -0.5, 0.25, -0.125]) for i in range(n)],
        "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(None, df, threshold=0.5,
                                   bucket_dims="auto",
                                   max_bucket_size=50)
    pairs = out.count()
    assert 0 < pairs < n * 50            # quadratic would be ~499_500
    # under the bound, salted == unsalted (distinct small vectors)
    sm = spark.createDataFrame(
        [(i, [float(i % 7) + 0.5, float(i % 3) - 1.0, 1.0, -1.0])
         for i in range(80)],
        "vec_id long, embedding array<float>")
    a = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(
        None, sm, threshold=0.9, bucket_dims=4,
        max_bucket_size=4096).collect()}
    b = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(
        None, sm, threshold=0.9, bucket_dims=4,
        max_bucket_size=None).collect()}
    assert a == b


def test_bloom_auto_routes_to_sharded(spark, monkeypatch):
    """incremental_dedup_auto must dispatch on total bits: single
    build+broadcast under the bound, sharded past it — with identical
    survivors either way (shards partition the key space)."""
    from iceberg_go_spark.operators import dedup as DD

    hist = spark.createDataFrame(
        [(i, f"seen document {i}") for i in range(300)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(i, f"seen document {i}") for i in range(250, 300)] +
        [(1000 + i, f"fresh document {i}") for i in range(50)] +
        [(2000, None)],
        "doc_id long, text string")

    single = {r.doc_id for r in DD.incremental_dedup_auto(
        batch, hist, n_bits=1 << 18).collect()}
    monkeypatch.setattr(DD, "MAX_BROADCAST_BLOOM_BITS", 1 << 16)
    sharded = {r.doc_id for r in DD.incremental_dedup_auto(
        batch, hist, n_bits=1 << 18).collect()}
    # all history hits dropped on both routes; null-text row kept
    assert not any(250 <= i - 0 < 300 for i in single)
    assert not any(250 <= i - 0 < 300 for i in sharded)
    assert 2000 in single and 2000 in sharded
    # fresh rows survive up to bloom fpp noise on either route
    assert len({1000 + i for i in range(50)} - single) <= 2
    assert len(single.symmetric_difference(sharded)) <= 4


def test_dedup_paragraphs(spark):
    from iceberg_go_spark.operators.curation import dedup_paragraphs

    rows = [
        (1, "unique one\nBOILER\nunique two"),
        (2, "BOILER\nother text"),
        (3, "BOILER\nmore\nBOILER"),   # repeated WITHIN one doc
        (4, "all mine\nalso mine"),
        (5, "   \nonly spaces around\n "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup_paragraphs(df, max_occurrences=2).collect()}
    # BOILER appears in 3 DISTINCT docs -> dropped everywhere
    assert out[1].clean_text == "unique one\nunique two"
    assert out[1].n_kept == 2 and out[1].n_dropped == 1
    assert out[2].clean_text == "other text"
    # within-doc repetition counts once toward the corpus count, but
    # BOTH occurrences are dropped from the doc
    assert out[3].clean_text == "more"
    assert out[3].n_dropped == 2
    assert out[4].clean_text == "all mine\nalso mine"
    # blank paragraphs are ignored entirely
    assert out[5].clean_text == "only spaces around"
    # a doc losing everything still appears, empty
    df2 = spark.createDataFrame(
        [(1, "X"), (2, "X"), (3, "X")], "doc_id long, text string")
    out2 = {r.doc_id: r for r in
            dedup_paragraphs(df2, max_occurrences=1).collect()}
    assert out2[1].clean_text == "" and out2[1].n_kept == 0


def test_dedup_paragraphs_regex_metachar_separator(spark):
    """sep is a LITERAL: a '|' separator must not explode the text into
    characters (F.split takes a regex; the operator escapes it)."""
    from iceberg_go_spark.operators.curation import dedup_paragraphs
    df = spark.createDataFrame(
        [(1, "keep me|SHARED|mine too"), (2, "SHARED|other")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup_paragraphs(df, max_occurrences=1, sep="|").collect()}
    assert out[1].clean_text == "keep me|mine too"
    assert out[2].clean_text == "other"


def test_connected_components_long_chain_converges_fast(spark,
                                                       monkeypatch):
    """Pointer jumping: a 64-vertex chain resolves within O(log d)
    rounds — max_iterations=10 must fully converge where plain
    propagation would need ~63 (distributed rounds; the driver finish
    is exact whatever max_iterations says)."""
    from conftest import components_on_both_paths
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)] + [(100, 101)],
        "id_a long, id_b long")
    got = components_on_both_paths(chain, monkeypatch, max_iterations=10)
    assert all(got[i] == 0 for i in range(64))
    assert got[100] == got[101] == 100


def test_leakage_safe_split(spark, sf_dir):
    from iceberg_go_spark.operators.curation import leakage_safe_split
    from conftest import read_table
    docs = read_table(spark, "documents", sf_dir)
    out = leakage_safe_split(docs)
    # total partition: every row labeled, nothing dropped
    assert out.count() == docs.count()
    assert set(r.split for r in
               out.select("split").distinct().collect()) <= {"train", "val"}
    # the leakage property: identical (post-normalization) text can
    # never straddle the split — check on a corpus with forced dups
    dup = docs.limit(50).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000).withColumn(
        "text", F.upper(F.col("text")))  # normalization-equal variant
    both = leakage_safe_split(docs.limit(50).unionByName(dup))
    from iceberg_go_spark.functions.text_funcs import fingerprint
    groups = (both.withColumn("fp", fingerprint(F.col("text")))
              .groupBy("fp")
              .agg(F.countDistinct("split").alias("n_sides"))
              .agg(F.max("n_sides")).first()[0])
    assert groups == 1, "a content group straddled the train/val split"
    # deterministic across runs
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in leakage_safe_split(docs).collect()}
    assert a == b
    # group_col override splits by the given key
    bysrc = leakage_safe_split(docs, group_col="lang")
    one_side = (bysrc.groupBy("lang")
                .agg(F.countDistinct("split").alias("n"))
                .agg(F.max("n")).first()[0])
    assert one_side == 1


def test_cap_per_stratum_matches_single_window(spark, sf_dir):
    """The salted two-phase top-K must be lossless vs the plain
    one-window formulation, including under n_salt variation."""
    from pyspark.sql import Window, functions as F

    from iceberg_go_spark.operators import curation as CU
    from tests.conftest import read_table
    docs = read_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"),
                                             F.asc("doc_id"))
    want = sorted(r.doc_id for r in docs
                  .withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") <= 7).collect())
    for n_salt in (1, 3, 8):
        got = sorted(r.doc_id for r in CU.cap_per_stratum(
            docs, strat_col="source", cap=7, order_col="n_chars",
            id_col="doc_id", n_salt=n_salt).collect())
        assert got == want, n_salt
    # rank column is the true global rank
    top1 = CU.cap_per_stratum(docs, strat_col="source", cap=7,
                              order_col="n_chars").filter("__rank = 1")
    best = docs.groupBy("source").agg(F.max("n_chars").alias("m"))
    assert {(r.source, r.n_chars) for r in top1.collect()} == \
           {(r.source, r.m) for r in best.collect()}


def test_temperature_mixture_flattens_and_hits_target(spark, sf_dir):
    """Expected total ~= target; small strata keep a HIGHER fraction
    than large strata (the whole point of temperature flattening); and
    the kept set is deterministic across runs."""
    from pyspark.sql import functions as F

    from iceberg_go_spark.operators import curation as CU
    from tests.conftest import read_table
    docs = read_table(spark, "documents", sf_dir)
    # build skew: replicate one source 4x with fresh ids
    big = (docs.filter(F.col("source") == "src0")
           .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    skewed = docs.unionByName(big)
    kept = CU.temperature_mixture(skewed, target_rows=200,
                                  strat_col="source")
    n = kept.count()
    assert 120 <= n <= 280, n  # expected 200, binomial spread
    rates = (skewed.groupBy("source").agg(F.count("*").alias("c"))
             .join(kept.groupBy("source").agg(F.count("*").alias("k")),
                   "source"))
    r = {row.source: row.k / row.c for row in rates.collect()}
    big_rate = r["src0"]
    others = [v for s, v in r.items() if s != "src0"]
    # realized per-stratum rates are binomial-noisy at 25 docs/stratum;
    # the flattening claim is about the mean (theoretical 0.166 vs
    # 0.377 here), not each stratum's draw
    assert big_rate < sum(others) / len(others), (big_rate, others)
    # determinism
    again = CU.temperature_mixture(skewed, target_rows=200,
                                   strat_col="source")
    assert sorted(x.doc_id for x in kept.collect()) == \
           sorted(x.doc_id for x in again.collect())


def test_context_windows_cover_all_tokens(spark):
    """Every token appears in >=1 window; stride-sized overlap between
    consecutive windows; short docs produce exactly one window."""
    from pyspark.sql import functions as F

    from iceberg_go_spark.operators import curation as CU
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(20))),
         (2, "a b c"),
         (3, "solo")],
        "doc_id long, text string")
    w = CU.context_windows(df, window=8, stride=4).collect()
    by_doc = {}
    for r in w:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 1,5,9,13,17 -> 5 windows; last has 4 tokens
    d1 = sorted(by_doc[1], key=lambda r: r.start)
    assert [r.start for r in d1] == [1, 5, 9, 13, 17]
    assert [r.n_tokens for r in d1] == [8, 8, 8, 8, 4]
    assert d1[0].window_text.split(" ")[:4] == ["t0", "t1", "t2", "t3"]
    assert d1[-1].window_text == "t16 t17 t18 t19"
    # overlap: window k shares its last (window-stride) tokens with k+1
    assert d1[0].window_text.split(" ")[4:] == \
           d1[1].window_text.split(" ")[:4]
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 3
    assert by_doc[3][0].window_text == "solo"


def test_bpe_pair_counts_hand_checked(spark):
    from iceberg_go_spark.operators import text as TOP
    df = spark.createDataFrame([(1, "aa ab aa"), (2, "x baa")],
                               "doc_id long, text string")
    got = {r.pair: r.n_occurrences
           for r in TOP.bpe_pair_counts(df).collect()}
    # tokens: aa, ab, aa, baa ('x' too short)
    assert got == {"aa": 3, "ab": 1, "ba": 1}


def test_distinctive_terms_integer_ranking(spark):
    from iceberg_go_spark.operators import text as TOP
    rows = []
    # 'foo' only in en (tf 6), 'bar' everywhere, 'baz' only in fr (tf 5)
    for i in range(6):
        rows.append((i, "foo bar", "en"))
    for i in range(6, 11):
        rows.append((i, "baz bar", "fr"))
    rows.append((11, "bar bar bar bar bar", "de"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = TOP.distinctive_terms(df, top_k=2, min_tf=5).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r.lang, []).append(r)
    assert by_lang["en"][0].term == "foo"
    assert by_lang["en"][0].score == 1_000_000  # 6*1e6 div 6
    assert by_lang["fr"][0].term == "baz"
    # 'bar' global tf = 6+5+5 = 16; en share 6 -> 375000
    bar_en = [r for r in by_lang["en"] if r.term == "bar"][0]
    assert bar_en.score == 6 * 1_000_000 // 16


def test_length_quantile_profile_exact_indices(spark):
    """Quantile = value at 0-based sorted index floor(p*(n-1)); the
    histogram path must reproduce the brute-force sorted-list answer,
    including duplicate values and a single-row stratum."""
    import math
    from iceberg_go_spark.operators.curation import length_quantile_profile
    lens_a = [10, 10, 20, 30, 30, 30, 40, 50, 60, 100]  # n=10, dups
    lens_b = [7]                                         # n=1 edge
    rows = ([(i, "a", v) for i, v in enumerate(lens_a)]
            + [(100, "b", 7)])
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r["source"]: r for r in
           length_quantile_profile(df, ps=(0.25, 0.5, 0.9, 0.99)).collect()}

    def brute(vals, p):
        s = sorted(vals)
        return s[math.floor(p * (len(s) - 1))]

    for src, vals in (("a", lens_a), ("b", lens_b)):
        r = out[src]
        assert r["n_docs"] == len(vals)
        assert r["min_len"] == min(vals) and r["max_len"] == max(vals)
        assert r["sum_len"] == sum(vals)
        assert r["p25"] == brute(vals, 0.25)
        assert r["p5"] == brute(vals, 0.5)
        assert r["p9"] == brute(vals, 0.9)
        assert r["p99"] == brute(vals, 0.99)


def test_token_frequency_quality_exact(spark):
    """Hand-computed corpus: 'a' occurs 4x, 'b' 2x, 'z' 1x (7 total).
    doc1 = 'a a b' -> mean freq = (4+4+2)/(3*7); hapax 0.
    doc3 = 'z'     -> mean freq = 1/7, hapax ratio 1. Null text -> zeros."""
    from iceberg_go_spark.operators.curation import token_frequency_quality
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a a b"), (3, "z"), (4, None)],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in token_frequency_quality(df).collect()}
    assert rows[1].n_tokens == 3
    assert rows[1].mean_token_freq_e6 == (10 * 1_000_000) // (3 * 7)
    assert rows[1].hapax_ratio_e6 == 0
    assert rows[3].n_tokens == 1
    assert rows[3].mean_token_freq_e6 == 1_000_000 // 7
    assert rows[3].hapax_ratio_e6 == 1_000_000
    assert rows[4].n_tokens == 0 and rows[4].mean_token_freq_e6 == 0


def test_ngram_novelty_hand_case(spark):
    from iceberg_go_spark.operators.curation import ngram_novelty
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x"), (3, "a b c"), (4, "solo")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in ngram_novelty(df, n=2).collect()}
    # grams: d1 {a b, b c} both first here; d2 {a b(min=1), b x(first)};
    # d3 repeats d1 entirely; d4 too short for any 2-gram
    assert (rows[1].n_grams, rows[1].novel_grams,
            rows[1].novelty_e6) == (2, 2, 1_000_000)
    assert (rows[2].n_grams, rows[2].novel_grams,
            rows[2].novelty_e6) == (2, 1, 500_000)
    assert (rows[3].n_grams, rows[3].novel_grams,
            rows[3].novelty_e6) == (2, 0, 0)
    assert (rows[4].n_grams, rows[4].novel_grams,
            rows[4].novelty_e6) == (0, 0, 0)


def test_c4_rules_flags(spark):
    from iceberg_go_spark.operators.curation import c4_rules
    df = spark.createDataFrame(
        [(1, "good words flow nicely here"),
         (2, "too short"),
         (3, "lorem ipsum something extra words"),
         (4, "code { x } more words here"),
         (5, "a a a a a a")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            c4_rules(df, min_words=5, banned_words=["lorem"]).collect()}
    assert rows[1].keep == 1 and rows[1].n_words == 5
    assert rows[2].flag_too_few_words == 1 and rows[2].keep == 0
    assert rows[3].flag_banned_word == 1 and rows[3].keep == 0
    assert rows[4].flag_brace == 1 and rows[4].keep == 0
    # mean word length 1 < 3 -> length flag
    assert rows[5].flag_word_length == 1 and rows[5].keep == 0
    # exactly one rule fires per crafted doc except 4 (brace + length)
    assert rows[1].flag_banned_word == 0 and rows[1].flag_brace == 0
    assert rows[1].flag_word_length == 0


def test_bigram_predictability_hand_case(spark):
    from iceberg_go_spark.operators.curation import bigram_predictability
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "z")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in bigram_predictability(df).collect()}
    # bigram counts: (a,b)=2, (a,c)=1; prefix(a)=3
    assert rows[1].n_bigrams == 1
    assert rows[1].mean_bigram_p_e6 == 2 * 1_000_000 // 3
    assert rows[2].mean_bigram_p_e6 == 2 * 1_000_000 // 3
    assert rows[3].mean_bigram_p_e6 == 1_000_000 // 3
    assert (rows[4].n_bigrams, rows[4].mean_bigram_p_e6) == (0, 0)


def test_source_token_divergence_exact(spark):
    from iceberg_go_spark.operators.curation import source_token_divergence
    # source A: 3x 'x', 1x 'y'; source B: 1x 'x', 3x 'y'
    df = spark.createDataFrame(
        [(1, "x x x y", "A"), (2, "x y y y", "B")],
        "doc_id long, text string, source string")
    rows = {r.source: r for r in source_token_divergence(df).collect()}
    # corpus: x=4, y=4, N=8; A: ns=4. p_A(x)=3/4 vs 1/2, p_A(y)=1/4 vs 1/2
    # TV = 0.5*(1/4 + 1/4) = 1/4 -> 250000
    assert rows["A"].n_tokens == 4 and rows["A"].distinct_tokens == 2
    assert rows["A"].tv_e6 == 250_000
    assert rows["B"].tv_e6 == 250_000


def test_source_token_divergence_absent_token_mass(spark):
    from iceberg_go_spark.operators.curation import source_token_divergence
    # source B never contains 'x': the closed-form absent-mass term
    # must account for it.  corpus: x=2, y=2, N=4.
    # A = "x x": p_A(x)=1 vs 1/2, p_A(y)=0 vs 1/2 -> TV = 1/2
    df = spark.createDataFrame(
        [(1, "x x", "A"), (2, "y y", "B")],
        "doc_id long, text string, source string")
    rows = {r.source: r for r in source_token_divergence(df).collect()}
    assert rows["A"].tv_e6 == 500_000
    assert rows["B"].tv_e6 == 500_000


def test_c4_filter_matches_rules_keep(spark):
    from iceberg_go_spark.operators.curation import c4_filter, c4_rules
    df = spark.createDataFrame(
        [(1, "good words flow nicely here"),
         (2, "too short"),
         (3, "lorem ipsum something extra words"),
         (4, "a a a a a a")],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  c4_filter(df, min_words=5,
                            banned_words=["lorem"]).collect())
    want = sorted(r.doc_id for r in
                  c4_rules(df, min_words=5, banned_words=["lorem"])
                  .filter("keep = 1").collect())
    assert kept == want == [1]


def test_negative_pairs_never_self_and_exact_k(spark):
    from iceberg_go_spark.operators.curation import negative_pairs
    df = spark.createDataFrame([(i, f"doc {i}") for i in range(1, 8)],
                               "doc_id long, text string")
    rows = negative_pairs(df, k=3).collect()
    assert len(rows) == 7 * 3
    by_anchor = {}
    for r in rows:
        assert r.neg_id != r.anchor_id
        by_anchor.setdefault(r.anchor_id, set()).add(r.sample_idx)
    assert all(v == {1, 2, 3} for v in by_anchor.values())
    # determinism across invocations
    again = negative_pairs(df, k=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_negative_pairs_two_docs(spark):
    """With N=2 the step is always 1: each anchor's every sample is the
    other document."""
    from iceberg_go_spark.operators.curation import negative_pairs
    import pytest as _pytest
    df = spark.createDataFrame([(1, "a"), (2, "b")],
                               "doc_id long, text string")
    rows = negative_pairs(df, k=2).collect()
    assert {(r.anchor_id, r.neg_id) for r in rows} == {(1, 2), (2, 1)}
    with _pytest.raises(ValueError):
        negative_pairs(df.limit(1), k=1)


def test_ngram_diversity_hand_case(spark):
    from iceberg_go_spark.operators.curation import ngram_diversity
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string")
    rows = {r.n: r for r in ngram_diversity(df, max_n=2).collect()}
    # unigrams: 7 total (a,b,a,b,a,b,c), 3 distinct
    assert rows[1].total_ngrams == 7 and rows[1].distinct_ngrams == 3
    assert rows[1].diversity_e6 == 3 * 1_000_000 // 7
    # bigrams: doc1 {a b, b a, a b}, doc2 {a b, b c} -> 5 total, 3 distinct
    assert rows[2].total_ngrams == 5 and rows[2].distinct_ngrams == 3
    assert rows[2].diversity_e6 == 3 * 1_000_000 // 5


def test_bigrams_span_whitespace_runs(spark):
    """Consecutive spaces must not break bigram adjacency: positions
    index the FILTERED token sequence, like the oracle's
    list_filter-then-ws[i] (review finding — the gate corpus has only
    single spaces, so this never showed there)."""
    from iceberg_go_spark.operators.curation import (
        bigram_predictability, repetition_metrics)
    df = spark.createDataFrame(
        [(1, "a  b"), (2, "a b")],  # doc 1 has a double space
        "doc_id long, text string")
    rows = {r.doc_id: r for r in bigram_predictability(df).collect()}
    # both docs contribute the SAME (a,b) bigram: count 2, prefix 2
    assert rows[1].n_bigrams == 1 and rows[2].n_bigrams == 1
    assert rows[1].mean_bigram_p_e6 == 1_000_000
    m = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert m[1].top_bigram_frac_e6 == 1_000_000  # 1 bigram, top = it


class TestImportanceResample:
    """DSIR-style hashed importance weights vs a Python brute-force
    recompute (same md5-prefix bucket hash, exact big-int ratios)."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (1, "ml models learn from data data data", "tgt"),
            (2, "ml training data needs cleaning", "tgt"),
            (3, "the cat sat on the mat", "raw"),
            (4, "stock prices fell on tuesday", "raw"),
            (5, "ml data pipelines scale training", "raw"),
            (6, "", "raw"),                       # empty -> score 0
            (7, "the the the the", "raw"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text", "kind"])

    @staticmethod
    def _brute(rows, target_kind, n_buckets, clamp, ngram=1):
        import hashlib

        def toks(t):
            t = t.strip().lower()
            ws = t.split() if t else []
            if ngram == 2:
                return [f"{a} {b}" for a, b in zip(ws, ws[1:])]
            return ws

        def bkt(w):
            h = hashlib.md5(w.encode()).hexdigest()[:12]
            return int(h, 16) % n_buckets

        r, t = {}, {}
        for _, text, kind in rows:
            for w in toks(text):
                b = bkt(w)
                r[b] = r.get(b, 0) + 1
                if kind == target_kind:
                    t[b] = t.get(b, 0) + 1
        R, T, B = sum(r.values()), sum(t.values()), n_buckets
        lam = {b: min(clamp, ((t.get(b, 0) + 1) * (R + B) * 10**6)
                      // ((rc + 1) * (T + B)))
               for b, rc in r.items()}
        return {i: sum(lam[bkt(w)] for w in toks(text))
                for i, text, _ in rows}

    def test_weights_match_bruteforce(self, corpus):
        got = {r["doc_id"]: r["score_e6"] for r in
               CU.importance_weights(
                   corpus, F.col("kind") == "tgt", n_buckets=64,
                   clamp_e6=10**9).collect()}
        want = self._brute(
            [(r["doc_id"], r["text"], r["kind"])
             for r in corpus.collect()], "tgt", 64, 10**9)
        assert got == want
        assert got[6] == 0                       # empty doc
        # the ml/data-heavy raw doc outranks the unrelated ones
        assert got[5] > got[3] and got[5] > got[4]

    def test_bigram_features_match_bruteforce(self, corpus):
        got = {r["doc_id"]: r["score_e6"] for r in
               CU.importance_weights(
                   corpus, F.col("kind") == "tgt", n_buckets=64,
                   clamp_e6=10**9, ngram=2).collect()}
        want = self._brute(
            [(r["doc_id"], r["text"], r["kind"])
             for r in corpus.collect()], "tgt", 64, 10**9, ngram=2)
        assert got == want
        # the data-data target doc carries the heaviest shared bigrams
        assert got[1] == max(got.values()) and got[6] == 0

    def test_resample_keeps_top_by_score_then_id(self, corpus):
        kept = CU.importance_resample(
            corpus, F.col("kind") == "tgt", n_keep=3, n_buckets=64
        ).collect()
        want = self._brute(
            [(r["doc_id"], r["text"], r["kind"])
             for r in corpus.collect()], "tgt", 4096, 10**9)
        order = sorted(want, key=lambda i: (-want[i], i))[:3]
        assert [r["doc_id"] for r in kept] == order

    def test_clamp_bounds_bucket_ratio(self, corpus):
        got = CU.importance_weights(
            corpus, F.col("kind") == "tgt", n_buckets=64,
            clamp_e6=1).collect()
        # every bucket ratio clamps to 1 -> score == token count
        for r in got:
            text = [x["text"] for x in corpus.collect()
                    if x["doc_id"] == r["doc_id"]][0]
            assert r["score_e6"] == len(text.split())

    def test_bad_ngram_rejected(self, corpus):
        with pytest.raises(ValueError):
            CU.importance_weights(corpus, F.col("kind") == "tgt",
                                  ngram=3)


class TestTokenBudgetAllocation:
    """Exact water-filling vs a Python big-int reference."""

    @staticmethod
    def _brute(per_source, budget, max_epochs):
        import math
        rows = [(s, n, n * max_epochs, math.isqrt(n))
                for s, n in per_source.items()]
        rows.sort(key=lambda r: (r[1], r[0]))   # ratio order == n order
        capped, cp = {}, 0
        wtot = sum(r[3] for r in rows)
        wpre = 0
        for s, n, cap, w in rows:
            cp += cap
            wpre += w
            wafter = wtot - wpre
            capped[s] = (w == 0) or (cap * wafter <= (budget - cp) * w)
        ct = sum(r[2] for r in rows if capped[r[0]])
        wu = sum(r[3] for r in rows if not capped[r[0]])
        out = {}
        for s, n, cap, w in rows:
            if capped[s]:
                a = cap
            elif wu == 0:
                a = 0
            else:
                a = w * max(budget - ct, 0) // wu
            out[s] = (n, cap, a, 0 if n == 0 else a * 10**6 // n)
        return out

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = []
        i = 0
        for n, src, docs in [(100, "big", 50), (10, "small", 5),
                             (40, "mid", 10), (0, "empty", 1)]:
            for _ in range(docs):
                rows.append((i, " ".join(["w"] * n), src))
                i += 1
        return spark.createDataFrame(rows, ["doc_id", "text", "source"])

    def test_matches_bruteforce(self, corpus):
        got = {r["source"]: (r["n_tokens"], r["cap_tokens"],
                             r["alloc_tokens"], r["epochs_e6"])
               for r in CU.token_budget_allocation(
                   corpus, budget_tokens=3000, max_epochs=3).collect()}
        want = self._brute(
            {"big": 5000, "small": 50, "mid": 400, "empty": 0},
            3000, 3)
        assert got == want
        # caps respected, budget never exceeded
        assert all(a <= c for _, c, a, _ in got.values())
        assert sum(a for _, _, a, _ in got.values()) <= 3000

    def test_budget_exceeds_all_caps(self, corpus):
        got = {r["source"]: r["alloc_tokens"]
               for r in CU.token_budget_allocation(
                   corpus, budget_tokens=10**9, max_epochs=2).collect()}
        # everything capped at 2 epochs
        assert got == {"big": 10000, "small": 100, "mid": 800,
                       "empty": 0}

    def test_zero_budget(self, corpus):
        got = CU.token_budget_allocation(
            corpus, budget_tokens=0, max_epochs=2).collect()
        assert all(r["alloc_tokens"] == 0 for r in got)

    def test_negative_args_rejected(self, corpus):
        with pytest.raises(ValueError):
            CU.token_budget_allocation(corpus, -1)
        with pytest.raises(ValueError):
            CU.token_budget_allocation(corpus, 10, max_epochs=-1)
