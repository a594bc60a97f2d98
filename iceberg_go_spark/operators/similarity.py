"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (exact; one shuffle for the global
top-k).  Scale path: sign-bucket LSH / IVF-style coarse partitioning so each
query probes a small candidate slice instead of the full corpus.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import vector_funcs as V
from ..session import local_frame


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "query_vec",
                     exclude_self: bool = False) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries is tiny vs emb by contract (the probe set) — collected to
    the driver and shipped in the task closure, so the corpus is never
    cross-joined or replicated per query: ONE Arrow pass computes the
    exact per-batch top-k with the vectorized numpy kernel, and only
    |batches| x |Q| x k candidate rows reach the final rank window
    (the crossJoin shape evaluated an interpreted HOF dot per
    corpus x query pair — guide §4/§8).  Similarity is the integer
    micro-cosine contract (quantized_cosine_e6 == _np_cosine_e6): no
    double in the output or ranking lineage."""
    qrows = _collect_queries(queries, query_id_col, query_vec_col)
    emb_q = emb.select(F.col(id_col),
                       V.quantize(F.col(vec_col)).alias("__q"))
    cand = _map_side_topk_candidates(
        emb_q, id_col, "__q", [(qid, qv, None) for qid, qv in qrows],
        k, query_id_col=query_id_col, exclude_self=exclude_self)
    return _ranked_topk(cand, k, id_col, query_id_col)


def bucketed_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  query_id_col: str = "query_id",
                  query_vec_col: str = "query_vec",
                  bucket_dims: int = 8,
                  exclude_self: bool = False) -> DataFrame:
    """ANN top-k: probe only the query's sign-bucket (LSH-style).

    ~2^dims-fold candidate reduction; recall < 1 by design.  Deterministic
    bucket fn keeps this oracle-checkable; integer micro-cosine keeps the
    ranking engine-exact.  Same map-side candidate shape as
    brute_force_topk — each query carries its sign-bucket as the allowed
    label set, so non-bucket rows are skipped inside the kernel instead
    of through a join."""
    q_b = (queries.select(
        F.col(query_id_col),
        V.quantize(F.col(query_vec_col)).alias("__qq"),
        V.sign_bucket(F.col(query_vec_col), bucket_dims).alias("__b"))
        .collect())
    qlist = [(r[query_id_col], [int(v) for v in r["__qq"]],
              {r["__b"]}) for r in q_b]
    emb_q = emb.select(F.col(id_col),
                       V.quantize(F.col(vec_col)).alias("__q"),
                       V.sign_bucket(F.col(vec_col), bucket_dims)
                       .alias("__bucket"))
    cand = _map_side_topk_candidates(
        emb_q, id_col, "__q", qlist, k, query_id_col=query_id_col,
        label_col="__bucket", exclude_self=exclude_self)
    return _ranked_topk(cand, k, id_col, query_id_col)


# above this width, per-dimension inline aggregates stop codegen-ing
# (thousands of aggregate expressions -> interpreted eval); switch to
# the posexplode shape, which keeps a constant expression count
DIM_INLINE_LIMIT = 256


def _sum_vectors(df: DataFrame, group_cols, vec_col: str,
                 dim: int) -> DataFrame:
    """Per-group SUM vector of an integer-quantized embedding column,
    as ``(group_cols..., csum array<long>)``.

    Shape is picked by ``dim``: inline per-dimension sum-aggregates
    codegen cleanly at narrow dims (no row blowup); at real embedding
    widths (768-3072) that is thousands of aggregate expressions and
    the aggregate goes interpreted — past DIM_INLINE_LIMIT we
    posexplode to (group, pos, val) rows instead (dim-fold row blowup,
    but constant expression count and still ONE map-side-combinable
    shuffle keyed on (group, pos))."""
    if dim <= DIM_INLINE_LIMIT:
        return df.groupBy(*group_cols).agg(
            F.array(*[F.sum(F.element_at(vec_col, i + 1))
                      for i in range(dim)]).alias("csum"))
    exploded = df.select(*group_cols,
                         F.posexplode(F.col(vec_col)).alias("pos", "val"))
    return (exploded.groupBy(*group_cols, "pos")
            .agg(F.sum("val").alias("__s"))
            .groupBy(*group_cols)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "__s")))
                 .alias("__ss"))
            .select(*group_cols,
                    F.transform("__ss", lambda s: s["__s"]).alias("csum")))


def _np_cosine_e6(dots, p):
    """Exact integer micro-cosine from int64 dot products and norm
    products: trunc(dots * 1e6 / isqrt(p)), 0 where p == 0 — the numpy
    twin of vector_funcs.quantized_cosine_e6 (same isqrt ladder: float
    seed, -2 lower bound, four +1 corrections; same sign-split trunc
    division).  ONE shared implementation for every numpy cosine path
    (argmax assignment, top-k candidates, pair filters) so the
    numpy_kernel_canary probes cover them all.  Callers must have
    pre-checked p < 2^62 (the isqrt domain)."""
    import numpy as np
    s = _np_isqrt(p)
    num = dots * 1_000_000
    return np.where(
        s == 0, 0,
        np.where(num >= 0,
                 num // np.maximum(s, 1),
                 -((-num) // np.maximum(s, 1))))


def _check_isqrt_domain(na_max: int, nb_max: int) -> None:
    """Raise before any int64 norm product can leave the exact-isqrt
    domain.  PYTHON ints (numpy int64 would wrap silently), mirroring
    isqrt_prod's pre-multiply guard."""
    if int(na_max) * int(nb_max) >= (1 << 62):
        raise ValueError(
            "isqrt domain overflow: norm product >= 2^62 — rescale "
            "centroid sums (see kmeans_assignments docstring)")


def _py_cosine_e6(dot: int, na: int, nb: int) -> int:
    """Driver-side exact micro-cosine over PYTHON ints (math.isqrt is
    floor(sqrt) by definition, which the engine/oracle isqrt ladders
    reproduce exactly in-domain) — used for tiny bounded driver-side
    computations (IVF probe selection, PQ ADC tables)."""
    import math
    _check_isqrt_domain(na, nb)
    s = math.isqrt(na * nb)
    if s == 0:
        return 0
    num = dot * 1_000_000
    return -((-num) // s) if num < 0 else num // s


def _map_side_cosine_argmax(df: DataFrame, id_col: str, vec_col: str,
                            cent_vectors: List[List[int]],
                            out_col: str = "cluster",
                            cos_col: Optional[str] = "cosine_e6",
                            keep_vec: bool = True) -> DataFrame:
    """Assign each quantized vector to its argmax-cosine centroid,
    MAP-SIDE: one Arrow-batched mapInPandas with the centroid matrix in
    the task closure (len(cent) x dim longs, kilobytes) — no crossJoin
    row replication, no row_number window, no exchange.  Ties break on
    the LOWEST centroid index (numpy argmax first-max == the
    (cosine desc, id asc) window order).  Integers are bit-identical to
    quantized_cosine_e6: exact int64 dot/norms, exact isqrt (float seed
    + integer correction), trunc division via sign-split floor.  The
    isqrt 2^62 domain is pre-checked with PYTHON ints (numpy int64
    would wrap silently), matching isqrt_long's raise."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as ST

    cmat = np.array(cent_vectors, dtype=np.int64)
    nb = [sum(v * v for v in c) for c in cent_vectors]  # exact ints

    fields = [df.schema[id_col],
              ST.StructField(out_col, ST.IntegerType())]
    if cos_col:
        fields.append(ST.StructField(cos_col, ST.LongType()))
    if keep_vec:
        fields.append(df.schema[vec_col])
    out_schema = ST.StructType(fields)

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(list(pdf[vec_col]), dtype=np.int64)
            na = (X * X).sum(axis=1)
            na_max = int(na.max(initial=0))
            for nbc in nb:
                _check_isqrt_domain(na_max, nbc)
            dots = X @ cmat.T                          # (n, k) exact
            p = na[:, None] * np.array(nb, dtype=np.int64)[None, :]
            cos = _np_cosine_e6(dots, p)
            best = np.argmax(cos, axis=1)
            data = {id_col: pdf[id_col],
                    out_col: best.astype(np.int32)}
            if cos_col:
                data[cos_col] = cos[np.arange(len(best)), best]
            if keep_vec:
                data[vec_col] = pdf[vec_col]
            yield pd.DataFrame(data)

    return df.mapInPandas(part, out_schema)


def _np_isqrt(p):
    """Exact floor(sqrt(p)) for int64 arrays, 0 <= p < 2^62 — the numpy
    twin of vector_funcs.isqrt_long's ladder (float seed, -2 lower
    bound, four +1 corrections).  Shared by every numpy kernel."""
    import numpy as np
    s = np.sqrt(p.astype(np.float64)).astype(np.int64)
    s = np.maximum(s - 2, 0)
    for _ in range(4):
        s += ((s + 1) * (s + 1) <= p)
    return s


def _grouped_pair_hits(base: DataFrame, group_keys, id_col: str,
                       vec_col: str, thr_e6: int,
                       emit_pairs: bool) -> DataFrame:
    """Within-group cosine-threshold pair detection as ONE grouped numpy
    kernel (applyInPandas): each group's quantized vectors cross the
    Arrow boundary ONCE and the pairwise dot matrix is a single int64
    matmul — the join formulation materialized |group|^2/2 pair ROWS,
    each carrying two full vectors through an interpreted HOF dot
    (guide §4, §2.3: expand pairs inside the task, not in the shuffle).
    The groupBy is the SAME single corpus shuffle the pair equi-join
    paid; group sizes are bounded by the callers' salt-split valves,
    so the n^2 bitmask stays small per task.

    The threshold predicate mirrors vector_funcs.cosine_ge_threshold
    exactly: s > 0 AND dot * 1e6 >= thr_e6 * isqrt(na*nb) — division-
    free, same isqrt ladder, bit-identical hits.

    emit_pairs=False: one row per DUPLICATE member — ids (sorted asc
    within the group) that hit any LOWER id, i.e. the SemDeDup "a lower
    id reaches threshold" rule.  emit_pairs=True: (id_a, id_b,
    cosine_e6) per hitting pair with id_a < id_b, cosine from the
    shared _np_cosine_e6 kernel."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as ST

    if thr_e6 < 1:
        raise ValueError("_grouped_pair_hits requires thr_e6 >= 1")
    id_type = base.schema[id_col].dataType
    if emit_pairs:
        out_schema = ST.StructType([
            ST.StructField("id_a", id_type),
            ST.StructField("id_b", id_type),
            ST.StructField("cosine_e6", ST.LongType())])
    else:
        out_schema = ST.StructType([base.schema[id_col]])

    def fn(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({f.name: [] for f in out_schema.fields})
        order = np.argsort(pdf[id_col].to_numpy())
        ids = pdf[id_col].to_numpy()[order]
        Q = np.array(list(pdf[vec_col]), dtype=np.int64)[order]
        na = (Q * Q).sum(axis=1)
        na_max = int(na.max(initial=0))
        _check_isqrt_domain(na_max, na_max)
        # The domain check bounds na_max < 2^31, so every partial sum of
        # a dot product is an integer below sqrt(na_i*na_j) < 2^53 in
        # magnitude (Cauchy-Schwarz on the |a_i||b_i| vectors) — a
        # float64 BLAS matmul is therefore EXACT regardless of
        # accumulation order, and ~4x the int64 matmul (which numpy
        # routes around BLAS).
        Qf = Q.astype(np.float64)
        dots = (Qf @ Qf.T).astype(np.int64)
        # Conservative float prescreen so the exact isqrt ladder runs
        # only on candidate pairs: s = floor(sqrt(p)) satisfies
        # s >= sqrt(p) - 1 >= sf*(1-1e-12) - 16 for sf = float sqrt of
        # the float norm product (rel. error ~1e-15 on values < 2^62,
        # i.e. sqrt < 2^31, so the absolute slack of the relative terms
        # is < 2^31 * 1e-11 + RHS rounding < 15).  Any pair passing the
        # exact test passes the prescreen; survivors are re-checked
        # exactly, so hits are bit-identical to the full-matrix ladder.
        naf = na.astype(np.float64)
        sf = np.sqrt(naf[:, None] * naf[None, :])
        cand = dots * 1e6 >= int(thr_e6) * (sf * (1 - 1e-12) - 16.0)
        # ids sorted asc -> strict lower triangle is "partner has a
        # lower id"
        ii, jj = np.nonzero(np.tril(cand, k=-1))    # jj < ii, id asc
        p = na[ii] * na[jj]
        s = _np_isqrt(p)
        dd = dots[ii, jj]
        hit = (s > 0) & (dd * 1_000_000 >= int(thr_e6) * s)
        ii, jj = ii[hit], jj[hit]
        if not emit_pairs:
            return pd.DataFrame({id_col: ids[np.unique(ii)]})
        cos = _np_cosine_e6(dd[hit], p[hit])
        return pd.DataFrame({"id_a": ids[jj], "id_b": ids[ii],
                             "cosine_e6": cos})

    return base.groupBy(*group_keys).applyInPandas(fn, out_schema)


def _pair_cosine_scores(df: DataFrame, keep_cols, qa_col: str,
                        qb_col: str) -> DataFrame:
    """Exact micro-cosine per already-joined row pair via one Arrow
    pass (the per-pair interpreted HOF dot replaced by a vectorized
    rowwise product-sum).  Returns keep_cols + cosine_e6."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as ST

    out_schema = ST.StructType(
        [df.schema[c] for c in keep_cols]
        + [ST.StructField("cosine_e6", ST.LongType())])

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            QA = np.array(list(pdf[qa_col]), dtype=np.int64)
            QB = np.array(list(pdf[qb_col]), dtype=np.int64)
            na = (QA * QA).sum(axis=1)
            nb = (QB * QB).sum(axis=1)
            _check_isqrt_domain(int(na.max(initial=0)),
                                int(nb.max(initial=0)))
            cos = _np_cosine_e6((QA * QB).sum(axis=1), na * nb)
            data = {c: pdf[c] for c in keep_cols}
            data["cosine_e6"] = cos
            yield pd.DataFrame(data)

    return df.select(*keep_cols, qa_col, qb_col).mapInPandas(
        part, out_schema)


def _map_side_topk_candidates(df: DataFrame, id_col: str, vec_col: str,
                              qlist, k: int,
                              query_id_col: str = "query_id",
                              label_col: Optional[str] = None,
                              exclude_self: bool = True) -> DataFrame:
    """Per-Arrow-batch top-k candidate rows (query_id, id, cosine_e6)
    for every query in ``qlist`` against the quantized corpus ``df`` —
    MAP-SIDE: the query set rides in the task closure (|Q| x dim longs,
    kilobytes, the standard ANN probe shape), so the corpus is never
    cross-joined, never shuffled, and crosses the Arrow boundary ONCE.

    ``qlist`` entries are (query_id, qvec list[int], allowed_labels or
    None); rows whose ``label_col`` is outside a query's allowed set
    (IVF inverted lists, LSH sign buckets) are skipped for that query.

    EXACTNESS: within each batch the kept rows are the top k by the
    exact total order (cosine_e6 DESC, id ASC); any dropped row has
    >= k batch-mates strictly ahead of it in that order, hence >= k
    globally — so the caller's final row_number window over the emitted
    candidates reproduces the exact global top-k.  Output size is
    |batches| x |Q| x k rows: the only shuffle in the whole query is
    this candidate frame (guide §8: decide with small rows).  Cosine is
    the shared _np_cosine_e6 kernel — bit-identical to the SQL/JVM
    micro-cosine contract and covered by numpy_kernel_canary."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as ST

    qids = [q[0] for q in qlist]
    qmats = [np.array(q[1], dtype=np.int64) for q in qlist]
    qnbs = [int(sum(int(v) * int(v) for v in q[1])) for q in qlist]
    qallowed = [q[2] for q in qlist]

    # query ids come from the same id domain as corpus ids in every
    # caller (the probe set is drawn from the corpus)
    out_schema = ST.StructType([
        ST.StructField(query_id_col, df.schema[id_col].dataType),
        ST.StructField(id_col, df.schema[id_col].dataType),
        ST.StructField("cosine_e6", ST.LongType())])

    def part(batches):
        for pdf in batches:
            if not len(pdf) or not qids:
                continue
            ids = pdf[id_col].to_numpy()
            X = np.array(list(pdf[vec_col]), dtype=np.int64)
            na = (X * X).sum(axis=1)
            na_max = int(na.max(initial=0))
            labels = pdf[label_col].to_numpy() if label_col else None
            outs = []
            for qi in range(len(qids)):
                _check_isqrt_domain(na_max, qnbs[qi])
                mask = np.ones(len(ids), dtype=bool)
                if exclude_self:
                    mask &= ids != qids[qi]
                if qallowed[qi] is not None:
                    mask &= np.isin(labels, list(qallowed[qi]))
                if not mask.any():
                    continue
                sub_ids = ids[mask]
                dots = X[mask] @ qmats[qi]
                cos = _np_cosine_e6(dots, na[mask] * qnbs[qi])
                # total order (cosine DESC, id ASC); keep batch top-k
                order = np.lexsort((sub_ids, -cos))[:k]
                outs.append(pd.DataFrame({
                    query_id_col: np.full(len(order), qids[qi],
                                          dtype=sub_ids.dtype),
                    id_col: sub_ids[order],
                    "cosine_e6": cos[order]}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return df.mapInPandas(part, out_schema)


def _ranked_topk(cand: DataFrame, k: int, id_col: str,
                 query_id_col: str, cos_col: str = "cosine_e6",
                 rank_col: str = "rank") -> DataFrame:
    """Final exact top-k over a candidate frame: one window over
    |batches| x |Q| x k rows."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(cos_col).desc(), F.col(id_col))
    return (cand.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k)
            .select(query_id_col, id_col, cos_col, rank_col))


def _collect_queries(queries: DataFrame, query_id_col: str,
                     query_vec_col: str):
    """Driver-side list of (query_id, quantized vec ints) — the ANN
    query/probe set is tiny by contract (it is broadcast in any shape),
    so this is the same bounded driver interaction as a broadcast
    build or the kmeans seed collect.  Quantization stays in the JVM
    (V.quantize), keeping the float->int rounding on the proven
    engine path."""
    rows = (queries.select(F.col(query_id_col),
                           V.quantize(F.col(query_vec_col)).alias("__qq"))
            .collect())
    return [(r[query_id_col], [int(v) for v in r["__qq"]]) for r in rows]


def kmeans_assignments(emb: DataFrame, k: int = 8, iters: int = 2,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       keep_vec: bool = False) -> DataFrame:
    """Spherical k-means over an embedding column: Lloyd's iterations
    with cosine assignment, deterministic across engines.

    Determinism: centroids are SUM vectors of integer-quantized
    embeddings (cosine is scale-invariant, so ranking against the sum
    equals ranking against the mean), seeded from the ``k`` lowest ids;
    similarity is the integer micro-cosine (quantized_cosine_e6) — no
    double anywhere in the assignment or ranking lineage, so every
    assignment is bit-reproducible; cosine ties break on cluster id.

    Scale shape (100 TB): the corpus NEVER shuffles — the argmax runs
    MAP-SIDE in one Arrow-batched mapInPandas per iteration, with the k
    centroid sum-vectors captured as numpy arrays in the task closure
    (k x dim longs, kilobytes).  No crossJoin row replication, no
    row_number window, no exchange: each iteration is a scan + a k-row
    map-side-combinable groupBy.  The previous shape (crossJoin(k) +
    Window.partitionBy(id)) shuffled k x |corpus| rows per iteration —
    a real scale-killer at 100 TB; the A/B at sf0.1 is in BASELINE.md.
    Returns (id, cluster, cosine_e6)."""
    # (norm-sum growth note: centroid SUM-vector norms scale with
    # cluster population; the na*nb product must stay below the isqrt
    # 2^62 domain — the assignment RAISES past it instead of corrupting
    # rankings; rescale centroids between iterations at that density)
    emb_q = emb.select(F.col(id_col),
                       V.quantize(F.col(vec_col)).alias("__q"))
    seeds = emb_q.orderBy(id_col).limit(k).collect()
    # dim rides on the collected seed rows — a separate first() lookup
    # was one more driver job per invocation (fixed scheduling cost)
    dim = len(seeds[0]["__q"]) if seeds else 0
    cent = [(i, [int(v) for v in r["__q"]]) for i, r in enumerate(seeds)]

    def assign(cent_rows) -> DataFrame:
        # centroid list ordered by cluster id -> numpy argmax first-max
        # rule IS the (cosine desc, cluster asc) tie-break
        return _map_side_cosine_argmax(
            emb_q, id_col, "__q", [s for _, s in cent_rows],
            out_col="cluster", cos_col="cosine_e6", keep_vec=True)

    for _ in range(max(iters - 1, 0)):
        assigned = assign(cent)
        sums = _sum_vectors(assigned, ["cluster"], "__q", dim).collect()
        # empty clusters keep their previous centroid (standard Lloyd's)
        by_id = {r["cluster"]: [int(v) for v in r["csum"]] for r in sums}
        cent = [(c, by_id.get(c, s)) for c, s in cent]

    out = assign(cent)
    return out if keep_vec else out.drop("__q")


def semantic_dedup(emb: DataFrame, k=8, iters: int = 2,
                   threshold: float = 0.95, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   target_cluster_size: int = 1024,
                   max_cluster_size: int = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with spherical k-means, then
    within each cluster mark as duplicate every vector whose cosine to
    a LOWER-id cluster-mate reaches ``threshold`` — the lowest id of
    each semantic-duplicate group survives.  Returns (id, cluster,
    is_dup 0/1).

    Scale shape (100 TB): the pairwise comparison is confined WITHIN
    clusters — the SemDeDup insight: choose k proportional to corpus
    size so cluster populations stay bounded, making the within-cluster
    pair work quadratic only in cluster size.  The pair pass is the
    cluster-keyed equi-JOIN through the compiled threshold predicate,
    deliberately NOT the grouped numpy matmul kernel used by
    embedding_near_dup: with few large clusters the join streams pairs
    through codegen and AQE skew-split distributes each cluster's pair
    expansion across tasks, while a per-cluster Python group is one
    unsplittable task that materializes O(|cluster|^2) matrices
    (measured at 10x sf0.1, k=8, ~2500/cluster: join pair pass ~0.3 s
    vs kernel ~2.5 s and growing quadratically in memory).  The kernel
    wins in the opposite regime — many small groups (sign buckets).

    Two enforcement levers (the doc alone used to be the only guard):

    - ``k="auto"`` derives k from the corpus count so the EXPECTED
      cluster size is ``target_cluster_size``;
    - ``max_cluster_size`` bounds the join: oversized clusters are
      deterministically salt-split (xxhash64 of the id) into
      ceil(size/max) sub-buckets, so no bucket's pair count can go
      quadratic on a skewed/degenerate clustering (a per-shard bound in
      expectation — shard sizes are Binomial(n, 1/nsalt), tightly
      concentrated in the large-n regime the valve exists for).  Pairs
      across salt buckets of one cluster are not compared — the
      documented approximation (SemDeDup is approximate by
      construction; a skewed cluster that would OOM the join loses some
      recall instead)."""
    if k == "auto":
        import math
        k = max(8, math.ceil(emb.count() / max(target_cluster_size, 1)))
    # the assignment feeds three consumers (pair-join left/right + the
    # final flag join): checkpoint so the Lloyd chain runs once, not 3x.
    # Squared norms are materialized per ROW inside the checkpoint —
    # recomputing them per PAIR under the isqrt tree measured 3.5x on
    # this query's within-cluster join at sf0.1 (BENCH r7 note).
    a = (kmeans_assignments(emb, k, iters, id_col, vec_col,
                            keep_vec=True)
         .withColumn("__nsq", V.norm_sq(F.col("__q")))
         .localCheckpoint())
    join_keys = ["cluster"]
    if max_cluster_size is not None:
        sizes = a.groupBy("cluster").agg(F.count(F.lit(1)).alias("__n"))
        a = (a.join(F.broadcast(sizes), "cluster")
             .withColumn("__nsalt", F.ceil(F.col("__n") /
                                           F.lit(max_cluster_size))
                         .cast("int"))
             .withColumn("__salt", F.pmod(F.xxhash64(F.col(id_col)),
                                          F.col("__nsalt")).cast("int"))
             .drop("__n", "__nsalt"))
        join_keys = ["cluster", "__salt"]
    left = a.select(*join_keys, F.col(id_col).alias("__a"),
                    F.col("__q").alias("__qa"),
                    F.col("__nsq").alias("__nsqa"))
    right = a.select(*join_keys, F.col(id_col).alias("__b"),
                     F.col("__q").alias("__qb"),
                     F.col("__nsq").alias("__nsqb"))
    thr_e6 = int(round(threshold * 1_000_000))
    # division-free threshold predicate, dot evaluated once per pair
    hit = V.cosine_ge_threshold(F.col("__qa"), F.col("__qb"),
                                F.col("__nsqa"), F.col("__nsqb"),
                                thr_e6)
    dup_ids = (left.join(right, join_keys)
               .filter(F.col("__b") < F.col("__a"))
               .filter(hit)
               .select(F.col("__a").alias(id_col))
               .distinct()
               .withColumn("__dup", F.lit(1)))
    return (a.join(dup_ids, id_col, "left")
            .select(F.col(id_col), F.col("cluster"),
                    F.coalesce(F.col("__dup"), F.lit(0)).alias("is_dup")))


def kmeans_cluster_profile(emb: DataFrame, k: int = 8, iters: int = 2,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Cluster-level rollup of ``kmeans_assignments``: member count, id
    checksum and mean cosine-to-centroid per cluster (the shape a data-
    mixing pipeline samples from)."""
    a = kmeans_assignments(emb, k, iters, id_col, vec_col)
    # cosine_e6 is already an exact long (quantized_cosine_e6); the
    # profile emits the RAW integer sum rather than an averaged value —
    # sum/count/sum are engine-version-proof (no trunc-vs-floor division
    # semantics in the comparison lineage; the consumer divides however
    # it likes).  This closed the r5-r7 driver hash mismatch where the
    # oracle's `//` semantics could differ across DuckDB versions.
    return (a.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.sum(id_col).alias("sum_ids"),
                 F.sum("cosine_e6").alias("sum_cos_e6"))
            .select("cluster", "n_members", "sum_ids", "sum_cos_e6"))


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             nprobe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding", label_col: str = "label",
             query_id_col: str = "query_id",
             query_vec_col: str = "query_vec") -> DataFrame:
    """IVF-style ANN: coarse-quantize by per-label centroid, probe only the
    ``nprobe`` nearest inverted lists per query.

    The coarse quantizer is the per-label SUM vector of the quantized
    embeddings — cosine is scale-invariant, so ranking against the sum is
    identical to ranking against the centroid, and integer sums keep the
    probe selection bit-exact across engines (no float-average drift).

    Scale shape: centroids are |labels| rows (tiny — collected like a
    broadcast build, probes picked driver-side with the same exact
    integer cosine); the corpus never joins at all — each query's
    allowed-list check runs inside the map-side top-k kernel, scanning
    ~nprobe/|labels| of the rows per query, and only per-batch top-k
    candidates shuffle into the final rank window."""
    emb_q = emb.select(F.col(id_col), F.col(label_col),
                       V.quantize(F.col(vec_col)).alias("__q"))
    # dim-gated sum-vector shape; dim rides on the collected query rows
    # (queries are drawn from the corpus) instead of a separate first()
    # driver job per invocation
    qrows = _collect_queries(queries, query_id_col, query_vec_col)
    dim = len(qrows[0][1]) if qrows else \
        (emb.select(F.size(F.col(vec_col))).first() or [0])[0]
    # the coarse quantizer is |labels| rows by design (tiny — it was
    # broadcast in every shape); collect it and pick each query's
    # nprobe inverted lists DRIVER-SIDE with the exact python-int
    # micro-cosine (identical integers: math.isqrt == the isqrt ladder
    # in-domain, trunc division sign-split) — the probes crossJoin +
    # row_number window disappear from the plan entirely.
    cent = {r[label_col]: [int(v) for v in r["csum"]]
            for r in _sum_vectors(emb_q.select(label_col, "__q"),
                                  [label_col], "__q", dim).collect()}
    cnorm = {lb: sum(v * v for v in cs) for lb, cs in cent.items()}
    qlist = []
    for qid, qv in qrows:
        nq = sum(v * v for v in qv)
        sims = sorted(
            ((_py_cosine_e6(sum(a * b for a, b in zip(qv, cs)),
                            nq, cnorm[lb]), lb)
             for lb, cs in cent.items()),
            key=lambda t: (-t[0], t[1]))
        qlist.append((qid, qv, {lb for _, lb in sims[:nprobe]}))
    cand = _map_side_topk_candidates(
        emb_q, id_col, "__q", qlist, k, query_id_col=query_id_col,
        label_col=label_col, exclude_self=True)
    return _ranked_topk(cand, k, id_col, query_id_col)


def _pq_codebook(sv: DataFrame, n_centroids: int, iters: int,
                 id_col: str, seed_rows=None):
    """Train one subspace codebook: spherical-k-means rows
    ``(code, csum array<long>, n long)`` — seeds are the ``n_centroids``
    lowest-id subvectors (n=1), optional Lloyd updates replace them with
    exact integer SUM vectors and member counts.  Deterministic: every
    quantity is an exact integer, assignment ranks on the micro-cosine
    contract with code-id tie-breaks.  ``seed_rows`` lets the caller
    supply pre-collected seed subvectors (pq_topk collects the lowest-k
    FULL vectors once and slices per subspace — one corpus sort instead
    of m)."""
    if seed_rows is None:
        seed_rows = [list(r["__sv"])
                     for r in sv.orderBy(id_col).limit(n_centroids)
                     .collect()]
    cent = [(j, [int(v) for v in vec]) for j, vec in enumerate(seed_rows)]
    cent = [(c, v, 1) for c, v in cent]

    def assign(rows) -> DataFrame:
        # map-side argmax (see _map_side_cosine_argmax): codebook rows
        # ordered by code id, ties break on the lowest code
        return _map_side_cosine_argmax(
            sv, id_col, "__sv", [s for _, s, _ in rows],
            out_col="code", cos_col=None, keep_vec=True)

    dim = len(cent[0][1])
    for _ in range(max(iters - 1, 0)):
        a = assign(cent)
        sums = {r["code"]: ([int(v) for v in r["csum"]], int(r["__n"]))
                for r in _sum_vectors(a, ["code"], "__sv", dim)
                .join(a.groupBy("code").agg(
                    F.count(F.lit(1)).alias("__n")), "code")
                .collect()}
        cent = [(c, *(sums.get(c, (s, n)))) for c, s, n in cent]
    return cent


def pq_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 2, n_centroids: int = 8, iters: int = 1,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id",
            query_vec_col: str = "query_vec") -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    Search"): split each embedding into ``m`` contiguous subvectors,
    learn a ``n_centroids``-entry codebook per subspace, store each
    vector as ``m`` small codes, and score query-vector similarity as
    the sum of per-subspace lookup-table entries — the corpus side
    never touches full vectors at query time.

    Determinism contract: codebooks, codes and ADC tables are all exact
    integers (quantized subvectors, micro-cosine assignment, table
    entry = trunc(dot(q_sub, centroid_sum) * 1e6 / centroid_n)), so
    scores and ranks are engine-reproducible; ``adc_score`` approximates
    the query-document dot product in (quantized-unit x 1e-6) scale.

    Scale shape (100 TB): codebook training is m sequential
    kmeans-style passes (corpus never shuffles; k-row broadcasts);
    encoding is m broadcast joins producing m SMALL (id, code) rows per
    vector; query time touches only codes — the per-(query, subspace)
    lookup tables are |Q| x m x n_centroids rows (tiny, broadcast), the
    score reduction is ONE groupBy keyed (id, query) over m x |Q| rows
    per doc, and the full embedding column is never read after
    encoding.  This is the standard memory/IO shape that makes
    billion-vector ANN fit a cluster: 8 bytes of codes instead of
    dim x 4 bytes per vector."""
    emb_q = emb.select(F.col(id_col), V.quantize(F.col(vec_col))
                       .alias("__q"))
    # ONE corpus sort collects the lowest-k seed vectors for every
    # subspace; each codebook slices locally (was m sorts — measured on
    # the bench as the dominant fixed cost of the m=2 configuration).
    # dim rides on the seed rows — a separate first() lookup was one
    # more driver job per invocation.
    seed_full = [list(r["__q"]) for r in
                 emb_q.orderBy(id_col).limit(n_centroids).collect()]
    dim = len(seed_full[0]) if seed_full else \
        (emb.select(F.size(F.col(vec_col))).first() or [0])[0]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # the ADC lookup tables are |Q| x m x n_centroids EXACT integers
    # over driver-held inputs (the collected query set and the trained
    # codebooks): compute them in python ints — same longs, no
    # crossJoin + interpreted HOF dot in the plan (guide §4)
    qrows = _collect_queries(queries, query_id_col, query_vec_col)
    code_frames, table_rows = [], []
    for mi in range(m):
        lo = mi * sub + 1
        sv = emb_q.select(F.col(id_col),
                          F.slice("__q", lo, sub).alias("__sv"))
        cent = _pq_codebook(sv, n_centroids, iters, id_col,
                            seed_rows=[v[lo - 1:lo - 1 + sub]
                                       for v in seed_full])
        # corpus encoding: map-side argmax, no crossJoin/window shuffle
        codes = (_map_side_cosine_argmax(
                     sv, id_col, "__sv", [s for _, s, _ in cent],
                     out_col="code", cos_col=None, keep_vec=False)
                 .select(F.col(id_col), F.lit(mi).alias("__m"),
                         F.col("code")))
        code_frames.append(codes)
        for qid, qv in qrows:
            qsub = qv[lo - 1:lo - 1 + sub]
            for c, csum, n in cent:
                num = sum(a * b for a, b in zip(qsub, csum)) * 1_000_000
                t = -((-num) // n) if num < 0 else num // n  # trunc
                table_rows.append((qid, mi, c, t))
    codes_all = code_frames[0]
    for cfr in code_frames[1:]:
        codes_all = codes_all.unionByName(cfr)
    t_all = local_frame(
        emb.sparkSession, table_rows,
        f"{query_id_col} long, __m int, code int, __t long")
    scored = (codes_all.join(F.broadcast(t_all), ["__m", "code"])
              .groupBy(id_col, query_id_col)
              .agg(F.sum("__t").alias("adc_score"))
              .filter(F.col(id_col) != F.col(query_id_col)))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_score").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, id_col, "adc_score", "rank"))


def pq_rerank_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                   shortlist_factor: int = 4, m: int = 2,
                   n_centroids: int = 8, iters: int = 1,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id",
                   query_vec_col: str = "query_vec") -> DataFrame:
    """Two-stage ANN: PQ/ADC shortlist of ``k * shortlist_factor``
    candidates, then EXACT re-rank of the shortlist with the integer
    micro-cosine over the full vectors — the standard production recall
    fix for PQ's quantization error (Jégou et al. 2011 §V: "re-ranking
    with source coding").  Returns (query_id, vec_id, cosine_e6, rank)
    with at most k rows per query, ranked by the exact similarity.

    Determinism: both stages rank on exact integers (ADC tables and
    micro-cosine), ties break on vec_id, so shortlist membership and
    the final order are engine-reproducible.

    Scale shape (100 TB): stage 1 never touches full vectors (codes +
    broadcast lookup tables); stage 2 re-reads full vectors for ONLY
    |Q| * k * factor shortlisted ids — an equi-join on vec_id against
    the corpus (id-keyed, broadcastable from the shortlist side), so
    the expensive exact kernel runs on thousands of rows, not
    billions."""
    short = pq_topk(emb, queries, k=k * shortlist_factor, m=m,
                    n_centroids=n_centroids, iters=iters, id_col=id_col,
                    vec_col=vec_col, query_id_col=query_id_col,
                    query_vec_col=query_vec_col) \
        .select(query_id_col, id_col)
    emb_q = emb.select(F.col(id_col),
                       V.quantize(F.col(vec_col)).alias("__q"))
    qs_q = queries.select(F.col(query_id_col),
                          V.quantize(F.col(query_vec_col)).alias("__qq"))
    joined = (short.join(emb_q, id_col)
              .join(F.broadcast(qs_q), query_id_col))
    # exact re-rank of |Q| x k x factor shortlisted pairs: one Arrow
    # pass through the shared numpy cosine (the HOF dot was the last
    # interpreted expression in the ANN family)
    scored = _pair_cosine_scores(joined, [query_id_col, id_col],
                                 "__q", "__qq")
    return _ranked_topk(scored, k, id_col, query_id_col)
