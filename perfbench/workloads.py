"""The workloads: one client, closed loop, seeded.

Each workload builds its tables through the public API (``build``), then
runs one cycle of operations at a time (``cycle``) until the run's time is
up, and checks every operation's result against the references in
``reference.py``.  A cycle issues the same operation kinds in the same order
every time; the seed picks their parameters.
"""

from __future__ import annotations

from datetime import timedelta
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import Window, functions as F

from iceberg_go_spark import expressions as E
from iceberg_go_spark.meta.partitioning import spec_from_names
from iceberg_go_spark.operators import curation as CU
from iceberg_go_spark.operators import dedup as DD
from iceberg_go_spark.operators import similarity as SIM
from iceberg_go_spark.operators import text as TOP
from iceberg_go_spark.schema import Schema

from . import data as D
from .reference import OrdersModel, normalize, pipeline_oracle


def _ts(day: int) -> str:
    return (D.EPOCH.astype("datetime64[D]").item()
            + timedelta(days=int(day))).isoformat() + "T00:00:00"


def _window(column: str, days: int, lo: int):
    """An engine predicate and the same predicate as DuckDB SQL."""
    a, b = _ts(lo), _ts(lo + days)
    return (E.and_(E.gt_eq(column, a), E.lt(column, b)),
            f"{column} >= TIMESTAMP '{a}' AND {column} < TIMESTAMP '{b}'")


class DmlChurn:
    """Read plus write on a year-partitioned orders table: append,
    merge-on-read and copy-on-write deletes, upsert, MERGE, then a 30-day
    range read (partition and min/max pruning) and a full read-after-write
    scan; every other cycle, the first included, also compacts and
    expires snapshots."""

    name = "dml_churn"
    ROWS, APPEND, DELETE_SPAN, UPSERT, MERGE = 20_000, 1_000, 200, 500, 250
    IDENT = "bench.orders"

    def __init__(self, ctx):
        self.ctx = ctx
        self.rows, self.append_n, self.delete_span, self.upsert_n, \
            self.merge_n = (ctx.n(n) for n in (
                self.ROWS, self.APPEND, self.DELETE_SPAN, self.UPSERT,
                self.MERGE))
        self.initial = D.orders(np.random.default_rng([ctx.seed, 20]),
                                np.arange(self.rows))
        self.rng = np.random.default_rng([ctx.seed, 21])
        self.model = None

    def build(self, k: int) -> None:
        ctx = self.ctx
        df = ctx.spark.createDataFrame(self.initial)
        schema = Schema.from_spark(df.schema)
        cat = ctx.catalog(k)
        t = cat.create_table(
            self.IDENT, schema, spec_from_names(schema, ("o_orderdate", "year")),
            properties=ctx.props())
        t.append(df)
        self.cat = cat
        ctx.submit(self.initial)
        if self.model is not None:
            self.model.close()
        self.model = OrdersModel(self.initial)
        self.next_key = self.rows
        self.pending = []

    def _write(self, kind: str, cycle: int, fn, src: pa.Table = None):
        ctx = self.ctx
        if src is not None:
            ctx.submit(src)
        with ctx.op(kind, cycle) as op:
            out = fn(self.cat.load_table(self.IDENT))
        if op.ok:
            self.pending.append((op, out.current_snapshot().snapshot_id,
                                 self.model.state()))
        return op

    def _state_df(self, t, snapshot_id=None, row_filter=None):
        s = t.scan(row_filter)
        if snapshot_id is not None:
            s = s.use_snapshot(snapshot_id)
        return s.to_df(self.ctx.spark).agg(
            F.count(F.lit(1)), F.sum("o_orderkey"), F.sum("o_totalprice"))

    @staticmethod
    def _norm(row):
        n, k, p = row
        return int(n), int(k or 0), int(p or 0)

    def _verify_pending(self) -> None:
        """Count and checksum of the snapshot each write op committed,
        by time travel, against the model after that op (one Spark job,
        outside every op's timing)."""
        if not self.pending:
            return
        t = self.cat.load_table(self.IDENT)
        df = reduce(lambda a, b: a.unionByName(b), [
            self._state_df(t, sid).withColumn("j", F.lit(j))
            for j, (_op, sid, _want) in enumerate(self.pending)])
        got = {r["j"]: self._norm(tuple(r)[:3]) for r in df.collect()}
        for j, (op, sid, want) in enumerate(self.pending):
            self.ctx.check(op, got.get(j) == want,
                           f"{op.kind} snapshot {sid}: {got.get(j)} != {want}")
        self.pending = []

    def cycle(self, i: int) -> None:
        ctx, rng, spark, model = self.ctx, self.rng, self.ctx.spark, self.model

        rows = D.orders(rng, np.arange(self.next_key,
                                       self.next_key + self.append_n))
        self.next_key += self.append_n
        model.append(rows)
        self._write("append", i, lambda t: t.append(
            spark.createDataFrame(rows)), rows)

        # both deletes fall in the initial keys, so on every seed they touch
        # the same files and do the same work
        for kind, mode in (("delete_mor", "merge-on-read"),
                           ("delete_cow", "copy-on-write")):
            lo = int(rng.integers(0, self.rows - self.delete_span))
            hi = lo + self.delete_span
            deleted = model.delete_keys(lo, hi)
            op = self._write(kind, i, lambda t: t.delete_where(
                spark, E.and_(E.gt_eq("o_orderkey", lo),
                              E.lt("o_orderkey", hi)), mode=mode))
            op.info["rows_deleted"] = deleted

        keys = rng.choice(self.next_key, self.upsert_n, replace=False)
        rows = D.orders(rng, np.sort(keys))
        model.replace(rows)
        self._write("upsert", i, lambda t: t.upsert(
            spark, spark.createDataFrame(rows), ["o_orderkey"]), rows)

        live = model.keys()
        keys = np.concatenate([
            rng.choice(live, self.merge_n, replace=False),
            np.arange(self.next_key, self.next_key + self.merge_n)])
        self.next_key += self.merge_n
        rows = D.orders(rng, np.sort(keys))
        model.replace(rows)
        self._write("merge", i, lambda t: t.merge_into(
            spark, spark.createDataFrame(rows), ["o_orderkey"]), rows)

        expr, sql = _window("o_orderdate", 30,
                            int(rng.integers(0, 7 * 365 - 30)))
        with ctx.op("range_read", i) as op:
            got = self._norm(ctx.collect(self._state_df(
                self.cat.load_table(self.IDENT), row_filter=expr))[0])
        if op.ok:
            want = model.state(sql)
            ctx.check(op, got == want, f"range_read: {got} != {want}")

        with ctx.op("read", i) as op:
            got = self._norm(ctx.collect(
                self._state_df(self.cat.load_table(self.IDENT)))[0])
        if op.ok:
            want = model.state()
            ctx.check(op, got == want, f"read: {got} != {want}")
        self._verify_pending()

        if i % 2 == 0:
            # the compacted snapshot stays current through the expiry, so
            # the next time-travel check still reaches it
            self._write("compact", i, lambda t: t.compact(spark))
            with ctx.op("expire", i) as op:
                op.info["files_expired"] = len(
                    self.cat.load_table(self.IDENT).expire_snapshots())

    def finish(self) -> None:
        self._verify_pending()

    def main_table(self):
        return self.cat.load_table(self.IDENT)

    def live_arrow_bytes(self) -> int:
        return self.model.arrow_bytes()


class DedupPipeline:
    """The curation pipeline over Iceberg-resident documents and
    embeddings: rules, MinHash LSH, connected components, SimHash pairs,
    IVF top-k and BPE merges, then an append of the kept doc ids."""

    name = "dedup_pipeline"
    DOCS, VECS = 600, 800

    def __init__(self, ctx):
        self.ctx = ctx
        self.docs = D.documents(ctx.seed, max(ctx.n(self.DOCS), 50))
        self.vecs = D.embeddings(ctx.seed, max(ctx.n(self.VECS), 50))
        self.outputs = []      # (op, stage, normalized rows)
        self.kept = []         # doc ids appended, per pass

    def build(self, k: int) -> None:
        ctx = self.ctx
        cat = ctx.catalog(k)
        for ident, rows in (("bench.documents", self.docs),
                            ("bench.embeddings", self.vecs)):
            df = ctx.spark.createDataFrame(rows)
            t = cat.create_table(ident, Schema.from_spark(df.schema),
                                 properties=ctx.props())
            t.append(df)
            ctx.submit(rows)
        kept = ctx.spark.createDataFrame(self._kept_rows([], 0))
        cat.create_table("bench.kept", Schema.from_spark(kept.schema),
                         properties=ctx.props())
        self.cat = cat
        self.kept = []

    @staticmethod
    def _kept_rows(ids, pass_no: int) -> pa.Table:
        return pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "pass": pa.array([pass_no] * len(ids), pa.int32())})

    def _stage(self, stage: str, cycle: int, build):
        ctx = self.ctx
        with ctx.op(stage, cycle) as op:
            df = build()
            rows = ctx.collect(df)
        if op.ok:
            self.outputs.append((op, stage, normalize(rows, df.columns)))
            return df, rows
        return None, []

    def cycle(self, i: int) -> None:
        ctx, spark = self.ctx, self.ctx.spark
        with ctx.op("scan", i) as op:
            docs = self.cat.load_table("bench.documents").to_df(spark)
            emb = self.cat.load_table("bench.embeddings").to_df(spark)
            counts = ctx.collect(docs.agg(F.count(F.lit(1)).alias("d"))
                                 .crossJoin(emb.agg(F.count(F.lit(1))
                                                    .alias("e"))))[0]
        if not op.ok:
            return
        ctx.check(op, tuple(counts) == (self.docs.num_rows,
                                        self.vecs.num_rows),
                  f"scan counts {tuple(counts)}")

        _, c4 = self._stage("c4_rules", i, lambda: CU.c4_rules(
            docs, min_words=5, banned_words=["spam", "slow"]))
        groups, _ = self._stage("minhash_lsh_groups", i, lambda: (
            DD.minhash_lsh_groups(docs).select("band", "band_key", "doc_id")))

        def clusters():
            w = Window.partitionBy("band", "band_key")
            edges = (groups.withColumn("m", F.min("doc_id").over(w))
                     .filter(F.col("doc_id") != F.col("m"))
                     .select(F.col("m").alias("id_a"),
                             F.col("doc_id").alias("id_b")).distinct())
            return DD.connected_components(edges)
        _, cc = (self._stage("connected_components", i, clusters)
                 if groups is not None else (None, []))
        self._stage("simhash_near_dup_pairs", i, lambda: (
            DD.simhash_near_dup_pairs(docs, max_hamming=3,
                                      max_bucket_size=None)
            .withColumn("hamming", F.col("hamming").cast("long"))))

        def topk():
            qs = (emb.orderBy("vec_id").limit(5)
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("query_vec")))
            return SIM.ivf_topk(emb, qs, k=10, nprobe=2)
        self._stage("ivf_topk", i, topk)
        self._stage("bpe_train_merges", i,
                    lambda: TOP.bpe_train_merges(docs, n_merges=3))

        dup = {r["doc_id"] for r in cc if r["doc_id"] != r["cluster_id"]}
        ids = sorted(r["doc_id"] for r in c4
                     if r["keep"] == 1 and r["doc_id"] not in dup)
        rows = self._kept_rows(ids, i)
        ctx.submit(rows)
        with ctx.op("append_kept", i) as op:
            self.cat.load_table("bench.kept").append(
                spark.createDataFrame(rows))
        if op.ok:
            self.kept.append((op, i, ids))

    def finish(self) -> None:
        oracle = pipeline_oracle(self.docs, self.vecs)
        for op, stage, rows in self.outputs:
            self.ctx.check(op, rows == oracle[stage],
                           f"{stage}: {len(rows)} rows differ from the "
                           f"oracle's {len(oracle[stage])}")
        t = self.cat.load_table("bench.kept")
        got = {r["pass"]: (r["n"], r["s"]) for r in t.to_df(self.ctx.spark)
               .groupBy("pass").agg(F.count(F.lit(1)).alias("n"),
                                    F.sum("doc_id").alias("s")).collect()}
        for op, i, ids in self.kept:
            # an empty append adds no rows, so the pass has no group
            want = (len(ids), sum(ids)) if ids else None
            self.ctx.check(op, got.get(i) == want,
                           f"kept ids of pass {i}: {got.get(i)} != {want}")

    def main_table(self):
        return self.cat.load_table("bench.kept")

    def live_arrow_bytes(self) -> int:
        kept = sum(len(ids) for _op, _i, ids in self.kept)
        return (self.docs.nbytes + self.vecs.nbytes
                + self._kept_rows(list(range(kept)), 0).nbytes)


WORKLOADS = {w.name: w for w in (DmlChurn, DedupPipeline)}
