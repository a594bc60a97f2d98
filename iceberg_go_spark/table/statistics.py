"""Table statistics: NDV sketches per column in a Puffin container.

Parity (behavior only): /root/reference/table/statistics.go:26-71
(StatisticsFile, apache-datasketches blob types) and puffin read/write.
Sketch bytes come from Spark's built-in Apache DataSketches HLL
aggregate (``hll_sketch_agg``) — computed distributed, stored per column;
estimates feed CBO-style decisions (e.g. broadcast-ability)."""

from __future__ import annotations

import copy
import os
import time
import uuid
from typing import Dict, List, Optional

import pandas as pd
from pyspark.sql import SparkSession, functions as F

from ..io import load_io
from ..meta.dv import PuffinReader, PuffinWriter
from ..session import local_frame
from ..sketches import DEFAULT_LG_K, ThetaSketch, theta_hash

BLOB_TYPE_HLL = "apache-datasketches-hll-v1"
# the spec blob type for NDV statistics (table/statistics.go:26)
BLOB_TYPE_THETA = "apache-datasketches-theta-v1"


def _single_value_encoder(field_type):
    """Iceberg single-value binary serialization (the spec's Appendix D
    form the theta blob type requires; reference literals.go
    MarshalBinary): int 4-byte LE, long/time/timestamp(µs) 8-byte LE,
    date 4-byte LE days, bool 1 byte, float/double IEEE LE, string raw
    UTF-8, uuid 16 raw bytes, binary/fixed raw, decimal minimal
    big-endian two's-complement unscaled.  Hashing str(value) instead
    (the pre-round-9 form) produced a disjoint hash space from every
    conforming engine — unions with Trino/Java sketches double-counted
    shared values."""
    import datetime as _dt
    import struct as _st
    from decimal import Decimal as _D

    from .. import types as T
    from ..transforms import (EPOCH_DATE, _decimal_unscaled_bytes,
                              datetime_to_micros)
    t = field_type
    if isinstance(t, T.BooleanType):
        return lambda v: b"\x01" if v else b"\x00"
    if isinstance(t, T.IntegerType):
        return lambda v: _st.pack("<i", int(v))
    if isinstance(t, (T.LongType, T.TimeType)):
        return lambda v: _st.pack("<q", int(v))
    if isinstance(t, T.FloatType):
        return lambda v: _st.pack("<f", float(v))
    if isinstance(t, T.DoubleType):
        return lambda v: _st.pack("<d", float(v))
    if isinstance(t, T.DateType):
        return lambda v: _st.pack(
            "<i", (v - EPOCH_DATE).days
            if isinstance(v, _dt.date) else int(v))
    if isinstance(t, (T.TimestampType, T.TimestamptzType,
                      T.TimestampNsType, T.TimestamptzNsType)):
        ns = isinstance(t, (T.TimestampNsType, T.TimestamptzNsType))

        def enc_ts(v, _ns=ns):
            if hasattr(v, "to_pydatetime"):
                v = v.to_pydatetime()
            if isinstance(v, _dt.datetime):
                us = datetime_to_micros(v)
                return _st.pack("<q", us * 1000 if _ns else us)
            return _st.pack("<q", int(v))
        return enc_ts
    if isinstance(t, T.DecimalType):
        import decimal as _dec

        def enc_dec(v, _scale=t.scale):
            d = v if isinstance(v, _D) else _D(str(v))
            with _dec.localcontext() as ctx:
                ctx.prec = 80
                d = d.quantize(_D(1).scaleb(-_scale))
            return _decimal_unscaled_bytes(d)
        return enc_dec
    if isinstance(t, T.UUIDType):
        import uuid as _uuid
        return lambda v: (v if isinstance(v, _uuid.UUID)
                          else _uuid.UUID(str(v))).bytes
    if isinstance(t, (T.BinaryType, T.FixedType)):
        return bytes
    return lambda v: str(v).encode("utf-8")  # string + fallback


def _theta_for_column(df, column: str, field_type, lg_k: int
                      ) -> ThetaSketch:
    """KMV theta build as a Spark aggregation: JVM-side column-pruned
    scan + distinct FIRST (so the Python hash UDF touches NDV values,
    not row-count values), then (k+1) smallest nonzero hashes — only
    k+1 longs reach the driver regardless of table size.  Values hash
    through the Iceberg single-value serialization so the sketch
    contents union correctly with any conforming engine's."""
    enc = _single_value_encoder(field_type)

    @F.pandas_udf("long")
    def h(s: pd.Series) -> pd.Series:
        return s.map(lambda v: theta_hash(enc(v))
                     if v is not None else None)

    k = 1 << lg_k
    rows = (df.select(column).filter(F.col(column).isNotNull())
            .distinct()
            .select(h(F.col(column)).alias("h"))
            .filter(F.col("h").isNotNull() & (F.col("h") != 0))
            .orderBy("h").limit(k + 1).collect())
    return ThetaSketch.from_hashes([r.h for r in rows], lg_k)


def compute_ndv_statistics(table, spark: SparkSession,
                           columns: Optional[List[str]] = None,
                           lg_k: int = DEFAULT_LG_K) -> str:
    """Build NDV sketches for ``columns`` (default: all primitive columns),
    write a Puffin statistics file, register it in table metadata.

    Writes BOTH blob types per column: ``apache-datasketches-theta-v1``
    (the spec NDV type — compact ordered layout other engines read) and
    the Spark-native HLL blob (cheap to merge incrementally here)."""
    schema = table.schema()
    if columns is None:
        columns = [f.name for f in schema.fields
                   if f.field_type.is_primitive]
    df = table.to_df(spark)
    aggs = [F.hll_sketch_agg(F.col(c).cast("string")).alias(c)
            for c in columns]
    row = df.agg(*aggs).collect()[0]
    # one job per column, each a column-pruned scan (the parquet reader
    # fetches only that column) with a JVM-side distinct before any
    # Python hashing touches values
    thetas = {c: _theta_for_column(df, c, schema.find_field(c).field_type,
                                   lg_k) for c in columns}

    snap = table.current_snapshot()
    snap_id = snap.snapshot_id if snap else -1  # -1 = no snapshot yet
    path = os.path.join(table.location(), "metadata",
                        f"stats-{uuid.uuid4().hex[:12]}.puffin")
    w = PuffinWriter(path)
    written = []  # (type, column) actually added — blob-metadata must
    # advertise exactly these (a phantom HLL entry for an all-null
    # column would point consumers at a blob that is not in the file)
    for c in columns:
        fid = schema.find_field(c).field_id
        props = {"field-id": str(fid), "column": c}
        w.add_blob(BLOB_TYPE_THETA, thetas[c].serialize(),
                   properties={**props, "ndv":
                               str(int(round(thetas[c].estimate())))},
                   **{"snapshot-id": snap_id})
        written.append((BLOB_TYPE_THETA, c))
        sketch = row[c]
        if sketch is None:
            continue
        w.add_blob(BLOB_TYPE_HLL, bytes(sketch), properties=props,
                   **{"snapshot-id": snap_id})
        written.append((BLOB_TYPE_HLL, c))
    w.write()

    md = copy.deepcopy(table.metadata)
    entry = {
        "snapshot-id": snap_id,
        "statistics-path": path,
        "file-size-in-bytes": load_io(path).size(path),
        "blob-metadata": [
            {"type": t, "snapshot-id": snap_id,
             "properties": {"column": c}}
            for t, c in written],
    }
    md.statistics.append(entry)
    md.last_updated_ms = int(time.time() * 1000)
    new_path = table.catalog.commit_table(table.identifier,
                                          table.metadata_location, md)
    table.metadata, table.metadata_location = md, new_path
    return path


def estimate_ndv(spark: SparkSession, stats_path: str) -> Dict[str, int]:
    """Read sketches back and estimate per-column distinct counts.

    Prefers the spec theta blobs; falls back to HLL for columns without
    one (e.g. files written by an older version)."""
    r = PuffinReader(stats_path)
    out: Dict[str, int] = {}
    hll_rows = []
    for meta in r.blobs:
        col = meta["properties"]["column"]
        if meta["type"] == BLOB_TYPE_THETA:
            sk = ThetaSketch.deserialize(r.read_blob(meta))
            out[col] = int(round(sk.estimate()))
        elif meta["type"] == BLOB_TYPE_HLL:
            hll_rows.append((col, r.read_blob(meta)))
    missing = [(c, b) for c, b in hll_rows if c not in out]
    if missing:
        df = local_frame(spark, missing, "column string, sketch binary")
        for rec in df.select(
                "column",
                F.hll_sketch_estimate(F.col("sketch")).alias("ndv")
        ).collect():
            out[rec.column] = int(rec.ndv)
    return out


# ---------------------------------------------------------------------------
# partition statistics (v3)
#
# Parity (behavior only): reference table/statistics.go:93
# PartitionStatisticsFile{snapshot-id, statistics-path, file-size-in-bytes},
# metadata builder Set/RemovePartitionStatistics (table/metadata.go:1376,
# :1399, replace-by-snapshot-id semantics), golden fixture
# table/testdata/TableMetadataV3WithPartitionStatistics.json. The stats
# file itself follows the public Iceberg partition-statistics spec: one
# parquet file per snapshot with per-partition record/file counts.


def compute_partition_statistics(table, spark: SparkSession) -> Dict:
    """Build the partition statistics file for the current snapshot and
    register it in table metadata (replacing any entry for the same
    snapshot). Returns the registered entry dict.

    Distributed build: manifests are read on executors (one task per
    manifest) and the per-partition rollup is a Spark aggregation — at
    100 TB the driver never materializes per-file rows; only the final
    one-row-per-partition result is written."""
    import shutil
    import tempfile

    from ..meta import manifests as M
    from ..types import to_spark_type
    import pyspark.sql.types as ST

    md = table.metadata
    snap = table.current_snapshot()
    if snap is None:
        raise ValueError("table has no current snapshot")
    schema = md.schema()

    # unified partition tuple: union of partition fields across specs,
    # in spec order, deduped by field name
    unified = []
    seen = set()
    for spec in md.partition_specs:
        for nf in spec.partition_type(schema).fields:
            if nf.name not in seen:
                seen.add(nf.name)
                unified.append((nf.name, to_spark_type(nf.field_type)))
    names = [n for n, _ in unified]
    if not names:
        raise ValueError(
            "partition statistics require a partitioned table; every "
            "spec of this table is unpartitioned")

    snap_ts = {s.snapshot_id: s.timestamp_ms for s in md.snapshots}
    paths = [mf.manifest_path
             for mf in M.read_manifest_list(snap.manifest_list)]
    bc = spark.sparkContext.broadcast((names, snap_ts))

    def emit(path):
        from iceberg_go_spark.meta import manifests as M2
        nms, ts_map = bc.value
        entries, _spec, spec_id = M2.read_manifest(path)
        for e in entries:
            if not e.is_live:
                continue
            d = e.data_file
            yield tuple(d.partition.get(n) for n in nms) + (
                spec_id, d.content, int(d.record_count),
                int(d.file_size_in_bytes), e.snapshot_id,
                ts_map.get(e.snapshot_id))

    spark_schema = ST.StructType(
        [ST.StructField(n, t) for n, t in unified] + [
            ST.StructField("spec_id", ST.IntegerType()),
            ST.StructField("content", ST.IntegerType()),
            ST.StructField("record_count", ST.LongType()),
            ST.StructField("file_size", ST.LongType()),
            ST.StructField("snapshot_id", ST.LongType()),
            ST.StructField("updated_ms", ST.LongType())])
    rdd = spark.sparkContext.parallelize(
        paths, max(1, min(len(paths), 64))).flatMap(emit)
    df = spark.createDataFrame(rdd, spark_schema)

    is_data = F.col("content") == M.CONTENT_DATA
    is_pos = F.col("content") == M.CONTENT_POS_DELETES
    is_eq = F.col("content") == M.CONTENT_EQ_DELETES
    zero = F.lit(0).cast("long")
    agg = (df.groupBy(*names, "spec_id").agg(
        F.sum(F.when(is_data, F.col("record_count")).otherwise(zero))
         .alias("data_record_count"),
        F.sum(F.when(is_data, 1).otherwise(0)).cast("int")
         .alias("data_file_count"),
        F.sum(F.when(is_data, F.col("file_size")).otherwise(zero))
         .alias("total_data_file_size_in_bytes"),
        F.sum(F.when(is_pos, F.col("record_count")).otherwise(zero))
         .alias("position_delete_record_count"),
        F.sum(F.when(is_pos, 1).otherwise(0)).cast("int")
         .alias("position_delete_file_count"),
        F.sum(F.when(is_eq, F.col("record_count")).otherwise(zero))
         .alias("equality_delete_record_count"),
        F.sum(F.when(is_eq, 1).otherwise(0)).cast("int")
         .alias("equality_delete_file_count"),
        F.max("updated_ms").alias("last_updated_at"),
        F.max_by("snapshot_id", F.coalesce("updated_ms", F.lit(0)))
         .alias("last_updated_snapshot_id")))
    out = agg.select(
        F.struct(*names).alias("partition"), "spec_id",
        "data_record_count", "data_file_count",
        "total_data_file_size_in_bytes",
        F.greatest(F.col("data_record_count") -
                   F.col("position_delete_record_count"), zero)
         .alias("total_record_count"),
        "position_delete_record_count", "position_delete_file_count",
        "equality_delete_record_count", "equality_delete_file_count",
        "last_updated_at", "last_updated_snapshot_id")

    # spec shape: ONE parquet file per snapshot under metadata/ — write
    # via Spark (stays JVM-side) then move the single part into place
    stats_dir = os.path.join(table.location(), "metadata",
                             "partition-stats")
    os.makedirs(stats_dir, exist_ok=True)
    final = os.path.join(
        stats_dir, f"snap-{snap.snapshot_id}-{uuid.uuid4().hex[:8]}.parquet")
    tmp = tempfile.mkdtemp(prefix="pstats-")
    try:
        out.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp)
                    if p.endswith(".parquet") and not p.startswith("_"))
        shutil.move(os.path.join(tmp, part), final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    entry = {"snapshot-id": snap.snapshot_id,
             "statistics-path": final,
             "file-size-in-bytes": load_io(final).size(final)}
    set_partition_statistics(table, entry)
    return entry


def set_partition_statistics(table, entry: Dict) -> None:
    """Add or replace the partition statistics file for the entry's
    snapshot (reference table/metadata.go:1376-1394)."""
    for key in ("snapshot-id", "statistics-path", "file-size-in-bytes"):
        if key not in entry:
            raise ValueError(f"partition statistics entry missing {key}")
    md = copy.deepcopy(table.metadata)
    md.partition_statistics = [
        e for e in md.partition_statistics
        if e.get("snapshot-id") != entry["snapshot-id"]] + [entry]
    md.last_updated_ms = int(time.time() * 1000)
    new_path = table.catalog.commit_table(table.identifier,
                                          table.metadata_location, md)
    table.metadata, table.metadata_location = md, new_path


def remove_partition_statistics(table, snapshot_id: int) -> None:
    """Drop the partition statistics entry for a snapshot
    (reference table/metadata.go:1399-1406). The file itself becomes
    unreferenced and is reclaimed by orphan cleanup."""
    md = copy.deepcopy(table.metadata)
    before = len(md.partition_statistics)
    md.partition_statistics = [e for e in md.partition_statistics
                               if e.get("snapshot-id") != snapshot_id]
    if len(md.partition_statistics) == before:
        return
    md.last_updated_ms = int(time.time() * 1000)
    new_path = table.catalog.commit_table(table.identifier,
                                          table.metadata_location, md)
    table.metadata, table.metadata_location = md, new_path


def read_partition_statistics(table, spark: SparkSession,
                              snapshot_id: Optional[int] = None):
    """Load the partition statistics DataFrame for a snapshot (default:
    the current one)."""
    if snapshot_id is None:
        snap = table.current_snapshot()
        if snap is None:
            raise ValueError("table has no current snapshot")
        snapshot_id = snap.snapshot_id
    for e in table.metadata.partition_statistics:
        if e.get("snapshot-id") == snapshot_id:
            return spark.read.parquet(e["statistics-path"])
    raise ValueError(
        f"no partition statistics for snapshot {snapshot_id}")
