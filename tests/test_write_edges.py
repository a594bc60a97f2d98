"""Write-path edge cases from the round-8 write.py review: NaN/absent
row-group stats poisoning bounds, z-order sign bit, binary/timestamptz
partition-dir decoding, and PME conf clearing on plain writes."""

import math
import os

import pytest
from pyspark.sql import functions as F

from iceberg_go_spark import types as T
from iceberg_go_spark.catalog import FilesystemCatalog
from iceberg_go_spark.schema import Schema
from tests.conftest import read_table


def test_harvest_one_poisons_bounds_on_nan_group(tmp_path):
    """A row group whose double column contains NaN gets no min/max in
    the footer; folding bounds from the OTHER groups only would
    understate the range and silently prune live rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from iceberg_go_spark.table.write import _harvest_one

    p = str(tmp_path / "nan.parquet")
    t1 = pa.table({"x": pa.array([0.0, 1.0], pa.float64())})
    t2 = pa.table({"x": pa.array([500.0, math.nan], pa.float64())})
    w = pq.ParquetWriter(p, t1.schema)
    w.write_table(t1)
    w.write_table(t2)
    w.close()
    # confirm the premise: the NaN group really lacks min/max
    md = pq.ParquetFile(p).metadata
    premise = not md.row_group(1).column(0).statistics.has_min_max
    stats = _harvest_one(p, {"x": (1, "double")}, 16)
    if premise:
        assert 1 not in stats["lower"] and 1 not in stats["upper"], \
            "bounds folded from a subset of row groups"
    else:  # writer DID produce bounds: they must at least cover 500
        from iceberg_go_spark.meta.conversions import from_bytes
        assert from_bytes(T.DoubleType(), stats["upper"][1]) >= 500.0


def test_harvest_one_poisons_bounds_when_stats_absent(tmp_path):
    """Stats disabled entirely for a value-bearing file -> no bounds
    (not bounds from nowhere, not a crash)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from iceberg_go_spark.table.write import _harvest_one

    p = str(tmp_path / "nostats.parquet")
    tab = pa.table({"x": pa.array([5, 6, 7], pa.int64())})
    pq.write_table(tab, p, write_statistics=False)
    stats = _harvest_one(p, {"x": (1, "long")}, 16)
    assert stats["record_count"] == 3
    assert 1 not in stats["lower"] and 1 not in stats["upper"]


def test_zorder_key_never_negative(spark, sf_dir):
    """8 columns x 8 bits used to reach bit 63 (the sign bit): rows in
    the top half of the last dimension sorted to the wrong END of the
    layout.  The interleaved key must stay non-negative."""
    from iceberg_go_spark.table.write import _zorder_value
    li = read_table(spark, "lineitem", sf_dir)
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    z = _zorder_value(li, cols)
    row = li.select(F.min(z).alias("mn"), F.max(z).alias("mx")).first()
    assert row.mn >= 0
    assert row.mx > 0  # still spreads


def test_binary_partition_value_roundtrip():
    """Percent-encoded binary partition dir values decode as BYTES —
    the UTF-8-then-latin1 path mangled non-UTF-8 and crashed on \\xff."""
    from iceberg_go_spark.table.write import _parse_partition_value
    assert _parse_partition_value(T.BinaryType(), "%C3%A9") == b"\xc3\xa9"
    assert _parse_partition_value(T.BinaryType(), "%FF") == b"\xff"
    assert _parse_partition_value(T.FixedType(2), "%00%01") == b"\x00\x01"


def test_timestamptz_partition_value_session_tz():
    """Timestamptz dir values rendered in a non-UTC session timezone
    normalize back to UTC."""
    from datetime import datetime
    from iceberg_go_spark.table.write import _parse_partition_value
    got = _parse_partition_value(T.TimestamptzType(),
                                 "2026-01-01 09%3A00%3A00",
                                 session_tz="Asia/Tokyo")
    assert got == datetime(2026, 1, 1, 0, 0, 0)
    # UTC session: unchanged
    got = _parse_partition_value(T.TimestamptzType(),
                                 "2026-01-01 09%3A00%3A00",
                                 session_tz="UTC")
    assert got == datetime(2026, 1, 1, 9, 0, 0)


def test_plain_write_clears_leftover_pme_confs(spark, sf_dir, tmp_path):
    """Leftover session-global PME confs (from an earlier encrypted
    read/write) must NOT silently encrypt an unencrypted table's files
    under the other table's key."""
    import pyarrow.parquet as pq
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("parquet.crypto.factory.class",
              "org.apache.parquet.crypto.keytools."
              "PropertiesDrivenCryptoFactory")
    hconf.set("parquet.encryption.kms.client.class", "no.such.Kms")
    hconf.set("parquet.encryption.footer.key", "k1")
    try:
        cat = FilesystemCatalog(str(tmp_path / "wh"))
        df = read_table(spark, "nation", sf_dir)
        t = cat.create_table("db.plain", Schema.from_spark(df.schema))
        t.append(df)  # would fail (no such KMS class) if still armed
        t = cat.load_table("db.plain")
        task = t.scan().plan_files()[0]
        pq.ParquetFile(task.data_file.file_path)  # plaintext readable
        assert hconf.get("parquet.crypto.factory.class") is None
    finally:
        for k in ("parquet.crypto.factory.class",
                  "parquet.encryption.kms.client.class",
                  "parquet.encryption.footer.key"):
            hconf.unset(k)


@pytest.mark.parametrize("n_files", [4, 20])
def test_decimal_bounds_harvest_and_prune(spark, tmp_path, n_files):
    """Spark writes decimal(p <= 18) as INT32/INT64, whose footer stats
    pyarrow cannot decode as decimals: append used to crash in the stats
    harvest.  Manifest bounds must equal the true min/max for INT32-,
    INT64- and FIXED_LEN_BYTE_ARRAY-backed decimals (negatives, NULLs),
    on the driver-side harvest (<= 16 files) and the executor-side one
    (> 16), and a pruning scan must return the plain filter's rows."""
    from decimal import Decimal
    from iceberg_go_spark import expressions as E

    df = spark.range(400).select(
        F.col("id"),
        F.expr("CASE WHEN id % 7 = 0 THEN NULL ELSE "
               "CAST((id - 200) * 1.37 AS DECIMAL(9,2)) END").alias("d9"),
        F.expr("CASE WHEN id % 11 = 0 THEN NULL ELSE "
               "CAST((id - 250) * 12345678.9012 AS DECIMAL(18,4)) END")
        .alias("d18"),
        F.expr("CASE WHEN id % 13 = 0 THEN NULL ELSE "
               "CAST((id - 150) * 98765432109876.543210 "
               "AS DECIMAL(38,6)) END").alias("d38"))
    assert [f.dataType.simpleString() for f in df.schema.fields[1:]] == \
        ["decimal(9,2)", "decimal(18,4)", "decimal(38,6)"]
    cat = FilesystemCatalog(str(tmp_path))
    t = cat.create_table("db.dec", Schema.from_spark(df.schema))
    t.append(df.repartitionByRange(n_files, "id"))
    t = cat.load_table("db.dec")

    files = [task.data_file for task in t.scan().plan_files()]
    assert len(files) == n_files
    truth = df.agg(*[F.min(c).alias(f"mn_{c}") for c in ("d9", "d18", "d38")],
                   *[F.max(c).alias(f"mx_{c}") for c in ("d9", "d18", "d38")]
                   ).first()
    for f in t.schema().fields[1:]:
        lo = min(d.lower_bound(f.field_id, f.field_type) for d in files)
        hi = max(d.upper_bound(f.field_id, f.field_type) for d in files)
        assert (lo, hi) == (truth[f"mn_{f.name}"], truth[f"mx_{f.name}"]), \
            f.name

    for expr, sql in [
            (E.gt("d9", Decimal("150.00")), "d9 > 150.00"),
            (E.lt("d18", Decimal("-1234567890.1234")),
             "d18 < -1234567890.1234"),
            (E.gt_eq("d38", Decimal("9876543210987654.321000")),
             "d38 >= 9876543210987654.321000")]:
        scan = t.scan(expr)
        got = sorted(r.id for r in scan.to_df(spark).collect())
        want = sorted(r.id for r in df.filter(sql).collect())
        assert got == want and want, sql
        assert scan.report.skipped_data_files > 0, sql


def test_footer_readers_fold_alike(spark, tmp_path):
    """The pyarrow and the JVM footer readers feed one fold: on one
    engine-written file (ints, strings, decimal(9,2), dates, NULLs, two
    or more row groups) they must produce the same stats."""
    import datetime as dt
    from decimal import Decimal

    from iceberg_go_spark.table import write as W

    rows = [(i, i * 7 - 900, None if i % 5 == 0 else f"name-{i:05d}",
             Decimal(i * 13 - 2000).scaleb(-2),
             None if i % 7 == 0 else dt.date(2020, 1, 1)
             + dt.timedelta(days=i))
            for i in range(1000)]
    df = spark.createDataFrame(
        rows, "i int, l long, s string, d decimal(9,2), dt date") \
        .coalesce(1)
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    t = cat.create_table("db.fold", Schema.from_spark(df.schema),
                         properties={
                             "write.parquet.row-group-size-bytes": "1024"})
    t.append(df)
    (task,) = cat.load_table("db.fold").scan().plan_files()
    path = task.data_file.file_path
    fields = {f.name: (f.field_id, str(f.field_type))
              for f in t.schema().fields}
    py = W._harvest_one(path, fields, 16)
    (jvm,) = W._harvest_via_jvm_footers(spark, [path], fields, {}, 16, {})
    assert len(py["split_offsets"]) >= 2
    assert py["record_count"] == 1000
    assert set(py["lower"]) == set(py["upper"]) == \
        {fid for fid, _t in fields.values()}  # decimal bounds included
    for k in ("record_count", "column_sizes", "value_counts",
              "null_counts", "lower", "upper", "split_offsets"):
        assert py[k] == jvm[k], k
    assert py == jvm


def test_add_files_truncates_bounds_per_table(spark, tmp_path):
    """add_files truncates string bounds at the table's
    write.metadata.metrics.truncate-length, like every other harvest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "long.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "s": pa.array(["alphabetical", "zebra crossing"])}), p)
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    t = cat.create_table(
        "db.trunc", Schema([T.NestedField(1, "id", T.LongType()),
                            T.NestedField(2, "s", T.StringType())]),
        properties={"write.metadata.metrics.truncate-length": "4"})
    txn = t.new_transaction()
    txn.add_files(spark, [p])
    txn.commit()
    (task,) = cat.load_table("db.trunc").scan().plan_files()
    d = task.data_file
    assert d.lower_bounds[2] == b"alph"
    assert d.upper_bounds[2] == b"zebs"
    assert all(len(b) <= 4 for b in (d.lower_bounds[2], d.upper_bounds[2]))
