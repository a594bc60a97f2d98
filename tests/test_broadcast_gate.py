"""The eq-delete anti-join broadcast gate and the name-mapping footer
probe cache (table/scan.py). A 100 TB upsert stream accumulates
billion-key equality-delete sets, so the delete side must only be
broadcast when manifest record counts say it is small; above the limit
the plan must leave the join strategy to AQE (shuffled anti-join)."""

import os

import pytest
import pyspark.sql.functions as F

from iceberg_go_spark.catalog import FilesystemCatalog
from iceberg_go_spark.schema import Schema
from tests.conftest import read_table


@pytest.fixture()
def catalog(tmp_path):
    return FilesystemCatalog(str(tmp_path / "wh"))


def _upsert_table(spark, sf_dir, catalog, name):
    df = read_table(spark, "orders", sf_dir)
    t = catalog.create_table(f"db.{name}", Schema.from_spark(df.schema))
    t.append(df)
    updates = df.limit(300).withColumn("o_totalprice", F.lit(42.0))
    t.upsert(spark, updates, ["o_orderkey"])
    return t, df


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_gate_open_broadcasts_small_delete_sets(spark, sf_dir, catalog,
                                                monkeypatch):
    monkeypatch.delenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT", raising=False)
    t, _ = _upsert_table(spark, sf_dir, catalog, "bg1")
    plan = _optimized_plan(t.to_df(spark))
    assert "LeftAnti" in plan
    # the delete side carries an explicit broadcast hint
    assert "BROADCAST" in plan.upper()


def test_gate_closed_results_match_broadcast_path(spark, sf_dir, catalog,
                                                  monkeypatch):
    t, df = _upsert_table(spark, sf_dir, catalog, "bg2")

    # broadcast path (default gate)
    monkeypatch.delenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT", raising=False)
    bcast = t.to_df(spark)
    bcast_rows = bcast.count()
    bcast_sum = bcast.agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))).collect()[0][0]

    # forced-shuffled path: limit below the delete-set size
    monkeypatch.setenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT", "1")
    shuffled = t.to_df(spark)
    plan = _optimized_plan(shuffled)
    assert "LeftAnti" in plan
    assert "BROADCAST" not in plan.upper(), \
        "gate closed but plan still hints broadcast"
    assert shuffled.count() == bcast_rows == df.count()
    got_sum = shuffled.agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))).collect()[0][0]
    assert got_sum == bcast_sum
    # the 300 updated rows carry the upserted value through both paths
    assert shuffled.filter(F.col("o_totalprice") == 42.0).count() == 300


def test_footer_probe_cached_per_path(spark, sf_dir, catalog, monkeypatch):
    from iceberg_go_spark.table import scan as SC
    from iceberg_go_spark.meta.name_mapping import PROP_NAME_MAPPING

    df = read_table(spark, "region", sf_dir)
    t = catalog.create_table("db.probe", Schema.from_spark(df.schema))
    t.append(df)
    # a name mapping triggers the footer probe on scan
    nm = ('[{"field-id": 1, "names": ["r_regionkey"]},'
          ' {"field-id": 2, "names": ["r_name"]},'
          ' {"field-id": 3, "names": ["r_comment"]}]')
    t.update_properties({PROP_NAME_MAPPING: nm})

    SC._FOOTER_PROBE_CACHE.clear()
    t.to_df(spark).count()
    first = dict(SC._FOOTER_PROBE_CACHE)
    assert first, "probe cache not populated by a name-mapped scan"

    # second scan must not launch another probe: poison the prober
    monkeypatch.setattr(
        SC, "_footer_field_ids",
        lambda path: (_ for _ in ()).throw(
            AssertionError("re-probed an already-cached file")))
    t.to_df(spark).count()
    assert dict(SC._FOOTER_PROBE_CACHE) == first


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dv_gate_join_path_matches_broadcast(spark, sf_dir, catalog,
                                             monkeypatch):
    """Deletion vectors share the positional-delete row gate: above it
    executors expand the bitmaps and the delete side is anti-joined
    through a shuffle, returning exactly the broadcast path's rows (a
    100 TB table can carry billions of DV'd positions, so the driver
    must not hold them all)."""
    df = read_table(spark, "orders", sf_dir)
    t = catalog.create_table("db.dvg", Schema.from_spark(df.schema))
    t.append(df)
    from iceberg_go_spark import expressions as E
    t.delete_where(spark, E.eq("o_orderstatus", "P"),
                   mode="merge-on-read-dv")

    monkeypatch.delenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT", raising=False)
    bcast = t.to_df(spark)
    bcast_rows = bcast.count()
    bcast_sum = bcast.agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))).collect()[0][0]
    expected = df.filter(F.col("o_orderstatus") != "P").count()
    assert bcast_rows == expected

    monkeypatch.setenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT", "0")
    joined = t.to_df(spark)
    assert joined.count() == bcast_rows
    got_sum = joined.agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))).collect()[0][0]
    assert got_sum == bcast_sum
    assert joined.filter(F.col("o_orderstatus") == "P").count() == 0
    for d in (bcast, joined):
        assert "MapInPandas" not in _plan(d)


def test_dv_gate_mixed_group_matches_open_gate(spark, sf_dir, catalog,
                                               monkeypatch, tmp_path):
    """One scan group mixing parquet position deletes, a legacy DV
    container and a v3 container with DVs for several files returns the
    same rows under an open and a closed gate.  Position-delete rows for
    a DV-covered file are ignored (the DV supersedes them); for an
    uncovered file they apply."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark.meta import manifests as M
    from iceberg_go_spark.table.dml import OP_DELETE

    df = read_table(spark, "orders", sf_dir)
    t = catalog.create_table("db.dvmix", Schema.from_spark(df.schema))
    keys = sorted(r.o_orderkey for r in df.select("o_orderkey").collect())
    q1, q2, q3 = (keys[len(keys) * i // 4] for i in (1, 2, 3))
    key = F.col("o_orderkey")
    bounds = (keys[0], q1, q2, q3, keys[-1] + 1)
    for lo, hi in zip(bounds, bounds[1:]):  # one data file per key range
        t.append(df.filter((key >= lo) & (key < hi)).coalesce(1))
    t.delete_where(spark, E.eq("o_orderstatus", "F"), mode="merge-on-read")
    # a legacy container covering the first file only
    t.delete_where(spark, E.and_(E.lt("o_orderkey", q1),
                                 E.eq("o_orderstatus", "P")),
                   mode="merge-on-read-dv")
    legacy = (key < q1) & (F.col("o_orderstatus") == "P")
    # v3 DVs for the second and third files, in one container
    t = t.upgrade_format_version(3)
    t.delete_where(spark, E.and_(E.gt_eq("o_orderkey", q1),
                                 E.lt("o_orderkey", q3),
                                 E.lt("o_totalprice", 100000.0)),
                   mode="merge-on-read-dv")
    v3 = (key >= q1) & (key < q3) & (F.col("o_totalprice") < 100000.0)

    # a stale position-delete file naming one surviving row per data file
    keep = (F.col("o_orderstatus") == "O") & (F.col("o_totalprice")
                                              >= 100000)
    stale, uncovered_key = [], None
    for task in t.scan().plan_files():
        path = task.data_file.file_path
        row = (spark.read.parquet(path).filter(keep)
               .select("o_orderkey", "_metadata.row_index").first())
        stale.append((path, row.row_index))
        if row.o_orderkey >= q3:
            uncovered_key = row.o_orderkey
    assert len(stale) == 4 and uncovered_key is not None
    pd_path = str(tmp_path / "stale-pos.parquet")
    pq.write_table(pa.table({
        "file_path": [p for p, _ in stale],
        "pos": pa.array([i for _, i in stale], pa.int64())}), pd_path)
    txn = t.new_transaction()
    txn.append_files([M.DataFile(
        content=M.CONTENT_POS_DELETES, file_path=pd_path,
        file_format="PARQUET", partition={}, record_count=len(stale),
        file_size_in_bytes=os.path.getsize(pd_path))],
        operation=OP_DELETE, referenced_paths=[p for p, _ in stale])
    txn.commit()

    tasks = t.scan().plan_files()
    kinds = {("legacy" if d.referenced_data_file is None else "v3")
             if d.file_format == "PUFFIN" else "parquet"
             for task in tasks for d in task.pos_deletes}
    assert kinds == {"parquet", "legacy", "v3"}
    assert len({d.referenced_data_file for task in tasks
                for d in task.pos_deletes if d.referenced_data_file}) == 2

    expected = sorted(
        r.o_orderkey for r in df.filter(
            (F.col("o_orderstatus") != "F") & ~legacy & ~v3
            & (F.col("o_orderkey") != uncovered_key))
        .select("o_orderkey").collect())
    got = {}
    for gate, limit in (("open", None), ("closed", "0")):
        if limit is None:
            monkeypatch.delenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT",
                               raising=False)
        else:
            monkeypatch.setenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT", limit)
        out = t.to_df(spark)
        assert "MapInPandas" not in _plan(out), gate
        got[gate] = sorted(r.o_orderkey for r in
                           out.select("o_orderkey").collect())
    assert got["open"] == got["closed"] == expected


def test_dv_positions_matches_bitmap_iteration():
    """The numpy expansion both sides of the gate use equals iterating
    each bitmap, across multi-container and above-2^32 positions."""
    from iceberg_go_spark.meta.dv import (RoaringBitmap64, dv_positions,
                                          serialize_dv)
    bitmaps = {"a": [0, 5, 65535, 65536, 70000 + 2 ** 32],
               "b": list(range(0, 20000, 3)), "c": [7]}
    blobs = []
    for fp, positions in bitmaps.items():
        bm = RoaringBitmap64()
        bm.update(positions)
        blobs.append((fp, serialize_dv(bm)))
    got = dv_positions(blobs)
    assert got.schema.names == ["file_path", "pos"]
    assert got.to_pylist() == [{"file_path": fp, "pos": sorted(ps)}
                               for fp, ps in bitmaps.items()]
    assert dv_positions([]).num_rows == 0
