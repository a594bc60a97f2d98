"""PySpark Python DataSource over the engine scan planner
(sources/datasource.py): stock spark.read.format() reads engine tables,
including byte-range tasks, positional deletes / DVs, time travel, and
planning-time file pruning from pushed filters."""

import os

import pytest
from pyspark.sql import functions as F

from iceberg_go_spark import expressions as E
from iceberg_go_spark.catalog import FilesystemCatalog
from iceberg_go_spark.meta.partitioning import spec_from_names
from iceberg_go_spark.schema import Schema
from tests.conftest import read_table


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory, sf_dir):
    root = str(tmp_path_factory.mktemp("wh_ds"))
    cat = FilesystemCatalog(root)
    li = read_table(spark, "lineitem", sf_dir)
    schema = Schema.from_spark(li.schema)
    # YEAR partitioning: the month spec made 82 one-small-file scan
    # tasks, and the Python-datasource per-task worker overhead made
    # every action in this module ~10s (four tests totalled 2+ min of
    # suite time); 8 year files exercise the same pruning/delete/
    # projection semantics
    t = cat.create_table("db.li", schema,
                         spec_from_names(schema, ("l_shipdate", "year")))
    t.append(li)
    t = cat.load_table("db.li")
    t.delete_where(spark, E.eq("l_linenumber", 1), mode="merge-on-read")

    from iceberg_go_spark.sources.datasource import register
    register(spark)
    return root, cat, li


def _read(spark, root, table="db.li", **opts):
    r = (spark.read.format("iceberg_go_spark")
         .option("warehouse", root).option("table", table))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_matches_relational_path(spark, wh):
    root, cat, li = wh
    got = _read(spark, root)
    exp = cat.load_table("db.li").to_df(spark)
    assert got.count() == exp.count()  # pos deletes applied
    assert got.count() < li.count()
    a = got.agg(F.sum("l_orderkey"), F.sum("l_linenumber")).first()
    b = exp.agg(F.sum("l_orderkey"), F.sum("l_linenumber")).first()
    assert tuple(a) == tuple(b)
    assert got.filter(F.col("l_linenumber") == 1).count() == 0


def test_filters_and_projection(spark, wh):
    root, cat, li = wh
    got = (_read(spark, root)
           .filter(F.col("l_shipdate") >= "1999-01-01")
           .select("l_orderkey", "l_extendedprice"))
    exp = (cat.load_table("db.li").to_df(spark)
           .filter(F.col("l_shipdate") >= "1999-01-01")
           .select("l_orderkey", "l_extendedprice"))
    assert got.count() == exp.count()
    assert abs(got.agg(F.sum("l_extendedprice")).first()[0]
               - exp.agg(F.sum("l_extendedprice")).first()[0]) < 1e-6


def test_pushed_filter_prunes_files(spark, wh):
    """EqualTo/GreaterThan reach the planner: fewer input partitions
    than the unfiltered scan (year-partitioned fixture)."""
    root, _cat, _li = wh

    def n_parts(df):
        return df.rdd.getNumPartitions()

    all_parts = n_parts(_read(spark, root))
    pruned = n_parts(_read(spark, root)
                     .filter(F.col("l_shipdate") > "2001-06-01"))
    assert 0 < pruned < all_parts


def test_time_travel_option(spark, wh):
    root, cat, li = wh
    t = cat.load_table("db.li")
    first = t.metadata.snapshots[0].snapshot_id
    got = _read(spark, root, snapshot_id=str(first))
    assert got.count() == li.count()  # before the MoR delete


def test_eq_deletes_applied(spark, wh, sf_dir):
    """An upserted (eq-delete) table read through the stock reader API
    matches the relational path row-for-row: superseded rows are
    anti-joined out executor-side, upserted values win."""
    root, cat, _li = wh
    df = read_table(spark, "nation", sf_dir)
    t = cat.create_table("db.eq", Schema.from_spark(df.schema))
    t.append(df)
    t = cat.load_table("db.eq")
    from iceberg_go_spark.table.dml import upsert
    upsert(t, spark, df.limit(3).withColumn(
        "n_name", F.lit("CHANGED")), ["n_nationkey"])

    # fresh load() per action: Spark caches the last-planned partitions
    # on the shared relation, so a filtered action poisons a later
    # unfiltered action on the SAME loaded DataFrame (upstream quirk,
    # see _Reader.partitions)
    exp = cat.load_table("db.eq").to_df(spark)
    assert _read(spark, root, table="db.eq").count() == \
        exp.count() == df.count()
    assert _read(spark, root, table="db.eq") \
        .filter(F.col("n_name") == "CHANGED").count() == 3
    g = {tuple(r) for r in _read(spark, root, table="db.eq").collect()}
    e = {tuple(r) for r in exp.collect()}
    assert g == e

    # a second upsert stacks (two delete generations)
    t = cat.load_table("db.eq")
    upsert(t, spark, df.limit(5).withColumn(
        "n_name", F.lit("AGAIN")), ["n_nationkey"])
    exp = cat.load_table("db.eq").to_df(spark)
    assert _read(spark, root, table="db.eq") \
        .filter(F.col("n_name") == "AGAIN").count() == 5
    assert _read(spark, root, table="db.eq") \
        .filter(F.col("n_name") == "CHANGED").count() == 0
    assert {tuple(r) for r in
            _read(spark, root, table="db.eq").collect()} == \
        {tuple(r) for r in exp.collect()}


def test_eq_deletes_null_key_applied(spark, wh, sf_dir):
    """Null-tagged key semantics through the DataSource: an eq-delete
    key with NULL removes rows whose key IS NULL."""
    root, cat, _ = wh
    df = (read_table(spark, "nation", sf_dir)
          .withColumn("n_name", F.when(F.col("n_nationkey") < 3,
                                       F.lit(None)).otherwise(
                                           F.col("n_name"))))
    t = cat.create_table("db.eqnull", Schema.from_spark(df.schema))
    t.append(df)
    t = cat.load_table("db.eqnull")
    from iceberg_go_spark.table.dml import upsert
    upsert(t, spark,
           df.filter(F.col("n_name").isNull())
           .withColumn("n_comment_like", F.lit(None).cast("string"))
           .drop("n_comment_like")
           .withColumn("n_regionkey", F.lit(99)),
           ["n_name"])
    got = _read(spark, root, table="db.eqnull")
    exp = cat.load_table("db.eqnull").to_df(spark)
    assert got.count() == exp.count()
    # all null-named rows were replaced by the upsert generation
    assert got.filter(F.col("n_name").isNull() &
                      (F.col("n_regionkey") != 99)).count() == 0
    assert {tuple(r) for r in got.collect()} == \
        {tuple(r) for r in exp.collect()}


def test_stream_reader_incremental_snapshots(spark, tmp_path, sf_dir):
    """readStream over an engine table: microbatches follow snapshot
    ancestry; a second availableNow run from the same checkpoint picks
    up exactly the rows appended in between (exactly-once cursor)."""
    import time

    from iceberg_go_spark.sources.datasource import register
    register(spark)
    root = str(tmp_path / "wh")
    cat = FilesystemCatalog(root)
    nation = read_table(spark, "nation", sf_dir)
    t = cat.create_table("db.s", Schema.from_spark(nation.schema))
    t.append(nation.limit(10))
    t = cat.load_table("db.s")
    t.append(nation.limit(25))

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_batch():
        q = (spark.readStream.format("iceberg_go_spark")
             .option("warehouse", root).option("table", "db.s")
             .option("starting_snapshot_id", "0")
             .load()
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.2)

    run_batch()
    assert spark.read.parquet(out).count() == 35  # both snapshots replayed

    t = cat.load_table("db.s")
    t.append(nation.limit(3))
    run_batch()
    got = spark.read.parquet(out)
    assert got.count() == 38  # only the delta was re-read
    assert got.select("n_nationkey").distinct().count() \
        == nation.limit(25).count()


def test_writer_appends_through_transaction(spark, tmp_path, sf_dir):
    """df.write.format(): executors write parquet with spec field-ids and
    harvest stats locally; the driver commits one append snapshot."""
    from iceberg_go_spark.sources.datasource import register
    register(spark)
    root = str(tmp_path / "wh")
    cat = FilesystemCatalog(root)
    nation = read_table(spark, "nation", sf_dir)
    cat.create_table("db.w", Schema.from_spark(nation.schema))

    (nation.repartition(4).write.format("iceberg_go_spark")
     .option("warehouse", root).option("table", "db.w")
     .mode("append").save())

    t = cat.load_table("db.w")
    snap = t.current_snapshot()
    assert snap.summary["operation"] == "append"
    got = t.to_df(spark)
    assert got.count() == nation.count()
    assert got.agg(F.sum("n_nationkey")).first()[0] == \
        nation.agg(F.sum("n_nationkey")).first()[0]

    # stats landed: metrics pruning works on the written files
    from iceberg_go_spark import expressions as E
    scan = t.scan(E.gt("n_nationkey", 1000))
    assert scan.plan_files() == []  # all files pruned by bounds

    # second append accumulates
    (nation.limit(5).write.format("iceberg_go_spark")
     .option("warehouse", root).option("table", "db.w")
     .mode("append").save())
    assert cat.load_table("db.w").to_df(spark).count() == nation.count() + 5

    with pytest.raises(Exception, match="overwrite"):
        (nation.write.format("iceberg_go_spark")
         .option("warehouse", root).option("table", "db.w")
         .mode("overwrite").save())


def test_fully_deleted_file_does_not_mask_others(spark, tmp_path, sf_dir):
    """Analogue of the reference's empty-scan-task regression
    (empty_scan_task_regression_test.go): a task yielding ZERO rows
    (every row pos-deleted) must not suppress the other tasks' rows."""
    from iceberg_go_spark.sources.datasource import register
    register(spark)
    root = str(tmp_path / "wh")
    cat = FilesystemCatalog(root)
    nation = read_table(spark, "nation", sf_dir)
    t = cat.create_table("db.z", Schema.from_spark(nation.schema))
    t.append(nation.filter(F.col("n_nationkey") < 10))
    t = cat.load_table("db.z")
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    t = cat.load_table("db.z")
    # wipe the ENTIRE first file via merge-on-read positional deletes
    t.delete_where(spark, E.lt("n_nationkey", 10), mode="merge-on-read")

    got = (spark.read.format("iceberg_go_spark")
           .option("warehouse", root).option("table", "db.z").load())
    keys = sorted(r["n_nationkey"] for r in got.collect())
    want = sorted(r["n_nationkey"] for r in
                  nation.filter(F.col("n_nationkey") >= 10).collect())
    assert keys == want  # second file fully present, first fully gone


def test_datasource_initial_defaults(spark, tmp_path, sf_dir):
    """A column added with a v3 initial-default after the first append
    reads as the default through the stock reader (per-file fill on
    executors)."""
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark import types as T
    from iceberg_go_spark.sources.datasource import register
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    nation = read_table(spark, "nation", sf_dir)
    t = cat.create_table("db.defaults", Schema.from_spark(nation.schema),
                         properties={"format-version": "3"})
    t.append(nation)
    t = (t.update_schema()
         .add_column("tier", T.StringType(), initial_default="bronze")
         .add_column("rank", T.LongType())  # no default -> nulls
         .commit())
    register(spark)
    got = (spark.read.format("iceberg_go_spark")
           .option("warehouse", str(tmp_path / "wh"))
           .option("table", "db.defaults").load())
    assert got.filter(F.col("tier") == "bronze").count() == nation.count()
    assert got.filter(F.col("rank").isNull()).count() == nation.count()


def test_data_file_avro_codec_roundtrip():
    """codec/data_file.go parity: a DataFile exchanged as a one-entry
    Avro manifest container round-trips, and the container is a plain
    manifest any engine can read."""
    from iceberg_go_spark.sources.task_codec import (
        decode_data_file_avro, encode_data_file_avro)
    from iceberg_go_spark.meta.manifests import DataFile
    from iceberg_go_spark.meta.partitioning import spec_from_names
    from iceberg_go_spark import types as T
    schema = Schema([T.NestedField(1, "id", T.LongType(), required=True),
                     T.NestedField(2, "cat", T.StringType())])
    spec = spec_from_names(schema, ("cat", "identity"))
    d = DataFile(content=0, file_path="/data/x.parquet",
                 file_format="PARQUET", partition={"cat": "a"},
                 record_count=10, file_size_in_bytes=1234,
                 value_counts={1: 10},
                 lower_bounds={1: b"\x01\x00\x00\x00\x00\x00\x00\x00"},
                 upper_bounds={1: b"\x0a\x00\x00\x00\x00\x00\x00\x00"})
    blob = encode_data_file_avro(d, schema, spec)
    assert blob[:4] == b"Obj\x01"  # standard Avro container magic
    back = decode_data_file_avro(blob)
    assert back.file_path == d.file_path
    assert back.partition == d.partition
    assert back.record_count == d.record_count
    assert back.lower_bounds == d.lower_bounds
    assert back.upper_bounds == d.upper_bounds


def test_datasource_as_of_time_travel(spark, tmp_path, sf_dir):
    """option('as_of'): epoch millis or ISO timestamp resolves the
    snapshot current at that time."""
    import time
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.sources.datasource import register
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    nation = read_table(spark, "nation", sf_dir)
    t = cat.create_table("db.tt", Schema.from_spark(nation.schema))
    t = t.append(nation.limit(10))
    mid_ms = t.current_snapshot().timestamp_ms
    time.sleep(0.05)
    t.append(nation)
    register(spark)

    def load(**opts):
        r = (spark.read.format("iceberg_go_spark")
             .option("warehouse", str(tmp_path / "wh"))
             .option("table", "db.tt"))
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    assert load().count() == 10 + nation.count()
    assert load(as_of=str(mid_ms)).count() == 10
    import datetime
    iso = datetime.datetime.fromtimestamp(
        mid_ms / 1000, datetime.timezone.utc).isoformat()
    assert load(as_of=iso).count() == 10


def test_register_under_foreign_session(spark, wh):
    """A session with filterPushdown conf false — the driver gate's
    vanilla flavor — must still read through the DataSource: register()
    flips the runtime conf (or falls back to a pushdown-less reader).
    Regression for DATA_SOURCE_PUSHDOWN_DISABLED under foreign sessions.
    (A newSession() CLONE is not usable for this: Spark refuses the
    re-register with DATA_SOURCE_ALREADY_EXISTS yet the clone's analyzer
    cannot resolve the parent's registration either, so the conf-false
    state is exercised on the engine session itself.)"""
    root, cat, li = wh
    conf_key = "spark.sql.python.filterPushdown.enabled"
    prev = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "false")
    try:
        from iceberg_go_spark.sources.datasource import register
        register(spark)
        assert spark.conf.get(conf_key) == "true"  # flipped back on
        got = (spark.read.format("iceberg_go_spark")
               .option("warehouse", root).option("table", "db.li")
               .load())
        exp = cat.load_table("db.li").to_df(spark)
        assert got.count() == exp.count()
    finally:
        spark.conf.set(conf_key, prev)
        from iceberg_go_spark.sources.datasource import register
        register(spark)


def test_pushdownless_reader_fallback(spark, wh):
    """The class served when the conf CANNOT be enabled: reader must not
    implement pushFilters yet read + row-filter correctly (Spark applies
    all filters post-scan; only planning-time file pruning is lost)."""
    root, cat, li = wh
    ns = spark.newSession()
    ns.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    from iceberg_go_spark.sources import datasource as DS
    assert "pushFilters" not in vars(DS._ReaderBase)

    # a cloned session inherits (and cannot replace) the parent's
    # registration, so exercise the fallback class under its own name
    class _NoPush(DS.IcebergGoSparkDataSourceNoPushdown):
        @classmethod
        def name(cls):
            return "iceberg_go_spark_nopush"

    ns.dataSource.register(_NoPush)
    got = (ns.read.format("iceberg_go_spark_nopush")
           .option("warehouse", root).option("table", "db.li")
           .load().filter(F.col("l_linenumber") == 2))
    exp = (cat.load_table("db.li").to_df(spark)
           .filter(F.col("l_linenumber") == 2))
    assert got.count() == exp.count()


def _renamed_table(spark, root):
    """(1,'a'),(2,'b') appended, then column ``v`` renamed to ``w``: the
    data file still names the column ``v`` and only its field id ties
    it to ``w``."""
    cat = FilesystemCatalog(root)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = cat.create_table("db.ren", Schema.from_spark(df.schema))
    t.append(df)
    t = cat.load_table("db.ren")
    t.update_schema().rename_column("v", "w").commit()
    return cat.load_table("db.ren")


def test_batch_read_resolves_renamed_column(spark, tmp_path, sf_dir):
    """The batch reader selects file columns by field id and emits the
    current names, as ``to_df`` does; by name it read ``w`` as NULL."""
    from tests.conftest import id_less_table
    from iceberg_go_spark.sources.datasource import register
    register(spark)
    root = str(tmp_path / "wh")
    t = _renamed_table(spark, root)
    got = _read(spark, root, table="db.ren")
    assert got.columns == ["id", "w"]
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, "b")]
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, t.to_df(spark).collect()))

    # an ID-less file resolves through the table's name mapping, which
    # keeps the old name as an alias after the rename
    nation = read_table(spark, "nation", sf_dir)
    cat = FilesystemCatalog(root)
    idless = id_less_table(spark, cat, "db.idless", nation,
                           str(tmp_path / "idless.parquet"))
    idless.update_schema().rename_column("n_name", "name").commit()
    got = _read(spark, root, table="db.idless")
    assert got.filter(F.col("name").isNull()).count() == 0
    assert sorted(r.name for r in got.collect()) == \
        sorted(r.n_name for r in nation.collect())


def test_stream_read_resolves_renamed_column(spark, tmp_path):
    """The stream reader reads files through the batch reader's column
    resolution: a renamed column streams its values, not NULL."""
    import time

    from iceberg_go_spark.sources.datasource import register
    register(spark)
    root = str(tmp_path / "wh")
    _renamed_table(spark, root)
    out = str(tmp_path / "out")
    q = (spark.readStream.format("iceberg_go_spark")
         .option("warehouse", root).option("table", "db.ren")
         .option("starting_snapshot_id", "0").load()
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    for _ in range(100):
        if not q.isActive:
            break
        time.sleep(0.2)
    got = spark.read.parquet(out)
    assert got.columns == ["id", "w"]
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, "b")]
