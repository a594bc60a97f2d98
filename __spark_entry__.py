"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2 + the
training-data operators); ``oracle_sql()`` gives the DuckDB-equivalent ANSI
SQL for every SQL-expressible query.  Cross-engine determinism rules used
throughout (so value hashes match bit-for-bit):

- money aggregates run in exact DECIMAL arithmetic, cast to DOUBLE at the
  end (float summation order is engine-dependent; decimal sums are not);
- embedding math runs on integer-quantized vectors (exact int sums);
- timestamps leave query outputs as epoch seconds or ISO strings.
"""

from __future__ import annotations

import os
import shutil
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
import sys  # noqa: E402
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from iceberg_go_spark import expressions as E  # noqa: E402
from iceberg_go_spark.functions import text_funcs as TX  # noqa: E402
from iceberg_go_spark.functions import vector_funcs as V  # noqa: E402
from iceberg_go_spark.operators import curation as CU  # noqa: E402
from iceberg_go_spark.operators import funnel as FU  # noqa: E402
from iceberg_go_spark.operators import dedup as DD  # noqa: E402
from iceberg_go_spark.operators import multimodal as MM  # noqa: E402
from iceberg_go_spark.operators import rollup as RU  # noqa: E402
from iceberg_go_spark.operators import similarity as SIM  # noqa: E402
from iceberg_go_spark.operators import text as TOP  # noqa: E402


# ---------------------------------------------------------------------------
# plumbing

def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS): Spark 4 only reads it as long
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis
    except Exception:
        # nanosecond timestamps: Spark 4 rejects TIMESTAMP(NANOS) parquet
        # unless read as long
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if name == "events":
        import pyspark.sql.types as ST
        for f in df.schema.fields:
            if f.name != "ts":
                continue
            if isinstance(f.dataType, ST.LongType):
                # ts stored as TIMESTAMP(NANOS), read ns-as-long: integer
                # DIV, not floor(x/1000) — ns epoch values exceed double
                # precision (2^53) and would round the microsecond
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts DIV 1000")))
            elif isinstance(f.dataType, ST.TimestampNTZType):
                # ts stored without isAdjustedToUTC: Spark 4 reads it as
                # TIMESTAMP_NTZ. The session zone is pinned to UTC
                # (session.py), so this cast is epoch-exact.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_PYFILES_SENT = set()


def _package_zip(zpath: str) -> str:
    """Zip the package's .py files (no directory entries, so every
    package directory needs its own __init__.py to import from it)."""
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(_REPO, "iceberg_go_spark")
        for root, _d, names in os.walk(pkg):
            for n in names:
                if n.endswith(".py"):
                    full = os.path.join(root, n)
                    z.write(full, os.path.relpath(full, _REPO))
    return zpath


def _ensure_workers(spark: SparkSession) -> None:
    """Ship the package to executor Python workers (UDF deserialization
    imports it by name; the driver's session may not export PYTHONPATH)."""
    key = id(spark.sparkContext)
    if key in _PYFILES_SENT:
        return
    zpath = os.path.join("/tmp", "iceberg_go_spark_pkg.zip")
    # rebuilt per session (atomically): a zip left by an older checkout
    # would ship stale code to the executors
    os.replace(_package_zip(f"{zpath}.{os.getpid()}"), zpath)
    spark.sparkContext.addPyFile(zpath)
    _PYFILES_SENT.add(key)


def _dec(c, p: int = 12, s: int = 2):
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({p},{s})")


# Iceberg-table fixtures, built once per sf_dir ------------------------------

_FIXTURES: dict = {}


def _fixtures(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) the Iceberg tables that the engine queries
    scan: partitioned/bucketed lineitem, a two-snapshot table with a tag,
    MoR-deleted and upserted orders."""
    if sf_dir in _FIXTURES:
        return _FIXTURES[sf_dir]
    _ensure_workers(spark)
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.meta.partitioning import spec_from_names
    from iceberg_go_spark.schema import Schema

    FIXTURE_VERSION = "v19"  # bump when fixture definitions change
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    wh = os.path.join("/tmp", "ibs_fixtures", tag)
    marker = os.path.join(wh, "_COMPLETE")
    cat = FilesystemCatalog(wh)
    stale = (not os.path.exists(marker)
             or open(marker).read().strip() != FIXTURE_VERSION)
    if stale:
        shutil.rmtree(wh, ignore_errors=True)
        cat = FilesystemCatalog(wh)
        li = _read(spark, sf_dir, "lineitem")
        orders = _read(spark, sf_dir, "orders")
        li_schema = Schema.from_spark(li.schema)
        o_schema = Schema.from_spark(orders.schema)

        t = cat.create_table("db.li_month", li_schema,
                             spec_from_names(li_schema, ("l_shipdate", "month")))
        t.append(li)

        t = cat.create_table("db.li_bucket", li_schema,
                             spec_from_names(li_schema,
                                             ("l_orderkey", "bucket[8]")))
        t.append(li)

        t = cat.create_table("db.li_tt", li_schema)
        t.append(li.filter(F.col("l_orderkey") % 2 == 0))
        first = t.current_snapshot().snapshot_id
        t.append(li.filter(F.col("l_orderkey") % 2 != 0))
        t.create_tag("v1", first)

        t = cat.create_table("db.orders_mor", o_schema)
        t.append(orders)
        t.delete_where(spark, E.eq("o_orderstatus", "F"),
                       mode="merge-on-read")

        t = cat.create_table("db.orders_dv", o_schema,
                             spec_from_names(o_schema,
                                             ("o_orderdate", "year")))
        t.append(orders)
        # v3: the delete writes spec-exact per-DV manifest entries
        # (referenced_data_file + content_offset/content_size_in_bytes)
        # and the scan locates blobs from the entries, not a footer scan
        t = t.upgrade_format_version(3)
        t.delete_where(spark, E.eq("o_orderstatus", "P"),
                       mode="merge-on-read-dv")

        t = cat.create_table("db.orders_up", o_schema)
        t.append(orders)
        updates = orders.filter(F.col("o_orderkey") % 100 == 0) \
            .withColumn("o_totalprice", F.lit(0.0))
        t.upsert(spark, updates, ["o_orderkey"])

        # MERGE fixture: update every %7 key's priority, delete-by-merge
        # %11 'F' keys, insert shifted new keys — one row-delta commit
        # each, scanned by iceberg_merge_scan
        t = cat.create_table("db.orders_merged", o_schema)
        t.append(orders)
        mx = orders.agg(F.max("o_orderkey")).first()[0]
        upd = (orders.filter(F.col("o_orderkey") % 7 == 0)
               .withColumn("o_orderpriority", F.lit("MERGED")))
        ins = (orders.filter(F.col("o_orderkey") % 13 == 0)
               .withColumn("o_orderkey", F.col("o_orderkey") + mx + 1)
               .withColumn("o_orderpriority", F.lit("INSERTED")))
        t = t.merge_into(spark, upd.unionByName(ins), ["o_orderkey"])
        t.merge_into(spark,
                     orders.filter(F.col("o_orderkey") % 11 == 0)
                     .select("o_orderkey"),
                     ["o_orderkey"], when_matched="delete",
                     insert_not_matched=False,
                     matched_condition="o_orderstatus = 'F'")

        # default-values fixture: append -> evolve (add tier with
        # initial/write defaults) -> append without the column -> append
        # with explicit values; iceberg_defaults_scan value-checks all
        # three generations
        cust = _read(spark, sf_dir, "customer")
        c_schema = Schema.from_spark(cust.schema)
        t = cat.create_table("db.cust_defaults", c_schema,
                             properties={"format-version": "3"})
        t.append(cust)
        from iceberg_go_spark import types as _T
        t = (t.update_schema()
             .add_column("tier", _T.StringType(), required=True,
                         initial_default="legacy", write_default="standard")
             .commit())
        gen2 = cust.filter(F.col("c_custkey") % 10 == 0) \
            .withColumn("c_custkey", F.col("c_custkey") + 1_000_000)
        t.append(gen2)  # write-default fills tier
        gen3 = (cust.filter(F.col("c_custkey") % 10 == 1)
                .withColumn("c_custkey", F.col("c_custkey") + 2_000_000)
                .withColumn("tier", F.lit("explicit")))
        t.append(gen3)

        # nested-defaults fixture: defaulted field INSIDE an array
        # element struct (three generations: pre-evolution files read
        # the initial default via F.transform, appends missing the
        # interior field fill the write default, explicit values win) —
        # iceberg_nested_defaults_scan value-checks all three
        nd = cust.select(
            "c_custkey",
            F.array(F.struct(F.col("c_mktsegment").alias("seg")))
            .alias("notes"))
        t = cat.create_table("db.cust_nested_defaults",
                             Schema.from_spark(nd.schema),
                             properties={"format-version": "3"})
        t.append(nd)
        t = (t.update_schema()
             .add_column("notes.flag", _T.LongType(),
                         initial_default=1, write_default=2)
             .commit())
        t.append(nd.filter(F.col("c_custkey") % 7 == 0)
                 .withColumn("c_custkey", F.col("c_custkey") + 1_000_000))
        t.append(cust.filter(F.col("c_custkey") % 7 == 1)
                 .select(F.col("c_custkey") + 2_000_000,
                         F.array(F.struct(
                             F.col("c_mktsegment").alias("seg"),
                             F.lit(5).cast("long").alias("flag")))
                         .alias("notes"))
                 .toDF("c_custkey", "notes"))

        # variant-bounds fixture: a VARIANT column appended in n_chars
        # bands so per-file variant bounds make a variant_get predicate
        # prune files (variant_prune_scan)
        docs = _read(spark, sf_dir, "documents")
        vdocs = docs.select(
            "doc_id",
            F.parse_json(F.to_json(F.struct("doc_id", "lang", "n_chars")))
            .alias("v"))
        t = cat.create_table("db.docs_variant",
                             Schema.from_spark(vdocs.schema),
                             properties={"format-version": "3"})
        for lo_b, hi_b in ((0, 200), (200, 400), (400, 1 << 40)):
            t.append(vdocs.join(
                docs.filter((F.col("n_chars") >= lo_b) &
                            (F.col("n_chars") < hi_b)).select("doc_id"),
                "doc_id"))

        # continuous-aggregate fixture: partial load -> rollup -> more
        # appends + a delete -> incremental refresh
        from iceberg_go_spark.operators.rollup import (create_rollup,
                                                       refresh_rollup)
        ev = _read(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type", "value")
        t = cat.create_table("db.events_src",
                             Schema.from_spark(ev.schema))
        t.append(ev.filter(F.col("event_id") % 3 == 0))
        rollup_aggs = {
            "n_events": F.count(F.lit(1)),
            "total_value": F.sum(F.col("value").cast("decimal(18,2)"))}
        create_rollup(cat, "db.events_src", "db.events_hourly", spark,
                      "ts", "hour", ["event_type"], rollup_aggs)
        t = cat.load_table("db.events_src")
        t.append(ev.filter(F.col("event_id") % 3 != 0))
        t.delete_where(spark, E.eq("event_type", "purchase"),
                       mode="merge-on-read")
        refresh_rollup(cat, "db.events_src", "db.events_hourly", spark,
                       "ts", "hour", ["event_type"], rollup_aggs)

        # spec-evolution fixture: month(l_shipdate) spec for the first
        # half, then add bucket[8](l_orderkey); the scan planner must
        # run per-spec evaluators over both file generations
        # (iceberg_spec_evolution_scan)
        t = cat.create_table(
            "db.li_specevo", li_schema,
            spec_from_names(li_schema, ("l_shipdate", "month")))
        t.append(li.filter(F.col("l_orderkey") % 2 == 0))
        t.update_spec().add_field("l_orderkey", "bucket[8]").commit()
        t = cat.load_table("db.li_specevo")
        t.append(li.filter(F.col("l_orderkey") % 2 != 0))

        # branch fixture (write-audit-publish): main holds F rows, the
        # audit branch adds P on top; main advances independently with O
        # (iceberg_branch_scan reads the branch head)
        t = cat.create_table("db.orders_branch", o_schema)
        t.append(orders.filter(F.col("o_orderstatus") == "F"))
        t.create_branch("audit")
        t.append(orders.filter(F.col("o_orderstatus") == "P"),
                 branch="audit")
        t.append(orders.filter(F.col("o_orderstatus") == "O"))

        # compaction fixture: three small appends + a MoR delete, then
        # bin-pack compaction (dead deletes dropped, v3 lineage
        # materialized); iceberg_compacted_scan value-checks the result
        t = cat.create_table("db.orders_compacted", o_schema,
                             properties={"format-version": "3"})
        for lo, hi in ((0, 3000), (3000, 6000), (6000, 1 << 40)):
            t.append(orders.filter((F.col("o_orderkey") >= lo) &
                                   (F.col("o_orderkey") < hi)))
        t.delete_where(spark, E.eq("o_orderstatus", "F"),
                       mode="merge-on-read")
        t.compact(spark, min_input_files=2)

        # sorted-table fixture: sort order on l_shipdate with range
        # distribution -> non-overlapping file bounds -> range
        # predicates prune to a handful of files (iceberg_sorted_scan)
        from iceberg_go_spark.meta.partitioning import SortField, SortOrder
        from iceberg_go_spark.transforms import parse_transform
        shipdate_id = li_schema.find_field("l_shipdate").field_id
        t = cat.create_table(
            "db.li_sorted", li_schema,
            sort_order=SortOrder(
                [SortField(shipdate_id, parse_transform("identity"))],
                order_id=1),
            properties={"write.distribution-mode": "range"})
        t.append(li)

        # z-ordered lineitem (write.distribution-mode=zorder over
        # (l_orderkey, l_shipdate)): files carry tight bounds on BOTH
        # dims, so single-dim range predicates prune
        # (iceberg_zorder_scan; table/write.py _zorder_value)
        t = cat.create_table(
            "db.li_zorder", li_schema,
            properties={
                "write.distribution-mode": "zorder",
                "write.zorder.columns": "l_orderkey,l_shipdate",
                "write.target-file-size-bytes": str(256 * 1024),
            })
        t.append(li)

        # encrypted-table fixture: AES-GCM parquet via pyarrow PME
        # (in-memory KMS; KEK shipped in properties for executor-side
        # reconstruction — test-only by definition); read back through
        # the Python DataSource (iceberg_encrypted_scan)
        import base64 as _b64
        from iceberg_go_spark.encryption import append_encrypted
        nat = _read(spark, sf_dir, "nation")
        t = cat.create_table(
            "db.nation_enc", Schema.from_spark(nat.schema),
            properties={
                "format-version": "3",
                "encryption.table-key-id": "fixture-key",
                "kms-type": "memory",
                "encryption.kms.memory.keys":
                    "fixture-key:" +
                    _b64.b64encode(b"0123456789abcdef").decode(),
            })
        append_encrypted(t, spark, nat)

        with open(marker, "w") as f:
            f.write(FIXTURE_VERSION)
    _FIXTURES[sf_dir] = cat
    return cat


# ---------------------------------------------------------------------------
# queries


def q1_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem") \
        .filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)")
                                            - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(12,2)") + _dec("l_tax"))
    n = F.count(F.lit(1))
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(_dec("l_extendedprice")).cast("double")
                 .alias("sum_base_price"),
                 F.sum(disc_price).cast("double").alias("sum_disc_price"),
                 F.sum(charge).cast("double").alias("sum_charge"),
                 (F.sum(_dec("l_quantity")).cast("double") / n).alias("avg_qty"),
                 (F.sum(_dec("l_extendedprice")).cast("double") / n)
                 .alias("avg_price"),
                 (F.sum(_dec("l_discount")).cast("double") / n).alias("avg_disc"),
                 n.alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) *
           (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer") \
        .filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders") \
        .filter(F.col("o_orderdate") < "1997-06-01")
    li = _read(spark, sf_dir, "lineitem") \
        .filter(F.col("l_shipdate") > "1997-06-01")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)")
                                            - _dec("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey",
                     F.date_format("o_orderdate", "yyyy-MM-dd")
                     .alias("orderdate"))
            .agg(F.sum(disc_price).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
            .limit(10))


Q3_SQL = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey, orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_regional_revenue(spark, sf_dir):
    region = _read(spark, sf_dir, "region")
    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    supp = _read(spark, sf_dir, "supplier")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)")
                                            - _dec("l_discount"))
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .filter(cust.c_nationkey == supp.s_nationkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name")
            .agg(F.sum(disc_price).cast("double").alias("revenue")))


Q5_SQL = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
"""


def q6_forecast_revenue(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * _dec("l_discount")
    return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & (F.col("l_discount") >= 0.05)
                      & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def rollup_pricing(spark, sf_dir):
    """ROLLUP over (returnflag, linestatus): subtotal + grand-total rows
    (Spark rollup == SQL GROUP BY ROLLUP)."""
    li = _read(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.count(F.lit(1)).alias("n_rows")))


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def set_ops_customers(spark, sf_dir):
    """Set operations: customers that placed orders vs the full set
    (intersect / except composed into one labeled union)."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    orderers = _read(spark, sf_dir, "orders") \
        .select(F.col("o_custkey").alias("c_custkey")).distinct()
    active = cust.intersect(orderers) \
        .withColumn("status", F.lit("active"))
    inactive = cust.exceptAll(orderers) \
        .withColumn("status", F.lit("inactive"))
    return active.unionByName(inactive)


SET_OPS_SQL = """
SELECT c_custkey, 'active' AS status FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'inactive' AS status FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def top_customers_per_nation(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (cust.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
            .select("n_name", "c_custkey", "c_acctbal", "rank"))


TOP_CUST_SQL = """
SELECT n_name, c_custkey, c_acctbal, rank FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey)::INT AS rank
  FROM customer) c
JOIN nation ON c.c_nationkey = n_nationkey
WHERE rank <= 3
"""


def events_hourly(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        .alias("hour_epoch"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
             .alias("total_value"),
             F.countDistinct("user_id").alias("n_users")))


EVENTS_HOURLY_SQL = """
SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
  COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type, hour_epoch
"""


def events_resampled_dense(spark, sf_dir):
    """Gap-filled hourly resample per event type over a sparse user
    subset: every bucket between a type's first and last event appears,
    empty ones as zero rows (operators/rollup.py resample_dense)."""
    ev = _read(spark, sf_dir, "events").filter(F.col("user_id") % 100 == 7)
    return RU.resample_dense(ev, bucket_seconds=3600)


RESAMPLE_DENSE_SQL = """
WITH sparse AS (
  SELECT event_type AS grp,
         (floor(epoch(ts) / 3600) * 3600)::BIGINT AS bucket_epoch,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
  FROM events WHERE user_id % 100 = 7 GROUP BY 1, 2),
grid AS (
  SELECT grp, unnest(range(mn, mx + 3600, 3600)) AS bucket_epoch
  FROM (SELECT grp, MIN(bucket_epoch) AS mn, MAX(bucket_epoch) AS mx
        FROM sparse GROUP BY grp))
SELECT g.grp AS event_type, g.bucket_epoch::BIGINT AS bucket_epoch,
       COALESCE(s.n_events, 0)::BIGINT AS n_events,
       COALESCE(s.total_value, 0.0) AS total_value
FROM grid g LEFT JOIN sparse s
  ON g.grp = s.grp AND g.bucket_epoch = s.bucket_epoch
"""


def q7_volume_shipping(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)")
                                            - _dec("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
            .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
            .filter(F.col("supp_nation") != F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").alias("l_year"))
            .agg(F.sum(disc_price).cast("double").alias("revenue")))


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate)::INT AS l_year, l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name <> n2.n_name)
GROUP BY supp_nation, cust_nation, l_year
"""


def q10_returned_items(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem") \
        .filter(F.col("l_returnflag") == "R")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)")
                                            - _dec("l_discount"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(disc_price).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
            .limit(20))


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q14_promo_revenue(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)")
                                            - _dec("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.when(F.col("p_type").startswith("PROMO"), disc_price) \
        .otherwise(F.lit(0).cast("decimal(12,2)"))
    return joined.agg(
        (F.sum(promo).cast("double") * 100.0
         / F.sum(disc_price).cast("double")).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"))


Q14_SQL = """
SELECT
  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
       THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
            (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) * 100.0 /
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
    AS promo_revenue_pct,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def running_revenue(spark, sf_dir):
    """Cumulative revenue per customer over order time (running-total
    window; deterministic frame via (date, orderkey) ordering)."""
    o = _read(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey") \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    top = o.filter(F.col("o_custkey") % 50 == 0)
    return (top.select(
        "o_custkey", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.sum(_dec("o_totalprice")).over(w).cast("double")
        .alias("running_total")))


RUNNING_REVENUE_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total
FROM orders WHERE o_custkey % 50 = 0
"""


def moving_avg_value(spark, sf_dir):
    """7-row moving average of event values per user (sliding window
    frame), plus lag delta — the standard time-series smoothing pair."""
    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-6, W.currentRow)
    sel = ev.filter(F.col("user_id") % 20 == 0)
    return (sel.select(
        "user_id", "event_id",
        F.round(F.avg(F.col("value").cast("decimal(18,6)")).over(frame)
                .cast("double"), 6).alias("avg7"),
        F.round((F.col("value")
                 - F.lag("value").over(w)).cast("double"), 6)
        .alias("delta")))


MOVING_AVG_SQL = """
SELECT user_id, event_id,
       ROUND(CAST(AVG(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
         AS avg7,
       ROUND(CAST(value - LAG(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE), 6)
         AS delta
FROM events WHERE user_id % 20 = 0
"""


def asof_join_events(spark, sf_dir):
    """Point-in-time join: each event matched to its user's most recent
    daily anchor row (operators/asof.py tag-union-window shape — one
    keyed shuffle, no range join). Day sums ride as exact decimals so
    the fold is engine-independent."""
    from iceberg_go_spark.operators.asof import asof_join
    ev = _read(spark, sf_dir, "events")
    anchors = (ev.groupBy("user_id", F.date_trunc("day", "ts").alias("__d"))
               .agg(F.min("ts").alias("ts"),
                    F.sum(_dec("value")).alias("day_sum"))
               .select("user_id", "ts", "day_sum"))
    j = asof_join(ev.select("event_id", "user_id", "ts", "event_type"),
                  anchors, "ts", ["user_id"], ["day_sum"])
    return (j.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("day_sum").cast("double").alias("sum_day_sums")))


ASOF_SQL = """
WITH anchors AS (
  SELECT user_id, MIN(ts) AS ts,
         SUM(CAST(value AS DECIMAL(12,2))) AS day_sum
  FROM events GROUP BY user_id, DATE_TRUNC('day', ts)
)
SELECT e.event_type, COUNT(*) AS n_events,
       CAST(SUM(a.day_sum) AS DOUBLE) AS sum_day_sums
FROM events e ASOF JOIN anchors a
  ON e.user_id = a.user_id AND e.ts >= a.ts
GROUP BY e.event_type
"""


def range_join_acctbal(spark, sf_dir):
    """Interval join: customers matched to their nation's
    [min_acctbal, min_acctbal + 5000] band (operators/range_join.py
    binned shape — equi-join on (nation, bin), never a nested loop)."""
    from iceberg_go_spark.operators.range_join import range_join
    cust = _read(spark, sf_dir, "customer")
    bands = (cust.groupBy("c_nationkey")
             .agg(F.min(_dec("c_acctbal")).alias("lo"))
             .withColumn("hi", F.col("lo")
                         + F.lit(5000).cast("decimal(12,2)"))
             .withColumnRenamed("c_nationkey", "n_key"))
    j = range_join(cust, bands, "c_acctbal", "lo", "hi",
                   bin_width=1000.0) \
        .filter(F.col("c_nationkey") == F.col("n_key"))
    return (j.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_in_band"),
                 F.sum(_dec("c_acctbal")).cast("double")
                 .alias("band_acctbal")))


RANGE_JOIN_SQL = """
WITH bands AS (
  SELECT c_nationkey AS n_key,
         MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS lo,
         MIN(CAST(c_acctbal AS DECIMAL(12,2)))
           + CAST(5000 AS DECIMAL(12,2)) AS hi
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, COUNT(*) AS n_in_band,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
         AS band_acctbal
FROM customer JOIN bands
  ON c_nationkey = n_key AND c_acctbal BETWEEN lo AND hi
GROUP BY c_nationkey
"""


def sessionization(spark, sf_dir):
    """Gap-based sessionization of the event stream (exact µs math so the
    DuckDB oracle computes identical session boundaries)."""
    from pyspark.sql import Window as W2
    ev = _read(spark, sf_dir, "events")
    gap_us = 30 * 60 * 1_000_000
    w = W2.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ-tolerant
    gap = us - F.lag(us).over(w)
    sess = (ev
            .withColumn("__new", F.when(gap.isNull() | (gap > gap_us), 1)
                        .otherwise(0))
            .withColumn("session_seq", F.sum("__new").over(
                w.rowsBetween(W2.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_seq")
            .agg(F.min(us).alias("session_start_us"),
                 F.max(us).alias("session_end_us"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                 .alias("total_value")))


SESSIONIZATION_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
), g AS (
  SELECT user_id, us, value,
    CASE WHEN lag(us) OVER w IS NULL
              OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
  SELECT user_id, us, value,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                     ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
)
SELECT user_id, session_seq::BIGINT AS session_seq,
  MIN(us) AS session_start_us, MAX(us) AS session_end_us,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, session_seq
"""


# -- engine (Iceberg-table) queries ----------------------------------------


def iceberg_scan_filter_project(spark, sf_dir):
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_month")
    scan = t.scan(E.and_(E.gt_eq("l_shipdate", "1997-03-01"),
                         E.lt("l_shipdate", "1997-09-01")),
                  selected=["l_orderkey", "l_linenumber", "l_quantity",
                            "l_extendedprice", "l_returnflag"])
    return scan.to_df(spark)


ICE_SCAN_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-09-01 00:00:00'
"""


def iceberg_bucket_scan(spark, sf_dir):
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_bucket")
    keys = [1, 7, 33, 68, 194, 450]
    scan = t.scan(E.in_("l_orderkey", keys),
                  selected=["l_orderkey", "l_suppkey", "l_quantity"])
    return scan.to_df(spark)


ICE_BUCKET_SQL = """
SELECT l_orderkey, l_suppkey, l_quantity FROM lineitem
WHERE l_orderkey IN (1, 7, 33, 68, 194, 450)
"""


def iceberg_time_travel(spark, sf_dir):
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_tt")
    return (t.scan(selected=["l_orderkey", "l_linenumber", "l_quantity"])
            .use_ref("v1").to_df(spark))


ICE_TT_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_orderkey % 2 = 0
"""


def iceberg_incremental_scan(spark, sf_dir):
    """CDC-style incremental read: rows appended AFTER the tagged snapshot
    (streaming/source.py incremental_append_df; parity
    snapshot_ancestry.go:103 AncestorsBetween)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_tt")
    from iceberg_go_spark.streaming.source import incremental_append_df
    v1 = t.metadata.refs["v1"].snapshot_id
    inc = incremental_append_df(spark, t, from_snapshot_id=v1)
    return inc.select("l_orderkey", "l_linenumber", "l_quantity")


ICE_INC_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_orderkey % 2 <> 0
"""


def iceberg_stream_read(spark, sf_dir):
    """Structured Streaming END-TO-END under the gate: the table's data
    directory is tailed by the real file-stream source
    (streaming/source.py read_stream — schema from table metadata,
    pathGlobFilter keeps delete files out), drained with
    trigger(availableNow=True) into a PARQUET file sink, and the
    committed sink output is the result frame.  Both snapshots' appends
    arrive exactly once; the oracle is the full underlying relation.
    The batch-incremental half of the streaming surface is covered by
    iceberg_incremental_scan; this row drives the actual readStream /
    writeStream machinery.

    The sink moved memory -> parquet in r10 (guide §5): the memory sink
    COLLECTS every streamed row to the driver (the profiled breakdown:
    addBatch 2.0 s of a 2.6 s trigger was the driver collect, and the
    returned LocalTableScan costs another ~1 s per single-threaded
    count) — a driver-OOM bomb at any real scale.  The file sink writes
    executor-side in parallel and the read-back honors the sink's
    _spark_metadata commit log, so only committed files are returned;
    the temp dir is fresh per invocation (no cross-run reuse)."""
    import tempfile
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_tt")
    from iceberg_go_spark.streaming.source import read_stream
    ck = tempfile.mkdtemp(prefix="ivb_stream_ck_")
    out = tempfile.mkdtemp(prefix="ivb_stream_out_") + "/rows"
    q = (read_stream(spark, t)
         .select("l_orderkey", "l_linenumber", "l_quantity")
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return spark.read.parquet(out)


ICE_STREAM_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
"""


def iceberg_mor_delete_scan(spark, sf_dir):
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.orders_mor")
    df = t.to_df(spark)
    return df.select("o_orderkey", "o_orderstatus", "o_totalprice",
                     F.date_format("o_orderdate", "yyyy-MM-dd")
                     .alias("orderdate"))


ICE_MOR_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM orders WHERE o_orderstatus <> 'F'
"""


def hypertable_rollup(spark, sf_dir):
    """Incrementally-refreshed hourly continuous aggregate
    (operators/rollup.py): built at partial load, then brought up to
    date bucket-by-bucket from the changelog after more appends and a
    MoR delete. Must equal a from-scratch recompute of the final source
    state — which is what the oracle computes."""
    cat = _fixtures(spark, sf_dir)
    df = cat.load_table("db.events_hourly").to_df(spark)
    return df.select(
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss")
        .alias("bucket_start"), "event_type", "n_events",
        F.col("total_value").cast("double").alias("total_value"))


HYPERTABLE_SQL = """
SELECT strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S')
         AS bucket_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE event_type <> 'purchase'
GROUP BY 1, 2
"""


def iceberg_changelog_scan(spark, sf_dir):
    """Row-level CDC over the MoR fixture: the append emits every order
    as an insert, the merge-on-read status-F delete emits those rows as
    deletes (table/changelog.py; Iceberg-Java changelog semantics — the
    reference exposes append-only incremental scans)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.orders_mor")
    ch = t.changelog(spark)
    return (ch.groupBy("_change_type", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(_dec("o_totalprice")).cast("double")
                 .alias("total_price")))


ICE_CHANGELOG_SQL = """
SELECT * FROM (
  SELECT 'insert' AS _change_type, o_orderstatus,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
           AS total_price
  FROM orders GROUP BY o_orderstatus
  UNION ALL
  SELECT 'delete' AS _change_type, o_orderstatus,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
           AS total_price
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus
)
"""


def iceberg_dv_delete_scan(spark, sf_dir):
    """Deletion-vector (v3) MoR scan on a year-partitioned table: the DV
    positions join the position-delete anti-join, expanded on the driver
    and broadcast under the row gate."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.orders_dv")
    return (t.scan(E.gt_eq("o_totalprice", 1000.0)).to_df(spark)
            .select("o_orderkey", "o_orderstatus", "o_totalprice"))


ICE_DV_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderstatus <> 'P' AND o_totalprice >= 1000.0
"""


def iceberg_upsert_scan(spark, sf_dir):
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.orders_up")
    return t.to_df(spark).select("o_orderkey", "o_totalprice",
                                 "o_orderstatus")


ICE_UPSERT_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 100 = 0 THEN 0.0 ELSE o_totalprice END
         AS o_totalprice,
       o_orderstatus
FROM orders
"""


def iceberg_merge_scan(spark, sf_dir):
    """Scan after two MERGE INTO commits (update+insert, then a
    conditional delete-by-merge): the row-delta pos-deletes and new
    files must compose (table/dml.py merge_into)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.orders_merged")
    return (t.to_df(spark)
            .groupBy("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("o_orderkey").alias("key_checksum")))


ICE_MERGE_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN 'MERGED'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders
  UNION ALL
  SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders) + 1,
         o_orderstatus, 'INSERTED'
  FROM orders WHERE o_orderkey % 13 = 0)
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_rows,
       SUM(o_orderkey)::BIGINT AS key_checksum
FROM base
WHERE NOT (o_orderstatus = 'F' AND o_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 0))
GROUP BY o_orderstatus, o_orderpriority
"""


def iceberg_defaults_scan(spark, sf_dir):
    """v3 default values end-to-end: pre-evolution files read the
    initial-default per file, write-default fills appends missing the
    column, explicit values win (table/scan.py, table/write.py)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.cust_defaults")
    return (t.to_df(spark)
            .groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("c_custkey").alias("key_checksum")))


def iceberg_nested_defaults_scan(spark, sf_dir):
    """v3 defaults under a LIST interior: pre-evolution files fill the
    initial default inside array<struct> elements (table/defaults.py
    transform rewrite), write-defaults fill appends missing the interior
    field, explicit values win."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.cust_nested_defaults")
    return (t.to_df(spark)
            .select("c_custkey",
                    F.explode("notes").alias("note"))
            .groupBy(F.col("note.flag").alias("flag"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("c_custkey").alias("key_checksum")))


ICE_NESTED_DEFAULTS_SQL = """
WITH base AS (
  SELECT c_custkey, 1 AS flag FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, 2 FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 2000000, 5 FROM customer WHERE c_custkey % 7 = 1)
SELECT flag::BIGINT AS flag, COUNT(*) AS n_rows,
       SUM(c_custkey)::BIGINT AS key_checksum
FROM base GROUP BY flag
"""


ICE_DEFAULTS_SQL = """
WITH base AS (
  SELECT c_custkey, 'legacy' AS tier FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, 'standard' FROM customer
  WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 2000000, 'explicit' FROM customer
  WHERE c_custkey % 10 = 1)
SELECT tier, COUNT(*) AS n_rows, SUM(c_custkey)::BIGINT AS key_checksum
FROM base GROUP BY tier
"""


def transforms_datetime(spark, sf_dir):
    from iceberg_go_spark import types as T
    from iceberg_go_spark.transforms import (DayTransform, HourTransform,
                                             MonthTransform, TruncateTransform,
                                             YearTransform)
    ev = _read(spark, sf_dir, "events")
    ts = F.col("ts")
    tt = T.TimestamptzType()
    return ev.select(
        "event_id",
        YearTransform().spark_column(ts, tt).alias("t_year"),
        MonthTransform().spark_column(ts, tt).alias("t_month"),
        DayTransform().spark_column(ts, tt).alias("t_day"),
        HourTransform().spark_column(ts, tt).alias("t_hour"),
        TruncateTransform(7).spark_column(F.col("user_id"), T.LongType())
        .alias("t_user_trunc"),
        TruncateTransform(3).spark_column(F.col("event_type"), T.StringType())
        .alias("t_type_trunc"))


TRANSFORMS_SQL = """
SELECT event_id,
  (year(ts) - 1970)::INT AS t_year,
  ((year(ts) - 1970) * 12 + month(ts) - 1)::INT AS t_month,
  ts::DATE AS t_day,  -- day partition values are DATE-typed (r8)
  floor(epoch(ts) / 3600)::INT AS t_hour,
  (user_id - ((user_id % 7 + 7) % 7))::BIGINT AS t_user_trunc,
  substring(event_type, 1, 3) AS t_type_trunc
FROM events
"""


# -- dedup / text ----------------------------------------------------------


def decontaminate_spans(spark, sf_dir):
    """Span-level decontamination: every 100th document plays the
    held-out eval set; corpus spans covered by any 4-word benchmark
    gram are stripped and the surviving tokens reassemble in order
    (operators/dedup.py strip_contaminated_spans — broadcast benchmark
    grams, zero corpus shuffle in detection)."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    corpus = docs.filter(F.col("doc_id") % 100 != 0)
    return DD.strip_contaminated_spans(corpus, bench, n=4)


DECON_SPAN_SQL = """
WITH ws AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents WHERE doc_id % 100 <> 0),
bws AS (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents WHERE doc_id % 100 = 0),
tot AS (SELECT doc_id, len(ws)::BIGINT AS nt FROM ws),
toks AS (SELECT doc_id, p, ws[p] AS w
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, len(ws))) AS p
               FROM ws)),
g0 AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS s
       FROM ws),
g AS (SELECT doc_id, s,
             array_to_string(ws[s:s+3], ' ') AS gram
      FROM g0),
bg AS (SELECT DISTINCT array_to_string(ws[s:s+3], ' ') AS gram
       FROM (SELECT ws,
                    unnest(generate_series(1, greatest(len(ws) - 3, 0)))
                      AS s
             FROM bws)),
cov AS (SELECT DISTINCT doc_id, s + o AS p
        FROM (SELECT doc_id, s FROM g JOIN bg USING (gram))
        CROSS JOIN generate_series(0, 3) AS t(o)),
kept AS (SELECT toks.doc_id, toks.p, toks.w
         FROM toks LEFT JOIN cov
           ON toks.doc_id = cov.doc_id AND toks.p = cov.p
         WHERE cov.p IS NULL),
agg AS (SELECT doc_id,
               string_agg(w, ' ' ORDER BY p) AS clean_text,
               COUNT(*)::BIGINT AS kept_tokens
        FROM kept GROUP BY doc_id)
SELECT tot.doc_id AS doc_id,
       COALESCE(clean_text, '') AS clean_text,
       COALESCE(kept_tokens, 0)::BIGINT AS kept_tokens,
       (nt - COALESCE(kept_tokens, 0))::BIGINT AS removed_tokens
FROM tot LEFT JOIN agg USING (doc_id)
"""


def token_budget_mix(spark, sf_dir):
    """Water-filling token-budget allocation across sources under a
    2-epoch cap (operators/curation.py token_budget_allocation):
    exact-integer closed form — at this budget a couple of small
    sources hit their cap and the rest split the remainder by isqrt
    weight, so both branches of the waterline are exercised."""
    docs = _read(spark, sf_dir, "documents")
    return CU.token_budget_allocation(docs, budget_tokens=52_000,
                                      max_epochs=2)


def _token_budget_sql(budget: int = 52_000, me: int = 2) -> str:
    toks = TX.tokens_sql("text")
    return f"""
WITH per AS (
  SELECT source, SUM(len({toks}))::BIGINT AS n_tokens
  FROM documents GROUP BY source
),
y0 AS (SELECT source, n_tokens,
              CAST(floor(sqrt(n_tokens)) AS BIGINT) AS y FROM per),
y1 AS (SELECT source, n_tokens,
              CASE WHEN y*y > n_tokens THEN y-1 ELSE y END AS y FROM y0),
w  AS (SELECT source, n_tokens, (n_tokens * {me})::BIGINT AS cap_tokens,
              CASE WHEN (y+1)*(y+1) <= n_tokens THEN y+1 ELSE y END AS w
       FROM y1),
r AS (
  SELECT source, n_tokens, cap_tokens, w,
         SUM(cap_tokens::HUGEINT)
           OVER (ORDER BY n_tokens, source) AS cp,
         SUM(w::HUGEINT) OVER ()
           - SUM(w::HUGEINT) OVER (ORDER BY n_tokens, source) AS wafter
  FROM w
),
c AS (
  SELECT *, (w = 0 OR cap_tokens::HUGEINT * wafter
                     <= ({budget}::HUGEINT - cp) * w::HUGEINT) AS capped
  FROM r
),
t AS (
  SELECT *,
         SUM(CASE WHEN capped THEN cap_tokens::HUGEINT
                  ELSE 0::HUGEINT END) OVER () AS ct,
         SUM(CASE WHEN capped THEN 0::HUGEINT
                  ELSE w::HUGEINT END) OVER () AS wu
  FROM c
),
a AS (
  SELECT source, n_tokens, cap_tokens,
         CAST(CASE WHEN capped THEN cap_tokens::HUGEINT
                   WHEN wu = 0 THEN 0::HUGEINT
                   ELSE (w::HUGEINT
                         * greatest({budget}::HUGEINT - ct, 0)) // wu
              END AS BIGINT) AS alloc_tokens
  FROM t
)
SELECT source, n_tokens, cap_tokens, alloc_tokens,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE CAST((alloc_tokens::HUGEINT * 1000000) // n_tokens
                      AS BIGINT) END AS epochs_e6
FROM a
"""


def dsir_resample_top(spark, sf_dir):
    """DSIR-style importance resampling (Xie et al. 2023): hashed-
    unigram likelihood-ratio scores against the en/src0 slice as the
    target distribution, keep the top 200 documents.  Exact integer
    lineage (md5-prefix buckets, driver-side big-int ratio table,
    clamped per-bucket ratios) — see operators/curation.py
    importance_weights for the 100 TB shape."""
    docs = _read(spark, sf_dir, "documents")
    target = (F.col("lang") == "en") & (F.col("source") == "src0")
    return CU.importance_resample(docs, target, n_keep=200)


def _dsir_sql(n_keep: int = 200, n_buckets: int = 4096,
              clamp: int = 1_000_000_000) -> str:
    b = _hex12_to_int_sql("md5(w)")
    toks = TX.tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' AND source = 'src0' THEN 1 ELSE 0 END AS tf,
         ({b}) % {n_buckets} AS b
  FROM (SELECT doc_id, lang, source, unnest({toks}) AS w FROM documents)
),
stats AS (
  SELECT b, count(*)::HUGEINT AS r, sum(tf)::HUGEINT AS t
  FROM tok GROUP BY b
),
tot AS (SELECT sum(r) AS rr, sum(t) AS tt FROM stats),
lam AS (
  SELECT b, LEAST({clamp},
                  ((t + 1) * (rr + {n_buckets}) * 1000000)
                  // ((r + 1) * (tt + {n_buckets})))::BIGINT AS lam
  FROM stats CROSS JOIN tot
),
sc AS (
  SELECT doc_id, sum(lam)::BIGINT AS score_e6
  FROM tok JOIN lam USING (b) GROUP BY doc_id
)
SELECT d.doc_id, coalesce(sc.score_e6, 0) AS score_e6
FROM documents d LEFT JOIN sc USING (doc_id)
ORDER BY score_e6 DESC, doc_id
LIMIT {n_keep}
"""


def dedup_exact(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return DD.exact_dedup(docs).select("doc_id")


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
"""


def dedup_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return DD.exact_dedup_normalized(docs).select("doc_id")


DEDUP_FP_SQL = f"""
SELECT min(doc_id) AS doc_id FROM documents
GROUP BY {TX.fingerprint_sql('text')}
"""


def dedup_minhash_lsh(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return DD.minhash_lsh_groups(docs).select("band", "band_key", "doc_id")


def _hex12_to_int_sql(h: str) -> str:
    """DuckDB: integer value of the first 12 hex chars (= Spark conv)."""
    terms = [
        f"((strpos('0123456789abcdef', substring({h}, {j + 1}, 1)) - 1)"
        f"::BIGINT << {4 * (11 - j)})"
        for j in range(12)]
    return "(" + " + ".join(terms) + ")"


def _minhash_sql(num_hashes: int = 16, bands: int = 4, ngram: int = 3) -> str:
    from iceberg_go_spark.operators.dedup import (MINHASH_A, MINHASH_B,
                                                  MINHASH_P)
    grams = TX.char_ngrams_sql("text", ngram)
    mixes = ", ".join(
        f"min(({MINHASH_A[s]} * h + {MINHASH_B[s]}) % {MINHASH_P}) AS h{s}"
        for s in range(num_hashes))
    r = num_hashes // bands
    selects = []
    for b in range(bands):
        key = " || '|' || ".join(f"h{b * r + j}" for j in range(r))
        selects.append(f"SELECT doc_id, {b} AS band, md5({key}) AS band_key "
                       f"FROM sig")
    u = " UNION ALL ".join(selects)
    return (
        f"WITH g AS (SELECT doc_id, unnest({grams}) AS gram FROM documents),\n"
        f"h AS (SELECT doc_id, {_hex12_to_int_sql('md5(gram)')} AS h FROM g),\n"
        f"sig AS (SELECT doc_id, {mixes} FROM h GROUP BY doc_id)\n"
        f"SELECT band, band_key, doc_id FROM ({u}) "
        f"QUALIFY count(*) OVER (PARTITION BY band, band_key) > 1")


def dedup_simhash(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       TX.simhash16(F.col("text")).alias("simhash"))


SIMHASH_SQL = f"""
SELECT doc_id, {TX.simhash16_sql('text')}::BIGINT AS simhash FROM documents
"""


def dedup_simhash_near(spark, sf_dir):
    """64-bit SimHash hamming<=3 near-dup pairs via pigeonhole
    16-bit-band blocking (equi-join on band keys, never all-pairs); the
    DuckDB oracle is the brute-force quadratic self-join, so the value
    check proves the blocking loses no pair.  max_bucket_size=None
    pins the LOSSLESS mode to match that exact oracle at any scale —
    the production default salt-splits degenerate buckets (documented
    recall loss there) and is pinned by
    tests/test_curation.py::test_simhash_degenerate_bucket_salt_split."""
    docs = _read(spark, sf_dir, "documents")
    return (DD.simhash_near_dup_pairs(docs, max_hamming=3,
                                      max_bucket_size=None)
            .withColumn("hamming", F.col("hamming").cast("long")))


_S64 = TX.simhash64_parts_sql("text")
SIMHASH_NEAR_SQL = f"""
WITH h AS (
  SELECT doc_id, {_S64[0]}::BIGINT AS p0, {_S64[1]}::BIGINT AS p1,
         {_S64[2]}::BIGINT AS p2, {_S64[3]}::BIGINT AS p3
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       (bit_count(xor(a.p0, b.p0)) + bit_count(xor(a.p1, b.p1)) +
        bit_count(xor(a.p2, b.p2)) + bit_count(xor(a.p3, b.p3)))::BIGINT
       AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE (bit_count(xor(a.p0, b.p0)) + bit_count(xor(a.p1, b.p1)) +
       bit_count(xor(a.p2, b.p2)) + bit_count(xor(a.p3, b.p3))) <= 3
"""


def ngram_jaccard_dups(spark, sf_dir):
    """Exact blocked all-pairs n-gram Jaccard — the GROUND-TRUTH kernel,
    quadratic within length blocks by construction, so the query runs it
    on a deterministic 1-in-5 sample (73 s full-corpus at sf0.1 vs ~3 s;
    the full-corpus scale path is jaccard_verified_dups, which verifies
    only LSH candidates)."""
    docs = _read(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0)
    return DD.ngram_jaccard_pairs(docs, threshold=0.6)


def _jaccard_sql(threshold: float = 0.6, ngram: int = 3,
                 sample_mod: int = 5) -> str:
    grams = TX.char_ngrams_sql("text", ngram)
    return f"""
WITH g AS (
  SELECT doc_id, {grams} AS grams,
         floor(log2(len({grams}) + 1)) AS blk
  FROM documents WHERE doc_id % {sample_mod} = 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       (len(list_intersect(a.grams, b.grams))::BIGINT * 1000000)
         // len(list_distinct(a.grams || b.grams))::BIGINT AS jaccard_e6
FROM g a JOIN g b
  ON a.doc_id < b.doc_id AND a.blk = b.blk
WHERE len(list_distinct(a.grams || b.grams)) > 0
  AND len(list_intersect(a.grams, b.grams))::BIGINT * 1000000
      >= {int(round(threshold * 1_000_000))}
         * len(list_distinct(a.grams || b.grams))::BIGINT
"""


def dedup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution, the scalable industrial pipeline:
    MinHash-LSH band buckets -> star edges (each doc to its bucket's min
    member — linear in bucket sizes, same components as clique edges) ->
    connected components (operators/dedup.py connected_components —
    iterative min-label propagation, edge-list shuffles only).  An
    all-pairs jaccard edge list goes quadratic within blocks (measured
    850k pairs / 80 s from 5k docs at sf0.1); this stays linear."""
    groups = dedup_minhash_lsh(spark, sf_dir)  # band, band_key, doc_id
    w = W.partitionBy("band", "band_key")
    edges = (groups.withColumn("__m", F.min("doc_id").over(w))
             .filter(F.col("doc_id") != F.col("__m"))
             .select(F.col("__m").alias("id_a"),
                     F.col("doc_id").alias("id_b"))
             .distinct())
    return DD.connected_components(edges)


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE lsh AS ({_minhash_sql()}),
e0 AS (SELECT doc_id,
              MIN(doc_id) OVER (PARTITION BY band, band_key) AS m
       FROM lsh),
pairs AS (SELECT DISTINCT m AS id_a, doc_id AS id_b
          FROM e0 WHERE doc_id <> m),
e AS (SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
reach(id, lab) AS (
  SELECT a, a FROM e
  UNION
  SELECT e.b, reach.lab FROM reach JOIN e ON reach.id = e.a
)
SELECT id AS doc_id, MIN(lab)::BIGINT AS cluster_id FROM reach GROUP BY id
"""


def text_stats(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return TOP.text_stats(docs)


TEXT_STATS_SQL = f"""
SELECT doc_id,
  length(text)::INT AS n_chars,
  ({TX.token_count_sql('text')})::INT AS n_tokens,
  ({TX.bpe_ish_token_count_sql('text')})::INT AS n_subword_tokens,
  {TX.alpha_ratio_e6_sql('text')} AS alpha_ratio_e6,
  {TX.stopword_ratio_e6_sql('text')} AS stopword_ratio_e6,
  {TX.quality_score_e6_sql('text')} AS quality_e6,
  {TX.lang_id_sql('text')} AS lang_guess,
  {TX.fingerprint_sql('text')} AS fingerprint
FROM documents
"""


def lang_histogram(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return TOP.language_histogram(docs)


LANG_HIST_SQL = f"""
SELECT {TX.lang_id_sql('text')} AS lang_guess, COUNT(*) AS n_docs
FROM documents GROUP BY lang_guess
"""


def token_summary_by_lang(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return TOP.token_count_summary(docs)


TOKEN_SUMMARY_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
  SUM({TX.token_count_sql('text')})::BIGINT AS total_tokens,
  {TX.ratio_e6_dec_sql(f"SUM({TX.token_count_sql('text')})",
                       "COUNT(*)")} AS avg_tokens_e6,
  MAX(length(text))::INT AS max_chars
FROM documents GROUP BY lang
"""


# -- similarity ------------------------------------------------------------


def doc_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (rolling k-gram hash, min-per-window) over
    documents (operators/text.py winnow_fingerprints)."""
    docs = _read(spark, sf_dir, "documents")
    return TOP.winnow_fingerprints(docs)


def _doc_fp_sql(k: int = 5, window: int = 4) -> str:
    gram = f"substring(n, i, {k})"
    h = _hex12_to_int_sql(f"md5({gram})")
    return f"""
WITH norm AS (
  SELECT doc_id, {TX.normalized_text_sql('text')} AS n FROM documents),
hashed AS (
  SELECT doc_id, i, {h} AS h
  FROM (SELECT doc_id, n,
               unnest(range(1, length(n) - {k - 1} + 1))::INT AS i
        FROM norm WHERE length(n) >= {k})),
winnowed AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
         AS fp
  FROM hashed)
SELECT doc_id, COUNT(*) AS n_fingerprints,
       MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM winnowed GROUP BY doc_id
"""


def dedup_paragraphs_clean(spark, sf_dir):
    """Paragraph-level corpus dedup (RefinedWeb-style boilerplate
    removal): the corpus has no newlines, so paragraphs are derived
    deterministically by splitting on ' a ' in BOTH engines; paragraphs
    appearing in more than 2 documents are dropped and documents
    reassembled from the survivors in order."""
    docs = _read(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace("text", " a ", "\n"))
    return CU.dedup_paragraphs(docs, max_occurrences=2)


PARA_DEDUP_SQL = """
WITH base AS (
  SELECT doc_id, string_split(replace(text, ' a ', chr(10)), chr(10))
         AS parts
  FROM documents
),
p0 AS (
  SELECT doc_id, unnest(parts) AS para0,
         unnest(generate_series(1, len(parts))) AS pos
  FROM base
),
p AS (
  SELECT doc_id, pos, trim(para0) AS para, md5(trim(para0)) AS h
  FROM p0 WHERE trim(para0) <> ''
),
c AS (
  SELECT h, count(DISTINCT doc_id) AS docs FROM p GROUP BY h
)
SELECT p.doc_id,
       coalesce(string_agg(CASE WHEN c.docs <= 2 THEN p.para END,
                           chr(10) ORDER BY p.pos), '') AS clean_text,
       sum(CASE WHEN c.docs <= 2 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       sum(CASE WHEN c.docs > 2 THEN 1 ELSE 0 END)::BIGINT AS n_dropped
FROM p JOIN c USING (h)
GROUP BY p.doc_id
"""


def event_funnel(spark, sf_dir):
    """Ordered funnel view -> click -> purchase: users per deepest
    stage reached (stage k needs step k at-or-after the earliest
    completion of stage k-1).  Chain of co-partitioned keyed
    aggregations; the oracle is the classic correlated-min SQL."""
    ev = _read(spark, sf_dir, "events")
    return FU.funnel_counts(ev, ["view", "click", "purchase"],
                            within_seconds=86400) \
        .orderBy("funnel_stage")


FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.t1
    AND e.ts <= s1.t1 + INTERVAL 86400 SECOND
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
    AND e.ts <= s2.t2 + INTERVAL 86400 SECOND
  GROUP BY e.user_id
),
stages AS (
  SELECT user_id,
         CASE WHEN user_id IN (SELECT user_id FROM s3) THEN 3
              WHEN user_id IN (SELECT user_id FROM s2) THEN 2
              ELSE 1 END AS funnel_stage
  FROM s1
)
SELECT funnel_stage::BIGINT AS funnel_stage,
       count(*)::BIGINT AS n_users
FROM stages GROUP BY 1 ORDER BY 1
"""


def user_retention_cohorts(spark, sf_dir):
    """Weekly retention triangle: users by first-activity week, counted
    active per whole-week offset from their cohort week."""
    ev = _read(spark, sf_dir, "events")
    return FU.retention_cohorts(ev)


RETENTION_SQL = """
WITH w AS (
  SELECT user_id, date_trunc('week', ts)::DATE AS wk FROM events
),
first AS (
  SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY user_id
),
act AS (
  SELECT DISTINCT w.user_id, first.cohort_week,
         ((w.wk - first.cohort_week) / 7)::BIGINT AS week_offset
  FROM w JOIN first USING (user_id)
)
SELECT cohort_week, week_offset,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM act GROUP BY 1, 2
"""


def props_json_stats(spark, sf_dir):
    """JSON property extraction (props is a JSON object column): per
    event type, count + avg/max of $.k."""
    ev = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.avg(k), 6).alias("avg_k"),
                 F.max(k).alias("max_k")))


PROPS_JSON_SQL = """
SELECT event_type, count(*)::BIGINT AS n_events,
       round(avg((props ->> '$.k')::BIGINT), 6) AS avg_k,
       max((props ->> '$.k')::BIGINT) AS max_k
FROM events GROUP BY event_type
"""


def bm25_search(spark, sf_dir):
    """Okapi BM25 relevance for the query bag {table, scan, window}
    over the documents corpus (sparse retrieval ranking: query-filtered
    token explode, broadcast idf table, co-keyed length join)."""
    import iceberg_go_spark.operators.text as TXO
    docs = _read(spark, sf_dir, "documents")
    return TXO.bm25_scores(docs, ["table", "scan", "window"])


_BM25_TERMS = "['table', 'scan', 'window']"
BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents
),
lens AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
hits AS (
  SELECT doc_id, probe, len(list_filter(t, x -> x = probe)) AS tf
  FROM (SELECT doc_id, t,
               unnest(list_intersect(list_distinct(t), {_BM25_TERMS}))
               AS probe
        FROM toks)
),
dfreq AS (SELECT probe, count(*) AS df FROM hits GROUP BY probe),
idf AS (
  SELECT probe, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf
  FROM dfreq, stats
),
scored AS (
  SELECT h.doc_id,
         idf.idf * h.tf * (1.2 + 1)
         / (h.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS sc
  FROM hits h
  JOIN idf USING (probe)
  JOIN lens l USING (doc_id), stats s
)
SELECT doc_id, sum(round(sc * 1000000)::BIGINT)::BIGINT AS bm25_e6,
       count(*)::BIGINT AS n_terms_hit
FROM scored GROUP BY doc_id
"""


def repetition_metrics(spark, sf_dir):
    """Gopher-style repetition signals per document
    (operators/curation.py repetition_metrics)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.repetition_metrics(docs)


REPETITION_SQL = """
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> ''))
         AS w
  FROM documents),
wc AS (SELECT doc_id, w, COUNT(*)::BIGINT AS n FROM w GROUP BY 1, 2),
wa AS (SELECT doc_id, SUM(n)::BIGINT AS n_words,
              COUNT(*)::BIGINT AS n_distinct_words, MAX(n) AS top_w
       FROM wc GROUP BY 1),
ws AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
              AS ws
       FROM documents),
bg0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM ws WHERE len(ws) >= 2),
bg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg FROM bg0),
bc AS (SELECT doc_id, bg, COUNT(*)::BIGINT AS n FROM bg GROUP BY 1, 2),
ba AS (SELECT doc_id, SUM(n)::BIGINT AS n_bg, MAX(n) AS top_bg
       FROM bc GROUP BY 1)
SELECT wa.doc_id AS doc_id, n_words, n_distinct_words,
  ((n_words - n_distinct_words) * 1000000) // n_words AS dup_word_frac_e6,
  (top_w * 1000000) // n_words AS top_word_frac_e6,
  (CASE WHEN coalesce(n_bg, 0) = 0 THEN 0
        ELSE (coalesce(top_bg, 0) * 1000000) // n_bg END)::BIGINT
    AS top_bigram_frac_e6
FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id
"""


def decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination: every 100th document plays the held-out
    eval set; corpus docs sharing any 8-word shingle with it are flagged
    (operators/curation.py decontaminate — broadcast the benchmark
    shingles, stream the corpus)."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    corpus = docs.filter(F.col("doc_id") % 100 != 0)
    # n=4 on this synthetic corpus of short random word streams; real
    # decontamination pipelines use the operator default (8-13 words)
    return CU.decontaminate(corpus, bench, n=4)


def token_rarity_scores(spark, sf_dir):
    """Rank-based token-rarity scoring (deterministic perplexity proxy;
    operators/curation.py token_rarity)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.token_rarity(docs)


TOKEN_RARITY_SQL = """
WITH w AS (SELECT doc_id,
                  unnest(list_filter(string_split(text, ' '),
                                     x -> x <> '')) AS w
           FROM documents),
v AS (SELECT w, COUNT(*)::BIGINT AS c FROM w GROUP BY 1),
r AS (SELECT w, row_number() OVER (ORDER BY c DESC, w)::BIGINT AS rank
      FROM v)
SELECT doc_id, COUNT(*)::BIGINT AS n_tokens, SUM(rank)::BIGINT AS sum_rank,
       MAX(rank)::BIGINT AS max_rank,
       ((SUM(rank)::HUGEINT * 1000000) // COUNT(*)::HUGEINT)::BIGINT
         AS mean_rank_e6
FROM w JOIN r USING (w) GROUP BY doc_id
"""


def boilerplate_ngram_flags(spark, sf_dir):
    """Per-source boilerplate 3-grams (appearing in >=3 documents of the
    same source) flagged per document (operators/curation.py
    boilerplate_ngrams)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.boilerplate_ngrams(docs, n=3, min_docs=3)


BOILERPLATE_SQL = """
WITH ws AS (SELECT doc_id, source,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents),
sh0 AS (SELECT doc_id, source, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
        FROM ws),
sh AS (SELECT DISTINCT doc_id, source,
              md5(array_to_string(ws[i:i+2], ' ')) AS shingle
       FROM sh0),
freq AS (SELECT source, shingle
         FROM sh GROUP BY source, shingle
         HAVING COUNT(*) >= 3)
SELECT sh.doc_id AS doc_id, COUNT(*)::BIGINT AS n_ngrams,
       SUM(CASE WHEN freq.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_boiler,
       (SUM(CASE WHEN freq.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        * 1000000) // COUNT(*)::BIGINT AS boiler_frac_e6
FROM sh LEFT JOIN freq
  ON sh.source = freq.source AND sh.shingle = freq.shingle
GROUP BY sh.doc_id
"""


DECONTAMINATE_SQL = """
WITH ws AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents),
sh0 AS (SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS i
        FROM ws),
sh AS (SELECT DISTINCT doc_id,
              md5(array_to_string(ws[i:i+3], ' ')) AS shingle
       FROM sh0),
bench AS (SELECT shingle, doc_id AS bench_id FROM sh WHERE doc_id % 100 = 0),
corp AS (SELECT * FROM sh WHERE doc_id % 100 <> 0)
SELECT corp.doc_id AS doc_id, COUNT(*)::BIGINT AS n_hits,
       COUNT(DISTINCT bench_id)::BIGINT AS n_benchmark_docs
FROM corp JOIN bench USING (shingle) GROUP BY 1
"""


def pack_sequences_q(spark, sf_dir):
    """Sequence packing: lay documents into 2048-token context windows
    per language shard (operators/curation.py pack_sequences — one
    in-partition cumsum per shard, no global sort)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.pack_sequences(docs, budget=2048)


PACK_SQL = """
WITH t AS (
  SELECT lang AS shard, doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_tokens
  FROM documents),
c AS (
  SELECT shard, doc_id, n_tokens,
         coalesce(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS before
  FROM t)
SELECT shard, doc_id, n_tokens,
       (before // 2048)::BIGINT AS pack_id,
       (before % 2048)::BIGINT AS pack_offset
FROM c
"""


def pii_scrub(spark, sf_dir):
    """PII redaction with cross-engine-identical regexes
    (operators/curation.py scrub_pii — stateless, codegen'd).  The
    synthetic corpus carries no PII, so the query plants a
    deterministic email/IP/phone per doc first; counts and the
    scrubbed-text md5 are value-checked."""
    docs = _read(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text", F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com at 10."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".0.1 or +1555"),
            F.col("doc_id").cast("string")))
    return (CU.scrub_pii(aug)
            .withColumn("scrub_md5", F.md5("scrubbed"))
            .drop("scrubbed"))


PII_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com at 10.' ||
         (doc_id % 256) || '.0.1 or +1555' || doc_id AS text
  FROM documents),
s AS (
  SELECT doc_id,
    len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
      AS n_email,
    len(regexp_extract_all(text,
        '\b(\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ipv4,
    len(regexp_extract_all(text, '\+\d{7,15}\b'))::BIGINT AS n_phone,
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
          '<EMAIL>', 'g'),
        '\b(\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g'),
      '\+\d{7,15}\b', '<PHONE>', 'g') AS scrubbed
  FROM aug)
SELECT doc_id, n_email, n_ipv4, n_phone, md5(scrubbed) AS scrub_md5 FROM s
"""


def leakage_safe_split_stats(spark, sf_dir):
    """Group-aware train/val split: documents are assigned by
    md5(normalized-text fingerprint), so exact/normalized duplicates
    can never straddle the split (operators/curation.py
    leakage_safe_split — stateless, shuffle-free, engine-reproducible)."""
    docs = _read(spark, sf_dir, "documents")
    return (CU.leakage_safe_split(docs)
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("id_checksum")))


LEAKAGE_SPLIT_SQL = f"""
SELECT CASE WHEN substring(md5({TX.normalized_text_sql('text')}), 1, 2) < '1a'
            THEN 'val' ELSE 'train' END AS split,
       lang, COUNT(*)::BIGINT AS n_docs,
       SUM(doc_id)::BIGINT AS id_checksum
FROM documents GROUP BY split, lang
"""


def stratified_sample_by_lang(spark, sf_dir):
    """Deterministic md5-keyed 25% sample, rolled up per language
    (operators/curation.py stratified_sample: stateless shuffle-free
    predicate, engine-reproducible)."""
    docs = _read(spark, sf_dir, "documents")
    return (CU.stratified_sample(docs).groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.sum("doc_id").alias("id_checksum")))


SAMPLE_SQL = """
SELECT lang, COUNT(*)::BIGINT AS n_sampled,
       SUM(doc_id)::BIGINT AS id_checksum
FROM documents
WHERE substring(md5(doc_id::VARCHAR), 1, 2) < '40'
GROUP BY lang
"""


def mixture_sample_by_source(spark, sf_dir):
    """Per-stratum mixture reweighting: en kept at 50%, zh at 75%,
    everything else at the 25% default (operators/curation.py
    mixture_sample: stateless md5-cutoff predicate per stratum)."""
    docs = _read(spark, sf_dir, "documents")
    return (CU.mixture_sample(docs, {"en": "80", "zh": "c0"})
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.sum("doc_id").alias("id_checksum")))


MIXTURE_SQL = """
SELECT lang, COUNT(*)::BIGINT AS n_sampled,
       SUM(doc_id)::BIGINT AS id_checksum
FROM documents
WHERE substring(md5(doc_id::VARCHAR), 1, 2) <
      CASE WHEN lang = 'zh' THEN 'c0'
           WHEN lang = 'en' THEN '80' ELSE '40' END
GROUP BY lang
"""


def shuffle_shards_export(spark, sf_dir):
    """Deterministic global shuffle into 16 training shards with
    resumable in-shard positions (operators/curation.py shuffle_shards:
    md5 permutation, per-shard rank — no global sort)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.shuffle_shards(docs, n_shards=16)


SHUFFLE_SHARDS_SQL = f"""
SELECT ({_hex12_to_int_sql("md5(doc_id::VARCHAR)")} % 16)::INT AS shard,
       row_number() OVER (
           PARTITION BY {_hex12_to_int_sql("md5(doc_id::VARCHAR)")} % 16
           ORDER BY md5(doc_id::VARCHAR), doc_id)::INT AS pos,
       doc_id
FROM documents
"""


def semantic_dedup_embeddings(spark, sf_dir):
    """SemDeDup over the embeddings table: spherical k-means clusters
    (k=8, 2 Lloyd iterations) then within-cluster cosine pruning at
    0.45 — lowest vec_id of each semantic-duplicate group survives
    (operators/similarity.py semantic_dedup; real embeddings use the
    0.95 default — the synthetic test vectors are near-orthogonal, so
    the query lowers the cutoff to exercise the duplicate branch)."""
    emb = _read(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(emb, k=8, iters=2, threshold=0.45)


def _semantic_dedup_sql(k: int = 8, threshold: float = 0.45) -> str:
    cos0 = V.quantized_cosine_e6_sql("v.qq", "c.csum")
    cosab = V.quantized_cosine_e6_sql("a.qq", "b.qq")
    thr_e6 = int(round(threshold * 1_000_000))
    return f"""
WITH q AS (SELECT vec_id, {V.quantize_sql('embedding')} AS qq
           FROM embeddings),
c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster,
              qq AS csum
       FROM q ORDER BY vec_id LIMIT {k}),
a0 AS (
  SELECT vec_id, cluster, qq FROM (
    SELECT v.vec_id, c.cluster, v.qq,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos0} DESC,
                                       c.cluster) AS rn
    FROM q v CROSS JOIN c0 c) WHERE rn = 1),
sums AS (
  SELECT cluster, pos, SUM(val)::BIGINT AS s
  FROM (SELECT cluster,
               unnest(range(0, len(qq)))::INT AS pos,
               unnest(qq) AS val
        FROM a0)
  GROUP BY cluster, pos),
c1u AS (SELECT cluster, list(s ORDER BY pos) AS csum
        FROM sums GROUP BY cluster),
c1 AS (
  SELECT c0.cluster, COALESCE(c1u.csum, c0.csum) AS csum
  FROM c0 LEFT JOIN c1u ON c0.cluster = c1u.cluster),
af AS (
  SELECT vec_id, cluster, qq FROM (
    SELECT v.vec_id, c.cluster, v.qq,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos0} DESC,
                                       c.cluster) AS rn
    FROM q v CROSS JOIN c1 c) WHERE rn = 1),
dups AS (
  SELECT DISTINCT a.vec_id FROM af a JOIN af b
    ON a.cluster = b.cluster AND b.vec_id < a.vec_id
  WHERE {cosab} >= {thr_e6})
SELECT af.vec_id, af.cluster,
       CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
FROM af LEFT JOIN dups d ON af.vec_id = d.vec_id
"""


def _duplicated_docs(spark, sf_dir):
    """documents plus shifted-id copies of every %3 doc — deterministic
    duplicate mass for the keep-best / soft-dedup queries (the raw
    testdata has no exact duplicates)."""
    docs = _read(spark, sf_dir, "documents")
    copies = (docs.filter(F.col("doc_id") % 3 == 0)
              .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return docs.unionByName(copies)


def dedup_keep_best(spark, sf_dir):
    """Exact dedup keeping the highest-scoring copy per content group
    (operators/dedup.py exact_dedup_keep_best); the score ranks the
    shifted copies above the originals, so survivors of duplicated
    groups are the copies — demonstrably not keep-min-id."""
    d = _duplicated_docs(spark, sf_dir)
    scored = d.withColumn(
        "score", F.when(F.col("doc_id") >= 1_000_000, 2).otherwise(1))
    out = DD.exact_dedup_keep_best(scored, "score")
    return out.select("doc_id", "lang", "n_copies")


KEEP_BEST_SQL = """
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 3 = 0),
scored AS (
  SELECT *, CASE WHEN doc_id >= 1000000 THEN 2 ELSE 1 END AS score,
         md5(text) AS h FROM corpus)
SELECT doc_id, lang, n_copies FROM (
  SELECT doc_id, lang,
         COUNT(*) OVER (PARTITION BY h)::BIGINT AS n_copies,
         row_number() OVER (PARTITION BY h
                            ORDER BY score DESC, doc_id) AS rn
  FROM scored) WHERE rn = 1
"""


def soft_dedup_weights(spark, sf_dir):
    """Soft dedup: 1/n_copies weights instead of dropping
    (operators/dedup.py soft_dedup_weights)."""
    d = _duplicated_docs(spark, sf_dir)
    return DD.soft_dedup_weights(d)


SOFT_DEDUP_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0)
SELECT doc_id,
       COUNT(*) OVER (PARTITION BY md5(text))::BIGINT AS n_copies,
       (1000000 // COUNT(*) OVER (PARTITION BY md5(text)))::BIGINT
         AS weight_e6
FROM corpus
"""


def _queries_df(spark, sf_dir, n: int = 5):
    emb = _read(spark, sf_dir, "embeddings")
    return (emb.orderBy("vec_id").limit(n)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


def ann_topk_bruteforce(spark, sf_dir):
    """Exact all-pairs cosine top-10 per probe query — map-side batch
    top-k numpy kernel + one candidate-rank window (the r10 shape; the
    crossJoin + per-pair interpreted HOF dot is gone —
    operators/similarity.py brute_force_topk)."""
    emb = _read(spark, sf_dir, "embeddings")
    qs = _queries_df(spark, sf_dir)
    return SIM.brute_force_topk(emb, qs, k=10, exclude_self=True)


def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, sign-bucket LSH blocked —
    candidate pairs only within a bucket (2^dims reduction), quantized
    cosine for engine-exact comparison (operators/dedup.py
    embedding_near_dup_pairs).  bucket_dims is PINNED to 8 and the salt
    bound disabled here because the static oracle SQL must block
    identically (sign_bucket_sql(8), no xxhash64 in DuckDB); production
    defaults are bucket_dims="auto" + max_bucket_size=4096 — that path
    is pinned by tests/test_operators.py instead."""
    emb = _read(spark, sf_dir, "embeddings")
    return DD.embedding_near_dup_pairs(
        None, emb, threshold=0.25, bucket_dims=8, max_bucket_size=None)


def _near_dup_sql() -> str:
    qa = V.quantize_sql("a.embedding")
    qb = V.quantize_sql("b.embedding")
    cos = V.quantized_cosine_e6_sql("qa", "qb")
    return f"""
SELECT id_a, id_b, cosine_e6 FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {qa} AS qa, {qb} AS qb,
         {cos} AS cosine_e6
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
    AND {V.sign_bucket_sql('a.embedding')} =
        {V.sign_bucket_sql('b.embedding')})
WHERE cosine_e6 >= 250000
"""


def _ann_sql(bucketed: bool = False) -> str:
    q = V.quantize_sql("e.embedding")
    qq = V.quantize_sql("q.embedding")
    cos = V.quantized_cosine_e6_sql("qe", "qq")
    bucket_cond = ""
    if bucketed:
        bucket_cond = (f" AND {V.sign_bucket_sql('e.embedding')} = "
                       f"{V.sign_bucket_sql('q.embedding')}")
    return f"""
WITH qs AS (SELECT vec_id AS query_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT 5),
pairs AS (
  SELECT q.query_id, e.vec_id, {q} AS qe, {qq} AS qq
  FROM embeddings e, qs q
  WHERE e.vec_id <> q.query_id{bucket_cond}
)
SELECT query_id, vec_id, cosine_e6, rank FROM (
  SELECT query_id, vec_id, {cos} AS cosine_e6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {cos} DESC, vec_id)::INT AS rank
  FROM pairs)
WHERE rank <= 10
"""


def ann_topk_bucketed(spark, sf_dir):
    """Sign-bucket LSH top-10: each query probes only its bucket —
    enforced inside the map-side top-k kernel as the allowed-label set
    (operators/similarity.py bucketed_topk, r10 shape)."""
    emb = _read(spark, sf_dir, "embeddings")
    qs = _queries_df(spark, sf_dir)
    return SIM.bucketed_topk(emb, qs, k=10, exclude_self=True)


def label_centroids(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings") \
        .withColumn("__q", V.quantize(F.col("embedding")))
    exploded = emb.select("label", F.posexplode("__q").alias("pos", "val"))
    return (exploded.groupBy("label", "pos")
            .agg((F.sum("val").cast("double") / F.count(F.lit(1)))
                 .alias("centroid")))


CENTROIDS_SQL = f"""
SELECT label, pos, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS centroid
FROM (
  SELECT label,
         unnest(range(0, len(embedding)))::INT AS pos,
         unnest({V.quantize_sql('embedding')}) AS val
  FROM embeddings)
GROUP BY label, pos
"""


def ann_topk_ivf(spark, sf_dir):
    """IVF ANN: per-label sum-vector coarse quantizer, nprobe=2 inverted
    lists probed per query (operators/similarity.py ivf_topk)."""
    emb = _read(spark, sf_dir, "embeddings")
    qs = _queries_df(spark, sf_dir)
    return SIM.ivf_topk(emb, qs, k=10, nprobe=2)


def _ivf_sql(nprobe: int = 2) -> str:
    qcos_probe = V.quantized_cosine_e6_sql("q.qq", "c.csum")
    qcos = V.quantized_cosine_e6_sql("qe", "qq")
    return f"""
WITH qs AS (SELECT vec_id AS query_id, {V.quantize_sql('embedding')} AS qq
            FROM embeddings ORDER BY vec_id LIMIT 5),
sums AS (
  SELECT label, pos, SUM(val)::BIGINT AS s
  FROM (SELECT label,
               unnest(range(0, len(embedding)))::INT AS pos,
               unnest({V.quantize_sql('embedding')}) AS val
        FROM embeddings)
  GROUP BY label, pos),
cent AS (SELECT label, list(s ORDER BY pos) AS csum FROM sums GROUP BY label),
probes AS (
  SELECT query_id, label, qq FROM (
    SELECT q.query_id, c.label, q.qq,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {qcos_probe} DESC,
                                       c.label)::INT AS pr
    FROM qs q, cent c)
  WHERE pr <= {nprobe}),
pairs AS (
  SELECT p.query_id, e.vec_id, {V.quantize_sql('e.embedding')} AS qe, p.qq
  FROM embeddings e JOIN probes p ON e.label = p.label
  WHERE e.vec_id <> p.query_id)
SELECT query_id, vec_id, cosine_e6, rank FROM (
  SELECT query_id, vec_id, {qcos} AS cosine_e6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {qcos} DESC, vec_id)::INT AS rank
  FROM pairs)
WHERE rank <= 10
"""


def kmeans_topic_clusters(spark, sf_dir):
    """Spherical k-means over embeddings (k=8, 2 Lloyd iterations):
    deterministic sum-vector centroids seeded from the 8 lowest vec_ids,
    corpus never shuffled (operators/similarity.py kmeans_assignments).
    Output: per-cluster member count, id checksum, mean cosine."""
    emb = _read(spark, sf_dir, "embeddings")
    return SIM.kmeans_cluster_profile(emb, k=8, iters=2)


def _kmeans_sql(k: int = 8) -> str:
    # every aggregate output is cast ::BIGINT: DuckDB SUM(BIGINT) yields
    # HUGEINT, which result hashers serialize differently from BIGINT (an
    # un-cast sum_ids here made this oracle's rows mismatch;
    # tests/test_plans.py locks the rule for every oracle).  Values are
    # unchanged (sums are far below 2^63); only the declared type moves.
    cos0 = V.quantized_cosine_e6_sql("v.qq", "c.csum")
    return f"""
WITH q AS (SELECT vec_id, {V.quantize_sql('embedding')} AS qq
           FROM embeddings),
c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster,
              qq AS csum
       FROM q ORDER BY vec_id LIMIT {k}),
a0 AS (
  SELECT vec_id, cluster, qq FROM (
    SELECT v.vec_id, c.cluster, v.qq,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos0} DESC,
                                       c.cluster) AS rn
    FROM q v CROSS JOIN c0 c) WHERE rn = 1),
sums AS (
  SELECT cluster, pos, SUM(val)::BIGINT AS s
  FROM (SELECT cluster,
               unnest(range(0, len(qq)))::INT AS pos,
               unnest(qq) AS val
        FROM a0)
  GROUP BY cluster, pos),
c1u AS (SELECT cluster, list(s ORDER BY pos) AS csum
        FROM sums GROUP BY cluster),
c1 AS (
  SELECT c0.cluster, COALESCE(c1u.csum, c0.csum) AS csum
  FROM c0 LEFT JOIN c1u ON c0.cluster = c1u.cluster),
a1 AS (
  SELECT vec_id, cluster, cos_e6 FROM (
    SELECT v.vec_id, c.cluster, {cos0} AS cos_e6,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {cos0} DESC,
                                       c.cluster) AS rn
    FROM q v CROSS JOIN c1 c) WHERE rn = 1)
SELECT cluster, COUNT(*) AS n_members, SUM(vec_id)::BIGINT AS sum_ids,
       SUM(cos_e6)::BIGINT AS sum_cos_e6
FROM a1 GROUP BY cluster
"""


def iceberg_spec_evolution_scan(spark, sf_dir):
    """Multi-spec scan: the table's first generation is partitioned by
    month(l_shipdate), the second by (month, bucket[8](l_orderkey)) —
    the planner runs per-spec partition evaluators so each manifest
    prunes under ITS spec (table/evolution.py UpdateSpec; parity
    scanner.go:503 per-spec evaluator multiplex, update_spec.go)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_specevo")
    keys = [3, 18, 33, 68, 193, 450, 901]
    scan = t.scan(E.in_("l_orderkey", keys),
                  selected=["l_orderkey", "l_linenumber", "l_quantity",
                            "l_shipdate"])
    return scan.to_df(spark)


ICE_SPECEVO_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
WHERE l_orderkey IN (3, 18, 33, 68, 193, 450, 901)
"""


def iceberg_branch_scan(spark, sf_dir):
    """Branch head read (write-audit-publish): the audit branch holds
    F + P rows while main moved on to F + O — use_ref resolves the
    branch snapshot and reads with the branch's schema
    (table/refs surface; parity table.go SetSnapshotRef +
    scanner.go UseRef)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.orders_branch")
    return (t.scan(selected=["o_orderkey", "o_orderstatus",
                             "o_totalprice"])
            .use_ref("audit").to_df(spark))


ICE_BRANCH_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderstatus IN ('F', 'P')
"""


def iceberg_rest_scan(spark, sf_dir):
    """Remote scan planning end-to-end: the fixture table is registered
    into an in-process REST catalog server, the FILTER is shipped as
    spec expression JSON, the SERVER prunes manifests and returns
    FileScanTasks over the wire, and the rows below come from those
    remote-planned tasks (catalog/rest.py plan_table_scan; parity
    rest planTableScan + sources/task_codec.py Avro wire form).  At
    100 TB remote planning keeps manifest pruning next to the metadata
    — only the pruned task list crosses the wire."""
    cat = _fixtures(spark, sf_dir)
    t_local = cat.load_table("db.li_month")
    from iceberg_go_spark.catalog.rest import (RestCatalog,
                                               RestCatalogServer)
    server = RestCatalogServer(cat.warehouse + "_restsrv").start()
    try:
        rc = RestCatalog(server.uri)
        try:
            rc.create_namespace("db")
        except Exception:
            pass  # second run against a live server state
        try:
            rc.register_table("db.li_month", t_local.metadata_location)
        except Exception:
            pass
        expr = E.and_(E.gt_eq("l_shipdate", "1998-02-01"),
                      E.lt("l_shipdate", "1998-06-01"))
        tasks = rc.plan_table_scan("db.li_month", row_filter=expr)
        t = rc.load_table("db.li_month")
        scan = t.scan(expr, selected=["l_orderkey", "l_linenumber",
                                      "l_quantity", "l_returnflag"])
        scan.plan_files = lambda: tasks  # rows come from the REMOTE plan
        return scan.to_df(spark)
    finally:
        server.stop()  # planning done; the read is plain parquet


ICE_REST_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-02-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-06-01 00:00:00'
"""


def iceberg_compacted_scan(spark, sf_dir):
    """Scan after bin-pack compaction: three appends + a merge-on-read
    delete were rewritten into consolidated files with dead deletes
    dropped and v3 row lineage materialized (table/maintenance.py
    compact; parity rewrite_data_files.go) — the logical rows must be
    unchanged."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.orders_compacted")
    return (t.scan(selected=["o_orderkey", "o_orderstatus",
                             "o_totalprice"]).to_df(spark))


ICE_COMPACTED_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderstatus <> 'F'
"""


def iceberg_sorted_scan(spark, sf_dir):
    """Range predicate on a sorted, range-distributed table: files hold
    non-overlapping l_shipdate ranges, so the metrics evaluator prunes
    to the few files covering the window (table/write.py range
    distribution; parity sort_keys.go + rolling_data_writer.go)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_sorted")
    return (t.scan(E.and_(E.gt_eq("l_shipdate", "2000-05-01"),
                          E.lt("l_shipdate", "2000-07-01")),
                   selected=["l_orderkey", "l_linenumber", "l_quantity",
                             "l_discount"])
            .to_df(spark))


ICE_SORTED_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-05-01 00:00:00'
  AND l_shipdate < TIMESTAMP '2000-07-01 00:00:00'
"""


def iceberg_partition_stats(spark, sf_dir):
    """Partition statistics file round-trip: build the per-partition
    rollup on executors (manifests read in parallel, driver never sees
    per-file rows), register it in table metadata, read the stats file
    back, and value-check record counts per month partition against
    the raw data (table/statistics.py compute_partition_statistics;
    parity partitions.go + cmd/iceberg/partition_stats.go)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_month")
    from iceberg_go_spark.table.statistics import (
        compute_partition_statistics, read_partition_statistics)
    snap = t.current_snapshot().snapshot_id
    if not any(e.get("snapshot-id") == snap
               for e in (t.metadata.partition_statistics or [])):
        compute_partition_statistics(t, spark)
        t = cat.load_table("db.li_month")
    df = read_partition_statistics(t, spark)
    return (df.select(
        F.col("partition.l_shipdate_month").alias("month"),
        F.col("data_record_count"))
        .orderBy("month"))


ICE_PARTSTATS_SQL = """
SELECT (EXTRACT(year FROM l_shipdate) - 1970) * 12
       + EXTRACT(month FROM l_shipdate) - 1 AS month,
       COUNT(*)::BIGINT AS data_record_count
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def iceberg_view_query(spark, sf_dir):
    """Iceberg view metadata executed as Spark SQL: the view's
    versioned SQL representation aggregates the fixture table per
    returnflag; the oracle runs the same logical SQL on the raw data
    (views.py ViewCatalog/run_view; parity view/metadata.go +
    udf/metadata.go dialect representations)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_month")
    from iceberg_go_spark.views import ViewCatalog
    vc = ViewCatalog(cat.warehouse)
    t.to_df(spark).createOrReplaceTempView("li_month_v")
    sql = ("SELECT l_returnflag, COUNT(*) AS n_items, "
           "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) "
           "AS sum_qty FROM li_month_v GROUP BY l_returnflag")
    if "db.li_flag_summary" not in vc.list_views():
        vc.create_view("db.li_flag_summary", sql)
    return vc.run_view(spark, "db.li_flag_summary")


ICE_VIEW_SQL = """
SELECT l_returnflag, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


def duplicate_span_stats(spark, sf_dir):
    """Exact duplicated-substring spans per document (ExactSubstr of Lee
    et al. 2022): word 8-grams occurring >= 2 times corpus-wide, merged
    into maximal per-doc spans; reports span count, covered tokens and
    the duplicated fraction in exact integer micro-units."""
    docs = _read(spark, sf_dir, "documents")
    return DD.duplicate_span_stats(docs, n=8, min_count=2)


DUP_SPAN_SQL = """
WITH ws AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents),
tot AS (SELECT doc_id, len(ws)::BIGINT AS total_tokens FROM ws),
g0 AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS s
       FROM ws),
g AS (SELECT doc_id, s,
             md5(array_to_string(ws[s:s+7], ' ')) AS gram
      FROM g0),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
h AS (SELECT doc_id, s FROM g JOIN dup USING (gram)),
isl0 AS (SELECT doc_id, s,
  CASE WHEN s > COALESCE(MAX(s + 7) OVER (
         PARTITION BY doc_id ORDER BY s
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
       THEN 1 ELSE 0 END AS brk
  FROM h),
isl AS (SELECT doc_id, s,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
        FROM isl0),
sp AS (SELECT doc_id, island, MIN(s) AS a, MAX(s + 7) AS b
       FROM isl GROUP BY 1, 2),
agg AS (SELECT doc_id, COUNT(*)::BIGINT AS n_spans,
               SUM(b - a + 1)::BIGINT AS dup_tokens
        FROM sp GROUP BY 1)
SELECT tot.doc_id AS doc_id,
       COALESCE(n_spans, 0)::BIGINT AS n_spans,
       COALESCE(dup_tokens, 0)::BIGINT AS dup_tokens,
       total_tokens,
       CASE WHEN total_tokens = 0 THEN 0
            ELSE COALESCE(dup_tokens, 0) * 1000000 // total_tokens
       END::BIGINT AS dup_fraction_e6
FROM tot LEFT JOIN agg USING (doc_id)
"""


def strip_duplicate_spans(spark, sf_dir):
    """Removal half of the ExactSubstr pass: strip every maximal
    duplicated 8-gram span and reassemble the surviving tokens in
    order; fully-duplicated documents survive as empty strings."""
    docs = _read(spark, sf_dir, "documents")
    return DD.strip_duplicate_spans(docs, n=8, min_count=2)


STRIP_SPAN_SQL = """
WITH ws AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents),
tot AS (SELECT doc_id, len(ws)::BIGINT AS nt FROM ws),
toks AS (SELECT doc_id, p, ws[p] AS w
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, len(ws))) AS p
               FROM ws)),
g0 AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS s
       FROM ws),
g AS (SELECT doc_id, s,
             md5(array_to_string(ws[s:s+7], ' ')) AS gram
      FROM g0),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
cov AS (SELECT DISTINCT doc_id, s + o AS p
        FROM (SELECT doc_id, s FROM g JOIN dup USING (gram))
        CROSS JOIN generate_series(0, 7) AS t(o)),
kept AS (SELECT toks.doc_id, toks.p, toks.w
         FROM toks LEFT JOIN cov
           ON toks.doc_id = cov.doc_id AND toks.p = cov.p
         WHERE cov.p IS NULL),
agg AS (SELECT doc_id,
               string_agg(w, ' ' ORDER BY p) AS clean_text,
               COUNT(*)::BIGINT AS kept_tokens
        FROM kept GROUP BY doc_id)
SELECT tot.doc_id AS doc_id,
       COALESCE(clean_text, '') AS clean_text,
       COALESCE(kept_tokens, 0)::BIGINT AS kept_tokens,
       (nt - COALESCE(kept_tokens, 0))::BIGINT AS removed_tokens
FROM tot LEFT JOIN agg USING (doc_id)
"""


def length_quantiles_by_source(spark, sf_dir):
    """Exact per-source document-length quantiles via histogram
    aggregation (never a per-source corpus sort): value at 0-based
    sorted index floor(p*(n-1)), the same explicit index rule on both
    engines."""
    docs = _read(spark, sf_dir, "documents")
    return CU.length_quantile_profile(
        docs, value_col="n_chars", strat_col="source",
        ps=(0.25, 0.5, 0.75, 0.9, 0.99))


LENGTH_QUANTILES_SQL = """
WITH hist AS (SELECT source, n_chars AS v, COUNT(*)::BIGINT AS c
              FROM documents GROUP BY 1, 2),
h AS (SELECT source, v, c,
             SUM(c) OVER (PARTITION BY source ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY source) AS n
      FROM hist)
SELECT source,
       SUM(c)::BIGINT AS n_docs,
       MIN(v)::BIGINT AS min_len,
       MAX(v)::BIGINT AS max_len,
       SUM(v * c)::BIGINT AS sum_len,
       MIN(CASE WHEN cum >= floor(0.25 * (n - 1)) + 1 THEN v END)::BIGINT AS p25,
       MIN(CASE WHEN cum >= floor(0.5  * (n - 1)) + 1 THEN v END)::BIGINT AS p5,
       MIN(CASE WHEN cum >= floor(0.75 * (n - 1)) + 1 THEN v END)::BIGINT AS p75,
       MIN(CASE WHEN cum >= floor(0.9  * (n - 1)) + 1 THEN v END)::BIGINT AS p9,
       MIN(CASE WHEN cum >= floor(0.99 * (n - 1)) + 1 THEN v END)::BIGINT AS p99
FROM h GROUP BY source
"""


def variant_shred(spark, sf_dir):
    """Variant shredding end-to-end: build JSON from documents, parse to a
    Spark-native variant, shred to typed subcolumns (try_variant_get,
    JVM-vectorized), aggregate on the typed view (variant.py)."""
    from iceberg_go_spark import types as _T
    from iceberg_go_spark.variant import shred_column
    docs = _read(spark, sf_dir, "documents")
    j = docs.select(F.to_json(F.struct("doc_id", "lang", "n_chars"))
                    .alias("j"))
    v = j.withColumn("v", F.parse_json("j"))
    inner = _T.StructType(
        _T.NestedField(1, "doc_id", _T.LongType()),
        _T.NestedField(2, "lang", _T.StringType()),
        _T.NestedField(3, "n_chars", _T.LongType()))
    shredded = shred_column(v, "v", inner)
    return (shredded.select("v_typed.*")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.min("doc_id").alias("min_doc")))


VARIANT_SHRED_SQL = """
SELECT lang, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS total_chars,
       MIN(doc_id) AS min_doc
FROM documents GROUP BY lang
"""


def variant_prune_scan(spark, sf_dir):
    """Variant bounds -> FILE-level pruning: the fixture table stores a
    VARIANT column; writes shred it into typed companions and fold
    per-path min/max into spec variant-bounds objects under the variant
    field id (table/write.py, variant.py encode_variant_blob); the scan
    prunes files on a variant_get predicate (plans/evaluators.py
    _variant_might_match) and filters rows with JVM try_variant_get."""
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark import types as _T
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.docs_variant")
    pred = E.gt_eq(E.variant_get("v", "$.n_chars", _T.LongType()), 300)
    return (t.scan(pred).to_df(spark)
            .select(F.variant_get("v", "$.lang", "string").alias("lang"),
                    F.variant_get("v", "$.doc_id", "bigint")
                    .alias("doc_id"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("id_checksum")))


VARIANT_PRUNE_SQL = """
SELECT lang, COUNT(*) AS n_docs, SUM(doc_id)::BIGINT AS id_checksum
FROM documents WHERE n_chars >= 300 GROUP BY lang
"""


# -- multimodal ------------------------------------------------------------


def multimodal_features(spark, sf_dir):
    _ensure_workers(spark)
    docs = _read(spark, sf_dir, "documents")
    media = MM.synthesize_media(spark, docs)
    feats = MM.extract_features(media)
    return feats.select("media_id", "n_bytes", "content_hash")


MULTIMODAL_SQL = """
SELECT doc_id AS media_id, strlen(text)::BIGINT AS n_bytes,
       sha256(text) AS content_hash
FROM documents
"""


def multimodal_resize(spark, sf_dir):
    """Resize plumbing (operators/multimodal.py resize_media): batched
    mapInPandas, stubbed pixel kernel with an md5 stand-in so the
    output is value-checked."""
    _ensure_workers(spark)
    docs = _read(spark, sf_dir, "documents")
    media = MM.synthesize_media(spark, docs)
    return MM.resize_media(media, 32, 32)


MULTIMODAL_RESIZE_SQL = """
SELECT doc_id AS media_id, 32 AS out_width, 32 AS out_height,
       md5(text || '32x32') AS resized_md5
FROM documents
"""


def multimodal_feature_vectors(spark, sf_dir):
    """Full feature vectors with the array column rendered canonically.

    The raw ``array<float>`` column is not sortable/hashable by the
    correctness gate, so the vector is emitted as an integer-quantized JSON
    string (exact across engines; see ``vector_funcs.quantize``)."""
    _ensure_workers(spark)
    docs = _read(spark, sf_dir, "documents")
    media = MM.synthesize_media(spark, docs)
    feats = MM.extract_features(media)
    return feats.select(
        "media_id", "n_bytes", "content_hash",
        F.to_json(V.quantize(F.col("feature"))).alias("feature_q"))


# DuckDB reproduction of the deterministic fake feature: byte i of
# sha256(text) scaled to [-1, 1], quantized to round(x*1000) longs.
_NIB = ("(strpos('0123456789abcdef', "
        "substr(sha256(text), {pos}, 1)) - 1)")
_BYTE = f"({_NIB.format(pos='2*i+1')} * 16 + {_NIB.format(pos='2*i+2')})"
MULTIMODAL_VEC_SQL = f"""
SELECT doc_id AS media_id, strlen(text)::BIGINT AS n_bytes,
       sha256(text) AS content_hash,
       to_json(list_transform(range(0, 8), i ->
         round(({_BYTE} / 255.0 * 2 - 1) * 1000)::BIGINT)) AS feature_q
FROM documents
"""


def transforms_bucket(spark, sf_dir):
    """Bucket transform columns, value-verified: the oracle re-derives
    murmur3-32 in pure DuckDB SQL (generated bit arithmetic below), so the
    engine's vectorized bucket hashing is checked end-to-end."""
    from iceberg_go_spark import types as T
    from iceberg_go_spark.transforms import BucketTransform
    _ensure_workers(spark)
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        BucketTransform(16).spark_column(F.col("l_orderkey"), T.LongType())
        .alias("b16_orderkey"),
        BucketTransform(8).spark_column(F.col("l_returnflag"), T.StringType())
        .alias("b8_flag"))


# -- murmur3-32 as generated DuckDB SQL (lateral column aliases keep the
#    expression chain linear).  All arithmetic is mod 2^32; HUGEINT only
#    for the multiplies that would overflow BIGINT.
_M32 = 4294967296


def _m3_block_steps(p, h_in, k_name, full_block):
    steps = [
        (f"{p}ka", f"(CAST({k_name} AS HUGEINT) * 3432918353) % {_M32}"),
        (f"{p}kb", f"(({p}ka * 32768) % {_M32} + ({p}ka // 131072))"),
        (f"{p}kc", f"(CAST({p}kb AS HUGEINT) * 461845907) % {_M32}"),
        (f"{p}hx", f"xor(CAST({h_in} AS BIGINT), CAST({p}kc AS BIGINT))"),
    ]
    out = f"{p}hx"
    if full_block:
        steps += [
            (f"{p}hr", f"(({p}hx * 8192) % {_M32} + ({p}hx // 524288))"),
            (f"{p}hm", f"(CAST({p}hr AS HUGEINT) * 5 + 3864292196) % {_M32}"),
        ]
        out = f"{p}hm"
    return steps, out


def _m3_finalize_steps(p, h_in, n_expr):
    steps = [
        (f"{p}f0", f"xor(CAST({h_in} AS BIGINT), CAST({n_expr} AS BIGINT))"),
        (f"{p}f1", f"xor({p}f0, {p}f0 // 65536)"),
        (f"{p}f2", f"(CAST({p}f1 AS HUGEINT) * 2246822507) % {_M32}"),
        (f"{p}f3", f"xor(CAST({p}f2 AS BIGINT), "
                   f"CAST({p}f2 AS BIGINT) // 8192)"),
        (f"{p}f4", f"(CAST({p}f3 AS HUGEINT) * 3266489909) % {_M32}"),
        (f"{p}f5", f"xor(CAST({p}f4 AS BIGINT), "
                   f"CAST({p}f4 AS BIGINT) // 65536)"),
    ]
    return steps, f"{p}f5"


def _m3_long_bucket_steps(p, col, nb):
    """bucket[nb] of a long column: murmur3 over its 8-byte LE encoding."""
    steps = [
        (f"{p}u", f"(CASE WHEN ({col}) >= 0 THEN CAST(({col}) AS HUGEINT) "
                  f"ELSE CAST(({col}) AS HUGEINT) + 18446744073709551616 "
                  f"END)"),
        (f"{p}k1", f"({p}u % {_M32})"),
        (f"{p}k2", f"({p}u // {_M32})"),
    ]
    s1, h1 = _m3_block_steps(p + "a", "0", f"{p}k1", True)
    s2, h2 = _m3_block_steps(p + "b", h1, f"{p}k2", True)
    sf, hf = _m3_finalize_steps(p, h2, "8")
    steps += s1 + s2 + sf
    steps.append((f"{p}bk", f"(({hf} % 2147483648) % {nb})"))
    return steps, f"{p}bk"


def _m3_short_ascii_bucket_steps(p, col, nb):
    """bucket[nb] of an ASCII string of <= 3 chars (tail-only murmur)."""
    k = " + ".join(
        f"(CASE WHEN strlen({col}) >= {i + 1} "
        f"THEN ascii(substr({col}, {i + 1}, 1)) * {256 ** i} ELSE 0 END)"
        for i in range(3))
    steps = [(f"{p}k", f"({k})")]
    s1, h1 = _m3_block_steps(p + "t", "0", f"{p}k", False)
    sf, hf = _m3_finalize_steps(p, h1, f"strlen({col})")
    steps += s1 + sf
    steps.append((f"{p}bk", f"(({hf} % 2147483648) % {nb})"))
    return steps, f"{p}bk"


def _transforms_bucket_sql():
    s1, b16 = _m3_long_bucket_steps("o_", "l_orderkey", 16)
    s2, b8 = _m3_short_ascii_bucket_steps("f_", "l_returnflag", 8)
    cols = ",\n    ".join(f"{expr} AS {name}" for name, expr in s1 + s2)
    return f"""
SELECT l_orderkey, CAST({b16} AS INT) AS b16_orderkey,
       CAST({b8} AS INT) AS b8_flag
FROM (
  SELECT l_orderkey, l_returnflag,
    {cols}
  FROM lineitem)
"""


def iceberg_snapshot_log(spark, sf_dir):
    """Snapshot metadata listing, deterministic columns only (snapshot ids
    are random): ordinal, sequence, operation, total-records, root flag —
    all derivable by the oracle from how the fixture was built."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_tt")
    rows = [(i + 1, s.sequence_number, s.operation,
             int(s.summary.get("total-records", 0)),
             s.parent_snapshot_id is None)
            for i, s in enumerate(t.snapshots())]
    return spark.createDataFrame(
        rows, "ordinal int, sequence_number long, operation string, "
              "total_records long, is_root boolean")


# db.li_tt is built as: append(even l_orderkey) then append(odd)
SNAPSHOT_LOG_SQL = """
SELECT 1 AS ordinal, CAST(1 AS BIGINT) AS sequence_number,
       'append' AS operation,
       (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey % 2 = 0) AS total_records,
       TRUE AS is_root
UNION ALL
SELECT 2, CAST(2 AS BIGINT), 'append',
       (SELECT COUNT(*) FROM lineitem), FALSE
"""


# ---------------------------------------------------------------------------
# driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Iceberg round-trip scan at sf0.001 + pricing aggregate."""
    sf_dir = "/root/testdata/sf0.001"
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_month")
    df = t.scan(E.gt_eq("l_shipdate", "1996-06-01")).to_df(spark)
    return (df.groupBy("l_returnflag")
            .agg(F.sum(_dec("l_extendedprice")).cast("double")
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


# ---------------------------------------------------------------------------
# TPC-H widening (round 4): q8/q13/q15/q17/q18/q19 shapes over the reduced
# schema (no commit/receipt dates, containers, or phones in the testdata;
# predicates adapted, query SHAPES preserved)


def q8_market_share(spark, sf_dir):
    """National market share: a supplier-nation's share of revenue among
    AMERICA-customer orders for one part type, by order year (EXISTS-free
    two-level aggregation over a 6-table join)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    vol = (_dec("l_extendedprice")
           * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount")))
    n1 = nation.alias("n1")
    n2 = nation.alias("n2")
    j = (li
         .join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
               li.l_partkey == part.p_partkey)
         .join(orders.filter((F.col("o_orderdate") >= "1996-01-01")
                             & (F.col("o_orderdate") < "1998-01-01")),
               li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
         .join(F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
               F.col("n1.n_regionkey") == region.r_regionkey)
         .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
         .withColumn("o_year", F.year("o_orderdate"))
         .withColumn("volume", vol)
         .withColumn("nation_vol",
                     F.when(F.col("n2.n_name") == "NATION_3",
                            F.col("volume"))
                     .otherwise(F.lit(0).cast("decimal(12,2)"))))
    return (j.groupBy("o_year")
            .agg((F.sum("nation_vol").cast("double")
                  / F.sum("volume").cast("double")).alias("mkt_share"),
                 F.count(F.lit(1)).alias("n_rows"))
            .orderBy("o_year"))


Q8_SQL = """
SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
                     (CAST(1 AS DECIMAL(12,2)) -
                      CAST(l_discount AS DECIMAL(12,2)))
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                  (CAST(1 AS DECIMAL(12,2)) -
                   CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
         AS mkt_share,
       COUNT(*) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
JOIN orders ON l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY 1 ORDER BY 1
"""


def q13_customer_distribution(spark, sf_dir):
    """Customer order-count distribution: LEFT JOIN so zero-order
    customers land in the c_count=0 bucket."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders") \
        .filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey,
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark, sf_dir):
    """Top supplier(s) by quarter revenue: exact-decimal revenue compared
    against its own max (ties kept), so no float nondeterminism."""
    li = _read(spark, sf_dir, "lineitem")
    supp = _read(spark, sf_dir, "supplier")
    rev = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                     & (F.col("l_shipdate") < "1996-04-01"))
           .groupBy("l_suppkey")
           .agg(F.sum(_dec("l_extendedprice")
                      * (F.lit(1).cast("decimal(12,2)")
                         - _dec("l_discount"))).alias("total_rev")))
    top = rev.agg(F.max("total_rev").alias("mx"))
    return (rev.join(F.broadcast(top), rev.total_rev == top.mx)
            .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
            .select("s_suppkey", "s_name",
                    F.col("total_rev").cast("double")
                    .alias("total_revenue"))
            .orderBy("s_suppkey"))


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(12,2)) -
              CAST(l_discount AS DECIMAL(12,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """Average yearly revenue lost to small-quantity orders of one brand:
    correlated per-part average-quantity subquery as a co-grouped join."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    brand = part.filter(F.col("p_brand") == "Brand#13")
    avg_q = (li.join(F.broadcast(brand),
                     li.l_partkey == part.p_partkey)
             .groupBy("l_partkey")
             .agg((F.avg("l_quantity") * 0.2).alias("qty_limit")))
    small = (li.join(F.broadcast(brand), li.l_partkey == part.p_partkey)
             .join(F.broadcast(avg_q.withColumnRenamed("l_partkey", "ak")),
                   li.l_partkey == F.col("ak"))
             .filter(F.col("l_quantity") < F.col("qty_limit")))
    return small.agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / 7.0)
        .alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"))


Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_small
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 adapted (the corpus has no partsupp): supply cost of a
    (part, supplier) pair is MIN(l_extendedprice / l_quantity) over
    their lineitems — each value is ONE IEEE division, so both engines
    see the identical double set and MIN is order-independent.  The
    correlated min-cost-per-part subquery decorrelates into a groupBy +
    equi-re-join (Catalyst's standard rewrite, expressed explicitly);
    region-filtered suppliers and the part dimension broadcast.  At
    100 TB: one keyed shuffle for the cost agg, one for the per-part
    min — both map-side combinable; no row ever joins outside its
    part key."""
    li = _read(spark, sf_dir, "lineitem")
    supp = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region")
    part = _read(spark, sf_dir, "part")
    es = (supp.join(F.broadcast(nat),
                    supp.s_nationkey == nat.n_nationkey)
          .join(F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
                nat.n_regionkey == reg.r_regionkey)
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    costs = (li.groupBy("l_partkey", "l_suppkey")
             .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                  .alias("supply_cost")))
    rc = costs.join(F.broadcast(es),
                    costs.l_suppkey == es.s_suppkey)
    # per-part min via a WINDOW over rc instead of a second groupBy +
    # re-join: the groupBy shape made Catalyst evaluate the whole
    # lineitem scan + (partkey, suppkey) aggregation TWICE (the r9
    # before-plan carries two full copies of the lineitem subtree) —
    # one pass + one small shuffle of the already-aggregated rc frame
    # computes the identical MIN over the identical per-part set
    # (guide §2.4: window keyed like the data replaces a re-join).
    pf = part.filter((F.col("p_size") <= 15) &
                     (F.col("p_type") == "LARGE"))
    return (rc.withColumn("__min_cost",
                          F.min("supply_cost")
                          .over(W.partitionBy("l_partkey")))
            .filter(F.col("supply_cost") == F.col("__min_cost"))
            .join(F.broadcast(pf), rc.l_partkey == pf.p_partkey)
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "supply_cost"))


Q2_SQL = """
WITH costs AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem GROUP BY 1, 2),
es AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
rc AS (
  SELECT c.l_partkey, c.supply_cost, es.s_name, es.s_acctbal, es.n_name
  FROM costs c JOIN es ON c.l_suppkey = es.s_suppkey)
SELECT s_acctbal, s_name, n_name, p_partkey, supply_cost
FROM rc JOIN part ON rc.l_partkey = p_partkey
WHERE p_size <= 15 AND p_type = 'LARGE'
  AND supply_cost = (SELECT MIN(rc2.supply_cost) FROM rc rc2
                     WHERE rc2.l_partkey = rc.l_partkey)
"""


def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 adapted (lineitem stands in for partsupp): per-part
    value from one nation's suppliers, HAVING value above a fraction of
    the nation-wide total (a scalar subquery).  Exact DECIMAL sums on
    both sides of the comparison — value * 1000 > total is an exact
    integer-scaled decimal compare, no float in the predicate lineage.
    At 100 TB: suppliers broadcast, one keyed shuffle for the per-part
    sum; the grand total re-aggregates the per-part frame (tiny) and
    joins back as a 1-row broadcast."""
    li = _read(spark, sf_dir, "lineitem")
    supp = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    sup = (supp.join(F.broadcast(
               nat.filter(F.col("n_name") == "NATION_3")),
               supp.s_nationkey == nat.n_nationkey)
           .select("s_suppkey"))
    v = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
         .groupBy("l_partkey")
         .agg(F.sum(_dec("l_extendedprice")).alias("__v")))
    total = v.agg(F.sum("__v").alias("__t"))
    return (v.join(F.broadcast(total))
            .filter(F.col("__v") * 1000 > F.col("__t"))
            .select("l_partkey",
                    F.col("__v").cast("double").alias("value")))


Q11_SQL = """
WITH sup AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'),
v AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value
  FROM lineitem JOIN sup ON l_suppkey = s_suppkey
  GROUP BY 1)
SELECT l_partkey, CAST(value AS DOUBLE) AS value FROM v
WHERE value * 1000 > (SELECT SUM(value) FROM v)
"""


def q12_late_priority_mix(spark, sf_dir):
    """TPC-H Q12 adapted (no l_shipmode/commitdate in the corpus): the
    two-class CASE aggregation over a big-big join.  Lineitems shipped
    in 1997 classify late when shipped 60+ days after the order date;
    per class, count urgent/high-priority orders vs the rest.  At
    100 TB: ONE shuffle join on l_orderkey = o_orderkey (both sides
    large — the canonical co-partitioned fact join; bucketing both
    tables on orderkey would make it shuffle-free), then a 2-row
    aggregate."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    j = (li.filter((F.col("l_shipdate") >= "1997-01-01")
                   & (F.col("l_shipdate") < "1998-01-01"))
         .join(orders, li.l_orderkey == orders.o_orderkey))
    late = (F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (j.groupBy(F.when(late, 1).otherwise(0)
                      .cast("int").alias("late_class"))
            .agg(F.sum(F.when(high, 1).otherwise(0))
                 .cast("long").alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1))
                 .cast("long").alias("low_line_count")))


Q12_SQL = """
SELECT CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY
            THEN 1 ELSE 0 END::INT AS late_class,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""


def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 adapted: distinct-supplier counts per (brand, type,
    size) with a NOT-IN exclusion list (suppliers in deficit stand in
    for the complaints subquery), expressed as a LEFT ANTI join.  At
    100 TB: the exclusion list is tiny -> broadcast anti-join (no
    corpus shuffle for it); the count-distinct is one keyed shuffle
    with partial aggregation."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    supp = _read(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = part.filter((F.col("p_brand") != "Brand#13")
                     & (F.col("p_type") != "PROMO")
                     & (F.col("p_size").isin(5, 10, 15, 20, 25, 30)))
    return (li.join(F.broadcast(pf), li.l_partkey == pf.p_partkey)
            .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey,
                  "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
  AND p_size IN (5, 10, 15, 20, 25, 30)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q20_dominant_suppliers(spark, sf_dir):
    """TPC-H Q20 adapted (lineitem stands in for partsupp availability):
    suppliers from one nation who shipped MORE THAN HALF of some part's
    total 1997 quantity — the nested semi-join shape (supplier IN
    (... JOIN ... WHERE qty > fraction-of-correlated-total)).  Exact
    DECIMAL quantity sums; sq * 2 > tq keeps the predicate
    float-free.  At 100 TB: the per-(part, supplier) agg is one keyed
    shuffle; the per-part total RE-AGGREGATES that frame (no second
    corpus pass); the supplier side is tiny and ends in a broadcast
    LEFT SEMI join."""
    li = _read(spark, sf_dir, "lineitem")
    supp = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    sp = (li.filter((F.col("l_shipdate") >= "1997-01-01")
                    & (F.col("l_shipdate") < "1998-01-01"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(F.sum(_dec("l_quantity")).alias("__sq")))
    # per-part total via a WINDOW over sp instead of re-agg + re-join:
    # the groupBy+join shape evaluated the lineitem scan + agg TWICE in
    # the r9 before-plan; one shuffle of the already-aggregated sp
    # computes the identical SUM over the identical per-part set.
    dom = (sp.withColumn("__tq", F.sum("__sq")
                         .over(W.partitionBy("l_partkey")))
           .filter(F.col("__sq") * 2 > F.col("__tq"))
           .select("l_suppkey").distinct())
    ns = supp.join(F.broadcast(
        nat.filter(F.col("n_name") == "NATION_7")),
        supp.s_nationkey == nat.n_nationkey)
    return (ns.join(dom, ns.s_suppkey == dom.l_suppkey, "left_semi")
            .select("s_name", "s_acctbal"))


Q20_SQL = """
WITH sp AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2),
pt AS (SELECT l_partkey, SUM(sq) AS tq FROM sp GROUP BY 1),
dom AS (SELECT DISTINCT l_suppkey FROM sp
        JOIN pt USING (l_partkey) WHERE sq * 2 > tq)
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
  AND s_suppkey IN (SELECT l_suppkey FROM dom)
"""


def q18_large_volume_customers(spark, sf_dir):
    """Customers whose single orders exceed 250 units (GROUP + HAVING
    semi-join back through orders)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .filter(F.col("total_qty") > 250))
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice",
                    F.col("total_qty").cast("double").alias("total_qty"))
            .orderBy(F.desc("o_totalprice"), "o_orderkey")
            .limit(100))


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q19_discounted_revenue(spark, sf_dir):
    """Disjunctive brand/size/quantity predicate blocks pushed into one
    join filter (Catalyst turns the OR-of-ANDs into partition/row
    filters)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    blocks = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 50)
           & F.col("l_quantity").between(20, 30)))
    rev = (_dec("l_extendedprice")
           * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount")))
    return j.filter(blocks).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(12,2)) -
                 CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 50
       AND l_quantity BETWEEN 20 AND 30)
"""


def q4_order_priority(spark, sf_dir):
    """Order-priority check (TPC-H Q4 shape): orders in one quarter that
    had at least one item shipped >90 days after ordering, counted by
    priority.  The correlated EXISTS compiles to a LEFT SEMI join keyed
    on orderkey — one shuffle, no row duplication from multi-item
    orders.  (Testdata has no l_commitdate/l_receiptdate; lateness is
    l_shipdate > o_orderdate + 90 days.)"""
    orders = _read(spark, sf_dir, "orders") \
        .filter((F.col("o_orderdate") >= "1996-07-01")
                & (F.col("o_orderdate") < "1996-10-01"))
    li = _read(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    late = (orders.join(
        li, (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate
           + F.expr("INTERVAL 90 DAYS")), "leftsemi"))
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q9_product_profit(spark, sf_dir):
    """Product-type profit by supplier nation and order year (TPC-H Q9
    shape; ps_supplycost does not exist in the testdata, so cost =
    p_retailprice * l_quantity).  All money math in exact decimals; the
    part filter broadcasts, nation broadcasts, and the lineitem-orders
    join is the only large shuffle."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part") \
        .filter(F.col("p_name").contains("red"))
    supp = _read(spark, sf_dir, "supplier")
    orders = _read(spark, sf_dir, "orders")
    nation = _read(spark, sf_dir, "nation")
    amount = (_dec("l_extendedprice")
              * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
              - _dec("p_retailprice") * _dec("l_quantity"))
    return (li
            .join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(nation),
                  supp.s_nationkey == nation.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").alias("o_year"))
            .agg(F.sum(amount).cast("double").alias("sum_profit"))
            .orderBy("nation", F.desc("o_year")))


Q9_SQL = """
SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
           - CAST(p_retailprice AS DECIMAL(12,2)) *
             CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


def q21_waiting_supplier(spark, sf_dir):
    """Suppliers who kept multi-supplier orders waiting (TPC-H Q21
    shape): finished orders where this supplier shipped >60 days late,
    another supplier participated (EXISTS -> LEFT SEMI), and no other
    supplier was late (NOT EXISTS -> LEFT ANTI).  Both correlated
    subqueries become orderkey-keyed joins — co-partitioned with the
    main stream, no nested-loop evaluation."""
    li = _read(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _read(spark, sf_dir, "orders") \
        .filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    supp = _read(spark, sf_dir, "supplier")
    late = (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .filter(F.col("l_shipdate") > F.col("o_orderdate")
                    + F.expr("INTERVAL 60 DAYS"))
            .select("l_orderkey", "l_suppkey")
            # late feeds its own per-order supplier agg below —
            # localCheckpoint so the li x orders join runs once (not
            # persist: plan-cache entries get re-matched by a later
            # identical run — cross-run result reuse)
            .localCheckpoint())
    # decorrelate by AGGREGATING instead of re-joining (guide §2.4 —
    # the r9 before-plan ran the li x orders join THREE times and two
    # non-equi lineitem-wide semi/anti joins): a late row survives
    # EXISTS(another supplier in the order) iff the order has >= 2
    # distinct suppliers (min != max over its supplier keys — a
    # single-pass, map-side-combinable stand-in for a distinct count),
    # and NOT EXISTS(another LATE supplier) iff the order's late rows
    # all carry ONE supplier (min == max).  Row-for-row identical to
    # the semi/anti pair, with two cheap keyed aggs co-partitioned
    # with the orderkey joins instead of two lineitem-wide joins.
    nsupp = (li.groupBy("l_orderkey")
             .agg((F.min("l_suppkey") != F.max("l_suppkey"))
                  .alias("__multi")))
    nlate = (late.groupBy("l_orderkey")
             .agg((F.min("l_suppkey") == F.max("l_suppkey"))
                  .alias("__sole")))
    sole = (late.join(nsupp, "l_orderkey")
            .join(nlate, "l_orderkey")
            .filter(F.col("__multi") & F.col("__sole")))
    return (sole.join(F.broadcast(supp),
                      sole.l_suppkey == supp.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name")
            .limit(20))


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND o3.o_orderstatus = 'F'
        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q22_idle_customers(spark, sf_dir):
    """Global sales opportunity (TPC-H Q22 shape): per market segment,
    customers with above-average positive balances who never placed an
    order.  The scalar average broadcasts as a 1-row cross join; the
    lapsed-customer test is a LEFT ANTI join against recent orders
    (every testdata customer has ordered at some point, so "idle" means
    no order since 1999; testdata has no c_phone, so segments stand in
    for country codes)."""
    cust = _read(spark, sf_dir, "customer")
    orders = (_read(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= "1999-01-01")
              .select("o_custkey"))
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("__avg")))
    rich = (cust.join(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("__avg")))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey,
                     "leftanti")
    return (idle.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.sum(_dec("c_acctbal")).cast("double")
                 .alias("totacctbal"))
            .orderBy("segment"))


Q22_SQL = """
SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
         AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                   WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY segment
ORDER BY segment
"""


def source_contribution_caps(spark, sf_dir):
    """Per-source contribution caps — keep the top-15 longest docs per
    source (operators/curation.py cap_per_stratum: salted two-phase
    top-K so a hot source never lands on one reducer), rolled up per
    source for the value check."""
    docs = _read(spark, sf_dir, "documents")
    kept = CU.cap_per_stratum(docs, strat_col="source", cap=15,
                              order_col="n_chars", id_col="doc_id")
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("doc_id").alias("id_checksum"),
                 F.min("n_chars").alias("min_kept_chars")))


CAP_SQL = """
WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents)
SELECT source, COUNT(*)::BIGINT AS n_kept,
       SUM(doc_id)::BIGINT AS id_checksum,
       MIN(n_chars)::BIGINT AS min_kept_chars
FROM r WHERE rk <= 15 GROUP BY source
"""


def temperature_mixture_sample(spark, sf_dir):
    """alpha=0.5 temperature mixture sampling to an expected 200 rows
    (operators/curation.py temperature_mixture: exact integer sqrt /
    DECIMAL(38,0) products / integer division / 48-bit md5 cutoff — no
    float anywhere, so the kept set is bit-identical on any engine)."""
    docs = _read(spark, sf_dir, "documents")
    kept = CU.temperature_mixture(docs, target_rows=200,
                                  strat_col="source", id_col="doc_id")
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("doc_id").alias("id_checksum")))


TEMPERATURE_SQL = f"""
WITH c AS (SELECT source, COUNT(*)::BIGINT AS c
           FROM documents GROUP BY source),
y0 AS (SELECT source, c, CAST(floor(sqrt(c)) AS BIGINT) AS y FROM c),
y1 AS (SELECT source, c,
              CASE WHEN y*y > c THEN y-1 ELSE y END AS y FROM y0),
w  AS (SELECT source, c,
              CASE WHEN (y+1)*(y+1) <= c THEN y+1 ELSE y END AS w
       FROM y1),
thr AS (SELECT source, c, w,
        least(CAST(281474976710656 AS HUGEINT),
              (CAST(281474976710656 AS HUGEINT) * 200 * w)
              // (CAST((SELECT SUM(w) FROM w) AS HUGEINT) * c)) AS thr
        FROM w)
SELECT d.source, COUNT(*)::BIGINT AS n_kept,
       SUM(d.doc_id)::BIGINT AS id_checksum
FROM documents d JOIN thr t ON d.source = t.source
WHERE {_hex12_to_int_sql("md5(d.doc_id::VARCHAR)")} < t.thr
GROUP BY d.source
"""


def context_window_chunks(spark, sf_dir):
    """Sliding 16-token windows at stride 8 over every document
    (operators/curation.py context_windows: pure array built-ins, no
    shuffle), rolled up per window index with an md5 checksum of the
    window text so values — not just counts — are verified."""
    docs = _read(spark, sf_dir, "documents")
    wins = CU.context_windows(docs, window=16, stride=8,
                              text_col="text", id_col="doc_id")
    h = (F.conv(F.substring(F.md5(F.col("window_text")), 1, 12), 16, 10)
         .cast("long") % 1000003)
    return (wins.groupBy("win_idx")
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.sum("n_tokens").alias("sum_tokens"),
                 F.sum(h).alias("text_checksum")))


CONTEXT_WINDOW_SQL = f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '')
                  AS toks
           FROM documents),
x AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
wdw AS (SELECT doc_id, (s - 1) // 8 AS win_idx,
               least(16, n - s + 1) AS n_toks,
               md5(array_to_string(toks[s : least(s + 15, n)], ' '))
               AS h
        FROM x, unnest(generate_series(1, n, 8)) AS u(s))
SELECT win_idx::BIGINT AS win_idx, COUNT(*)::BIGINT AS n_windows,
       SUM(n_toks)::BIGINT AS sum_tokens,
       SUM({_hex12_to_int_sql("h")} % 1000003)::BIGINT AS text_checksum
FROM wdw GROUP BY win_idx
"""


def bpe_top_pairs(spark, sf_dir):
    """Corpus-wide adjacent character-pair counts — the first BPE merge
    statistic (operators/text.py bpe_pair_counts); top-30 by
    (count desc, pair asc), a total order."""
    docs = _read(spark, sf_dir, "documents")
    return TOP.bpe_pair_counts(docs, text_col="text", top_k=30)


BPE_PAIRS_SQL = """
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t
              FROM documents),
p AS (SELECT unnest(list_transform(generate_series(1, length(t) - 1),
                                   i -> substr(t, i, 2))) AS pair
      FROM toks WHERE length(t) >= 2)
SELECT pair, COUNT(*)::BIGINT AS n_occurrences
FROM p GROUP BY pair
ORDER BY n_occurrences DESC, pair LIMIT 30
"""


def distinctive_terms_by_lang(spark, sf_dir):
    """Top-5 most distinctive terms per language by the integer-exact
    tf-idf analogue score = tf_lang * 1e6 div tf_global
    (operators/text.py distinctive_terms — integer ranking can never
    flip on a float idf's last ulp)."""
    docs = _read(spark, sf_dir, "documents")
    return TOP.distinctive_terms(docs, text_col="text",
                                 lang_col="lang", top_k=5, min_tf=5)


DISTINCTIVE_TERMS_SQL = """
WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term
              FROM documents),
tf AS (SELECT lang, term, COUNT(*)::BIGINT AS tf
       FROM toks WHERE term <> '' GROUP BY lang, term),
g AS (SELECT lang, term, tf,
             SUM(tf) OVER (PARTITION BY term) AS tf_global
      FROM tf WHERE tf >= 5),
s AS (SELECT lang, term, tf,
             (tf * 1000000 // tf_global)::BIGINT AS score FROM g),
r AS (SELECT lang, term, tf, score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score DESC, tf DESC, term)
             AS rank
      FROM s)
SELECT lang, term, tf, score, rank::INT AS rank FROM r WHERE rank <= 5
"""



def iceberg_encrypted_scan(spark, sf_dir):
    """Scan of an AES-GCM-encrypted table (pyarrow Parquet Modular
    Encryption, in-memory KMS envelope) through the Python DataSource —
    the JVM reader cannot open these files without a classpath
    KmsClient, the pyarrow executor path decrypts via the shipped
    envelope properties (encryption.py; parity table/encryption.go:76,
    encryption/kms.go:92-226)."""
    cat = _fixtures(spark, sf_dir)
    from iceberg_go_spark.sources.datasource import register
    register(spark)
    return (spark.read.format("iceberg_go_spark")
            .option("warehouse", cat.warehouse)
            .option("table", "db.nation_enc").load()
            .select("n_nationkey", "n_name", "n_regionkey"))


ENCRYPTED_SCAN_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""



def token_frequency_quality(spark, sf_dir):
    """Corpus-frequency quality signals (CCNet-class common-token
    heuristic, exact integers): mean relative token frequency and hapax
    ratio per document (operators/curation.py token_frequency_quality)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.token_frequency_quality(docs)


TOKEN_FREQ_SQL = """
WITH toks AS (SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS w
              FROM documents),
cnt AS (SELECT w, COUNT(*)::BIGINT AS c FROM toks GROUP BY w),
tot AS (SELECT SUM(c)::HUGEINT AS n FROM cnt),
per AS (SELECT doc_id, COUNT(*)::BIGINT AS nt, SUM(c)::BIGINT AS sc,
               SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS h
        FROM toks JOIN cnt USING (w) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(nt, 0) AS n_tokens,
       (CASE WHEN COALESCE(nt, 0) = 0 THEN 0
             ELSE (sc::HUGEINT * 1000000) // (nt::HUGEINT * tot.n)
        END)::BIGINT AS mean_token_freq_e6,
       (CASE WHEN COALESCE(nt, 0) = 0 THEN 0
             ELSE (h::HUGEINT * 1000000) // nt::HUGEINT
        END)::BIGINT AS hapax_ratio_e6
FROM documents d LEFT JOIN per USING (doc_id) CROSS JOIN tot
"""



def ann_topk_pq(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011): m=2 subspace
    codebooks (4 seed centroids each, iters=1), vectors stored as 2
    small codes, query scoring via per-subspace ADC lookup tables —
    the corpus never touches full vectors at query time
    (operators/similarity.py pq_topk)."""
    emb = _read(spark, sf_dir, "embeddings")
    qs = _queries_df(spark, sf_dir)
    return SIM.pq_topk(emb, qs, k=10, m=2, n_centroids=4, iters=1)


def _pq_sql(m: int = 2, n_centroids: int = 4, dim: int = 64,
            nq: int = 5, k: int = 10) -> str:
    sub = dim // m
    ctes = [
        f"q AS (SELECT vec_id, {V.quantize_sql('embedding')} AS qq "
        f"FROM embeddings)",
        f"seeds AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT"
        f" AS code, qq FROM q ORDER BY vec_id LIMIT {n_centroids})",
        f"qs AS (SELECT vec_id AS query_id, qq FROM q "
        f"ORDER BY vec_id LIMIT {nq})",
    ]
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        cos = V.quantized_cosine_e6_sql(f"v.qq[{lo}:{hi}]",
                                        f"s.qq[{lo}:{hi}]")
        ctes.append(
            f"c{mi} AS (SELECT vec_id, code FROM ("
            f"SELECT v.vec_id, s.code, row_number() OVER ("
            f"PARTITION BY v.vec_id ORDER BY {cos} DESC, s.code) AS rn "
            f"FROM q v, seeds s) WHERE rn = 1)")
        dot = (f"(list_sum(list_transform(range(1, {sub} + 1), "
               f"i -> qs.qq[{lo}:{hi}][i] * s.qq[{lo}:{hi}][i]))::BIGINT)")
        ctes.append(
            f"t{mi} AS (SELECT qs.query_id, s.code, "
            f"{dot} * 1000000 AS tv FROM qs, seeds s)")
    score = " + ".join(f"t{mi}.tv" for mi in range(m))
    joins = ["c0"]
    for mi in range(1, m):
        joins.append(f"JOIN c{mi} USING (vec_id)")
    joins.append("JOIN t0 ON t0.code = c0.code")
    for mi in range(1, m):
        joins.append(f"JOIN t{mi} ON t{mi}.code = c{mi}.code "
                     f"AND t{mi}.query_id = t0.query_id")
    cte_body = ",\n".join(ctes)
    return f"""
WITH {cte_body}
SELECT query_id, vec_id, adc_score, rank FROM (
  SELECT t0.query_id, c0.vec_id, ({score})::BIGINT AS adc_score,
         row_number() OVER (PARTITION BY t0.query_id
                            ORDER BY ({score}) DESC, c0.vec_id)::INT AS rank
  FROM {' '.join(joins)}
  WHERE c0.vec_id <> t0.query_id)
WHERE rank <= {k}
"""



def iceberg_zorder_scan(spark, sf_dir):
    """Range scan over a Z-ORDER-clustered table: the Morton-interleaved
    layout gives every file tight min/max bounds on BOTH z columns, so
    this single-dimension shipdate predicate prunes files even though
    the table is not sorted by shipdate alone (table/write.py
    _zorder_value; pruning asserted in tests/test_plans.py)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_zorder")
    import datetime
    cutoff = datetime.datetime(1996, 1, 1)
    scan = t.scan(E.and_(E.lt("l_shipdate", cutoff),
                         E.lt("l_orderkey", 5000)),
                  selected=["l_orderkey", "l_linenumber", "l_quantity",
                            "l_shipdate"])
    return scan.to_df(spark)


ZORDER_SCAN_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_orderkey < 5000
"""



def ngram_novelty_scores(spark, sf_dir):
    """Per-doc word-3-gram novelty: the fraction of a document's
    distinct 3-grams whose corpus-wide first occurrence (min doc_id) is
    this document (operators/curation.py ngram_novelty — gram-keyed
    min-aggregation with xxhash64 long keys, never quadratic)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.ngram_novelty(docs, n=3)


NGRAM_NOVELTY_SQL = """
WITH ws AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents),
g0 AS (SELECT doc_id, ws,
              unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
       FROM ws),
g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
      FROM g0),
fst AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
per AS (SELECT g.doc_id, COUNT(*)::BIGINT AS n_grams,
               SUM(CASE WHEN fst.first_doc = g.doc_id THEN 1 ELSE 0
                   END)::BIGINT AS novel_grams
        FROM g JOIN fst USING (gram) GROUP BY g.doc_id)
SELECT d.doc_id AS doc_id,
       COALESCE(n_grams, 0)::BIGINT AS n_grams,
       COALESCE(novel_grams, 0)::BIGINT AS novel_grams,
       (CASE WHEN COALESCE(n_grams, 0) = 0 THEN 0
             ELSE (novel_grams * 1000000) // n_grams END)::BIGINT
         AS novelty_e6
FROM documents d LEFT JOIN per USING (doc_id)
"""


def c4_quality_filter(spark, sf_dir):
    """C4/Gopher document rule flags: word-count floor, banned words
    ('spam'/'slow' exercise the rule on this corpus), curly-brace code
    leak, mean-word-length band via integer cross-multiplication
    (operators/curation.py c4_rules — shuffle-free single pass)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.c4_rules(docs, min_words=5, banned_words=["spam", "slow"])


_C4_TOKS = TX.tokens_sql("text")
_C4_SUMLEN = (f"COALESCE(list_sum(list_transform({_C4_TOKS}, "
              f"w -> length(w))), 0)::BIGINT")
C4_RULES_SQL = f"""
SELECT doc_id,
  len({_C4_TOKS})::BIGINT AS n_words,
  (CASE WHEN len({_C4_TOKS}) < 5 THEN 1 ELSE 0 END)::INT
    AS flag_too_few_words,
  (CASE WHEN len(list_intersect(list_distinct({_C4_TOKS}),
                                ['spam', 'slow'])) > 0
        THEN 1 ELSE 0 END)::INT AS flag_banned_word,
  (CASE WHEN contains(text, '{{') THEN 1 ELSE 0 END)::INT AS flag_brace,
  (CASE WHEN {_C4_SUMLEN} < 3 * len({_C4_TOKS})::BIGINT
          OR {_C4_SUMLEN} > 10 * len({_C4_TOKS})::BIGINT
        THEN 1 ELSE 0 END)::INT AS flag_word_length,
  (CASE WHEN len({_C4_TOKS}) >= 5
         AND len(list_intersect(list_distinct({_C4_TOKS}),
                                ['spam', 'slow'])) = 0
         AND NOT contains(text, '{{')
         AND {_C4_SUMLEN} >= 3 * len({_C4_TOKS})::BIGINT
         AND {_C4_SUMLEN} <= 10 * len({_C4_TOKS})::BIGINT
        THEN 1 ELSE 0 END)::INT AS keep
FROM documents
"""


def bigram_predictability_scores(spark, sf_dir):
    """Mean bigram conditional probability per document in exact
    micro-units — deterministic KenLM-perplexity stand-in (CCNet;
    operators/curation.py bigram_predictability)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.bigram_predictability(docs)


BIGRAM_PRED_SQL = """
WITH ws AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents),
bg0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
        FROM ws WHERE len(ws) >= 2),
bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM bg0),
bc AS (SELECT w1, w2, COUNT(*)::BIGINT AS cbg FROM bg GROUP BY 1, 2),
pre AS (SELECT w1, SUM(cbg)::BIGINT AS cpre FROM bc GROUP BY 1),
per AS (SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
               SUM((cbg * 1000000) // cpre)::BIGINT AS sp
        FROM bg JOIN bc USING (w1, w2) JOIN pre USING (w1)
        GROUP BY doc_id)
SELECT d.doc_id AS doc_id,
       COALESCE(n_bigrams, 0)::BIGINT AS n_bigrams,
       (CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0
             ELSE sp // n_bigrams END)::BIGINT AS mean_bigram_p_e6
FROM documents d LEFT JOIN per USING (doc_id)
"""


def ann_topk_pq_rerank(spark, sf_dir):
    """Two-stage ANN: PQ/ADC shortlist (2x over-fetch) then exact
    integer micro-cosine re-rank of the shortlist over full vectors
    (operators/similarity.py pq_rerank_topk — the standard recall fix
    for PQ quantization error)."""
    emb = _read(spark, sf_dir, "embeddings")
    qs = _queries_df(spark, sf_dir)
    return SIM.pq_rerank_topk(emb, qs, k=10, shortlist_factor=2,
                              m=2, n_centroids=4, iters=1)


def _pq_rerank_sql(k: int = 10, factor: int = 2) -> str:
    cos = V.quantized_cosine_e6_sql("e.qq", "qv.qq")
    return f"""
WITH short AS (SELECT query_id, vec_id FROM ({_pq_sql(k=k * factor)})),
q AS (SELECT vec_id, {V.quantize_sql('embedding')} AS qq FROM embeddings)
SELECT query_id, vec_id, cosine_e6, rank FROM (
  SELECT query_id, vec_id, cosine_e6,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_e6 DESC, vec_id)::INT AS rank
  FROM (SELECT s.query_id, s.vec_id, {cos} AS cosine_e6
        FROM short s JOIN q e USING (vec_id)
        JOIN q qv ON qv.vec_id = s.query_id))
WHERE rank <= {k}
"""


def minhash_lsh_recall(spark, sf_dir):
    """LSH-vs-exact evaluation harness: per similarity decile, how many
    blocked pairs with exact micro-Jaccard >= 0.3 any MinHash band
    bucket catches, plus a bucket=-1 verification-waste row
    (operators/dedup.py minhash_lsh_effectiveness).

    Runs on a deterministic 1-in-10 doc sample — the harness's real
    usage: the exact-Jaccard ground truth is the quadratic-within-block
    side you pay ONLY on a sample to validate banding parameters before
    the full LSH run (75 s full-corpus at sf0.1 vs ~5 s sampled, same
    recall curve)."""
    docs = _read(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0)
    return DD.minhash_lsh_effectiveness(docs, floor=0.3)


def _minhash_recall_sql(floor_e6: int = 300000, ngram: int = 3,
                        sample_mod: int = 10) -> str:
    grams = TX.char_ngrams_sql("text", ngram)
    sampled = (f"(SELECT * FROM documents "
               f"WHERE doc_id % {sample_mod} = 0)")
    inner = _minhash_sql().replace("FROM documents", f"FROM {sampled}")
    return f"""
WITH lsh AS ({inner}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM lsh a JOIN lsh b
           ON a.band = b.band AND a.band_key = b.band_key
          AND a.doc_id < b.doc_id),
g AS (SELECT doc_id, grams, floor(log2(len(grams) + 1)) AS blk
      FROM (SELECT doc_id, {grams} AS grams FROM {sampled})),
ex AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              (len(list_intersect(a.grams, b.grams))::BIGINT * 1000000)
                // len(list_distinct(a.grams || b.grams))::BIGINT AS j6
       FROM g a JOIN g b ON a.doc_id < b.doc_id AND a.blk = b.blk
       WHERE len(list_distinct(a.grams || b.grams)) > 0
         AND len(list_intersect(a.grams, b.grams))::BIGINT * 1000000
             >= {floor_e6}
                * len(list_distinct(a.grams || b.grams))::BIGINT),
fl AS (SELECT ex.id_a, ex.id_b, j6,
              CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
       FROM ex LEFT JOIN cand
         ON ex.id_a = cand.id_a AND ex.id_b = cand.id_b),
bk AS (SELECT (j6 // 100000)::BIGINT AS bucket,
              COUNT(*)::BIGINT AS n_pairs, SUM(hit)::BIGINT AS n_lsh_hits
       FROM fl GROUP BY 1),
waste AS (SELECT CAST(-1 AS BIGINT) AS bucket,
                 COUNT(*)::BIGINT AS n_pairs,
                 COUNT(*)::BIGINT AS n_lsh_hits
          FROM cand LEFT JOIN ex
            ON cand.id_a = ex.id_a AND cand.id_b = ex.id_b
          WHERE ex.id_a IS NULL)
SELECT * FROM bk UNION ALL SELECT * FROM waste
"""




def winnow_near_dups(spark, sf_dir):
    """MOSS-style near-dup candidate pairs by shared winnowing
    fingerprints, df-capped inverted-index join (operators/text.py
    winnow_near_dup_pairs — the sparse alternative to full n-gram
    Jaccard at the same shared-substring guarantee)."""
    docs = _read(spark, sf_dir, "documents")
    # min_shared=6 on this homogeneous synthetic corpus: the vocabulary
    # is ~30 common words, so loose thresholds pair half the corpus
    # (63k pairs at sf0.01) — a detector, not a firehose.  The df cap
    # is corpus-RELATIVE (n_docs/25, floor 20): a fixed cap empties at
    # 10x the docs because every fingerprint's doc-frequency scales
    # with the corpus (one cheap count(), like a broadcast-size probe).
    max_df = max(20, docs.count() // 25)
    return TOP.winnow_near_dup_pairs(docs, k=5, window=4,
                                     min_shared=6, max_df=max_df)


def _winnow_pairs_sql(k: int = 5, window: int = 4, min_shared: int = 2,
                      max_df_sql: str = "50") -> str:
    gram = f"substring(n, i, {k})"
    h = _hex12_to_int_sql(f"md5({gram})")
    return f"""
WITH norm AS (
  SELECT doc_id, {TX.normalized_text_sql('text')} AS n FROM documents),
hashed AS (
  SELECT doc_id, i, {h} AS h
  FROM (SELECT doc_id, n,
               unnest(range(1, length(n) - {k - 1} + 1))::INT AS i
        FROM norm WHERE length(n) >= {k})),
winnowed AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
         AS fp
  FROM hashed),
keepfp AS (SELECT fp FROM winnowed GROUP BY fp
           HAVING COUNT(*) <= ({max_df_sql})),
kept AS (SELECT w.doc_id, w.fp FROM winnowed w JOIN keepfp USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       COUNT(*)::BIGINT AS n_shared_fp
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
"""


def source_divergence(spark, sf_dir):
    """Per-source token-distribution shift vs the corpus: exact
    total-variation distance in micro-units (operators/curation.py
    source_token_divergence — DECIMAL(38,0) rational arithmetic, the
    absent-token mass folded into a closed-form term)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.source_token_divergence(docs)


SOURCE_DIVERGENCE_SQL = """
WITH t AS (SELECT source,
                  unnest(list_filter(string_split(text, ' '),
                                     x -> x <> '')) AS w
           FROM documents),
sw AS (SELECT source, w, COUNT(*)::BIGINT AS csw FROM t GROUP BY 1, 2),
cw AS (SELECT w, SUM(csw)::BIGINT AS cwc FROM sw GROUP BY 1),
nss AS (SELECT source, SUM(csw)::BIGINT AS nst,
               COUNT(*)::BIGINT AS dt
        FROM sw GROUP BY 1),
tot AS (SELECT SUM(cwc)::HUGEINT AS n FROM cw),
per AS (SELECT sw.source,
               SUM(abs(sw.csw::HUGEINT * tot.n
                       - cw.cwc::HUGEINT * nss.nst::HUGEINT))::HUGEINT
                 AS sum_abs,
               SUM(cw.cwc)::HUGEINT AS ccov
        FROM sw JOIN cw USING (w) JOIN nss USING (source), tot
        GROUP BY sw.source)
SELECT nss.source AS source, nss.nst AS n_tokens,
       nss.dt AS distinct_tokens,
       ((per.sum_abs + nss.nst::HUGEINT * (tot.n - per.ccov)) * 1000000
        // (2 * nss.nst::HUGEINT * tot.n))::BIGINT AS tv_e6
FROM nss JOIN per USING (source), tot
"""




def jaccard_verified_dups(spark, sf_dir):
    """Two-stage near-dup pairs at FULL corpus: MinHash-LSH candidates
    over WORD 6-gram shingles, exact micro-Jaccard verification on
    candidates only (operators/dedup.py verified_jaccard_pairs —
    nothing quadratic in the corpus; char 3-grams measured degenerate
    here: 7.5M candidates from 5k docs)."""
    docs = _read(spark, sf_dir, "documents")
    return DD.verified_jaccard_pairs(docs, threshold=0.5, word_grams=6)


def _word_minhash_sql(num_hashes: int = 16, bands: int = 4,
                      n: int = 6) -> str:
    from iceberg_go_spark.operators.dedup import (MINHASH_A, MINHASH_B,
                                                  MINHASH_P)
    mixes = ", ".join(
        f"min(({MINHASH_A[q]} * h + {MINHASH_B[q]}) % {MINHASH_P}) AS h{q}"
        for q in range(num_hashes))
    r = num_hashes // bands
    selects = []
    for b in range(bands):
        key = " || '|' || ".join(f"h{b * r + j}" for j in range(r))
        selects.append(f"SELECT doc_id, {b} AS band, md5({key}) AS band_key "
                       f"FROM sig")
    u = " UNION ALL ".join(selects)
    return (
        f"WITH ws0 AS (SELECT doc_id, list_filter(string_split(text, ' '),"
        f" x -> x <> '') AS ws FROM documents),\n"
        f"gw AS (SELECT doc_id, ws, unnest(generate_series(1, "
        f"greatest(len(ws) - {n - 1}, 0))) AS i FROM ws0),\n"
        f"g AS (SELECT DISTINCT doc_id, "
        f"array_to_string(ws[i:i+{n - 1}], ' ') AS gram FROM gw),\n"
        f"h AS (SELECT doc_id, {_hex12_to_int_sql('md5(gram)')} AS h "
        f"FROM g),\n"
        f"sig AS (SELECT doc_id, {mixes} FROM h GROUP BY doc_id)\n"
        f"SELECT band, band_key, doc_id FROM ({u}) "
        f"QUALIFY count(*) OVER (PARTITION BY band, band_key) > 1")


def _verified_jaccard_sql(threshold: float = 0.5, n: int = 6) -> str:
    thr_e6 = int(round(threshold * 1_000_000))
    return f"""
WITH lsh AS ({_word_minhash_sql(n=n)}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM lsh a JOIN lsh b
           ON a.band = b.band AND a.band_key = b.band_key
          AND a.doc_id < b.doc_id),
wsv AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                   x -> x <> '') AS ws FROM documents),
gv0 AS (SELECT doc_id, ws, unnest(generate_series(1,
               greatest(len(ws) - {n - 1}, 0))) AS i FROM wsv),
garr AS (SELECT doc_id,
                list_distinct(list(array_to_string(ws[i:i+{n - 1}], ' ')))
                  AS grams
         FROM gv0 GROUP BY doc_id)
SELECT id_a, id_b,
       (len(list_intersect(a.grams, b.grams))::BIGINT * 1000000)
         // len(list_distinct(a.grams || b.grams))::BIGINT AS jaccard_e6
FROM cand JOIN garr a ON a.doc_id = cand.id_a
          JOIN garr b ON b.doc_id = cand.id_b
WHERE len(list_distinct(a.grams || b.grams)) > 0
  AND len(list_intersect(a.grams, b.grams))::BIGINT * 1000000
      >= {thr_e6} * len(list_distinct(a.grams || b.grams))::BIGINT
"""




def training_pipeline_sample(spark, sf_dir):
    """END-TO-END curation pipeline as ONE declarative DAG — the shape a
    real training-data job composes: C4 rule gate -> exact dedup (min
    doc_id per content hash) -> deterministic 25% md5 sample -> per-doc
    token counts.  Every stage is engine-exact, so the whole pipeline
    is oracle-checkable; Catalyst fuses the stages over a single scan
    (one content-hash shuffle is the only exchange)."""
    docs = _read(spark, sf_dir, "documents")
    base = CU.c4_filter(docs, min_words=5, banned_words=["spam"])
    deduped = DD.exact_dedup(base)
    sampled = CU.stratified_sample(deduped, hex_threshold="40")
    return sampled.select(
        "doc_id", "lang", "source",
        TX.token_count(F.col("text")).alias("n_tokens"))


TRAINING_PIPELINE_SQL = f"""
WITH kept AS (
  SELECT doc_id, text, lang, source FROM documents
  WHERE len({TX.tokens_sql('text')}) >= 5
    AND len(list_intersect(list_distinct({TX.tokens_sql('text')}),
                           ['spam'])) = 0
    AND NOT contains(text, '{{')
    AND COALESCE(list_sum(list_transform({TX.tokens_sql('text')},
                                         w -> length(w))), 0)::BIGINT
        BETWEEN 3 * len({TX.tokens_sql('text')})::BIGINT
            AND 10 * len({TX.tokens_sql('text')})::BIGINT),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1)
SELECT doc_id, lang, source,
       ({TX.token_count_sql('text')})::INT AS n_tokens
FROM deduped
WHERE substring(md5(doc_id::VARCHAR), 1, 2) < '40'
"""




def contrastive_negative_pairs(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: 3
    hash-mixed partners per anchor on the dense id-rank ring — never
    self, engine-reproducible (operators/curation.py negative_pairs)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.negative_pairs(docs, k=3)


def _negative_pairs_sql(k: int = 3) -> str:
    mix = _hex12_to_int_sql("md5(doc_id::VARCHAR || '|' || j::VARCHAR)")
    return f"""
WITH ranked AS (SELECT doc_id,
                       row_number() OVER (ORDER BY doc_id)::BIGINT AS r
                FROM documents),
n AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
anchors AS (SELECT doc_id, r, unnest(generate_series(1, {k}))::BIGINT AS j
            FROM ranked),
targets AS (SELECT doc_id AS anchor_id, j AS sample_idx,
                   1 + ((r - 1 + 1 + (({mix}) % (n.n - 1))) % n.n) AS tr
            FROM anchors, n)
SELECT anchor_id, sample_idx, p.doc_id AS neg_id
FROM targets JOIN ranked p ON p.r = targets.tr
"""




def ngram_diversity_profile(spark, sf_dir):
    """Corpus distinct-n diversity for n=1..4 (the Self-BLEU complement;
    operators/curation.py ngram_diversity — one shared tokenization
    pass, one distinct-count aggregation per n, 4 output rows)."""
    docs = _read(spark, sf_dir, "documents")
    return CU.ngram_diversity(docs, max_n=4)


def _ngram_diversity_sql(max_n: int = 4) -> str:
    parts = []
    for n in range(1, max_n + 1):
        parts.append(f"""
SELECT {n}::INT AS n,
       COUNT(DISTINCT gram)::BIGINT AS distinct_ngrams,
       COUNT(*)::BIGINT AS total_ngrams,
       (CASE WHEN COUNT(*) = 0 THEN 0
             ELSE COUNT(DISTINCT gram)::BIGINT * 1000000
                  // COUNT(*)::BIGINT END)::BIGINT AS diversity_e6
FROM (SELECT array_to_string(ws[i:i+{n - 1}], ' ') AS gram
      FROM (SELECT ws, unnest(generate_series(1,
                   greatest(len(ws) - {n - 1}, 0))) AS i
            FROM (SELECT list_filter(string_split(text, ' '),
                                     x -> x <> '') AS ws
                  FROM documents)))""")
    return " UNION ALL ".join(parts)


def iceberg_snapshot_drift(spark, sf_dir):
    """Drift monitor across table versions: exact total-variation
    distance of l_quantity's distribution between the 'v1' tag (even
    orderkeys) and the current snapshot of db.li_tt
    (operators/curation.py snapshot_value_drift — time travel supplies
    both sides from one table)."""
    cat = _fixtures(spark, sf_dir)
    t = cat.load_table("db.li_tt")
    return CU.snapshot_value_drift(t, spark, "l_quantity", "v1")


SNAPSHOT_DRIFT_SQL = """
WITH old AS (SELECT l_quantity AS v, COUNT(*)::BIGINT AS co
             FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
new AS (SELECT l_quantity AS v, COUNT(*)::BIGINT AS cn
        FROM lineitem GROUP BY 1),
j AS (SELECT COALESCE(co, 0)::BIGINT AS co, COALESCE(cn, 0)::BIGINT AS cn
      FROM old FULL OUTER JOIN new USING (v)),
tot AS (SELECT SUM(co)::HUGEINT AS no, SUM(cn)::HUGEINT AS nn,
               COUNT(*)::BIGINT AS n_values FROM j)
SELECT tot.no::BIGINT AS n_old, tot.nn::BIGINT AS n_new, n_values,
       (CASE WHEN tot.no = 0 OR tot.nn = 0 THEN 0 ELSE
        (SELECT SUM(abs(co::HUGEINT * tot.nn - cn::HUGEINT * tot.no))
         FROM j) * 1000000 // (2 * tot.no * tot.nn) END)::BIGINT AS tv_e6
FROM tot
"""




def multimodal_pack(spark, sf_dir):
    """Interleaved multimodal sequence packing: per-doc cost = text
    tokens + 576 per image (deterministic synthetic image count
    doc_id % 3 — the real pipeline joins an image-manifest table);
    contiguous fill into 4096-token context windows per source
    (operators/multimodal.py pack_multimodal_sequences)."""
    docs = _read(spark, sf_dir, "documents").withColumn(
        "n_images", (F.col("doc_id") % 3).cast("int"))
    from iceberg_go_spark.operators.multimodal import (
        pack_multimodal_sequences)
    return pack_multimodal_sequences(docs, budget=4096)


MULTIMODAL_PACK_SQL = """
WITH base AS (
  SELECT source AS shard, doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_tokens,
         (doc_id % 3)::BIGINT AS n_images
  FROM documents),
costed AS (SELECT *, n_tokens + n_images * 576 AS total_cost FROM base),
cum AS (SELECT *,
               COALESCE(SUM(total_cost) OVER (
                 PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS before
        FROM costed)
SELECT shard, doc_id, n_tokens, n_images, total_cost,
       (before // 4096)::BIGINT AS pack_id,
       (before % 4096)::BIGINT AS pack_offset
FROM cum
"""




def bpe_merge_table(spark, sf_dir):
    """Iterative BPE merge training, 3 greedy steps (Sennrich et al.
    2016; operators/text.py bpe_train_merges — vocabulary-sized passes,
    1-row argmax per step, boundary-safe |a||b| encoding so both
    engines replay the merges bit-for-bit)."""
    docs = _read(spark, sf_dir, "documents")
    return TOP.bpe_train_merges(docs, n_merges=3)


def bpe_encoded_lengths(spark, sf_dir):
    """Tokenizer ENCODE half: train 3 BPE merges on the corpus, replay
    them over the distinct-word vocabulary, and report per-doc token
    counts (operators/text.py bpe_apply_token_counts — merge replay is
    vocabulary-sized, the corpus only pays an explode + keyed join +
    keyed sum; docs with no tokens report 0)."""
    docs = _read(spark, sf_dir, "documents")
    return TOP.bpe_token_counts(docs, n_merges=3)


def _bpe_chain_ctes(n_merges: int, state: str) -> list:
    """Shared training CTE chain for both BPE oracles: w (mergeable
    vocabulary — separator-containing words are excluded from merge
    statistics, mirroring bpe_train_merges), {state}0..{state}N symbol
    states threading every merge, p_i pair counts, t_i the argmax
    merge.  The {state}_i replace is guarded for an EXHAUSTED merge
    table (t_i empty -> scalar subqueries go NULL and would poison
    every row to NULL): the state passes through unchanged instead."""
    toks = TX.tokens_sql("text")
    ctes = [
        (f"w AS (SELECT w, COUNT(*)::BIGINT AS cnt FROM "
         f"(SELECT unnest({toks}) AS w FROM documents) "
         f"WHERE w <> '' AND w NOT LIKE '%|%' GROUP BY w)"),
        (f"{state}0 AS (SELECT w, '|' || "
         f"array_to_string(string_split(w, ''), '||') || '|' AS s, "
         f"cnt FROM w)"),
    ]
    for i in range(1, n_merges + 1):
        prev = f"{state}{i - 1}"
        ctes.append(
            f"p{i} AS (SELECT l, r, SUM(cnt)::BIGINT AS n FROM ("
            f"SELECT cnt, syms[i] AS l, syms[i + 1] AS r FROM ("
            f"SELECT cnt, syms, unnest(generate_series(1, "
            f"greatest(len(syms) - 1, 0))) AS i FROM ("
            f"SELECT cnt, list_filter(string_split(s, '|'), "
            f"x -> x <> '') AS syms FROM {prev}))) GROUP BY l, r)")
        ctes.append(
            f"t{i} AS (SELECT l, r, n FROM p{i} "
            f"ORDER BY n DESC, l, r LIMIT 1)")
        ctes.append(
            f"{state}{i} AS (SELECT w, CASE "
            f"WHEN (SELECT COUNT(*) FROM t{i}) = 0 THEN s "
            f"ELSE replace(s, "
            f"'|' || (SELECT l FROM t{i}) || '||' || "
            f"(SELECT r FROM t{i}) || '|', "
            f"'|' || (SELECT l FROM t{i}) || (SELECT r FROM t{i}) "
            f"|| '|') END AS s, cnt FROM {prev})")
    return ctes


def _bpe_encode_sql(n_merges: int = 3) -> str:
    """DuckDB twin of train+encode: the shared training chain threads
    the original word through every merge state, so the final state is
    the per-word token encoding; separator-containing words (excluded
    from training) encode at character level; doc token counts join
    the exploded corpus back to that vocabulary."""
    toks = TX.tokens_sql("text")
    ctes = _bpe_chain_ctes(n_merges, "e")
    ctes.append(
        f"venc AS (SELECT w, len(list_filter(string_split(s, '|'), "
        f"x -> x <> ''))::BIGINT AS nt FROM e{n_merges} "
        f"UNION ALL SELECT w, length(w)::BIGINT AS nt FROM ("
        f"SELECT DISTINCT w FROM (SELECT unnest({toks}) AS w "
        f"FROM documents) WHERE w LIKE '%|%'))")
    ctes.append(
        f"dw AS (SELECT doc_id, unnest({toks}) AS w FROM documents)")
    ctes.append(
        "cnts AS (SELECT doc_id, SUM(nt)::BIGINT AS n_tokens "
        "FROM dw JOIN venc USING (w) WHERE w <> '' GROUP BY doc_id)")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "SELECT d.doc_id, COALESCE(c.n_tokens, 0)::BIGINT AS "
            "n_tokens FROM documents d LEFT JOIN cnts c "
            "ON d.doc_id = c.doc_id")


def _bpe_merges_sql(n_merges: int = 3) -> str:
    ctes = _bpe_chain_ctes(n_merges, "s")
    selects = [
        (f"SELECT {i}::INT AS step, l AS \"left\", "
         f"r AS \"right\", n AS pair_count FROM t{i}")
        for i in range(1, n_merges + 1)]
    return ("WITH " + ",\n".join(ctes) + "\n"
            + " UNION ALL ".join(selects))



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {

        # ordering = driver-gate rotation priority (first 50 entries;
        # recomputed each round from CORRECTNESS_r*.json): everything
        # whose Spark code or oracle CHANGED in round 10 first (the
        # kmeans HUGEINT-cast fix, the ANN numpy-kernel migration, the
        # stream-read parquet sink, the word-gram hash), then the r9-touched-but-never-driver-verified set the
        # r9 verdict front-loaded (#2), then the r8-stale backlog
        # (last verified two rounds ago), then the freshly-green r9
        # window.
        "kmeans_topic_clusters": kmeans_topic_clusters,
        "ann_topk_bruteforce": ann_topk_bruteforce,
        "ann_topk_bucketed": ann_topk_bucketed,
        "ann_topk_ivf": ann_topk_ivf,
        "ann_topk_pq": ann_topk_pq,
        "ann_topk_pq_rerank": ann_topk_pq_rerank,
        "semantic_dedup_embeddings": semantic_dedup_embeddings,
        "embedding_near_dup": embedding_near_dup,
        "iceberg_stream_read": iceberg_stream_read,
        "jaccard_verified_dups": jaccard_verified_dups,
        "ngram_jaccard_dups": ngram_jaccard_dups,
        "minhash_lsh_recall": minhash_lsh_recall,
        "dedup_clusters": dedup_clusters,
        # --- r9-touched but never driver-verified (VERDICT r9 #2) ---
        "q21_waiting_supplier": q21_waiting_supplier,
        "winnow_near_dups": winnow_near_dups,
        "event_funnel": event_funnel,
        "source_divergence": source_divergence,
        # --- r10-touched after the rotation commit (ca79421) ---
        "bigram_predictability": bigram_predictability_scores,
        "repetition_metrics": repetition_metrics,
        # --- r10 session-2 touched: the MoR-scan group-merge (every
        # delete-applied scan lowers differently) + the drift-histogram
        # materialization; front-loaded so the gate re-verifies them ---
        "iceberg_mor_delete_scan": iceberg_mor_delete_scan,
        "iceberg_dv_delete_scan": iceberg_dv_delete_scan,
        "iceberg_merge_scan": iceberg_merge_scan,
        "iceberg_upsert_scan": iceberg_upsert_scan,
        "iceberg_compacted_scan": iceberg_compacted_scan,
        "iceberg_changelog_scan": iceberg_changelog_scan,
        "iceberg_snapshot_drift": iceberg_snapshot_drift,
        # --- r8-stale backlog (rotated out of the r9 window) ---
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q4_order_priority": q4_order_priority,
        "q5_regional_revenue": q5_regional_revenue,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q10_returned_items": q10_returned_items,
        "q13_customer_distribution": q13_customer_distribution,
        "q14_promo_revenue": q14_promo_revenue,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q18_large_volume_customers": q18_large_volume_customers,
        "q19_discounted_revenue": q19_discounted_revenue,
        "q22_idle_customers": q22_idle_customers,
        "dedup_exact": dedup_exact,
        "dedup_keep_best": dedup_keep_best,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_paragraphs_clean": dedup_paragraphs_clean,
        "dedup_simhash": dedup_simhash,
        "doc_fingerprints": doc_fingerprints,
        "iceberg_encrypted_scan": iceberg_encrypted_scan,
        "range_join_acctbal": range_join_acctbal,
        # --- beyond the 50-entry gate window: verified green in r9 ---
        "asof_join_events": asof_join_events,
        "bm25_search": bm25_search,
        "boilerplate_ngram_flags": boilerplate_ngram_flags,
        "bpe_encoded_lengths": bpe_encoded_lengths,
        "bpe_merge_table": bpe_merge_table,
        "bpe_top_pairs": bpe_top_pairs,
        "c4_quality_filter": c4_quality_filter,
        "context_window_chunks": context_window_chunks,
        "contrastive_negative_pairs": contrastive_negative_pairs,
        "decontaminate_docs": decontaminate_docs,
        "decontaminate_spans": decontaminate_spans,
        "dedup_fingerprint": dedup_fingerprint,
        "dedup_simhash_near": dedup_simhash_near,
        "distinctive_terms_by_lang": distinctive_terms_by_lang,
        "dsir_resample_top": dsir_resample_top,
        "duplicate_span_stats": duplicate_span_stats,
        "events_hourly": events_hourly,
        "events_resampled_dense": events_resampled_dense,
        "hypertable_rollup": hypertable_rollup,
        "iceberg_branch_scan": iceberg_branch_scan,
        "iceberg_bucket_scan": iceberg_bucket_scan,
        "iceberg_defaults_scan": iceberg_defaults_scan,
        "iceberg_incremental_scan": iceberg_incremental_scan,
        "iceberg_nested_defaults_scan": iceberg_nested_defaults_scan,
        "iceberg_partition_stats": iceberg_partition_stats,
        "iceberg_rest_scan": iceberg_rest_scan,
        "iceberg_scan_filter_project": iceberg_scan_filter_project,
        "iceberg_snapshot_log": iceberg_snapshot_log,
        "iceberg_sorted_scan": iceberg_sorted_scan,
        "iceberg_spec_evolution_scan": iceberg_spec_evolution_scan,
        "iceberg_time_travel": iceberg_time_travel,
        "iceberg_view_query": iceberg_view_query,
        "iceberg_zorder_scan": iceberg_zorder_scan,
        "label_centroids": label_centroids,
        "lang_histogram": lang_histogram,
        "leakage_safe_split_stats": leakage_safe_split_stats,
        "length_quantiles_by_source": length_quantiles_by_source,
        "mixture_sample_by_source": mixture_sample_by_source,
        "moving_avg_value": moving_avg_value,
        "multimodal_feature_vectors": multimodal_feature_vectors,
        "multimodal_features": multimodal_features,
        "multimodal_pack": multimodal_pack,
        "multimodal_resize": multimodal_resize,
        "ngram_diversity_profile": ngram_diversity_profile,
        "ngram_novelty_scores": ngram_novelty_scores,
        "pack_sequences": pack_sequences_q,
        "pii_scrub": pii_scrub,
        "props_json_stats": props_json_stats,
        "q11_important_parts": q11_important_parts,
        "q12_late_priority_mix": q12_late_priority_mix,
        "q16_supplier_part_counts": q16_supplier_part_counts,
        "q20_dominant_suppliers": q20_dominant_suppliers,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "rollup_pricing": rollup_pricing,
        "running_revenue": running_revenue,
        "sessionization": sessionization,
        "set_ops_customers": set_ops_customers,
        "shuffle_shards_export": shuffle_shards_export,
        "soft_dedup_weights": soft_dedup_weights,
        "source_contribution_caps": source_contribution_caps,
        "stratified_sample_by_lang": stratified_sample_by_lang,
        "strip_duplicate_spans": strip_duplicate_spans,
        "temperature_mixture_sample": temperature_mixture_sample,
        "text_stats": text_stats,
        "token_budget_mix": token_budget_mix,
        "token_frequency_quality": token_frequency_quality,
        "token_rarity_scores": token_rarity_scores,
        "token_summary_by_lang": token_summary_by_lang,
        "top_customers_per_nation": top_customers_per_nation,
        "training_pipeline_sample": training_pipeline_sample,
        "transforms_bucket": transforms_bucket,
        "transforms_datetime": transforms_datetime,
        "user_retention_cohorts": user_retention_cohorts,
        "variant_prune_scan": variant_prune_scan,
        "variant_shred": variant_shred,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "iceberg_zorder_scan": ZORDER_SCAN_SQL,
        "ann_topk_pq": _pq_sql(),
        "bpe_merge_table": _bpe_merges_sql(),
        "multimodal_pack": MULTIMODAL_PACK_SQL,
        "ngram_diversity_profile": _ngram_diversity_sql(),
        "iceberg_snapshot_drift": SNAPSHOT_DRIFT_SQL,
        "contrastive_negative_pairs": _negative_pairs_sql(),
        "training_pipeline_sample": TRAINING_PIPELINE_SQL,
        "jaccard_verified_dups": _verified_jaccard_sql(),
        "winnow_near_dups": _winnow_pairs_sql(
            min_shared=6,
            max_df_sql="greatest(20, (SELECT COUNT(*) FROM documents) // 25)"),
        "source_divergence": SOURCE_DIVERGENCE_SQL,
        "ngram_novelty_scores": NGRAM_NOVELTY_SQL,
        "c4_quality_filter": C4_RULES_SQL,
        "bigram_predictability": BIGRAM_PRED_SQL,
        "ann_topk_pq_rerank": _pq_rerank_sql(),
        "minhash_lsh_recall": _minhash_recall_sql(),
        "token_frequency_quality": TOKEN_FREQ_SQL,
        "iceberg_encrypted_scan": ENCRYPTED_SCAN_SQL,
        "q1_pricing_summary": Q1_SQL,
        "q3_shipping_priority": Q3_SQL,
        "q5_regional_revenue": Q5_SQL,
        "q6_forecast_revenue": Q6_SQL,
        "q7_volume_shipping": Q7_SQL,
        "q10_returned_items": Q10_SQL,
        "q14_promo_revenue": Q14_SQL,
        "q8_market_share": Q8_SQL,
        "q13_customer_distribution": Q13_SQL,
        "q15_top_supplier": Q15_SQL,
        "q17_small_quantity_revenue": Q17_SQL,
        "q2_min_cost_supplier": Q2_SQL,
        "q11_important_parts": Q11_SQL,
        "q12_late_priority_mix": Q12_SQL,
        "q16_supplier_part_counts": Q16_SQL,
        "q20_dominant_suppliers": Q20_SQL,
        "iceberg_stream_read": ICE_STREAM_SQL,
        "bpe_encoded_lengths": _bpe_encode_sql(),
        "q18_large_volume_customers": Q18_SQL,
        "q19_discounted_revenue": Q19_SQL,
        "q4_order_priority": Q4_SQL,
        "q9_product_profit": Q9_SQL,
        "q21_waiting_supplier": Q21_SQL,
        "q22_idle_customers": Q22_SQL,
        "rollup_pricing": ROLLUP_SQL,
        "set_ops_customers": SET_OPS_SQL,
        "top_customers_per_nation": TOP_CUST_SQL,
        "events_hourly": EVENTS_HOURLY_SQL,
        "events_resampled_dense": RESAMPLE_DENSE_SQL,
        "sessionization": SESSIONIZATION_SQL,
        "asof_join_events": ASOF_SQL,
        "range_join_acctbal": RANGE_JOIN_SQL,
        "running_revenue": RUNNING_REVENUE_SQL,
        "moving_avg_value": MOVING_AVG_SQL,
        "iceberg_scan_filter_project": ICE_SCAN_SQL,
        "iceberg_bucket_scan": ICE_BUCKET_SQL,
        "iceberg_time_travel": ICE_TT_SQL,
        "iceberg_incremental_scan": ICE_INC_SQL,
        "iceberg_mor_delete_scan": ICE_MOR_SQL,
        "iceberg_changelog_scan": ICE_CHANGELOG_SQL,
        "hypertable_rollup": HYPERTABLE_SQL,
        "iceberg_dv_delete_scan": ICE_DV_SQL,
        "iceberg_nested_defaults_scan": ICE_NESTED_DEFAULTS_SQL,
        "iceberg_upsert_scan": ICE_UPSERT_SQL,
        "iceberg_merge_scan": ICE_MERGE_SQL,
        "iceberg_defaults_scan": ICE_DEFAULTS_SQL,
        "iceberg_snapshot_log": SNAPSHOT_LOG_SQL,
        "transforms_datetime": TRANSFORMS_SQL,
        "transforms_bucket": _transforms_bucket_sql(),
        "dsir_resample_top": _dsir_sql(),
        "token_budget_mix": _token_budget_sql(),
        "decontaminate_spans": DECON_SPAN_SQL,
        "dedup_exact": DEDUP_EXACT_SQL,
        "dedup_keep_best": KEEP_BEST_SQL,
        "soft_dedup_weights": SOFT_DEDUP_SQL,
        "dedup_fingerprint": DEDUP_FP_SQL,
        "dedup_minhash_lsh": _minhash_sql(),
        "dedup_simhash": SIMHASH_SQL,
        "dedup_simhash_near": SIMHASH_NEAR_SQL,
        "dedup_paragraphs_clean": PARA_DEDUP_SQL,
        "event_funnel": FUNNEL_SQL,
        "user_retention_cohorts": RETENTION_SQL,
        "props_json_stats": PROPS_JSON_SQL,
        "bm25_search": BM25_SQL,
        "ngram_jaccard_dups": _jaccard_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "text_stats": TEXT_STATS_SQL,
        "lang_histogram": LANG_HIST_SQL,
        "token_summary_by_lang": TOKEN_SUMMARY_SQL,
        "doc_fingerprints": _doc_fp_sql(),
        "repetition_metrics": REPETITION_SQL,
        "decontaminate_docs": DECONTAMINATE_SQL,
        "token_rarity_scores": TOKEN_RARITY_SQL,
        "boilerplate_ngram_flags": BOILERPLATE_SQL,
        "stratified_sample_by_lang": SAMPLE_SQL,
        "mixture_sample_by_source": MIXTURE_SQL,
        "iceberg_partition_stats": ICE_PARTSTATS_SQL,
        "iceberg_view_query": ICE_VIEW_SQL,
        "duplicate_span_stats": DUP_SPAN_SQL,
        "strip_duplicate_spans": STRIP_SPAN_SQL,
        "length_quantiles_by_source": LENGTH_QUANTILES_SQL,
        "iceberg_spec_evolution_scan": ICE_SPECEVO_SQL,
        "iceberg_branch_scan": ICE_BRANCH_SQL,
        "iceberg_rest_scan": ICE_REST_SQL,
        "iceberg_compacted_scan": ICE_COMPACTED_SQL,
        "iceberg_sorted_scan": ICE_SORTED_SQL,
        "source_contribution_caps": CAP_SQL,
        "temperature_mixture_sample": TEMPERATURE_SQL,
        "context_window_chunks": CONTEXT_WINDOW_SQL,
        "bpe_top_pairs": BPE_PAIRS_SQL,
        "distinctive_terms_by_lang": DISTINCTIVE_TERMS_SQL,
        "shuffle_shards_export": SHUFFLE_SHARDS_SQL,
        "semantic_dedup_embeddings": _semantic_dedup_sql(),
        "pii_scrub": PII_SQL,
        "pack_sequences": PACK_SQL,
        "ann_topk_bruteforce": _ann_sql(False),
        "ann_topk_bucketed": _ann_sql(True),
        "ann_topk_ivf": _ivf_sql(),
        "kmeans_topic_clusters": _kmeans_sql(),
        "embedding_near_dup": _near_dup_sql(),
        "label_centroids": CENTROIDS_SQL,
        "variant_shred": VARIANT_SHRED_SQL,
        "variant_prune_scan": VARIANT_PRUNE_SQL,
        "leakage_safe_split_stats": LEAKAGE_SPLIT_SQL,
        "multimodal_features": MULTIMODAL_SQL,
        "multimodal_resize": MULTIMODAL_RESIZE_SQL,
        "multimodal_feature_vectors": MULTIMODAL_VEC_SQL,
    }
