"""DML: CoW delete, MoR delete (pos + eq), overwrite, upsert."""

import os

import pytest
from pyspark.sql import functions as F

from iceberg_go_spark import expressions as E
from iceberg_go_spark.catalog import FilesystemCatalog
from iceberg_go_spark.meta.partitioning import spec_from_names
from iceberg_go_spark.schema import Schema

from conftest import id_less_table, read_table


@pytest.fixture()
def catalog(tmp_path):
    return FilesystemCatalog(str(tmp_path / "wh"))


def _parquet_scan_roots(df):
    """Root paths (raw, scheme-stripped) of each parquet scan node in
    ``df``'s executed physical plan, one set per scan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # not yet run: the initial plan
    leaves = plan.collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "FileSourceScanExec":
            continue
        roots = leaf.relation().location().rootPaths()
        out.append({roots.apply(j).toUri().getPath()
                    for j in range(roots.size())})
    return out


def _make(spark, sf_dir, catalog, name, spec_parts=None):
    df = read_table(spark, "orders", sf_dir)
    schema = Schema.from_spark(df.schema)
    spec = spec_from_names(schema, *spec_parts) if spec_parts else None
    t = catalog.create_table(f"db.{name}", schema, spec)
    t.append(df)
    return t, df


def test_cow_delete(spark, sf_dir, catalog):
    t, df = _make(spark, sf_dir, catalog, "o1",
                  [("o_orderdate", "year")])
    cutoff = str(df.selectExpr("date_add(min(o_orderdate), 400)").first()[0])
    expr = E.lt("o_orderdate", cutoff)
    t.delete_where(spark, expr)
    expected = df.filter(~(F.col("o_orderdate") < cutoff))
    got = t.to_df(spark)
    assert got.count() == expected.count()
    assert t.current_snapshot().summary["operation"] == "delete"
    # checksum
    a = expected.agg(F.sum("o_totalprice")).collect()[0][0]
    b = got.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_mor_pos_delete(spark, sf_dir, catalog):
    t, df = _make(spark, sf_dir, catalog, "o2")
    expr = E.eq("o_orderstatus", "F")
    t.delete_where(spark, expr, mode="merge-on-read")
    expected = df.filter(F.col("o_orderstatus") != "F")
    got = t.to_df(spark)
    assert got.count() == expected.count()
    # data files were NOT rewritten (merge-on-read)
    tasks = t.scan().plan_files()
    assert any(task.pos_deletes for task in tasks)
    # double delete on same table composes
    t.delete_where(spark, E.eq("o_orderstatus", "P"), mode="merge-on-read")
    expected2 = expected.filter(F.col("o_orderstatus") != "P")
    assert t.to_df(spark).count() == expected2.count()


def test_overwrite_where(spark, sf_dir, catalog):
    t, df = _make(spark, sf_dir, catalog, "o3")
    replacement = df.filter(F.col("o_orderstatus") == "O") \
        .withColumn("o_totalprice", F.lit(0.0))
    t.overwrite_where(spark, E.eq("o_orderstatus", "O"), replacement)
    got = t.to_df(spark)
    assert got.count() == df.count()
    assert got.filter((F.col("o_orderstatus") == "O") &
                      (F.col("o_totalprice") != 0.0)).count() == 0
    assert t.current_snapshot().summary["operation"] == "overwrite"


def test_upsert(spark, sf_dir, catalog):
    t, df = _make(spark, sf_dir, catalog, "o4")
    n = df.count()
    # update half the keys, insert brand-new ones
    updates = df.limit(200).withColumn("o_totalprice", F.lit(1.5))
    inserts = df.limit(50) \
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    batch = updates.unionByName(inserts)
    t.upsert(spark, batch, ["o_orderkey"])
    got = t.to_df(spark)
    assert got.count() == n + 50
    # updated rows carry new value
    some_key = updates.select("o_orderkey").first()[0]
    assert got.filter(F.col("o_orderkey") == some_key) \
        .select("o_totalprice").first()[0] == 1.5
    # second upsert of the same keys doesn't duplicate
    t.upsert(spark, updates.withColumn("o_totalprice", F.lit(9.9)),
             ["o_orderkey"])
    got2 = t.to_df(spark)
    assert got2.count() == n + 50
    assert got2.filter(F.col("o_orderkey") == some_key) \
        .select("o_totalprice").first()[0] == 9.9


def test_mor_pos_delete_partitioned(spark, sf_dir, catalog):
    """Pos deletes on a partitioned table must carry the partition tuple
    (fanout write) and be applied by the partition-gated scan."""
    t, df = _make(spark, sf_dir, catalog, "o5", [("o_orderdate", "year")])
    t.delete_where(spark, E.eq("o_orderstatus", "F"), mode="merge-on-read")
    expected = df.filter(F.col("o_orderstatus") != "F")
    assert t.to_df(spark).count() == expected.count()
    tasks = t.scan().plan_files()
    assert any(task.pos_deletes for task in tasks)
    # delete files are partition-scoped and live under deletes/, not data/
    dels = {d.file_path for task in tasks for d in task.pos_deletes}
    assert dels and all("/deletes/" in p for p in dels)
    parts = [d.partition for task in tasks for d in task.pos_deletes]
    assert any(p and any(v is not None for v in p.values()) for p in parts)
    # a partition-pruned scan still applies its deletes
    yr = df.selectExpr("year(min(o_orderdate))").first()[0]
    pruned = t.scan(E.lt("o_orderdate", f"{yr + 1}-01-01"))
    exp2 = expected.filter(F.col("o_orderdate") < f"{yr + 1}-01-01")
    assert pruned.to_df(spark).count() == exp2.count()
    # partition-fanout pos deletes must NOT split the scan into one
    # pipeline per partition: positional deletes are path-keyed, so the
    # lowering reads every data file in ONE parquet scan + anti-join
    # (one scan branch per partition meant O(partitions) plan blowup)
    per_task_sets = {frozenset(d.file_path for d in task.pos_deletes)
                     for task in tasks}
    assert len(per_task_sets) > 1  # fixture really fans out per partition
    data_files = {task.data_file.file_path for task in tasks}
    scans = _parquet_scan_roots(t.to_df(spark))
    assert [r for r in scans if r & data_files] == [data_files]


def test_dv_delete_partitioned(spark, sf_dir, catalog):
    t, df = _make(spark, sf_dir, catalog, "o6", [("o_orderdate", "year")])
    t.delete_where(spark, E.eq("o_orderstatus", "F"),
                   mode="merge-on-read-dv")
    expected = df.filter(F.col("o_orderstatus") != "F")
    assert t.to_df(spark).count() == expected.count()
    tasks = t.scan().plan_files()
    assert any(d.file_format == "PUFFIN"
               for task in tasks for d in task.pos_deletes)


def test_cow_after_mor_no_resurrection(spark, sf_dir, catalog):
    """A CoW rewrite must apply existing MoR deletes; raw-parquet rewrites
    would resurrect previously-deleted rows."""
    t, df = _make(spark, sf_dir, catalog, "o7")
    t.delete_where(spark, E.eq("o_orderstatus", "F"), mode="merge-on-read")
    n_after_mor = t.to_df(spark).count()
    # CoW delete on a different predicate rewrites the same files
    t.delete_where(spark, E.eq("o_orderpriority", "1-URGENT"))
    expected = (df.filter(F.col("o_orderstatus") != "F")
                .filter(F.col("o_orderpriority") != "1-URGENT"))
    got = t.to_df(spark)
    assert got.count() == expected.count() < n_after_mor
    assert got.filter(F.col("o_orderstatus") == "F").count() == 0
    # dead pos-delete files were dropped with their data files
    tasks = t.scan().plan_files()
    assert not any(task.pos_deletes for task in tasks)


def test_overwrite_after_upsert_no_resurrection(spark, sf_dir, catalog):
    t, df = _make(spark, sf_dir, catalog, "o8")
    updates = df.limit(100).withColumn("o_totalprice", F.lit(42.0))
    t.upsert(spark, updates, ["o_orderkey"])
    some_key = updates.select("o_orderkey").first()[0]
    # overwrite rows NOT including the upserted key's row; rewrite must
    # not resurrect the pre-upsert version of upserted rows
    t.overwrite_where(
        spark, E.eq("o_orderstatus", "P"),
        df.filter(F.col("o_orderstatus") == "P")
          .withColumn("o_totalprice", F.lit(0.0)))
    got = t.to_df(spark)
    assert got.count() == df.count()
    row = got.filter(F.col("o_orderkey") == some_key) \
        .select("o_totalprice").collect()
    assert len(row) == 1


def test_merge_into_update_and_insert(spark, sf_dir, catalog):
    t, df = _make(spark, sf_dir, catalog, "mrg")
    n = df.count()
    # source: 10 existing keys with changed priority + 5 brand-new keys
    existing = (df.limit(10)
                .withColumn("o_orderpriority", F.lit("MERGED")))
    mx = df.agg(F.max("o_orderkey")).first()[0]
    new = (df.limit(5)
           .withColumn("o_orderkey", F.col("o_orderkey") + mx + 1000)
           .withColumn("o_orderpriority", F.lit("NEW")))
    t = t.merge_into(spark, existing.unionByName(new), ["o_orderkey"])

    got = t.to_df(spark)
    assert got.count() == n + 5
    assert got.filter(F.col("o_orderpriority") == "MERGED").count() == 10
    assert got.filter(F.col("o_orderpriority") == "NEW").count() == 5
    # untouched rows unchanged
    keys = [r.o_orderkey for r in existing.select("o_orderkey").collect()]
    untouched = got.filter(~F.col("o_orderkey").isin(keys)
                           & (F.col("o_orderpriority") != "NEW"))
    assert untouched.count() == n - 10


def test_merge_into_delete_and_condition(spark, sf_dir, catalog):
    t, df = _make(spark, sf_dir, catalog, "mrgdel",
                  spec_parts=[("o_orderdate", "month")])
    n = df.count()
    victims = df.filter(F.col("o_orderstatus") == "F").limit(20)
    nv = victims.count()
    t = t.merge_into(spark, victims.select("o_orderkey"), ["o_orderkey"],
                     when_matched="delete", insert_not_matched=False)
    assert t.to_df(spark).count() == n - nv
    # merge-written deletes fan out through the partition mapping
    parts = {tuple(sorted(d.partition.items()))
             for task in t.scan().plan_files() for d in task.pos_deletes}
    assert len(parts) > 1

    # conditional update: only 'O' rows of the matched keys change
    some = t.to_df(spark).limit(30).select("o_orderkey", "o_custkey",
                                           "o_orderstatus", "o_totalprice",
                                           "o_orderdate", "o_orderpriority")
    cond_src = some.withColumn("o_orderpriority", F.lit("COND"))
    before_o = (t.to_df(spark)
                .join(some.select("o_orderkey"), "o_orderkey", "leftsemi")
                .filter(F.col("o_orderstatus") == "O").count())
    t = t.merge_into(spark, cond_src, ["o_orderkey"],
                     matched_condition="o_orderstatus = 'O'",
                     insert_not_matched=False)
    got = t.to_df(spark)
    assert got.filter(F.col("o_orderpriority") == "COND").count() == before_o
    assert got.count() == n - nv


def test_merge_into_rejects_duplicate_source_keys(spark, sf_dir, catalog):
    t, df = _make(spark, sf_dir, catalog, "mrgdup")
    src = df.limit(3).unionByName(df.limit(3))
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge_into(spark, src, ["o_orderkey"])


def _merge_fixture(spark, sf_dir, catalog, name):
    """Orders carrying MoR position deletes, an upsert's equality
    delete and a duplicated key (one more row for key ``dup``)."""
    t, df = _make(spark, sf_dir, catalog, name, [("o_orderdate", "year")])
    t.delete_where(spark, E.eq("o_orderstatus", "F"), mode="merge-on-read")
    live = df.filter(F.col("o_orderstatus") == "O").orderBy("o_orderkey")
    t.upsert(spark, live.limit(20).withColumn("o_totalprice", F.lit(1.5)),
             ["o_orderkey"])
    dup = live.limit(1).withColumn("o_orderpriority", F.lit("DUP"))
    t.append(dup)
    return catalog.load_table(f"db.{name}"), df, dup.first().o_orderkey


def test_merge_into_default_form_matches_general_path(spark, sf_dir,
                                                      catalog):
    """The default MERGE (update + insert, no condition or filter) writes
    the source as-is; the same merge forced through the general key-set
    path (``matched_condition="true"``) must leave the same rows."""
    fast, df, dup = _merge_fixture(spark, sf_dir, catalog, "mrgfast")
    slow, _, _ = _merge_fixture(spark, sf_dir, catalog, "mrgslow")
    gone = df.filter(F.col("o_orderstatus") == "F") \
        .orderBy("o_orderkey").first().o_orderkey
    mx = df.agg(F.max("o_orderkey")).first()[0]
    base = df.filter(F.col("o_orderkey") == dup).drop("o_orderkey")
    src = (base.crossJoin(spark.createDataFrame(
               [(dup,), (gone,), (mx + 1,), (None,)], "o_orderkey long"))
           .withColumn("o_orderpriority",
                       F.concat(F.lit("SRC-"),
                                F.coalesce(F.col("o_orderkey").cast("string"),
                                           F.lit("null"))))
           .select(*df.columns))
    assert src.count() == 4

    fast = fast.merge_into(spark, src, ["o_orderkey"])
    slow = slow.merge_into(spark, src, ["o_orderkey"],
                           matched_condition="true")

    def rows(t):
        return sorted(t.to_df(spark).select(*df.columns).collect(),
                      key=lambda r: (r.o_orderkey is None, r.o_orderkey or 0,
                                     r.o_orderpriority))

    got = rows(fast)
    assert got == rows(slow)
    by_key = {}
    for r in got:
        by_key.setdefault(r.o_orderkey, []).append(r.o_orderpriority)
    # the duplicated key collapses to the one source row; the deleted,
    # new and null keys insert
    for k in (dup, gone, mx + 1, None):
        want = f"SRC-{k if k is not None else 'null'}"
        assert by_key[k] == [want], (k, by_key[k])
    n_live = df.filter(F.col("o_orderstatus") != "F").count()
    assert len(got) == n_live + 3  # gone, new and null keys


def test_upsert_across_key_rename_matches_model(spark, catalog):
    """Equality deletes written before and after a key rename carry
    different column names; a scan applies both (a renamed key is read
    under each of its names) and matches a plain model."""
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                               "id long, v string")
    t = catalog.create_table("db.ren", Schema.from_spark(df.schema))
    t.append(df)
    model = {i: f"v{i}" for i in range(10)}
    t.upsert(spark, spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a")], "id long, v string"), ["id"])
    model.update({1: "a", 2: "a", 3: "a"})
    t = catalog.load_table("db.ren")
    t.update_schema().rename_column("id", "key").commit()
    t = catalog.load_table("db.ren")
    t.upsert(spark, spark.createDataFrame(
        [(3, "b"), (4, "b"), (10, "b")], "key long, v string"), ["key"])
    model.update({3: "b", 4: "b", 10: "b"})
    got = sorted(tuple(r) for r in
                 catalog.load_table("db.ren").to_df(spark).collect())
    assert got == sorted(model.items())


def test_upsert_key_wider_than_table_column(spark, catalog):
    """An upsert batch whose key type is wider than the table's (long
    into an int key) writes its equality-delete keys with the table's
    type: readers read delete files with the table schema, and a long
    column does not read as int."""
    t = catalog.create_table("db.widekey", Schema.from_spark(
        spark.createDataFrame([], "id int, v string").schema))
    t.append(spark.createDataFrame([(i, "old") for i in range(5)],
                                   "id int, v string"))
    t.upsert(spark, spark.createDataFrame([(1, "new"), (7, "new")],
                                          "id long, v string"), ["id"])
    got = sorted(tuple(r) for r in
                 catalog.load_table("db.widekey").to_df(spark).collect())
    assert got == [(0, "old"), (1, "new"), (2, "old"), (3, "old"),
                   (4, "old"), (7, "new")]


def test_merge_into_candidate_filter_prunes(spark, sf_dir, catalog):
    """candidate_filter bounds the match scan to the source's partition
    range; keys outside it are neither matched nor re-inserted."""
    t, df = _make(spark, sf_dir, catalog, "mrgcand",
                  spec_parts=[("o_orderdate", "year")])
    n = df.count()
    win = (F.col("o_orderdate") >= "1996-01-01") & \
        (F.col("o_orderdate") < "1997-01-01")
    src = (df.filter(win).limit(15)
           .withColumn("o_orderpriority", F.lit("CAND")))
    n_src = src.count()
    expr = E.and_(E.gt_eq("o_orderdate", "1996-01-01T00:00:00"),
                  E.lt("o_orderdate", "1997-01-01T00:00:00"))
    # pruning engaged: the bounded scan plans fewer files
    full = len(t.scan().plan_files())
    pruned = len(t.scan(expr).plan_files())
    assert pruned < full
    t = t.merge_into(spark, src, ["o_orderkey"], candidate_filter=expr)
    got = t.to_df(spark)
    assert got.count() == n  # updates only, no spurious inserts
    assert got.filter(F.col("o_orderpriority") == "CAND").count() == n_src


def test_partition_scoped_eq_delete_never_crosses_specs(spark, sf_dir,
                                                        catalog):
    """A partition-scoped equality delete written under spec N applies
    only to spec-N files of that partition: applying it to files of a
    different spec over-deletes (reference DeleteFileIndex scopes by
    (spec, partition))."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    from iceberg_go_spark.meta import manifests as M
    from iceberg_go_spark.meta.metadata import OP_DELETE
    from iceberg_go_spark.meta.partitioning import spec_from_names

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    from iceberg_go_spark.schema import Schema
    sch = Schema.from_spark(df.schema)
    t = catalog.create_table("db.xspec", sch,
                             spec_from_names(sch, ("v", "identity")))
    t.append(df)  # spec 0 files
    t.update_spec().add_field("id", "bucket[4]").commit()
    t = catalog.load_table("db.xspec")

    # eq-delete for id=1, PARTITION-SCOPED under the NEW spec
    p = os.path.join(t.metadata.location, "deletes", "xspec-eq.parquet")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), p)
    id_field = next(f.field_id for f in t.metadata.schema().fields
                    if f.name == "id")
    eq = M.DataFile(content=M.CONTENT_EQ_DELETES, file_path=p,
                    file_format="PARQUET",
                    partition={"v": "a", "id_bucket": 2},
                    record_count=1, file_size_in_bytes=os.path.getsize(p),
                    equality_ids=[id_field])
    txn = t.new_transaction()
    txn.append_files([eq], operation=OP_DELETE)
    txn.commit()
    t = catalog.load_table("db.xspec")
    got = sorted(r.id for r in t.to_df(spark).collect())
    # the spec-0 data file is NOT in the delete's (spec, partition)
    # scope: id=1 must survive
    assert got == [1, 2], got


def test_snapshot_summary_total_records_excludes_delete_rows(
        spark, sf_dir, catalog):
    """total-records in the snapshot summary counts DATA rows only — a
    MoR table's positional-delete rows used to inflate it."""
    from iceberg_go_spark import expressions as E
    docs = read_table(spark, "orders", sf_dir)
    t = catalog.create_table("db.sumrec", Schema.from_spark(docs.schema))
    t.append(docs)
    n_data = docs.count()
    t.delete_where(spark, E.eq("o_orderstatus", "F"),
                   mode="merge-on-read")
    t = catalog.load_table("db.sumrec")
    t.append(docs.limit(0))  # summary computed over kept manifests
    t = catalog.load_table("db.sumrec")
    assert int(t.current_snapshot().summary["total-records"]) == n_data


def test_update_where_on_dv_covered_files(spark, sf_dir, catalog):
    """UPDATE over files that already carry deletion vectors must write
    its row-version deletes as merged DVs — parquet pos-deletes would
    be ignored by the reader's supersede rule, leaving the old versions
    live next to the reinserts (duplicate rows)."""
    from iceberg_go_spark import expressions as E
    df = spark.createDataFrame(
        [(i, "old", i % 3) for i in range(30)],
        "id long, v string, grp long")
    t = catalog.create_table("db.updv", Schema.from_spark(df.schema))
    t = t.upgrade_format_version(3)
    t.append(df.coalesce(1))
    t.delete_where(spark, E.eq("grp", 0), mode="merge-on-read-dv")
    t = catalog.load_table("db.updv")
    t.update_where(spark, E.eq("grp", 1), {"v": F.lit("new")})
    t = catalog.load_table("db.updv")
    rows = t.to_df(spark).collect()
    assert len(rows) == 20  # grp 0 deleted; no duplicated grp-1 rows
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.grp, set()).add(r.v)
    assert by_grp[1] == {"new"}   # old versions gone
    assert by_grp[2] == {"old"}
    # the table must still hold one DV per file, no parquet pos-deletes
    tasks = t.scan().plan_files()
    assert all(d.file_format == "PUFFIN"
               for tk in tasks for d in tk.pos_deletes)


def test_merge_into_on_dv_covered_files(spark, sf_dir, catalog):
    from iceberg_go_spark import expressions as E
    df = spark.createDataFrame(
        [(i, "old") for i in range(10)], "id long, v string")
    t = catalog.create_table("db.mgdv", Schema.from_spark(df.schema))
    t = t.upgrade_format_version(3)
    t.append(df.coalesce(1))
    t.delete_where(spark, E.eq("id", 0), mode="merge-on-read-dv")
    t = catalog.load_table("db.mgdv")
    src = spark.createDataFrame([(5, "merged"), (99, "inserted")],
                                "id long, v string")
    t.merge_into(spark, src, ["id"])
    t = catalog.load_table("db.mgdv")
    got = {r.id: r.v for r in t.to_df(spark).collect()}
    assert got[5] == "merged" and got[99] == "inserted"
    assert 0 not in got and len(got) == 10  # 1-9 + 99, id 5 ONCE


def test_update_where_simultaneous_assignments(spark, sf_dir, catalog):
    """Every assignment RHS evaluates against the PRE-update row (SQL
    UPDATE semantics): {'a': b, 'b': a} swaps."""
    from iceberg_go_spark import expressions as E
    df = spark.createDataFrame([(1, 10, 20)], "id long, a long, b long")
    t = catalog.create_table("db.swap", Schema.from_spark(df.schema))
    t.append(df)
    t.update_where(spark, E.eq("id", 1),
                   {"a": F.col("b"), "b": F.col("a")})
    t = catalog.load_table("db.swap")
    r = t.to_df(spark).collect()[0]
    assert (r.a, r.b) == (20, 10), (r.a, r.b)


def test_mor_and_dv_deletes_in_warehouse_path_with_space(spark, sf_dir,
                                                         tmp_path):
    """A table location containing a space, '+', '%' or non-ASCII char
    percent-encodes in Spark's _metadata.file_path URI; every delete-path
    join must compare RAW paths or the deletes silently stop applying
    (partitioned fanout mapping, merge match, DV referenced_data_file,
    read-side anti-joins).  '+' stays bare in the URI but a URL decoder
    reads it as a space; a literal '%' must round-trip."""
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.meta.partitioning import spec_from_names
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(20)],
        "id long, grp string")
    sch = Schema.from_spark(df.schema)
    for n, name in enumerate(["ware house", "ware+house 100%",
                              "entrepôt_倉庫"]):
        cat = FilesystemCatalog(str(tmp_path / str(n) / name))
        t = cat.create_table("db.sp", sch,
                             spec_from_names(sch, ("grp", "identity")))
        t.append(df)
        # partitioned MoR delete: the fanout mapping join keys on the path
        t.delete_where(spark, E.eq("id", 4), mode="merge-on-read")
        t = cat.load_table("db.sp")
        assert sorted(r.id for r in t.to_df(spark).collect()) == \
            [i for i in range(20) if i != 4], name
        # merge update: matched rows are located by decoded path
        t = t.merge_into(spark, df.filter("id in (1, 2)")
                         .withColumn("grp", F.concat("grp", F.lit("x"))),
                         ["id"], insert_not_matched=False)
        got = {r.id: r.grp for r in t.to_df(spark).collect()}
        assert sorted(got) == [i for i in range(20) if i != 4], name
        assert (got[1], got[2], got[3]) == ("bx", "ax", "b"), name
        # DV delete on the same table: referenced_data_file must be raw
        t = t.upgrade_format_version(3)
        t.delete_where(spark, E.eq("id", 7), mode="merge-on-read-dv")
        t = cat.load_table("db.sp")
        assert sorted(r.id for r in t.to_df(spark).collect()) == \
            [i for i in range(20) if i not in (4, 7)], name
        # lineage must also resolve (left join would null out on mismatch)
        rows = t.scan(row_lineage=True).to_df(spark).collect()
        assert all(r._row_id is not None for r in rows), name


def test_mor_delete_with_column_named_pos(spark, sf_dir, catalog):
    """A data column named `pos` (or `file_path`) must not be clobbered
    by the metadata projection before the predicate runs — the filter
    used to evaluate against the ROW INDEX instead of the data."""
    df = (read_table(spark, "nation", sf_dir)
          .withColumn("pos", F.col("n_nationkey") * 100)
          .withColumn("file_path", F.lit("user-data")))
    t = catalog.create_table("db.poscol", Schema.from_spark(df.schema))
    t.append(df)
    t = catalog.load_table("db.poscol")
    # rows with pos > 1000 <=> n_nationkey > 10
    t.delete_where(spark, E.gt("pos", 1000), mode="merge-on-read")
    t = catalog.load_table("db.poscol")
    got = t.scan().to_df(spark)
    assert got.filter(F.col("pos") > 1000).count() == 0
    exp = df.filter(F.col("pos") <= 1000).count()
    assert got.count() == exp


def test_v3_mor_delete_routes_to_dvs(spark, sf_dir, catalog):
    """v3 stores row-level deletes as deletion vectors (spec;
    transaction.go:2151): mode='merge-on-read' on a v3 table must land
    PUFFIN DV entries, never parquet position-delete files."""
    df = read_table(spark, "nation", sf_dir)
    t = catalog.create_table("db.v3mor", Schema.from_spark(df.schema),
                             properties={"format-version": "3"})
    t.append(df)
    t = catalog.load_table("db.v3mor")
    t.delete_where(spark, E.eq("n_nationkey", 5), mode="merge-on-read")
    t = catalog.load_table("db.v3mor")
    fmts = {d.file_format
            for task in t.scan().plan_files()
            for d in task.pos_deletes}
    assert fmts == {"PUFFIN"}
    assert t.scan().to_df(spark).filter(
        F.col("n_nationkey") == 5).count() == 0
    # update_where on v3 likewise writes DVs for its deletes
    t.update_where(spark, E.eq("n_nationkey", 7),
                   {"n_name": F.lit("UPD")})
    t = catalog.load_table("db.v3mor")
    fmts = {d.file_format
            for task in t.scan().plan_files()
            for d in task.pos_deletes}
    assert fmts <= {"PUFFIN"}
    got = t.scan().to_df(spark).filter(F.col("n_nationkey") == 7)
    assert [r.n_name for r in got.collect()] == ["UPD"]


def test_merge_preserves_row_lineage_on_update(spark, sf_dir, catalog):
    """v3 MERGE update keeps the matched row's _row_id (identity
    preserved — reference preserveRowLineage); inserted rows get fresh
    ids, and no two rows share one."""
    df = read_table(spark, "nation", sf_dir)
    t = catalog.create_table("db.mlin", Schema.from_spark(df.schema),
                             properties={"format-version": "3"})
    t.append(df)
    t = catalog.load_table("db.mlin")
    before = {r.n_nationkey: r._row_id for r in
              t.scan().with_row_lineage().to_df(spark)
              .select("n_nationkey", "_row_id").collect()}
    src_rows = [(3, "MERGED", 0), (99, "NEW", 0)]
    src = spark.createDataFrame(
        src_rows, df.select("n_nationkey", "n_name",
                            "n_regionkey").schema)
    t.merge_into(spark, src, ["n_nationkey"])
    t = catalog.load_table("db.mlin")
    after_df = t.scan().with_row_lineage().to_df(spark)
    after = {r.n_nationkey: r._row_id for r in
             after_df.select("n_nationkey", "_row_id").collect()}
    assert after[3] == before[3], "updated row lost its identity"
    assert after[99] is not None and after[99] not in before.values()
    n = after_df.count()
    assert after_df.select("_row_id").distinct().count() == n


def test_dv_supersede_survives_occ_rebase(spark, sf_dir, catalog):
    """A DV delete whose commit rebases over a concurrent append must
    still expunge the superseded DV entry — at most ONE live DV per
    data file (v3 invariant; other engines' DV index rejects tables
    violating it)."""
    df = read_table(spark, "nation", sf_dir)
    t = catalog.create_table("db.dvocc", Schema.from_spark(df.schema),
                             properties={"format-version": "3"})
    t.append(df)
    t = catalog.load_table("db.dvocc")
    t.delete_where(spark, E.eq("n_nationkey", 1),
                   mode="merge-on-read-dv")
    # stale handle plans a second DV delete against the same file
    stale = catalog.load_table("db.dvocc")
    fresh = catalog.load_table("db.dvocc")
    fresh.append(df.limit(1))  # concurrent winner forces a rebase
    stale.delete_where(spark, E.eq("n_nationkey", 2),
                       mode="merge-on-read-dv")
    t = catalog.load_table("db.dvocc")
    per_file = {}
    for task in t.scan().plan_files():
        for d in task.pos_deletes:
            if d.file_format == "PUFFIN":
                per_file.setdefault(
                    task.data_file.file_path, set()).add(d.file_path)
    for fp, containers in per_file.items():
        assert len(containers) == 1, \
            f"two live DVs for {fp}: {sorted(containers)}"
    got = t.scan().to_df(spark)
    assert got.filter(F.col("n_nationkey").isin(1, 2)).count() == 0


@pytest.mark.parametrize("op", ["merge-on-read", "merge-on-read-dv",
                                "update", "merge"])
def test_row_level_ops_on_add_files_table(spark, tmp_path, catalog, op):
    """Row-level operations on files registered with add_files (no field
    ids) match rows through the name mapping, as the scan reads them:
    read by id, every column of such a file would be NULL and nothing
    would match."""
    rows = [(i, f"v{i}") for i in range(5)]
    t = id_less_table(spark, catalog, "db.idless",
                      spark.createDataFrame(rows, "id long, v string"),
                      str(tmp_path / "idless.parquet"))
    expected = dict(rows)
    if op == "update":
        t.update_where(spark, E.eq("id", 1), {"v": F.lit("U")})
        expected[1] = "U"
    elif op == "merge":
        t.merge_into(spark, spark.createDataFrame(
            [(0, "X"), (9, "n")], "id long, v string"), ["id"])
        expected.update({0: "X", 9: "n"})
    else:
        t.delete_where(spark, E.eq("id", 1), mode=op)
        del expected[1]
    got = catalog.load_table("db.idless").to_df(spark).collect()
    assert sorted(map(tuple, got)) == sorted(expected.items())

