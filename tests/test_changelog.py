"""Changelog (CDC) scan: inserts/deletes between snapshots across
append, MoR position-delete, CoW delete, and compaction commits.

Parity (behavior only): Iceberg-Java changelog semantics (the reference
has append-only incremental scans, table/scanner.go AppendsBetween);
replace commits must emit NO change rows.
"""

import pyspark.sql.functions as F
import pytest

from iceberg_go_spark import expressions as E
from iceberg_go_spark.catalog import FilesystemCatalog
from iceberg_go_spark.schema import Schema
from tests.conftest import id_less_table, read_table


def _changes(ch):
    return sorted((r._change_ordinal, r._change_type, r.id, r.v)
                  for r in ch.collect())


def test_changelog_across_commit_kinds(spark, tmp_path, sf_dir):
    src = read_table(spark, "orders", sf_dir)
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    t = cat.create_table("db.o", Schema.from_spark(src.schema))
    t.append(src)                                        # insert all
    s1 = t.current_snapshot().snapshot_id
    t.delete_where(spark, E.eq("o_orderstatus", "P"),
                   mode="merge-on-read")                 # MoR pos-delete
    t.append(src.limit(10))                              # insert 10
    t.compact(spark)                                     # replace: silent
    t.delete_where(spark, E.eq("o_orderstatus", "F"))    # CoW delete

    ch = t.changelog(spark)
    counts = {r["_change_type"]: r["n"] for r in
              ch.groupBy("_change_type").agg(
                  F.count("*").alias("n")).collect()}
    n_p = src.filter(F.col("o_orderstatus") == "P").count()
    n_f = src.filter(F.col("o_orderstatus") == "F").count()
    n_f10 = src.limit(10).filter(F.col("o_orderstatus") == "F").count()
    assert counts["insert"] == src.count() + 10
    assert counts["delete"] == n_p + n_f + n_f10

    # folding the changelog reproduces the final table row count
    net = (ch.groupBy(*[c for c in src.columns])
           .agg(F.sum(F.when(F.col("_change_type") == "insert", 1)
                      .otherwise(-1)).alias("n"))
           .filter(F.col("n") > 0)
           .agg(F.sum("n")).collect()[0][0])
    assert net == t.to_df(spark).count()

    # range anchoring: changes after s1 exclude the initial load
    ch2 = t.changelog(spark, from_snapshot_id=s1)
    assert ch2.filter(F.col("_change_type") == "insert").count() == 10

    # ordinals are monotone with commit order and stamp the right snapshot
    ords = [r["_change_ordinal"] for r in
            ch.select("_change_ordinal").distinct().collect()]
    assert sorted(ords) == ords or len(set(ords)) == len(ords)


def test_changelog_dv_deletes(spark, tmp_path, sf_dir):
    src = read_table(spark, "orders", sf_dir)
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    t = cat.create_table("db.dv", Schema.from_spark(src.schema))
    t.append(src)
    t.delete_where(spark, E.eq("o_orderstatus", "P"),
                   mode="merge-on-read-dv")
    ch = t.changelog(spark)
    n_p = src.filter(F.col("o_orderstatus") == "P").count()
    dels = ch.filter(F.col("_change_type") == "delete")
    assert dels.count() == n_p
    assert dels.filter(F.col("o_orderstatus") != "P").count() == 0


def test_changelog_empty_table(spark, tmp_path):
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    t = cat.create_table("db.empty", Schema.from_spark(
        spark.range(1).selectExpr("id").schema))
    assert t.changelog(spark).count() == 0


def test_changelog_cumulative_dv_not_rereported(spark, sf_dir, tmp_path):
    """v3 DVs are cumulative: a later DV carries every earlier position
    for its file — each snapshot's changelog must report only the NEWLY
    deleted rows."""
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.schema import Schema
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    t = cat.create_table("db.cdv", Schema.from_spark(df.schema),
                         properties={"format-version": "3"})
    t.append(df.coalesce(1))
    t.delete_where(spark, E.eq("id", 5), mode="merge-on-read-dv")
    t.delete_where(spark, E.eq("id", 7), mode="merge-on-read-dv")
    t = cat.load_table("db.cdv")
    ch = t.changelog(spark)
    dels = [(r.id, r._change_ordinal) for r in
            ch.filter("_change_type = 'delete'").collect()]
    # exactly one delete row per id, in its own snapshot
    assert sorted(dels) == [(5, 1), (7, 2)], sorted(dels)


def test_changelog_excludes_other_branches(spark, sf_dir, tmp_path):
    """Snapshots committed on another branch interleave in sequence
    numbers but are not part of main's lineage — the changelog walks
    the ancestry of `to`, not the global snapshot list."""
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.schema import Schema
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([(1,)], "id long")
    t = cat.create_table("db.br", Schema.from_spark(df.schema))
    t.append(df)
    base = t.current_snapshot().snapshot_id
    t.create_branch("dev", base)
    # commit on dev
    txn = t.new_transaction(branch="dev")
    txn.append(spark.createDataFrame([(100,)], "id long"))
    txn.commit()
    # commit on main
    t = cat.load_table("db.br")
    t.append(spark.createDataFrame([(2,)], "id long"))
    t = cat.load_table("db.br")
    ch = t.changelog(spark, from_snapshot_id=base)
    ids = sorted(r.id for r in ch.collect())
    assert ids == [2], ids  # dev's 100 must not leak into main's CDC


@pytest.mark.parametrize("mode", ["merge-on-read", "copy-on-write",
                                  "merge-on-read-dv"])
def test_changelog_upsert_then_delete(spark, tmp_path, mode):
    """The upsert's equality delete hides (1,'a') from the later delete,
    which removes the upserted (1,'A'): each row is reported deleted
    exactly once, in the snapshot that deleted it."""
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = cat.create_table("db.ud", Schema.from_spark(df.schema))
    t.append(df)
    t.upsert(spark, spark.createDataFrame([(1, "A"), (3, "c")], df.schema),
             ["id"])
    t = cat.load_table("db.ud")
    t.delete_where(spark, E.eq("id", 1), mode=mode)
    t = cat.load_table("db.ud")
    assert _changes(t.changelog(spark)) == [
        (0, "insert", 1, "a"), (0, "insert", 2, "b"),
        (1, "delete", 1, "a"), (1, "insert", 1, "A"),
        (1, "insert", 3, "c"),
        (2, "delete", 1, "A")]
    assert sorted(map(tuple, t.to_df(spark).collect())) == \
        [(2, "b"), (3, "c")]


def _id_less_rows(spark, tmp_path):
    rows = [(i, f"v{i}") for i in range(5)]
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    t = id_less_table(spark, cat, "db.idless",
                      spark.createDataFrame(rows, "id long, v string"),
                      str(tmp_path / "idless.parquet"))
    return cat, t, rows


def test_changelog_on_add_files_table(spark, tmp_path):
    """Files registered with add_files carry no field ids: the changelog
    resolves them through the name mapping, as the scan does, so the
    inserts carry values, not NULLs, and a delete finds its row."""
    cat, t, rows = _id_less_rows(spark, tmp_path)
    t.delete_where(spark, E.eq("id", 1), mode="merge-on-read")
    t = cat.load_table("db.idless")
    assert _changes(t.changelog(spark)) == sorted(
        [(0, "insert", i, v) for i, v in rows] + [(1, "delete", 1, "v1")])


def test_incremental_append_on_add_files_table(spark, tmp_path):
    from iceberg_go_spark.streaming.source import incremental_append_df
    cat, t, rows = _id_less_rows(spark, tmp_path)
    assert sorted(map(tuple, incremental_append_df(
        spark, t, None).collect())) == rows


def test_changelog_diffs_tables_with_a_map_column(spark, tmp_path):
    """Spark has no set operations on maps: a map column takes part in
    the diff as its entry array and comes back as a map."""
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2, "c": 3}), (3, None)],
        "id long, m map<string, int>")
    t = cat.create_table("db.maps", Schema.from_spark(df.schema))
    t.append(df.coalesce(1))
    t.delete_where(spark, E.eq("id", 2), mode="merge-on-read")
    t = cat.load_table("db.maps")
    t.delete_where(spark, E.eq("id", 1))
    t = cat.load_table("db.maps")
    ch = t.changelog(spark)
    assert ch.schema["m"].dataType == df.schema["m"].dataType
    got = sorted((r._change_ordinal, r._change_type, r.id,
                  sorted((r.m or {}).items())) for r in ch.collect())
    assert got == [(0, "insert", 1, [("a", 1)]),
                   (0, "insert", 2, [("b", 2), ("c", 3)]),
                   (0, "insert", 3, []),
                   (1, "delete", 2, [("b", 2), ("c", 3)]),
                   (2, "delete", 1, [("a", 1)])]



def _variant_table(spark, tmp_path, name):
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f'{{"a": {i}}}') for i in range(4)], "id long, j string"
    ).select("id", F.parse_json("j").alias("v"))
    t = cat.create_table(name, Schema.from_spark(df.schema),
                         properties={"format-version": "3"})
    t.append(df.coalesce(1))
    return cat, cat.load_table(name)


def _variant_changes(ch):
    return sorted((r._change_ordinal, r._change_type, r.id, r.a)
                  for r in ch.select(
                      "*", F.try_variant_get("v", "$.a", "long").alias("a"))
                  .collect())


@pytest.mark.parametrize("mode", ["merge-on-read", "merge-on-read-dv"])
def test_changelog_on_variant_table_after_mor_delete(spark, tmp_path, mode):
    """Spark has no set operations on VARIANT: a delete that leaves its
    data file in place is diffed by (file, position), so it needs none."""
    cat, t = _variant_table(spark, tmp_path, "db.vmor")
    t.delete_where(spark, E.eq("id", 1), mode=mode)
    t = cat.load_table("db.vmor")
    t.delete_where(spark, E.eq("id", 2), mode=mode)
    t = cat.load_table("db.vmor")
    assert _variant_changes(t.changelog(spark)) == sorted(
        [(0, "insert", i, i) for i in range(4)]
        + [(1, "delete", 1, 1), (2, "delete", 2, 2)])


def test_changelog_on_variant_table_after_cow_delete(spark, tmp_path):
    """A copy-on-write rewrite of a VARIANT table cannot be diffed by
    value: its survivors are reported deleted and inserted again, so the
    changelog still folds to the table."""
    cat, t = _variant_table(spark, tmp_path, "db.vcow")
    t.delete_where(spark, E.eq("id", 1), mode="copy-on-write")
    t = cat.load_table("db.vcow")
    assert _variant_changes(t.changelog(spark)) == sorted(
        [(0, "insert", i, i) for i in range(4)]
        + [(1, "delete", i, i) for i in range(4)]
        + [(1, "insert", i, i) for i in (0, 2, 3)])


@pytest.mark.parametrize("mode", ["merge-on-read", "copy-on-write"])
def test_changelog_on_table_with_a_map_in_a_struct(spark, tmp_path, mode):
    """A map inside a struct cannot be set-compared either; a delete's
    changes are still exact, and a copy-on-write survivor is reported as
    a delete and an insert."""
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, ({"a": 1},)), (2, ({"b": 2},)), (3, None)],
        "id long, s struct<m: map<string, int>>")
    t = cat.create_table("db.smap", Schema.from_spark(df.schema))
    t.append(df.coalesce(1))
    t.delete_where(spark, E.eq("id", 2), mode=mode)
    t = cat.load_table("db.smap")
    got = sorted((r._change_ordinal, r._change_type, r.id,
                  sorted((r.s.m or {}).items()) if r.s else None)
                 for r in t.changelog(spark).collect())
    inserted = [(0, "insert", 1, [("a", 1)]), (0, "insert", 2, [("b", 2)]),
                (0, "insert", 3, None)]
    if mode == "merge-on-read":
        changed = [(1, "delete", 2, [("b", 2)])]
    else:
        changed = [(1, "delete", 1, [("a", 1)]), (1, "delete", 2, [("b", 2)]),
                   (1, "delete", 3, None), (1, "insert", 1, [("a", 1)]),
                   (1, "insert", 3, None)]
    assert got == sorted(inserted + changed)
