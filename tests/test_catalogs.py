"""SQL catalog (sqlite CAS), name mapping, add_files."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from iceberg_go_spark.catalog.filesystem import (CommitConflictError,
                                                 NoSuchTableError,
                                                 TableAlreadyExistsError)
from iceberg_go_spark.catalog.sql import SqlCatalog
from iceberg_go_spark.meta.name_mapping import NameMapping
from iceberg_go_spark.schema import Schema
from iceberg_go_spark import types as T

from conftest import read_table


@pytest.fixture()
def cat(tmp_path):
    return SqlCatalog(str(tmp_path / "wh"))


def test_sql_catalog_crud(cat, spark, sf_dir):
    df = read_table(spark, "region", sf_dir)
    schema = Schema.from_spark(df.schema)
    cat.create_namespace("db", {"owner": "tests"})
    t = cat.create_table("db.r", schema)
    assert cat.table_exists("db.r")
    assert ("db", "r") in cat.list_tables("db")
    assert cat.namespace_properties("db") == {"owner": "tests"}
    with pytest.raises(TableAlreadyExistsError):
        cat.create_table("db.r", schema)

    t.append(df)
    t2 = cat.load_table("db.r")
    assert t2.to_df(spark).count() == df.count()

    cat.rename_table("db.r", "db.r2")
    assert cat.table_exists("db.r2") and not cat.table_exists("db.r")
    cat.drop_table("db.r2")
    with pytest.raises(NoSuchTableError):
        cat.load_table("db.r2")


def test_sql_catalog_cas_conflict(cat, spark, sf_dir):
    df = read_table(spark, "region", sf_dir)
    schema = Schema.from_spark(df.schema)
    cat.create_table("db.c", schema)
    a = cat.load_table("db.c")
    b = cat.load_table("db.c")
    a.append(df)
    # b has a stale base; its transaction must refresh+rebase then succeed
    b.append(df.limit(2))
    final = cat.load_table("db.c")
    assert final.to_df(spark).count() == df.count() + 2
    assert [s.sequence_number for s in final.snapshots()] == [1, 2]


def test_sql_catalog_concurrent_threads(cat, spark, sf_dir):
    df = read_table(spark, "region", sf_dir).cache()
    df.count()
    schema = Schema.from_spark(df.schema)
    cat.create_table("db.t", schema)
    errs = []

    def appender():
        try:
            cat.load_table("db.t").append(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=appender) for _ in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    final = cat.load_table("db.t")
    assert final.to_df(spark).count() == 3 * df.count()
    assert sorted(s.sequence_number for s in final.snapshots()) == [1, 2, 3]


def test_name_mapping_roundtrip():
    schema = Schema([
        T.NestedField(1, "id", T.LongType(), required=True),
        T.NestedField(2, "tags", T.ListType(3, T.StringType())),
        T.NestedField(4, "props", T.MapType(5, T.StringType(), 6,
                                            T.IntegerType())),
    ])
    nm = NameMapping.from_schema(schema)
    assert nm.id_for("id") == 1
    assert nm.id_for("tags") == 2
    back = NameMapping.from_json(nm.to_json())
    assert back.id_for("props") == 4
    assert back.id_for("nope") is None


def test_add_files(cat, spark, sf_dir, tmp_path):
    df = read_table(spark, "nation", sf_dir)
    schema = Schema.from_spark(df.schema)
    t = cat.create_table("db.af", schema)
    ext = str(tmp_path / "external")
    df.coalesce(1).write.parquet(ext)
    paths = [os.path.join(ext, p) for p in os.listdir(ext)
             if p.endswith(".parquet")]
    t.new_transaction().add_files(spark, paths).commit()
    assert t.to_df(spark).count() == df.count()
    # stats got harvested -> metrics pruning works on registered files
    from iceberg_go_spark import expressions as E
    scan = t.scan(E.eq("n_nationkey", 3))
    assert scan.to_df(spark).count() == 1
    with pytest.raises(ValueError):
        t.new_transaction().add_files(spark, paths)  # duplicates


@pytest.fixture()
def rest(tmp_path):
    from iceberg_go_spark.catalog.rest import RestCatalog, RestCatalogServer
    server = RestCatalogServer(str(tmp_path / "wh")).start()
    yield RestCatalog(server.uri)
    server.stop()


def test_rest_catalog_crud(rest, spark, sf_dir):
    df = read_table(spark, "region", sf_dir)
    schema = Schema.from_spark(df.schema)
    rest.create_namespace("db")
    assert ("db",) in rest.list_namespaces()
    t = rest.create_table("db.r", schema)
    assert rest.table_exists("db.r")
    assert ("db", "r") in rest.list_tables("db")
    with pytest.raises(TableAlreadyExistsError):
        rest.create_table("db.r", schema)

    # write/read through the REST commit path
    t.append(df)
    t2 = rest.load_table("db.r")
    assert t2.to_df(spark).count() == df.count()
    assert t2.current_snapshot().summary["operation"] == "append"

    rest.rename_table("db.r", "db.r2")
    assert rest.table_exists("db.r2") and not rest.table_exists("db.r")
    rest.drop_table("db.r2")
    with pytest.raises(NoSuchTableError):
        rest.load_table("db.r2")


def test_rest_catalog_cas(rest, spark, sf_dir):
    df = read_table(spark, "region", sf_dir)
    schema = Schema.from_spark(df.schema)
    rest.create_namespace("db")
    rest.create_table("db.c", schema)
    a = rest.load_table("db.c")
    b = rest.load_table("db.c")
    a.append(df)
    b.append(df.limit(2))  # stale base -> 412 -> refresh+rebase -> success
    final = rest.load_table("db.c")
    assert final.to_df(spark).count() == df.count() + 2
    assert [s.sequence_number for s in final.snapshots()] == [1, 2]


def test_add_files_name_mapping_rename(cat, spark, sf_dir, tmp_path):
    """ID-less imported files must resolve through the spec name mapping
    (schema.name-mapping.default) — including after a column rename, and
    with only spec fields in the written manifests."""
    from iceberg_go_spark.meta.name_mapping import PROP_NAME_MAPPING
    from iceberg_go_spark.meta import manifests as M

    df = read_table(spark, "nation", sf_dir)
    schema = Schema.from_spark(df.schema)
    t = cat.create_table("db.af2", schema)
    ext = str(tmp_path / "ext2")
    df.coalesce(1).write.parquet(ext)
    paths = [os.path.join(ext, p) for p in os.listdir(ext)
             if p.endswith(".parquet")]
    t.new_transaction().add_files(spark, paths).commit()
    assert PROP_NAME_MAPPING in t.properties()

    # rename resolves by field ID through the mapping: old file column
    # n_name -> id -> new schema name
    t.update_schema().rename_column("n_name", "nation_name").commit()
    got = t.to_df(spark)
    assert "nation_name" in got.columns
    exp = {r.n_name for r in df.select("n_name").collect()}
    assert {r.nation_name for r in got.select("nation_name").collect()} == exp

    # manifests contain only spec fields (no custom name_based column)
    snap = t.current_snapshot()
    for mf in M.read_manifest_list(snap.manifest_list):
        with open(mf.manifest_path, "rb") as f:
            raw = f.read()
        assert b"name_based" not in raw


def test_rest_scan_planning(rest, spark, sf_dir):
    """Remote planTableScan returns the same pruned FileScanTasks as local
    planning — filter pushdown happens server-side, next to the metadata."""
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark.meta.partitioning import spec_from_names

    df = read_table(spark, "orders", sf_dir)
    schema = Schema.from_spark(df.schema)
    rest.create_namespace("plandb")
    t = rest.create_table(
        "plandb.o", schema, spec_from_names(schema, ("o_orderdate", "year")))
    t.append(df)
    t.delete_where(spark, E.eq("o_orderstatus", "F"), mode="merge-on-read")
    t = rest.load_table("plandb.o")

    expr = E.gt_eq("o_orderdate", "1995-01-01")
    local = t.scan(expr).plan_files()
    remote = rest.plan_table_scan("plandb.o", row_filter=expr)
    assert len(local) == len(remote) > 0

    def key(task):
        return (task.data_file.file_path, task.sequence_number,
                tuple(sorted(d.file_path for d in task.pos_deletes)),
                tuple(sorted(d.file_path for d in task.eq_deletes)))
    assert sorted(map(key, local)) == sorted(map(key, remote))
    # stats survive the wire (pruning-relevant fields)
    lf = {t_.data_file.file_path: t_.data_file for t_ in local}
    for task in remote:
        src = lf[task.data_file.file_path]
        assert task.data_file.record_count == src.record_count
        assert task.data_file.lower_bounds == src.lower_bounds
        assert task.data_file.partition == src.partition

    # async submitted/poll protocol yields the same plan
    polled = rest.plan_table_scan("plandb.o", row_filter=expr,
                                  use_async=True)
    assert sorted(map(key, polled)) == sorted(map(key, local))
    # planning with no filter sees every live file
    assert len(rest.plan_table_scan("plandb.o")) == \
        len(t.scan().plan_files())


def test_rest_list_pagination(tmp_path):
    """The client follows next-page-token across every list endpoint; a
    page_size-2 server still yields the complete catalog."""
    from iceberg_go_spark.catalog.rest import (RestCatalog,
                                               RestCatalogServer)
    srv = RestCatalogServer(str(tmp_path / "wh"), page_size=2).start()
    try:
        cat = RestCatalog(srv.uri)
        for i in range(7):
            cat.create_namespace((f"ns{i}",))
        assert len(cat.list_namespaces()) == 7
        import pyspark.sql.types as ST
        from iceberg_go_spark.schema import Schema
        sch = Schema.from_spark(ST.StructType(
            [ST.StructField("id", ST.LongType())]))
        for i in range(5):
            cat.create_table(("ns0", f"t{i}"), sch)
        tables = cat.list_tables(("ns0",))
        assert sorted(tables) == [("ns0", f"t{i}") for i in range(5)]
    finally:
        srv.stop()


def test_rest_namespace_properties(tmp_path):
    from iceberg_go_spark.catalog.rest import (RestCatalog,
                                               RestCatalogServer)
    srv = RestCatalogServer(str(tmp_path / "wh")).start()
    try:
        cat = RestCatalog(srv.uri)
        cat.create_namespace(("db",), properties={"owner": "a"})
        assert cat.load_namespace_properties(("db",)) == {"owner": "a"}
        summary = cat.update_namespace_properties(
            ("db",), removals=["owner", "nope"], updates={"tier": "cold"})
        assert summary == {"updated": ["tier"], "removed": ["owner"],
                           "missing": ["nope"]}
        assert cat.load_namespace_properties(("db",)) == {"tier": "cold"}
    finally:
        srv.stop()


def test_rest_pagination_stable_under_mutation(tmp_path):
    """Cursor tokens (not offsets): dropping an already-served entry
    between pages must not skip a surviving one."""
    from iceberg_go_spark.catalog.rest import (RestCatalog,
                                               RestCatalogServer)
    import json as _json
    import urllib.request
    srv = RestCatalogServer(str(tmp_path / "wh"), page_size=2).start()
    try:
        cat = RestCatalog(srv.uri)
        for i in range(6):
            cat.create_namespace((f"ns{i}",))
        # fetch page 1 manually
        with urllib.request.urlopen(srv.uri + "/v1/namespaces") as r:
            first = _json.loads(r.read())
        assert [n[0] for n in first["namespaces"]] == ["ns0", "ns1"]
        token = first["next-page-token"]
        # drop an entry that was already served, then continue paging
        cat.drop_namespace(("ns0",))
        url = (srv.uri + "/v1/namespaces?pageToken="
               + urllib.parse.quote(token))
        import urllib.parse
        with urllib.request.urlopen(url) as r:
            second = _json.loads(r.read())
        assert [n[0] for n in second["namespaces"]] == ["ns2", "ns3"]
        # full client walk sees every survivor exactly once
        assert sorted(cat.list_namespaces()) == \
            [(f"ns{i}",) for i in range(1, 6)]
    finally:
        srv.stop()


def test_rest_drop_table_purge(tmp_path, spark, sf_dir):
    import os
    from iceberg_go_spark.catalog.rest import (RestCatalog,
                                               RestCatalogServer)
    from conftest import read_table
    srv = RestCatalogServer(str(tmp_path / "wh")).start()
    try:
        cat = RestCatalog(srv.uri)
        cat.create_namespace(("db",))
        df = read_table(spark, "region", sf_dir)
        t = cat.create_table(("db", "purged"), Schema.from_spark(df.schema))
        t.append(df)
        loc = t.location()
        assert os.path.isdir(loc)
        cat.drop_table(("db", "purged"), purge=True)
        assert not os.path.exists(loc)
        # non-purge drop keeps files
        t2 = cat.create_table(("db", "kept"), Schema.from_spark(df.schema))
        t2.append(df)
        loc2 = t2.location()
        cat.drop_table(("db", "kept"))
        assert os.path.isdir(loc2)
    finally:
        srv.stop()


def test_sql_catalog_postgres_dialect_wire(tmp_path):
    """The postgres dialect must emit pg-flavored SQL end-to-end: the
    fake-wire adapter rejects any sqlite-only statement ('?'
    placeholders, INSERT OR REPLACE, BEGIN IMMEDIATE), so these ops
    passing proves the dialect translation is complete."""
    import functools
    from iceberg_go_spark.catalog import SqlCatalog
    from tests.support.fake_pg import FakePgCursor, fake_pg_connect

    root = str(tmp_path / "pgwh")
    import os as _os
    _os.makedirs(root, exist_ok=True)
    cat = SqlCatalog(root, dialect="postgres",
                     connect=functools.partial(
                         fake_pg_connect, _os.path.join(root, "pg.db")))
    cat.create_namespace("db", {"owner": "me"})
    assert cat.namespace_properties("db") == {"owner": "me"}
    # upsert path (ON CONFLICT DO UPDATE) really updates
    cat.update_namespace_properties("db", updates={"owner": "you"})
    assert cat.namespace_properties("db") == {"owner": "you"}

    with pytest.raises(SyntaxError):
        FakePgCursor._translate("SELECT * FROM t WHERE x = ?")
    with pytest.raises(SyntaxError):
        FakePgCursor._translate("INSERT OR REPLACE INTO t VALUES (%s)")
    with pytest.raises(SyntaxError):
        FakePgCursor._translate("BEGIN IMMEDIATE")

    # configuration guardrails
    with pytest.raises(ValueError, match="unknown sql catalog dialect"):
        SqlCatalog(root, dialect="cockroach")
    with pytest.raises(ValueError, match="needs a connect"):
        SqlCatalog(root, dialect="postgres")


def test_name_mapping_evolves_with_schema(cat, spark, sf_dir, tmp_path):
    """Schema evolution updates schema.name-mapping.default alongside
    (UpdateNameMapping parity): renamed columns gain their new name as
    an alias, so ID-less files written under EITHER name resolve; a
    column added after import resolves new ID-less files by name too."""
    from iceberg_go_spark.meta.name_mapping import (NameMapping,
                                                    PROP_NAME_MAPPING)

    df = read_table(spark, "region", sf_dir)
    t = cat.create_table("db.nmev", Schema.from_spark(df.schema))
    ext = str(tmp_path / "nm1")
    df.coalesce(1).write.parquet(ext)
    paths = [os.path.join(ext, p) for p in os.listdir(ext)
             if p.endswith(".parquet")]
    t.new_transaction().add_files(spark, paths).commit()

    t = (t.update_schema()
         .rename_column("r_name", "region_name")
         .add_column("tier", __import__(
             "iceberg_go_spark.types", fromlist=["types"]).StringType())
         .commit())
    nm = NameMapping.from_json(t.properties()[PROP_NAME_MAPPING])
    # old and new names both map to the same field id
    assert nm.id_for("r_name") == nm.id_for("region_name") is not None
    assert nm.id_for("tier") is not None

    # import an ID-less file written with the NEW names
    from pyspark.sql import functions as F
    ext2 = str(tmp_path / "nm2")
    (df.withColumnRenamed("r_name", "region_name")
       .withColumn("tier", F.lit("gold"))
       .withColumn("r_regionkey", F.col("r_regionkey") + 100)
       .coalesce(1).write.parquet(ext2))
    paths2 = [os.path.join(ext2, p) for p in os.listdir(ext2)
              if p.endswith(".parquet")]
    t.new_transaction().add_files(spark, paths2).commit()

    got = t.to_df(spark)
    new_rows = got.filter(F.col("r_regionkey") >= 100)
    assert new_rows.count() == df.count()
    assert new_rows.filter(F.col("region_name").isNull()).count() == 0
    assert new_rows.filter(F.col("tier") == "gold").count() == df.count()
    # pre-evolution imported rows resolve through the OLD name alias
    old_rows = got.filter(F.col("r_regionkey") < 100)
    assert old_rows.filter(F.col("region_name").isNull()).count() == 0


def test_update_name_mapping_reassignment_and_adds():
    """Pure-unit UpdateNameMapping parity: rename appends an alias; a
    name reassigned to a different id is removed from its old owner;
    adds append entries (root and nested)."""
    from iceberg_go_spark import types as T
    from iceberg_go_spark.meta.name_mapping import (MappedField,
                                                    NameMapping,
                                                    update_name_mapping)

    nm = NameMapping([
        MappedField(["a"], 1),
        MappedField(["b"], 2),
        MappedField(["s"], 3, [MappedField(["x"], 4)]),
    ])
    # rename b->c; rename a->b (b now belongs to id 1: old owner loses it)
    updates = {
        2: T.NestedField(2, "c", T.StringType()),
        1: T.NestedField(1, "b", T.StringType()),
    }
    adds = {-1: [T.NestedField(10, "new_top", T.LongType())],
            3: [T.NestedField(11, "y", T.LongType())]}
    out = update_name_mapping(nm, updates, adds)
    assert out.id_for("a") == 1 and out.id_for("b") == 1
    assert out.id_for("c") == 2
    # field 2 no longer owns "b"
    f2 = next(f for f in out.fields if f.field_id == 2)
    assert f2.names == ["c"]
    assert out.id_for("new_top") == 10
    s = next(f for f in out.fields if f.field_id == 3)
    assert [f.names for f in s.fields] == [["x"], ["y"]]


def test_sql_catalog_namespace_surface(tmp_path, spark, sf_dir):
    """Round-8 review: drop_namespace exists, missing namespaces raise
    NoSuchNamespaceError (not empty dicts/lists), purge deletes files,
    and a lost create race does not orphan a v0 metadata file."""
    import os
    import pytest
    from iceberg_go_spark.catalog import SqlCatalog
    from iceberg_go_spark.catalog.glue import NoSuchNamespaceError
    cat = SqlCatalog(str(tmp_path / "wh"))
    with pytest.raises(NoSuchNamespaceError):
        cat.namespace_properties("nope")
    with pytest.raises(NoSuchNamespaceError):
        cat.drop_namespace("nope")
    cat.create_namespace("db", {"owner": "me"})
    assert cat.namespace_exists("db")
    df = read_table(spark, "region", sf_dir)
    t = cat.create_table("db.t", Schema.from_spark(df.schema))
    t.append(df)
    md_dir = os.path.join(t.metadata.location, "metadata")
    n_files_before = len(os.listdir(md_dir))
    with pytest.raises(Exception):
        cat.create_table("db.t", Schema.from_spark(df.schema))
    assert len(os.listdir(md_dir)) == n_files_before, \
        "lost create race orphaned a metadata file"
    with pytest.raises(ValueError, match="not empty"):
        cat.drop_namespace("db")
    loc = t.metadata.location
    cat.drop_table("db.t", purge=True)
    assert not os.path.exists(os.path.join(loc, "metadata")) or \
        not os.listdir(os.path.join(loc, "metadata"))
    cat.drop_namespace("db")
    assert not cat.namespace_exists("db")
