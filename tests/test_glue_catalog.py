"""Glue catalog over the boto3-shaped client interface.

Parity (behavior only): /root/reference/catalog/glue/glue.go —
pyiceberg table parameters (glue.go:47-66), VersionId optimistic locking
on commit (glue.go:345-414), the rename claim protocol (glue.go:466-545),
and ICEBERG-only table listing (glue.go:960-970). Runs offline against
tests/support's FakeGlueClient; a real boto3 client drops in unchanged.
"""

import pytest

from iceberg_go_spark import expressions as E
from iceberg_go_spark import types as T
from iceberg_go_spark.catalog import (CommitConflictError, GlueCatalog,
                                      NoSuchNamespaceError,
                                      NoSuchTableError,
                                      TableAlreadyExistsError)
from iceberg_go_spark.catalog.glue import (GLUE_TYPE_ICEBERG,
                                           PARAM_METADATA_LOCATION,
                                           PARAM_PREV_METADATA_LOCATION,
                                           PARAM_TABLE_TYPE)
from iceberg_go_spark.schema import Schema
from tests.support.glue_local import FakeGlueClient, LocalGlueWireServer

SCHEMA = Schema([
    T.NestedField(1, "id", T.LongType(), required=True),
    T.NestedField(2, "name", T.StringType()),
    T.NestedField(3, "tags", T.ListType(4, T.StringType())),
])


def _has_boto3():
    try:
        import boto3  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.fixture(params=["fake", "boto3-wire"])
def cat(request, tmp_path):
    """Every Glue test runs twice: against the in-process fake AND —
    when boto3 is importable — against a REAL boto3 client speaking
    AWS JSON 1.1 to a local wire endpoint (tests/support/glue_local.py),
    proving the 'a real boto3 client drops in unchanged' claim at the
    botocore marshalling layer, not just the duck-type layer."""
    if request.param == "fake":
        client = FakeGlueClient()
        request.addfinalizer(lambda: None)
    else:
        if not _has_boto3():
            pytest.skip("boto3 not installed")
        server = LocalGlueWireServer().start()
        request.addfinalizer(server.stop)
        client = server.boto3_client()
    c = GlueCatalog(str(tmp_path / "wh"), client)
    c.create_namespace("db", {"comment": "test db"})
    return c


def test_namespace_lifecycle(cat):
    assert cat.namespace_exists("db")
    assert not cat.namespace_exists("nope")
    assert cat.list_namespaces() == [("db",)]
    assert cat.load_namespace_properties("db")["comment"] == "test db"
    cat.update_namespace_properties("db", updates={"owner": "me"},
                                    removals=["comment"])
    props = cat.load_namespace_properties("db")
    assert props.get("owner") == "me" and "comment" not in props
    with pytest.raises(ValueError):
        cat.update_namespace_properties("db", removals=["k"],
                                        updates={"k": "v"})
    with pytest.raises(NoSuchNamespaceError):
        cat.load_namespace_properties("nope")
    cat.drop_namespace("db")
    assert not cat.namespace_exists("db")


def test_create_load_roundtrip(cat):
    t = cat.create_table("db.t", SCHEMA)
    gt = cat.client.get_table(DatabaseName="db", Name="t")["Table"]
    params = gt["Parameters"]
    assert params[PARAM_TABLE_TYPE] == GLUE_TYPE_ICEBERG
    assert params[PARAM_METADATA_LOCATION] == t.metadata_location
    cols = {c["Name"]: c for c in gt["StorageDescriptor"]["Columns"]}
    assert cols["id"]["Type"] == "bigint"
    assert cols["id"]["Parameters"]["iceberg.field.id"] == "1"
    assert cols["id"]["Parameters"]["iceberg.field.optional"] == "false"
    assert cols["tags"]["Type"] == "array<string>"

    back = cat.load_table("db.t")
    assert back.metadata.schema().fields[0].name == "id"
    assert cat.table_exists("db.t")
    with pytest.raises(TableAlreadyExistsError):
        cat.create_table("db.t", SCHEMA)
    with pytest.raises(NoSuchTableError):
        cat.load_table("db.missing")
    with pytest.raises(NoSuchNamespaceError):
        cat.create_table("nodb.t", SCHEMA)


def test_list_tables_filters_non_iceberg(cat):
    cat.create_table("db.t", SCHEMA)
    # a foreign (non-Iceberg) Glue table must not be listed or loadable
    cat.client.create_table(DatabaseName="db", TableInput={
        "Name": "csvfile", "TableType": "EXTERNAL_TABLE",
        "Parameters": {"classification": "csv"}})
    assert cat.list_tables("db") == [("db", "t")]
    with pytest.raises(NoSuchTableError):
        cat.load_table("db.csvfile")
    with pytest.raises(NoSuchNamespaceError):
        cat.list_tables("nope")


def test_commit_moves_pointer_and_previous(cat, spark):
    t = cat.create_table("db.t", SCHEMA)
    first = t.metadata_location
    df = spark.createDataFrame([(1, "a", ["x"]), (2, "b", [])],
                               "id long, name string, tags array<string>")
    t.append(df)
    gt = cat.client.get_table(DatabaseName="db", Name="t")["Table"]
    assert gt["Parameters"][PARAM_METADATA_LOCATION] == t.metadata_location
    assert gt["Parameters"][PARAM_PREV_METADATA_LOCATION] == first
    assert t.metadata_location != first
    assert cat.load_table("db.t").to_df(spark).count() == 2


def test_commit_conflict_via_version_id(cat, spark):
    t1 = cat.create_table("db.t", SCHEMA)
    t2 = cat.load_table("db.t")
    df = spark.createDataFrame([(1, "a", ["x"])],
                               "id long, name string, tags array<string>")
    t1.append(df)
    # t2 still holds the old pointer: its commit must conflict, and the
    # transaction layer's refresh+rebase must then land it
    t2.append(df)
    assert cat.load_table("db.t").to_df(spark).count() == 2


def test_stale_base_conflict(cat):
    import copy
    t = cat.create_table("db.t", SCHEMA)
    md = copy.deepcopy(t.metadata)
    with pytest.raises(CommitConflictError):
        cat.commit_table(("db", "t"), "wrong-base-path", md)


def test_rename_claim_protocol(cat):
    cat.create_table("db.t", SCHEMA)
    cat.create_namespace("db2")
    cat.rename_table("db.t", "db2.renamed")
    assert cat.table_exists("db2.renamed")
    assert not cat.table_exists("db.t")
    back = cat.load_table("db2.renamed")
    assert back.metadata.schema().fields[0].name == "id"
    with pytest.raises(NoSuchNamespaceError):
        cat.rename_table("db2.renamed", "missing.t")


def test_rename_conflict_rolls_back_destination(cat):
    cat.create_table("db.t", SCHEMA)
    cat.create_namespace("db2")

    real_update = cat.client.update_table

    def stale_update(**kw):
        # simulate a concurrent writer bumping the version mid-rename
        kw["VersionId"] = "999"
        return real_update(**kw)

    cat.client.update_table = stale_update
    with pytest.raises(CommitConflictError):
        cat.rename_table("db.t", "db2.renamed")
    cat.client.update_table = real_update
    # source untouched, destination rolled back
    assert cat.table_exists("db.t")
    assert not cat.table_exists("db2.renamed")


def test_drop_and_purge(cat, tmp_path):
    import os
    t = cat.create_table("db.t", SCHEMA)
    loc = t.metadata_location
    assert os.path.exists(loc)
    cat.drop_table("db.t", purge=True)
    assert not cat.table_exists("db.t")
    assert not os.path.exists(loc)
    with pytest.raises(NoSuchTableError):
        cat.drop_table("db.t")


def test_register_table_adopts_metadata(cat):
    t = cat.create_table("db.t", SCHEMA)
    cat.create_namespace("db2")
    adopted = cat.register_table("db2.adopted", t.metadata_location)
    assert adopted.metadata_location == t.metadata_location
    assert cat.load_table("db2.adopted").metadata.schema().fields[0].name \
        == "id"


def test_scan_write_end_to_end(cat, spark):
    """Full write/scan loop through the Glue pointer — the catalog is only
    the pointer store; planning and IO are unchanged."""
    t = cat.create_table("db.e2e", SCHEMA)
    df = spark.createDataFrame(
        [(i, f"n{i}", ["a"] if i % 2 else []) for i in range(100)],
        "id long, name string, tags array<string>")
    t.append(df)
    got = cat.load_table("db.e2e")
    assert got.to_df(spark).count() == 100
    assert got.scan(E.gt_eq("id", 90)).to_df(spark).count() == 10


def test_from_properties_builds_real_boto3_client(tmp_path):
    """The property-driven registrar path (glue.go toAwsConfig parity):
    region/endpoint/retries/static-creds resolve into a REAL boto3
    client, pointed here at the local wire endpoint — full end-to-end
    through the AWS-properties chain."""
    pytest.importorskip("boto3")
    from iceberg_go_spark.catalog.glue import (
        GlueCatalog as GC, IncompleteStaticCredentialsError,
        validate_static_credentials)

    server = LocalGlueWireServer().start()
    try:
        cat = GC.from_properties(str(tmp_path / "wh"), {
            "glue.region": "eu-west-1",
            "glue.endpoint": server.endpoint,
            "glue.access-key-id": "k",
            "glue.secret-access-key": "s",
            "glue.session-token": "t",
            "glue.max-retries": "1",
            "glue.retry-mode": "standard",
            "glue.skip-archive": "false",
        })
        assert cat.skip_archive is False
        assert cat.catalog_id is None
        cat.create_namespace("db")
        t = cat.create_table("db.t", SCHEMA)
        assert cat.load_table("db.t").metadata.table_uuid == \
            t.metadata.table_uuid
    finally:
        server.stop()

    # credential validation mirrors internal/awsconfig semantics
    with pytest.raises(IncompleteStaticCredentialsError):
        validate_static_credentials("", "", "token-only")
    with pytest.raises(IncompleteStaticCredentialsError):
        validate_static_credentials("key", "", "")
    validate_static_credentials("", "", "")     # default chain ok
    validate_static_credentials("k", "s", "")   # pair ok
    with pytest.raises(ValueError, match="retry-mode"):
        from iceberg_go_spark.catalog.glue import \
            glue_client_from_properties
        glue_client_from_properties({"glue.retry-mode": "warp-speed"})
