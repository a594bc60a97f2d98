"""Hive Metastore catalog over the Thrift-shaped client interface.

Parity (behavior only): /root/reference/catalog/hive/hive.go, lock.go,
schema.go — HMS EXCLUSIVE table locks around commit/drop/rename, the
pointer check under the lock, and ICEBERG-parameter table construction.
Runs offline against tests/support's FakeHiveMetastoreClient (real FIFO
lock queue).
"""

import threading

import pytest

from iceberg_go_spark import expressions as E
from iceberg_go_spark import types as T
from iceberg_go_spark.catalog import (CommitConflictError, HiveCatalog,
                                      NoSuchNamespaceError, NoSuchTableError,
                                      TableAlreadyExistsError)
from iceberg_go_spark.catalog.hive import (ICEBERG_STORAGE_HANDLER,
                                           PARAM_METADATA_LOCATION,
                                           PARAM_PREV_METADATA_LOCATION,
                                           PARAM_STORAGE_HANDLER,
                                           PARAM_TABLE_TYPE)
from iceberg_go_spark.schema import Schema
from tests.support.fake_hive import FakeHiveMetastoreClient

SCHEMA = Schema([
    T.NestedField(1, "id", T.LongType(), required=True),
    T.NestedField(2, "name", T.StringType()),
])


@pytest.fixture()
def cat(tmp_path):
    c = HiveCatalog(str(tmp_path / "wh"), FakeHiveMetastoreClient(),
                    lock_min_wait_s=0.01, lock_max_wait_s=0.05)
    c.create_namespace("db")
    return c


def test_create_load_hms_shape(cat):
    t = cat.create_table("db.t", SCHEMA)
    ht = cat.client.get_table("db", "t")
    assert ht["tableType"] == "EXTERNAL_TABLE"
    params = ht["parameters"]
    assert params[PARAM_TABLE_TYPE] == "ICEBERG"
    assert params[PARAM_METADATA_LOCATION] == t.metadata_location
    assert params[PARAM_STORAGE_HANDLER] == ICEBERG_STORAGE_HANDLER
    assert params["EXTERNAL"] == "TRUE"
    cols = {c["name"]: c["type"] for c in ht["sd"]["cols"]}
    assert cols == {"id": "bigint", "name": "string"}
    assert cat.load_table("db.t").metadata.schema().fields[0].name == "id"
    with pytest.raises(TableAlreadyExistsError):
        cat.create_table("db.t", SCHEMA)
    with pytest.raises(NoSuchTableError):
        cat.load_table("db.missing")


def test_namespaces(cat, tmp_path):
    assert cat.namespace_exists("db")
    assert cat.list_namespaces() == [("db",)]
    # default database location under the warehouse (hive.go:855-862)
    assert cat.load_namespace_properties("db")["location"].endswith("db.db")
    cat.update_namespace_properties("db", updates={"owner": "me"})
    assert cat.load_namespace_properties("db")["owner"] == "me"
    with pytest.raises(NoSuchNamespaceError):
        cat.list_tables("nope")
    cat.create_table("db.t", SCHEMA)
    with pytest.raises(ValueError):
        cat.drop_namespace("db")


def test_list_tables_filters_foreign(cat):
    cat.create_table("db.t", SCHEMA)
    cat.client.create_table({
        "dbName": "db", "tableName": "plain_hive",
        "tableType": "MANAGED_TABLE", "parameters": {}})
    assert cat.list_tables("db") == [("db", "t")]
    with pytest.raises(NoSuchTableError):
        cat.load_table("db.plain_hive")


def test_commit_pointer_and_previous(cat, spark):
    t = cat.create_table("db.t", SCHEMA)
    first = t.metadata_location
    t.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    params = cat.client.get_table("db", "t")["parameters"]
    assert params[PARAM_METADATA_LOCATION] == t.metadata_location
    assert params[PARAM_PREV_METADATA_LOCATION] == first


def test_concurrent_stale_appends_rebase(cat, spark):
    cat.create_table("db.t", SCHEMA)
    a = cat.load_table("db.t")
    b = cat.load_table("db.t")
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    a.append(df)
    b.append(df)  # stale base: conflict under lock -> refresh+rebase
    assert cat.load_table("db.t").to_df(spark).count() == 2


def test_lock_serializes_committers(cat):
    """Two threads racing the lock: exactly one holds it at a time; the
    FIFO fake promotes the waiter after release."""
    order = []
    lock1 = cat._acquire_lock("db", "t")

    def second():
        lock2 = cat._acquire_lock("db", "t")
        order.append("acquired2")
        lock2.release()

    th = threading.Thread(target=second)
    th.start()
    order.append("holding1")
    lock1.release()
    th.join(timeout=5)
    assert order == ["holding1", "acquired2"]


def test_lock_timeout_is_retryable_conflict(tmp_path):
    cat = HiveCatalog(str(tmp_path / "wh"), FakeHiveMetastoreClient(),
                      lock_retries=2, lock_min_wait_s=0.01,
                      lock_max_wait_s=0.02)
    cat.create_namespace("db")
    t = cat.create_table("db.t", SCHEMA)
    held = cat._acquire_lock("db", "t")
    import copy
    with pytest.raises(CommitConflictError):
        cat.commit_table(("db", "t"), t.metadata_location,
                         copy.deepcopy(t.metadata))
    held.release()


def test_rename_under_locks(cat):
    cat.create_table("db.t", SCHEMA)
    cat.create_namespace("db2")
    cat.rename_table("db.t", "db2.renamed")
    assert cat.table_exists("db2.renamed")
    assert not cat.table_exists("db.t")
    with pytest.raises(NoSuchNamespaceError):
        cat.rename_table("db2.renamed", "missing.t")
    cat.create_table("db.other", SCHEMA)
    with pytest.raises(TableAlreadyExistsError):
        cat.rename_table("db.other", "db2.renamed")


def test_drop_and_purge(cat):
    import os
    t = cat.create_table("db.t", SCHEMA)
    loc = t.metadata_location
    cat.drop_table("db.t", purge=True)
    assert not cat.table_exists("db.t")
    assert not os.path.exists(loc)
    with pytest.raises(NoSuchTableError):
        cat.drop_table("db.t")


def test_scan_write_end_to_end(cat, spark):
    t = cat.create_table("db.e2e", SCHEMA)
    df = spark.createDataFrame([(i, f"n{i}") for i in range(100)],
                               "id long, name string")
    t.append(df)
    got = cat.load_table("db.e2e")
    assert got.to_df(spark).count() == 100
    assert got.scan(E.gt_eq("id", 90)).to_df(spark).count() == 10
