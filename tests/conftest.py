import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from iceberg_go_spark.session import get_spark
    # the suite's inputs are small: a capped heap makes the JVM collect
    # garbage instead of growing toward the session's 48g default
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def read_table(spark, name, sf=SF_DIR):
    return spark.read.parquet(os.path.join(sf, f"{name}.parquet"))


def id_less_table(spark, cat, ident, df, path, properties=None):
    """A table holding ``df``'s rows as one parquet file WITHOUT field ids
    (pyarrow writes none), registered with ``add_files``: every read of
    it has to resolve columns through the table's name mapping."""
    import pyarrow.parquet as pq
    from iceberg_go_spark.schema import Schema
    pq.write_table(df.toArrow(), path)
    assert not any((f.metadata or {}).get(b"PARQUET:field_id")
                   for f in pq.read_schema(path))
    t = cat.create_table(ident, Schema.from_spark(df.schema),
                         properties=properties or {})
    txn = t.new_transaction()
    txn.add_files(spark, [path])
    txn.commit()
    return cat.load_table(ident)


def components_on_both_paths(pairs, monkeypatch, **kw):
    """connected_components under an open broadcast gate (driver finish)
    and a closed one (distributed rounds).  Both must give the same
    schema and rows; returns {doc_id: cluster_id}."""
    from iceberg_go_spark.operators.dedup import connected_components
    out = []
    for gate in (None, "0"):
        if gate is None:
            monkeypatch.delenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT",
                               raising=False)
        else:
            monkeypatch.setenv("ICEBERG_SPARK_BROADCAST_ROW_LIMIT", gate)
        df = connected_components(pairs, **kw)
        rows = df.collect()
        out.append((df.schema, sorted(map(tuple, rows), key=repr)))
    assert out[0] == out[1]
    return dict(out[0][1])


# -- shared throwaway PostgreSQL server (live-wire tests) --------------------
# ONE cluster per pytest session, lazily started; consumers must import
# THIS module as `tests.conftest` (consistently — a bare
# `test_catalog_conformance`-style cross-test-module import would load a
# second module instance with its own state and spin a second postmaster)
_PG_LIVE = {"server": None, "error": None, "n": 0}


def pg_live_server():
    if _PG_LIVE["error"] is not None:
        pytest.skip(_PG_LIVE["error"])
    if _PG_LIVE["server"] is None:
        try:
            from tests.support.pg_local import LocalPostgresServer
            _PG_LIVE["server"] = LocalPostgresServer().start()
            import atexit
            atexit.register(_PG_LIVE["server"].stop)
        except Exception as e:
            _PG_LIVE["error"] = f"local postgres unavailable: {e}"
            pytest.skip(_PG_LIVE["error"])
    return _PG_LIVE["server"]


def pg_live_connect_kwargs(prefix: str) -> dict:
    """Fresh database on the shared server; kwargs for pgwire_connect."""
    server = pg_live_server()
    _PG_LIVE["n"] += 1
    db = f"{prefix}_{_PG_LIVE['n']}"
    server.create_database(db)
    return server.connect_kwargs(db)
