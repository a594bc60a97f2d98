"""Inspect metadata tables — parity with /root/reference/table/inspect.go
(history/snapshots column semantics) plus the spec metadata-table surface
(refs/manifests/files/partitions)."""

import pytest

from iceberg_go_spark import expressions as E
from iceberg_go_spark.catalog import FilesystemCatalog
from iceberg_go_spark.schema import Schema


@pytest.fixture(scope="module")
def table3(spark, tmp_path_factory):
    """Three snapshots: append, append, MoR delete."""
    cat = FilesystemCatalog(str(tmp_path_factory.mktemp("wh_inspect")))
    df = spark.range(0, 100).selectExpr("id", "id % 5 AS k")
    t = cat.create_table("db.ins", Schema.from_spark(df.schema))
    t = t.append(df)
    t = t.append(spark.range(100, 200).selectExpr("id", "id % 5 AS k"))
    t = t.delete_where(spark, E.lt("id", 10), mode="merge-on-read")
    return t


def test_history(spark, table3):
    h = table3.inspect(spark).history().collect()
    assert len(h) == 3
    assert [r.is_current_ancestor for r in h] == [True, True, True]
    assert h[0].parent_id is None
    assert h[1].parent_id == h[0].snapshot_id
    assert h[2].parent_id == h[1].snapshot_id
    assert h[0].made_current_at <= h[1].made_current_at


def test_history_rolled_back_not_ancestor(spark, table3):
    """A snapshot-log entry off the current ancestry chain renders
    is_current_ancestor=false (inspect.go:87 doc)."""
    import copy
    t = copy.deepcopy(table3)
    snaps = t.metadata.snapshots
    # roll back: make snapshot #2 current again (snapshot #3 abandoned)
    t.metadata.current_snapshot_id = snaps[1].snapshot_id
    t.metadata.refs["main"].snapshot_id = snaps[1].snapshot_id
    h = {r.snapshot_id: r.is_current_ancestor
         for r in t.inspect(spark).history().collect()}
    assert h[snaps[0].snapshot_id] is True
    assert h[snaps[1].snapshot_id] is True
    assert h[snaps[2].snapshot_id] is False


def test_snapshots(spark, table3):
    s = table3.inspect(spark).snapshots().collect()
    assert len(s) == 3
    assert [r.operation for r in s] == ["append", "append", "delete"]
    for r in s:
        assert r.manifest_list
        assert r.summary["operation"] == r.operation
    assert s[1].parent_id == s[0].snapshot_id


def test_refs(spark, table3):
    r = {row.name: row for row in table3.inspect(spark).refs().collect()}
    assert r["main"].type == "branch"
    assert r["main"].snapshot_id == table3.metadata.current_snapshot_id


def test_manifests(spark, table3):
    m = table3.inspect(spark).manifests().collect()
    assert m
    for row in m:
        assert row.path and row.length > 0
        assert row.content in (0, 1)
    # the MoR delete added a delete manifest
    assert any(row.content == 1 for row in m)


def test_files_and_partitions(spark, table3):
    ins = table3.inspect(spark)
    f = ins.files().collect()
    data = [r for r in f if r.content == 0]
    deletes = [r for r in f if r.content in (1, 2)]
    assert sum(r.record_count for r in data) == 200
    assert deletes, "pos-delete file must appear"
    p = ins.partitions().collect()
    assert len(p) == 1  # unpartitioned
    assert p[0].record_count == 200
    assert p[0].file_count == len(data)


def test_arrow_rendering(spark, table3):
    at = table3.inspect(spark).snapshots_arrow()
    assert at.num_rows == 3
    assert "snapshot_id" in at.column_names


def test_all_manifests(spark, table3):
    """Manifests across all snapshots, deduped, with the referencing
    snapshot ids rolled up (Table.AllManifests parity)."""
    am = table3.inspect(spark).all_manifests().collect()
    cur = table3.inspect(spark).manifests().collect()
    paths = {r.path for r in am} if hasattr(am[0], "path") \
        else {r[0] for r in am}
    assert len(am) >= len(cur) >= 1
    assert len(paths) == len(am)  # deduped
    snap_ids = {s.snapshot_id for s in table3.metadata.snapshots}
    for r in am:
        ids = set(r.reference_snapshot_ids)
        assert ids and ids <= snap_ids


def test_metadata_log_entries(spark, table3):
    rows = table3.inspect(spark).metadata_log_entries().collect()
    # 3 commits: >=2 superseded entries + the current pointer
    assert len(rows) >= 3
    assert rows[-1].file == table3.metadata_location
    ts = [r.timestamp for r in rows]
    assert ts == sorted(ts)


def test_entries(spark, table3):
    ents = table3.inspect(spark).entries().collect()
    files = table3.inspect(spark).files().collect()
    # every live data/delete file of the current snapshot appears
    assert {e.file_path for e in ents} >= {f.file_path for f in files}
    assert all(e.status in (0, 1, 2) for e in ents)
    # the MoR delete produced at least one delete-content entry
    assert any(e.content != 0 for e in ents)
    # added rows carry the adding snapshot's id
    snap_ids = {s.snapshot_id for s in table3.metadata.snapshots}
    assert all(e.snapshot_id in snap_ids for e in ents
               if e.snapshot_id is not None)


def test_data_delete_all_files(spark, table3):
    ins = table3.inspect(spark)
    data = ins.data_files().collect()
    dels = ins.delete_files().collect()
    assert data and all(r.content == 0 for r in data)
    assert dels and all(r.content != 0 for r in dels)
    live = {r.file_path for r in ins.files().collect()}
    assert {r.file_path for r in data} | {r.file_path for r in dels} == live
    # all_files covers every snapshot's files — a superset of the live set
    allf = {r.file_path for r in ins.all_files().collect()}
    assert allf >= live


def test_position_deletes(spark, table3):
    rows = table3.inspect(spark).position_deletes().collect()
    assert rows
    # deleted (file,pos) pairs exactly account for the scan row removal
    raw = sum(t.data_file.record_count
              for t in table3.scan().plan_files())
    live = table3.to_df(spark).count()
    assert raw - live == len(rows)
    paths = {t.data_file.file_path for t in table3.scan().plan_files()}
    assert all(r.file_path in paths for r in rows)


def test_position_deletes_v3_shared_dv_container(spark, tmp_path):
    """v3 deletion vectors: one puffin container holds the DVs of two
    data files, and a later delete supersedes one of them with a new
    container.  Each manifest entry expands its own blob, so the rows
    are exactly the deleted positions of live data files."""
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = spark.range(0, 100, 1, 1).selectExpr("id", "id % 5 AS k")
    t = cat.create_table("db.dv", Schema.from_spark(df.schema),
                         properties={"format-version": "3"})
    t = t.append(df).append(df.selectExpr("id + 100 AS id", "k"))
    t = t.delete_where(spark, E.eq("k", 1), mode="merge-on-read")
    dvs = [d for task in t.scan().plan_files() for d in task.pos_deletes]
    assert len(dvs) == 2
    assert len({d.file_path for d in dvs}) == 1  # one shared container
    t = t.delete_where(spark, E.lt("id", 10), mode="merge-on-read")

    tasks = t.scan().plan_files()
    rows = t.inspect(spark).position_deletes().collect()
    raw = sum(task.data_file.record_count for task in tasks)
    assert raw - t.to_df(spark).count() == len(rows) == 40 + 8
    live = {task.data_file.file_path for task in tasks}
    assert all(r.file_path in live for r in rows)


def test_all_entries(spark, table3):
    ents = table3.inspect(spark).all_entries().collect()
    cur = table3.inspect(spark).entries().collect()
    assert len(ents) >= len(cur)
    assert {e.file_path for e in ents} >= {e.file_path for e in cur}
    # history includes ADDED rows from every snapshot
    snap_ids = {s.snapshot_id for s in table3.metadata.snapshots}
    assert {e.snapshot_id for e in ents if e.status == 1} <= snap_ids
