"""Changelog (CDC) scan: the row-level changes between two snapshots as
(_change_type, _change_ordinal, _commit_snapshot_id)-stamped rows.

Parity (behavior only): the reference exposes only incremental APPEND
scans (table/scanner.go AppendsBetween); full changelog semantics follow
Iceberg Java's ChangelogScanTask model.  The changes of a snapshot S in
(from, to] are the difference between the table's rows at S's parent and
at S, as multisets:

- both sides are read through the scan, so position deletes, equality
  deletes and deletion vectors apply with the scan's sequence gating, and
  files without field ids resolve through the name mapping;
- only the files S touched are read: data files it added or removed, and
  data files whose planned delete set it changed.  A side with no such
  files is not read, so an append reads its new files once;
- a file on both sides keeps its rows in place, so its rows are diffed
  by (file, position) with no value comparison: a merge-on-read delete
  reads the file's identities at S and anti-joins the parent's rows;
- the rows that leave and the rows that arrive are then diffed by value
  (``exceptAll``) where S both removes and adds rows: a row S rewrote
  unchanged (a copy-on-write survivor, a no-op update) is on both sides
  and emits nothing;
- where the value diff runs, a ``delete`` snapshot reports no inserts;
- ``replace`` snapshots (compaction, rewrites) are physical, not logical,
  changes and emit nothing.

Spark-first shape: every piece is a DataFrame op — delete-applying scans,
(file, position) anti-joins and an ``exceptAll`` per side — so the
changelog distributes and spills like any other scan; nothing is
materialized on the driver.  Spark has no set operations on maps or
VARIANT values: a top-level map takes part in the value diff as its
entry array (the same row read twice lists its entries in the same
order), and a table with a VARIANT column or a map inside a struct or
array skips the value diff, so there a row rewritten unchanged is
reported as a delete and an insert.
"""

from __future__ import annotations

import functools
from typing import Dict, List, Optional

import pyspark.sql.types as ST
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..meta.metadata import OP_DELETE, OP_REPLACE
from ..session import local_frame
from .dml import _tasks_scan_df
from .scan import FileScanTask, Scan

CHANGE_TYPE = "_change_type"
CHANGE_ORDINAL = "_change_ordinal"
COMMIT_SNAPSHOT_ID = "_commit_snapshot_id"
_IDENT = ["__file", "__pos"]


def _task_state(t: Optional[FileScanTask]):
    """What a data file contributes to a snapshot's rows: its sequence
    number and the delete files planned against it (a DV entry by its
    container and offset)."""
    if t is None:
        return None
    return (t.sequence_number,
            frozenset((d.file_path, d.content_offset)
                      for d in t.pos_deletes + t.eq_deletes))


def _comparable(dt) -> bool:
    """Whether Spark's set operations accept values of ``dt``: no map
    and no VARIANT at any depth."""
    if isinstance(dt, ST.ArrayType):
        return _comparable(dt.elementType)
    if isinstance(dt, ST.StructType):
        return all(_comparable(f.dataType) for f in dt.fields)
    return not isinstance(dt, (ST.MapType, ST.VariantType))


def _union(a: Optional[DataFrame], b: Optional[DataFrame]
           ) -> Optional[DataFrame]:
    return b if a is None else a if b is None else a.unionByName(b)


def _minus_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    """The rows of ``a`` whose (file, position) ``b`` lacks.  ``b``'s
    identities can be as many as the files' rows: shuffled, not
    collected to the driver and broadcast."""
    return a.join(b.select(*_IDENT).hint("shuffle_hash"), _IDENT,
                  "left_anti")


def changelog(table, spark: SparkSession,
              from_snapshot_id: Optional[int] = None,
              to_snapshot_id: Optional[int] = None) -> DataFrame:
    """Row-level changes in snapshot range (from, to]; ``from_snapshot_id
    None`` means from table creation. Ordered by _change_ordinal."""
    md = table.metadata
    schema = md.schema().to_spark()
    if to_snapshot_id is None and md.current_snapshot_id is not None:
        to_snapshot_id = md.current_snapshot_id
    # walk the ANCESTRY of `to`, not the global sequence order: other
    # branches' snapshots interleave in sequence numbers but are not
    # part of this lineage's changes
    if from_snapshot_id is None:
        chain, _complete = md.ancestors_of_checked(to_snapshot_id)
        in_range = list(reversed(chain))
    else:
        chain, base_found = md.ancestors_between(to_snapshot_id,
                                                 from_snapshot_id)
        if not base_found:
            raise ValueError(
                f"from_snapshot_id {from_snapshot_id} is not an "
                f"ancestor of {to_snapshot_id} (expired, or on another "
                f"branch)")
        in_range = list(reversed(chain))

    by_id = {s.snapshot_id: s for s in md.snapshots}
    planned: Dict[int, Dict[str, FileScanTask]] = {}

    def tasks_of(snap) -> Dict[str, FileScanTask]:
        if snap is None:
            return {}
        if snap.snapshot_id not in planned:
            planned[snap.snapshot_id] = {
                t.data_file.file_path: t for t in
                Scan(table, snapshot_id=snap.snapshot_id).plan_files()}
        return planned[snap.snapshot_id]

    def rows(tasks: List[FileScanTask]) -> Optional[DataFrame]:
        if not tasks:
            return None
        return _tasks_scan_df(table, spark, tasks, identity=True)

    maps = [f.name for f in schema.fields
            if isinstance(f.dataType, ST.MapType)]
    value_diff = all(
        _comparable(f.dataType.keyType) and _comparable(f.dataType.valueType)
        if f.name in maps else _comparable(f.dataType)
        for f in schema.fields)

    def stamp(df: DataFrame, kind: str, ordinal: int, snap_id: int
              ) -> DataFrame:
        return df.select(*schema.names).withColumns({
            CHANGE_TYPE: F.lit(kind),
            CHANGE_ORDINAL: F.lit(ordinal),
            COMMIT_SNAPSHOT_ID: F.lit(snap_id).cast("long")})

    frames: List[DataFrame] = []
    for ordinal, snap in enumerate(in_range):
        if snap.operation == OP_REPLACE:
            continue  # physical rewrite: no logical change
        old = tasks_of(by_id.get(snap.parent_snapshot_id))
        new = tasks_of(snap)
        touched = sorted(p for p in old.keys() | new.keys()
                         if _task_state(old.get(p)) != _task_state(new.get(p)))
        kept = [p for p in touched if p in old and p in new]
        # every row of a removed file leaves, every row of an added one
        # arrives; a kept file's rows are matched by position
        gone = rows([old[p] for p in touched if p not in new])
        came = rows([new[p] for p in touched if p not in old])
        if kept:
            before = rows([old[p] for p in kept])
            after = rows([new[p] for p in kept])
            gone = _union(gone, _minus_rows(before, after))
            if snap.operation != OP_DELETE:
                came = _union(came, _minus_rows(after, before))
        if gone is not None and came is not None and value_diff:
            g, c = (df.drop(*_IDENT).withColumns(
                {m: F.map_entries(m) for m in maps}) for df in (gone, came))
            back = {m: F.map_from_entries(m) for m in maps}
            gone = g.exceptAll(c).withColumns(back)
            came = (None if snap.operation == OP_DELETE
                    else c.exceptAll(g).withColumns(back))
        if gone is not None:
            frames.append(stamp(gone, "delete", ordinal, snap.snapshot_id))
        if came is not None:
            frames.append(stamp(came, "insert", ordinal, snap.snapshot_id))

    if not frames:
        return stamp(local_frame(spark, [], schema), "", 0, 0)
    return functools.reduce(DataFrame.unionByName, frames)
