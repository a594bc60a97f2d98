"""Changelog (CDC) scan: the row-level changes between two snapshots as
(_change_type, _change_ordinal, _commit_snapshot_id)-stamped rows.

Parity (behavior only): the reference exposes only incremental APPEND
scans (table/scanner.go AppendsBetween); full changelog semantics follow
Iceberg Java's ChangelogScanTask model — per snapshot in (from, to]:

- append     -> added data files' rows as ``insert``
- delete     -> CoW: removed-minus-readded rows as ``delete``;
                MoR: rows targeted by the new pos/eq/DV delete files
- overwrite  -> removed rows as ``delete`` + added rows as ``insert``
- replace    -> NO change rows (compaction/rewrites are physical, not
                logical, changes)

Spark-first shape: every piece is a DataFrame op — file reads, (file,
pos) joins for position deletes and DVs, null-safe equality joins for
eq deletes, exceptAll for the CoW diff — so the changelog distributes
and spills like any other scan; nothing is materialized on the driver.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..meta import manifests as M
from ..meta.metadata import (OP_APPEND, OP_DELETE, OP_OVERWRITE,
                             OP_REPLACE)
from ..meta.dv import DV_SCHEMA, dv_positions, read_dv_blobs
from ..session import local_frame
from .scan import raw_file_path, read_delete_files

CHANGE_TYPE = "_change_type"
CHANGE_ORDINAL = "_change_ordinal"
COMMIT_SNAPSHOT_ID = "_commit_snapshot_id"


def _is_puffin(f) -> bool:
    """DV containers classify on file_format == 'PUFFIN' (the manifest
    discriminator, same rule as dml._tasks_have_dvs); the extension is
    only a fallback for externally-written entries missing the format
    field — an extensionless DV read as parquet would fail or
    mis-subtract."""
    fmt = (f.file_format or "").upper()
    if fmt:
        return fmt == "PUFFIN"
    return f.file_path.endswith(".puffin")


def _live_files(snap):
    """{path: DataFile} live in this snapshot, split (data, deletes).
    Set-diffing consecutive snapshots' live sets detects adds/removes
    without relying on STATUS_DELETED tombstones (our manifests drop
    removed entries; foreign writers may tombstone — both diff the
    same)."""
    data, dels = {}, {}
    if snap is None or not snap.manifest_list:
        return data, dels
    for mf in M.read_manifest_list(snap.manifest_list):
        es, _spec, _sid = M.read_manifest(mf.manifest_path)
        for e in es:
            if not e.is_live:
                continue
            d = e.data_file
            (data if d.content == M.CONTENT_DATA else dels)[d.file_path] = d
    return data, dels


def _read_files(spark: SparkSession, schema, paths: List[str]) -> DataFrame:
    if not paths:
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(*sorted(set(paths)))


def _with_pos(spark: SparkSession, schema, paths: List[str]) -> DataFrame:
    """File rows plus (__file, __pos) identity for position joins."""
    df = _read_files(spark, schema, paths)
    if not paths:
        return df.withColumn("__file", F.lit("")) \
                 .withColumn("__pos", F.lit(0).cast("long"))
    return (df.select("*", F.col("_metadata"))
            .withColumn("__file",
                        raw_file_path(F.col("_metadata.file_path")))
            .withColumn("__pos", F.col("_metadata.row_index"))
            .drop("_metadata"))


def _dv_deletes(spark: SparkSession, containers) -> Optional[DataFrame]:
    """(__file, __pos) of every DV blob in the ``containers``' footers,
    or None when they hold none."""
    blobs = [b for p in sorted({f.file_path for f in containers})
             for b in read_dv_blobs(p)]
    if not blobs:
        return None
    return spark.createDataFrame(dv_positions(blobs), DV_SCHEMA).select(
        F.col("file_path").alias("__file"), F.explode("pos").alias("__pos"))


def _eq_key_names(md, delete_file) -> List[str]:
    """Column names for an eq-delete file's equality_ids — resolved by
    field id through the schema index (handles renames), failing LOUDLY
    on unresolvable or nested ids: a silently-empty key list degenerates
    the semi-join into match-everything."""
    names = []
    for fid in (delete_file.equality_ids or []):
        name = md.schema().find_column_name(fid)
        if name is None:
            raise ValueError(
                f"equality delete {delete_file.file_path} references "
                f"unknown field id {fid}")
        names.append(name)
    if not names:
        raise ValueError(
            f"equality delete {delete_file.file_path} carries no "
            f"equality ids")
    return names


def _read_eq_keys(spark: SparkSession, md, delete_file,
                  names: List[str]) -> DataFrame:
    """Distinct key tuples of one eq-delete file."""
    return read_delete_files(
        spark, [delete_file.file_path], delete_file.equality_ids,
        md.schema(), md.schemas).select(*names).dropDuplicates()


def changelog(table, spark: SparkSession,
              from_snapshot_id: Optional[int] = None,
              to_snapshot_id: Optional[int] = None) -> DataFrame:
    """Row-level changes in snapshot range (from, to]; ``from_snapshot_id
    None`` means from table creation. Ordered by _change_ordinal."""
    md = table.metadata
    schema = md.schema().to_spark()
    snaps = sorted(md.snapshots, key=lambda s: s.sequence_number)
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

    frames: List[DataFrame] = []

    def stamp(df: DataFrame, kind: str, ordinal: int, snap_id: int
              ) -> DataFrame:
        return df.select(*[F.col(f.name) for f in schema.fields]) \
            .withColumn(CHANGE_TYPE, F.lit(kind)) \
            .withColumn(CHANGE_ORDINAL, F.lit(ordinal)) \
            .withColumn(COMMIT_SNAPSHOT_ID,
                        F.lit(snap_id).cast("long"))

    by_id = {s.snapshot_id: s for s in snaps}
    for ordinal, snap in enumerate(in_range):
        op = snap.operation
        if op == OP_REPLACE:
            continue  # physical rewrite: no logical change
        parent = by_id.get(snap.parent_snapshot_id)
        prev_data, prev_dels = _live_files(parent)
        cur_data, cur_dels = _live_files(snap)
        added_data = [f for p, f in cur_data.items() if p not in prev_data]
        removed_data = [f for p, f in prev_data.items()
                        if p not in cur_data]
        added_deletes = [f for p, f in cur_dels.items()
                         if p not in prev_dels]

        if op == OP_APPEND:
            if added_data:
                frames.append(stamp(_read_files(
                    spark, schema, [f.file_path for f in added_data]),
                    "insert", ordinal, snap.snapshot_id))
            continue

        # delete / overwrite
        if removed_data:
            # CoW: removed rows minus rows re-added by the same commit
            # are the logical deletes; re-added minus removed are inserts
            # (exceptAll keeps duplicate multiplicity)
            removed_rows = _read_files(
                spark, schema, [f.file_path for f in removed_data])
            readded_rows = _read_files(
                spark, schema, [f.file_path for f in added_data])
            frames.append(stamp(removed_rows.exceptAll(readded_rows),
                                "delete", ordinal, snap.snapshot_id))
            if op == OP_OVERWRITE:
                frames.append(stamp(readded_rows.exceptAll(removed_rows),
                                    "insert", ordinal, snap.snapshot_id))
        elif op == OP_OVERWRITE and added_data:
            frames.append(stamp(_read_files(
                spark, schema, [f.file_path for f in added_data]),
                "insert", ordinal, snap.snapshot_id))

        if not added_deletes:
            continue
        # MoR: the delete files added by this snapshot target data files
        # that were live BEFORE it — and only rows still live AT the
        # parent: v3 DVs are CUMULATIVE (each new DV carries every
        # earlier position for its file), so without subtracting the
        # parent's delete state a changelog re-reports pos 5 in every
        # later snapshot that also deletes pos 7
        target_paths = sorted(prev_data)

        def parent_live_with_pos():
            data = _with_pos(spark, schema, target_paths)
            prior_pos = [f for f in prev_dels.values()
                         if f.content == M.CONTENT_POS_DELETES
                         and not _is_puffin(f)]
            prior_puffin = [f for f in prev_dels.values()
                            if f.content == M.CONTENT_POS_DELETES
                            and _is_puffin(f)]
            prior_eq = [f for f in prev_dels.values()
                        if f.content == M.CONTENT_EQ_DELETES]
            if prior_pos:
                pdels = (read_delete_files(
                    spark, sorted({f.file_path for f in prior_pos}))
                    .select(F.col("file_path").alias("__file"),
                            F.col("pos").alias("__pos")).distinct())
                data = data.join(pdels, ["__file", "__pos"], "left_anti")
            prior_dvs = _dv_deletes(spark, prior_puffin)
            if prior_dvs is not None:
                data = data.join(prior_dvs, ["__file", "__pos"],
                                 "left_anti")
            for f in prior_eq:
                names = _eq_key_names(md, f)
                keys = _read_eq_keys(spark, md, f, names)
                data = data.join(
                    keys, [data[n].eqNullSafe(keys[n]) for n in names],
                    "left_anti")
            return data
        pos_files = [f for f in added_deletes
                     if f.content == M.CONTENT_POS_DELETES]
        eq_files = [f for f in added_deletes
                    if f.content == M.CONTENT_EQ_DELETES]
        dv_files = [f for f in pos_files if _is_puffin(f)]
        pos_files = [f for f in pos_files if f not in dv_files]

        if pos_files:
            data = parent_live_with_pos()
            dels = (read_delete_files(
                spark, sorted({f.file_path for f in pos_files}))
                .select(F.regexp_replace(F.col("file_path"), "^file:", "")
                        .alias("__file"),
                        F.col("pos").alias("__pos")))
            frames.append(stamp(
                data.join(dels, ["__file", "__pos"], "inner")
                    .drop("__file", "__pos"),
                "delete", ordinal, snap.snapshot_id))
        dels = _dv_deletes(spark, dv_files)
        if dels is not None:
            data = parent_live_with_pos()
            frames.append(stamp(
                data.join(dels, ["__file", "__pos"], "inner")
                    .drop("__file", "__pos"),
                "delete", ordinal, snap.snapshot_id))
        if eq_files:
            data = parent_live_with_pos().drop("__file", "__pos")
            for f in eq_files:
                names = _eq_key_names(md, f)
                keys = _read_eq_keys(spark, md, f, names)
                cond = [data[n].eqNullSafe(keys[n]) for n in names]
                frames.append(stamp(
                    data.alias("d").join(keys, cond, "leftsemi"),
                    "delete", ordinal, snap.snapshot_id))

    if not frames:
        return local_frame(spark, [], schema) \
            .withColumn(CHANGE_TYPE, F.lit("")) \
            .withColumn(CHANGE_ORDINAL, F.lit(0)) \
            .withColumn(COMMIT_SNAPSHOT_ID, F.lit(0).cast("long"))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out
