"""DML: copy-on-write / merge-on-read deletes, filtered overwrite, upsert.

Parity (behavior only): /root/reference/table/transaction.go — CoW delete
:1513 (classify via strict/inclusive evaluators :1711/:1767, rewrite one
file :1967), MoR delete :1560 (pos-delete fanout writer), overwrite :1447,
row delta table/row_delta.go:65-281.

Spark-first lowering:
- CoW rewrite = the scan of the partial files ``.filter(~pred)``, written
  back through the normal fanout writer (vectorized, distributed);
- MoR delete = the ``(__file, __pos)`` identity of matching rows, read by
  ``scan.read_data_files``, into a pos-delete parquet file; scans
  anti-join it out;
- upsert = one snapshot carrying an equality-delete file (keys) + new data
  files — readers drop old rows via a broadcast anti-join, sequence-number
  gated so the new rows survive.
"""

from __future__ import annotations

import os
import uuid
from typing import Dict, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import expressions as E
from ..meta import manifests as M
from ..meta.metadata import OP_DELETE, OP_OVERWRITE
from ..plans.evaluators import (InclusiveMetricsEvaluator,
                                StrictMetricsEvaluator)
from ..session import local_frame
from .scan import Scan, read_data_files
from .write import (PART_COL_PREFIX, discover_partitioned_files,
                    write_dataframe)


def _classify(table, expr: E.Expression):
    """Split live data files into fully-matching / partially-matching /
    untouched using strict + inclusive metrics evaluators."""
    schema = table.metadata.schema()
    strict = StrictMetricsEvaluator(schema, expr)
    inclusive = InclusiveMetricsEvaluator(schema, expr)
    tasks = table.scan(expr).plan_files()  # already partition/metrics pruned
    full, partial = [], []
    for t in tasks:
        if strict.eval(t.data_file):
            full.append(t)
        elif inclusive.eval(t.data_file):
            partial.append(t)
    return full, partial


def _tasks_scan_df(table, spark: SparkSession, tasks,
                   row_lineage: bool = False,
                   identity: bool = False) -> DataFrame:
    """Read a task subset through the scan lowering so existing pos/eq
    deletes are applied (a CoW rewrite that reads raw parquet would
    resurrect rows removed by earlier MoR deletes/upserts); ``identity``
    keeps each row's ``__file``/``__pos``."""
    sub = Scan(table, row_lineage=row_lineage)
    sub.plan_files = lambda: tasks  # type: ignore[assignment]
    return sub._read(spark, identity)


def _lineage_rewrite_prep(schema, keep_df):
    """v3 row lineage through a CoW rewrite: survivors keep their
    _row_id (update_where and compaction already do this; a rewrite
    that drops it hands every surviving row a fresh identity)."""
    from ..schema import Schema as S
    from ..types import LongType, NestedField
    keep_df = keep_df.drop("_last_updated_sequence_number")
    write_schema = S(list(schema.fields) + [
        NestedField(ROW_ID_FIELD_ID, "_row_id", LongType(), False)])
    return keep_df, write_schema


def _matches_df(table, spark: SparkSession, bound_col, partial) -> DataFrame:
    """(file_path, pos) of predicate-matching rows in partially-matching
    files.  Rows already MoR-deleted may reappear here — harmless, pos
    deletes are idempotent under the read-side anti-join."""
    src = read_data_files(spark, table,
                          [t.data_file.file_path for t in partial])
    # __file is the raw (percent-decoded) path: every downstream
    # join/lookup keys on the manifest-recorded path — the partitioned
    # fanout mapping, DV referenced_data_file, absorb broadcasts — and
    # the spec requires pos-delete file_path values to EQUAL the
    # manifest path.  The identity stays in __-prefixed columns until
    # after the predicate: naming them file_path/pos up front CLOBBERED
    # same-named user data columns, so a predicate on a data column
    # called `pos` filtered on the row index instead
    return src.filter(bound_col).select(F.col("__file").alias("file_path"),
                                        F.col("__pos").alias("pos"))


def _dead_delete_paths(table, dropped: List[str]) -> List[str]:
    """Delete files that only applied to now-dropped data files die with
    them (same liveness rule as compaction)."""
    dropped_set = set(dropped)
    dead = set()
    still_needed = set()
    for t in table.scan().plan_files():
        refs = {d.file_path for d in (t.pos_deletes + t.eq_deletes)}
        if t.data_file.file_path in dropped_set:
            dead |= refs
        else:
            still_needed |= refs
    return sorted(dead - still_needed)


def _pos_delete_fanout(spark: SparkSession, md, matches: DataFrame,
                       partial) -> List[M.DataFile]:
    """Distributed, partition-aware pos-delete write (parity behavior:
    /root/reference/table/pos_delete_partitioned_fanout_writer.go).

    Each delete row is shuffled to its data file's partition and written
    one-file-per-partition, so the delete files carry the partition tuple
    the read-side gating requires and no single task funnels the whole
    delete set.  Files land under ``deletes/`` (outside ``data/`` so the
    streaming file source never tails them)."""
    schema = md.schema()
    spec = md.spec()
    out_dir = os.path.join(md.location, "deletes",
                           f"pos-{uuid.uuid4().hex[:12]}")
    ptype = spec.partition_type(schema)
    if spec.is_unpartitioned:
        (matches.repartition("file_path")
         .sortWithinPartitions("file_path", "pos")
         .write.parquet(out_dir))
        return _delete_datafiles(out_dir, ptype)

    import pyspark.sql.types as ST
    from ..types import to_spark_type
    pcols = [PART_COL_PREFIX + f.name for f in ptype.fields]
    map_schema = ST.StructType(
        [ST.StructField("__mfile", ST.StringType(), False)] +
        [ST.StructField(c, to_spark_type(f.field_type), True)
         for c, f in zip(pcols, ptype.fields)])
    rows = [tuple([t.data_file.file_path] +
                  [t.data_file.partition.get(f.name) for f in ptype.fields])
            for t in partial]
    mapping = local_frame(spark, rows, map_schema)
    df = (matches.join(F.broadcast(mapping),
                       matches["file_path"] == mapping["__mfile"])
          .drop("__mfile")
          .repartition(*[F.col(c) for c in pcols])
          .sortWithinPartitions("file_path", "pos"))
    df.write.partitionBy(*pcols).parquet(out_dir)
    return _delete_datafiles(out_dir, ptype)


def _delete_datafiles(out_dir: str, ptype,
                      content: int = M.CONTENT_POS_DELETES,
                      equality_ids: Optional[List[int]] = None
                      ) -> List[M.DataFile]:
    """Delete-file entries for the parquet files Spark wrote under
    ``out_dir`` (position deletes, or equality deletes on
    ``equality_ids``)."""
    import pyarrow.parquet as pq
    out = []
    for path, part in discover_partitioned_files(out_dir, ptype):
        meta = pq.ParquetFile(path).metadata
        if meta.num_rows == 0:
            # Spark writers can emit empty parts: a 0-row delete entry
            # is a useless file every future scan loads and anti-joins
            continue
        out.append(M.DataFile(
            content=content, file_path=path,
            file_format="PARQUET", partition=part,
            record_count=meta.num_rows,
            file_size_in_bytes=os.path.getsize(path),
            equality_ids=equality_ids))
    return out


def _dv_delete_fanout(spark: SparkSession, md, matches: DataFrame,
                      partial) -> tuple:
    """Write deletion vectors for ``matches`` — one merged roaring
    bitmap per data file, puffin containers written ON EXECUTORS, the
    driver collecting only locator rows.  Absorbs EVERY prior delete
    for each touched file (existing per-file DVs, parquet pos-delete
    files, legacy footer-resolved containers): the read-side supersede
    contract stops applying position-delete files once a DV exists, so
    a DV that did not absorb them would resurrect their rows.  Returns
    (delete_files, dropped_dv_refs) — the v3 per-DV manifest entries
    (or the pre-v3 one-entry-per-container form) and the superseded
    (container, referenced-file) pairs to expunge."""
    fv = md.format_version
    delete_files: List[M.DataFile] = []
    dropped_dv_refs: set = set()
    part_of = {t.data_file.file_path: dict(t.data_file.partition)
               for t in partial}
    existing: Dict[str, list] = {}
    prior_parquet: Dict[str, list] = {}
    prior_footer: Dict[str, list] = {}
    for t in partial:
        fp_key = t.data_file.file_path
        for d in t.pos_deletes:
            if d.referenced_data_file is not None \
                    and d.file_format == "PUFFIN":
                existing.setdefault(
                    d.referenced_data_file, []).append(
                    (d.file_path, d.content_offset,
                     d.content_size_in_bytes))
            elif d.file_format == "PUFFIN":
                prior_footer.setdefault(fp_key, []).append(d.file_path)
            else:
                prior_parquet.setdefault(fp_key, []).append(d.file_path)
    ex_bc = spark.sparkContext.broadcast(existing)
    pq_bc = spark.sparkContext.broadcast(prior_parquet)
    ft_bc = spark.sparkContext.broadcast(prior_footer)
    out_dir = os.path.join(md.location, "deletes")
    out_schema = ("puffin_path string, referenced string, "
                  "content_offset long, content_size long, "
                  "cardinality long, file_size long")

    def write_dvs(batches):
        import uuid as _uuid
        from iceberg_go_spark.io import load_io
        from iceberg_go_spark.meta.dv import (
            RoaringBitmap64, deserialize_dv, read_dv_blob_slice,
            serialize_dv, write_deletion_vector_blobs)
        bms: Dict[str, RoaringBitmap64] = {}
        for pdf in batches:
            for fp, grp in pdf.groupby("file_path"):
                bms.setdefault(fp, RoaringBitmap64()).update(
                    int(p) for p in grp["pos"])
        if not bms:
            return
        for fp, bm in bms.items():
            for (opth, ooff, oln) in ex_bc.value.get(fp, []):
                bm.update(int(p) for p in deserialize_dv(
                    read_dv_blob_slice(opth, ooff, oln)))
            for pqp in sorted(set(pq_bc.value.get(fp, []))):
                import pyarrow.parquet as _pq
                tbl = _pq.read_table(
                    pqp, columns=["file_path", "pos"],
                    filters=[("file_path", "==", fp)])
                bm.update(int(p)
                          for p in tbl.column("pos").to_pylist())
            for cont in sorted(set(ft_bc.value.get(fp, []))):
                from iceberg_go_spark.meta.dv import (
                    read_deletion_vector_blobs as _rdvb)
                raw = _rdvb(cont).get(fp)
                if raw is not None:
                    bm.update(int(p) for p in
                              deserialize_dv(raw).to_numpy())
        pth = os.path.join(
            out_dir, f"dv-{_uuid.uuid4().hex[:12]}.puffin")
        offsets = write_deletion_vector_blobs(
            pth, {fp: (serialize_dv(bm), bm.cardinality)
                  for fp, bm in bms.items()})
        size = load_io(pth).size(pth)
        fps = sorted(bms)
        yield pd.DataFrame({
            "puffin_path": [pth] * len(fps),
            "referenced": fps,
            "content_offset": [offsets[f][0] for f in fps],
            "content_size": [offsets[f][1] for f in fps],
            "cardinality": [bms[f].cardinality for f in fps],
            "file_size": [size] * len(fps)})

    rows = (matches.repartition("file_path")
            .mapInPandas(write_dvs, out_schema)
            .collect())
    if fv >= 3:
        new_refs = set()
        for r in rows:
            new_refs.add(r.referenced)
            delete_files.append(M.DataFile(
                content=M.CONTENT_POS_DELETES,
                file_path=r.puffin_path, file_format="PUFFIN",
                partition=part_of.get(r.referenced, {}),
                record_count=int(r.cardinality),
                file_size_in_bytes=int(r.file_size),
                referenced_data_file=r.referenced,
                content_offset=int(r.content_offset),
                content_size_in_bytes=int(r.content_size)))
        dropped_dv_refs = {
            (opth, fp)
            for fp in new_refs
            for (opth, _o, _l) in existing.get(fp, [])}
    else:
        # pre-v3 manifests can't express per-DV entries: keep the
        # legacy one-entry-per-container form (footer-based blob
        # resolution on read)
        by_container: Dict[str, List] = {}
        for r in rows:
            by_container.setdefault(
                r.puffin_path, [0, int(r.file_size)])[0] += \
                int(r.cardinality)
        for pth, (cards, fsize) in sorted(by_container.items()):
            delete_files.append(M.DataFile(
                content=M.CONTENT_POS_DELETES, file_path=pth,
                file_format="PUFFIN", partition={},
                record_count=cards, file_size_in_bytes=fsize))
    return delete_files, dropped_dv_refs


def _tasks_have_dvs(tasks) -> bool:
    """True when any task's data file already carries a DV/legacy
    puffin container — new deletes for those files MUST be DVs (the
    read-side supersede contract ignores new position-delete files)."""
    return any(d.file_format == "PUFFIN"
               for t in tasks for d in t.pos_deletes)


def delete_where(table, spark: SparkSession, expr: E.Expression,
                 mode: str = "copy-on-write"):
    """Delete all rows matching ``expr``."""
    md = table.metadata
    schema = md.schema()
    full, partial = _classify(table, expr)
    if not full and not partial:
        return table

    txn = table.new_transaction()
    bound_col = E.to_spark_column(E.bind(expr, schema))

    if mode == "merge-on-read" and md.format_version >= 3:
        # v3 stores row-level deletes as deletion vectors (spec;
        # reference transaction.go:2151) — a parquet position-delete
        # file in a v3 table is rejected/ignored by spec-conformant
        # readers, resurrecting the deleted rows for other engines
        mode = "merge-on-read-dv"

    if mode == "copy-on-write":
        rewritten: List[M.DataFile] = []
        fv3 = md.format_version >= 3
        if partial:
            src = _tasks_scan_df(table, spark, partial, row_lineage=fv3)
            keep_df = src.filter(~bound_col | bound_col.isNull())
            write_schema = schema
            if fv3:
                keep_df, write_schema = _lineage_rewrite_prep(
                    schema, keep_df)
            rewritten = write_dataframe(
                keep_df, write_schema, md.spec(),
                os.path.join(md.location, "data"), md.properties,
                sort_order=md.sort_order())
        dropped = [t.data_file.file_path for t in full + partial]
        dead = _dead_delete_paths(table, dropped)
        keep_manifests = txn._rewrite_manifests_without(dropped + dead)
        # deleted-records: full files' record counts + (partial input
        # rows - surviving rows).  Manifest record counts include rows
        # already MoR-deleted, so this is the metadata-exact upper
        # bound the summary can state without re-reading the data
        kept_records = sum(f.record_count for f in rewritten)
        partial_records = sum(t.data_file.record_count for t in partial)
        deleted_records = (sum(t.data_file.record_count for t in full)
                           + max(0, partial_records - kept_records))
        txn.append_files(rewritten, operation=OP_DELETE,
                         manifests_to_keep=keep_manifests,
                         removed_paths=dropped, removed_delete_paths=dead,
                         conflict_filter=expr,
                         extra_summary={
                             "deleted-data-files": str(len(dropped)),
                             "deleted-records": str(deleted_records),
                         })
        return txn.commit()

    if mode == "merge-on-read":
        # supersede guard: once a data file carries a deletion vector,
        # readers IGNORE position-delete files for it (scanner
        # contract), so a new parquet delete would be silently lost —
        # reject loudly and point at the DV mode (which absorbs)
        dv_covered = [t.data_file.file_path for t in partial
                      if any(d.file_format == "PUFFIN"
                             for d in t.pos_deletes)]
        if dv_covered:
            raise ValueError(
                f"{len(dv_covered)} matched data files already carry "
                f"deletion vectors (e.g. {dv_covered[0]}); readers "
                f"ignore position-delete files for DV-covered files — "
                f"use mode='merge-on-read-dv'")
        # whole-file matches are cheapest as manifest drops even in MoR;
        # their now-dead delete files (referencing only dropped data
        # files) die with them, like the CoW path — otherwise every
        # later scan keeps anti-joining positions that can never match
        keep_manifests = None
        dropped = [t.data_file.file_path for t in full]
        dead = _dead_delete_paths(table, dropped) if dropped else []
        if dropped or dead:
            keep_manifests = txn._rewrite_manifests_without(dropped + dead)
        delete_files: List[M.DataFile] = []
        if partial:
            matches = _matches_df(table, spark, bound_col, partial)
            delete_files = _pos_delete_fanout(spark, md, matches, partial)
        txn.append_files(delete_files, operation=OP_DELETE,
                         manifests_to_keep=keep_manifests,
                         removed_paths=dropped,
                         removed_delete_paths=dead,
                         referenced_paths=[t.data_file.file_path
                                           for t in partial],
                         conflict_filter=expr)
        return txn.commit()

    if mode == "merge-on-read-dv":
        # v3 deletion vectors (see _dv_delete_fanout): executors write
        # the merged puffin containers; the driver collects locators
        delete_files: List[M.DataFile] = []
        dropped_dv_refs: set = set()
        if partial:
            matches = _matches_df(table, spark, bound_col, partial)
            delete_files, dropped_dv_refs = _dv_delete_fanout(
                spark, md, matches, partial)
        keep_manifests = None
        dropped = [t.data_file.file_path for t in full]
        dead = _dead_delete_paths(table, dropped) if dropped else []
        if dropped or dead or dropped_dv_refs:
            keep_manifests = txn._rewrite_manifests_without(
                dropped + dead, dropped_dv_refs=dropped_dv_refs)
        txn.append_files(delete_files, operation=OP_DELETE,
                         manifests_to_keep=keep_manifests,
                         removed_paths=dropped,
                         removed_delete_paths=dead,
                         referenced_paths=[t.data_file.file_path
                                           for t in partial],
                         conflict_filter=expr,
                         dropped_dv_refs=dropped_dv_refs)
        return txn.commit()

    raise ValueError(f"unknown delete mode {mode!r}")


# reserved metadata-column field IDs (metadata_columns.go:29-80)
ROW_ID_FIELD_ID = 2147483647 - 107


def update_where(table, spark: SparkSession, expr: E.Expression,
                 assignments: Dict[str, object],
                 preserve_lineage: bool = True):
    """MoR UPDATE via the position-delta pattern: pos-delete the old row
    versions + reinsert updated rows, one row-delta snapshot.

    Parity (behavior only): /root/reference/table/position_delta_writer.go
    (reinserts materialize ``_row_id`` so survivors keep their lineage;
    ``_last_updated_sequence_number`` is NOT written — readers synthesize
    it from the new snapshot's sequence number, which is exactly the
    update semantics the spec requires) composed with the pos-delete
    fanout writer, committed row-delta style (row_delta.go:65-281).

    ``assignments`` maps column name -> Column or SQL expression string,
    evaluated against the pre-update row.
    """
    md = table.metadata
    schema = md.schema()
    # row lineage is v3 by spec, but this engine also assigns row ids
    # on v2 tables it wrote itself (next-row-id advances) — preserve
    # there too.  Only tables with NO id assignment (adopted/foreign
    # v2 metadata) skip: writing the reserved _row_id field would
    # stamp a junk all-null column into their data files
    preserve_lineage = preserve_lineage and (
        md.format_version >= 3 or (md.next_row_id or 0) > 0)
    for c in assignments:
        if schema.find_field(c) is None:
            raise ValueError(f"no such column: {c}")
    full, partial = _classify(table, expr)
    if not full and not partial:
        return table

    txn = table.new_transaction()
    bound_col = E.to_spark_column(E.bind(expr, schema))

    # 1. pos-deletes for matching rows of partially-matching files;
    #    fully-matching files are dropped from manifests outright (every
    #    row is being rewritten, the file is dead)
    delete_files: List[M.DataFile] = []
    dropped_dv_refs: set = set()
    if partial:
        matches = _matches_df(table, spark, bound_col, partial)
        if _tasks_have_dvs(partial) or md.format_version >= 3:
            # DV-covered targets: readers IGNORE new position-delete
            # files (supersede), so the old row versions would stay
            # live next to the reinserts; and v3 row-level deletes are
            # DVs by spec — write merged DVs in both cases
            delete_files, dropped_dv_refs = _dv_delete_fanout(
                spark, md, matches, partial)
        else:
            delete_files = _pos_delete_fanout(spark, md, matches,
                                              partial)
    dropped = [t.data_file.file_path for t in full]
    dead = _dead_delete_paths(table, dropped) if dropped else []
    keep_manifests = txn._rewrite_manifests_without(
        dropped + dead, dropped_dv_refs=dropped_dv_refs) \
        if (dropped or dead or dropped_dv_refs) else None

    # 2. reinserts: matching rows read through the scan lowering (existing
    #    pos/eq/DV deletes applied — a raw-parquet read would resurrect
    #    rows), updated, written with _row_id preserved
    from ..types import to_spark_type
    src = _tasks_scan_df(table, spark, full + partial,
                         row_lineage=preserve_lineage).filter(bound_col)
    # ONE withColumns call: every RHS binds against the PRE-update row
    # (sequential withColumn let later assignments read already-updated
    # values, so {'a': col('b'), 'b': col('a')} failed to swap)
    src = src.withColumns({
        cname: (F.expr(a) if isinstance(a, str) else a)
        .cast(to_spark_type(schema.find_field(cname).field_type))
        for cname, a in assignments.items()})
    write_schema = schema
    if preserve_lineage:
        src, write_schema = _lineage_rewrite_prep(schema, src)
    data_files = write_dataframe(
        src, write_schema, md.spec(), os.path.join(md.location, "data"),
        md.properties, sort_order=md.sort_order())

    txn.append_files(delete_files + data_files, operation=OP_OVERWRITE,
                     manifests_to_keep=keep_manifests,
                     removed_paths=dropped, removed_delete_paths=dead,
                     referenced_paths=[t.data_file.file_path
                                      for t in partial],
                     conflict_filter=expr,
                     dropped_dv_refs=dropped_dv_refs,
                     extra_summary={
                         "updated-columns": ",".join(sorted(assignments))})
    return txn.commit()


def overwrite_where(table, spark: SparkSession, expr: E.Expression,
                    df: DataFrame):
    """Filtered overwrite: CoW-delete matching rows + append ``df`` in ONE
    snapshot (transaction.go:1447)."""
    md = table.metadata
    schema = md.schema()
    full, partial = _classify(table, expr)
    txn = table.new_transaction()
    bound_col = E.to_spark_column(E.bind(expr, schema))

    added: List[M.DataFile] = []
    fv3 = md.format_version >= 3
    if partial:
        src = _tasks_scan_df(table, spark, partial, row_lineage=fv3)
        keep_df = src.filter(~bound_col | bound_col.isNull())
        write_schema = schema
        if fv3:
            keep_df, write_schema = _lineage_rewrite_prep(
                schema, keep_df)
        added += write_dataframe(keep_df, write_schema, md.spec(),
                                 os.path.join(md.location, "data"),
                                 md.properties, sort_order=md.sort_order())
    added += write_dataframe(df, schema, md.spec(),
                             os.path.join(md.location, "data"),
                             md.properties, sort_order=md.sort_order())
    dropped = [t.data_file.file_path for t in full + partial]
    dead = _dead_delete_paths(table, dropped) if dropped else []
    keep_manifests = txn._rewrite_manifests_without(dropped + dead) \
        if dropped else None
    txn.append_files(added, operation=OP_OVERWRITE,
                     manifests_to_keep=keep_manifests,
                     removed_paths=dropped, removed_delete_paths=dead,
                     conflict_filter=expr)
    return txn.commit()


def merge_into(table, spark: SparkSession, source: DataFrame,
               key_columns: List[str], when_matched: str = "update",
               insert_not_matched: bool = True,
               matched_condition=None,
               candidate_filter: Optional[E.Expression] = None):
    """MERGE INTO via the MoR position-delta pattern: pos-delete the
    matched target rows, write replacement + insert rows, one row-delta
    snapshot (the same machinery as ``update_where``/``upsert``, with
    the match decided by a key JOIN against ``source`` instead of a
    predicate).

    - ``when_matched``: "update" replaces each matched target key's
      rows with the source row's values (upsert identity — duplicate
      target rows of a key collapse to the one source row), "delete"
      removes them, None leaves matched rows untouched.
    - ``insert_not_matched``: source rows whose keys are absent from
      the target are appended.
    - ``matched_condition``: optional extra predicate (Column or SQL
      string) over the target row; non-qualifying matches are left
      untouched.
    - ``candidate_filter``: optional engine Expression bounding where
      matches can live (e.g. the source batch's date range) — planning
      prunes partitions/files with it, so a merge into one day of a
      year-partitioned table scans one day, not the table.  Rows
      OUTSIDE the filter are never matched; the not-matched key set is
      still computed table-wide so inserts stay correct.

    Source keys must be unique — a key with several source rows makes
    the update nondeterministic and is rejected (standard MERGE
    cardinality check).

    Scale shape: match detection is one raw scan of candidate files
    semi-joined on the keys (shuffle keyed by the join); pos deletes
    fan out partition-aware; the replacement/insert rows write through
    the normal distributed path.  The default form (update + insert,
    no condition or filter, pre-v3) writes ``source`` as-is and reads
    the target only in match detection; the other forms split
    ``source`` against key sets read through the delete-applying scan.
    Everything commits atomically with OCC retry."""
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"unsupported when_matched: {when_matched!r}")
    md = table.metadata
    schema = md.schema()
    for c in key_columns:
        if schema.find_field(c) is None:
            raise ValueError(f"no such key column: {c}")
        if c not in source.columns:
            raise ValueError(f"source is missing key column: {c}")

    # cardinality check: one source row per key
    dup = (source.groupBy(*key_columns)
           .agg(F.count(F.lit(1)).alias("__n"))
           .filter(F.col("__n") > 1).limit(1).collect())
    if dup:
        raise ValueError(
            "MERGE source has multiple rows for key "
            f"{tuple(dup[0][k] for k in key_columns)}")

    cond = None
    if matched_condition is not None:
        cond = F.expr(matched_condition) \
            if isinstance(matched_condition, str) else matched_condition

    tasks = table.scan(row_filter=candidate_filter).plan_files() \
        if candidate_filter is not None else table.scan().plan_files()
    txn = table.new_transaction()
    src_keys = source.select(*key_columns)

    # 1. pos-deletes for matched target rows (no deletes applied: rows
    #    already MoR-deleted reappearing here is idempotent)
    delete_files: List[M.DataFile] = []
    merge_dropped_dv_refs: set = set()
    if when_matched is not None and tasks:
        # __-prefixed identity: matched_condition / key columns may
        # legitimately be named file_path or pos (see _matches_df note)
        matches = read_data_files(spark, table,
                                  [t.data_file.file_path for t in tasks])
        if cond is not None:
            matches = matches.filter(cond)
        matches = (matches
                   .join(src_keys, key_columns, "leftsemi")
                   .select(F.col("__file").alias("file_path"),
                           F.col("__pos").alias("pos")))
        if _tasks_have_dvs(tasks):
            # DV-covered targets: new position-delete files would be
            # ignored by the reader's supersede rule — write merged DVs
            delete_files, dv_refs = _dv_delete_fanout(
                spark, md, matches, tasks)
            merge_dropped_dv_refs.update(dv_refs)
        else:
            delete_files = _pos_delete_fanout(spark, md, matches, tasks)

    # 2. replacement + insert rows, one distributed write.  The default
    #    form (update every match, insert the rest, table-wide) writes
    #    `source` as-is: each source row is either a matched update or
    #    an unmatched insert (a null key matches nothing and inserts),
    #    and step 1 already retired every matched target row.  Every
    #    other form splits `source` by key sets from the scan lowering
    #    (existing deletes applied): one pass over the target for the
    #    matched side, one over the table for the insert side.
    fv3 = md.format_version >= 3
    from ..types import to_spark_type
    write_source = (when_matched == "update" and insert_not_matched
                    and cond is None and candidate_filter is None
                    and not fv3)
    target = _tasks_scan_df(table, spark, tasks, row_lineage=fv3) \
        if tasks and not write_source else None
    pieces = [source] if write_source else []
    if when_matched == "update" and target is not None:
        matched_keys = target.filter(cond) if cond is not None else target
        if fv3:
            # v3 row lineage: an UPDATE preserves the row's identity —
            # each replacement carries the matched key's _row_id (MIN
            # over duplicate target rows, which collapse to one source
            # row under merge's upsert identity; reference
            # transaction.go:1998 preserveRowLineage)
            matched_keys = (matched_keys.groupBy(*key_columns)
                            .agg(F.min("_row_id").alias("_row_id")))
            pieces.append(source.join(matched_keys, key_columns,
                                      "inner"))
        else:
            matched_keys = matched_keys.select(*key_columns).distinct()
            pieces.append(source.join(matched_keys, key_columns,
                                      "leftsemi"))
    if insert_not_matched and not write_source:
        # insert-side existence is decided against the WHOLE table even
        # under a candidate_filter — a key living outside the filter
        # must not be re-inserted
        all_tasks = tasks if candidate_filter is None \
            else table.scan().plan_files()
        existing = _tasks_scan_df(table, spark, all_tasks) \
            if all_tasks else None
        ins = source if existing is None else source.join(
            existing.select(*key_columns).distinct(),
            key_columns, "leftanti")
        if fv3:
            ins = ins.withColumn("_row_id", F.lit(None).cast("long"))
        pieces.append(ins)
    data_files: List[M.DataFile] = []
    if pieces:
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        keep_cols = [F.col(f.name).cast(to_spark_type(f.field_type))
                     for f in schema.fields if f.name in out.columns]
        write_schema = schema
        if fv3 and "_row_id" in out.columns:
            keep_cols.append(F.col("_row_id"))
            _unused, write_schema = _lineage_rewrite_prep(schema, out)
        out = out.select(*keep_cols)
        data_files = write_dataframe(
            out, write_schema, md.spec(),
            os.path.join(md.location, "data"),
            md.properties, sort_order=md.sort_order())

    if not delete_files and not data_files:
        return table
    keep_manifests = None
    if merge_dropped_dv_refs:
        keep_manifests = txn._rewrite_manifests_without(
            [], dropped_dv_refs=merge_dropped_dv_refs)
    txn.append_files(delete_files + data_files, operation=OP_OVERWRITE,
                     manifests_to_keep=keep_manifests,
                     # referenced_paths guards files our NEW delete
                     # files point at; with no delete files an
                     # insert-only merge must not fail rebase because
                     # a concurrent compaction rewrote a scanned file
                     referenced_paths=[t.data_file.file_path
                                       for t in tasks]
                     if delete_files else [],
                     # serializable isolation: concurrently ADDED files
                     # may carry matching keys the merge never saw —
                     # candidate_filter bounds where they could live,
                     # else any added file conflicts
                     conflict_filter=candidate_filter
                     if candidate_filter is not None else E.AlwaysTrue(),
                     dropped_dv_refs=merge_dropped_dv_refs,
                     extra_summary={
                         "merge-keys": ",".join(key_columns),
                         "merge-matched": str(when_matched),
                     })
    return txn.commit()


def upsert(table, spark: SparkSession, df: DataFrame,
           key_columns: List[str]):
    """Row delta (row_delta.go): equality-delete keys + new data, one
    snapshot.  Readers drop matching older rows via anti-join; sequence
    gating (eq applies only to seq < delete seq) keeps the new rows."""
    md = table.metadata
    schema = md.schema()
    key_ids = []
    for c in key_columns:
        f = schema.find_field(c)
        if f is None:
            raise ValueError(f"no such key column: {c}")
        key_ids.append(f.field_id)

    txn = table.new_transaction()
    # 1. equality delete file(s): distinct key tuples of the incoming
    # batch, written distributed (the shuffle from .distinct() fans the
    # write out; no single-task coalesce) under deletes/ so the streaming
    # file source never tails them.  Scope is global (unpartitioned) —
    # the read side groups all eq files with the same key set into ONE
    # anti-join, so file count doesn't multiply joins.  Keys carry the
    # table's types, as the data write does: readers read these files
    # with the table schema (scan.read_delete_files).
    from ..types import to_spark_type
    keys = df.select(*[
        F.col(c).cast(to_spark_type(schema.find_field(c).field_type))
        .alias(c) for c in key_columns]).distinct()
    out_dir = os.path.join(md.location, "deletes",
                           f"eq-{uuid.uuid4().hex[:12]}")
    keys.write.parquet(out_dir)
    from ..types import StructType as _ST
    delete_files = _delete_datafiles(out_dir, _ST(), M.CONTENT_EQ_DELETES,
                                     key_ids)
    # 2. new data files
    data_files = write_dataframe(df, schema, md.spec(),
                                 os.path.join(md.location, "data"),
                                 md.properties, sort_order=md.sort_order())
    txn.append_files(delete_files + data_files, operation=OP_OVERWRITE,
                     extra_summary={"upsert-keys": ",".join(key_columns)})
    return txn.commit()
