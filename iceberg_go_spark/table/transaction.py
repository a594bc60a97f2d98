"""Transactions: buffered metadata updates + snapshot production + OCC commit.

Parity (behavior only): /root/reference/table/transaction.go (:78-300 buffered
updates, :568 Append, :1447 overwrite, :1513 CoW delete, :1560 MoR delete),
table/snapshot_producers.go (fast/merge append :92-568), table/table.go:520
(doCommit + retry :871).  Original Spark-first implementation: data movement
is Spark jobs; snapshot/manifest production is driver-side Python.
"""

from __future__ import annotations

import os
import random
import time
import uuid
from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional

from pyspark.sql import DataFrame

from .. import expressions as E
from ..meta import manifests as M
from ..meta.metadata import (OP_APPEND, OP_DELETE, OP_OVERWRITE, Snapshot,
                             SnapshotRef, TableMetadata, MAIN_BRANCH)
from ..schema import Schema
from .write import write_dataframe

# commit retry policy (table/properties.go:111-136)
COMMIT_NUM_RETRIES = 4
COMMIT_MIN_WAIT_MS = 100
COMMIT_MAX_WAIT_MS = 60_000

# isolation levels (table/conflict_validation.go:68): serializable fails a
# delete/overwrite when concurrent commits ADD files its predicate would
# have matched; snapshot only fails when files it removed/referenced are
# themselves gone or newly-deleted-from.
ISOLATION_SERIALIZABLE = "serializable"
ISOLATION_SNAPSHOT = "snapshot"


class ValidationError(Exception):
    """A staged snapshot cannot be safely re-applied on top of concurrent
    commits (conflict_validation.go ErrValidation).  NOT retried — the
    caller must re-run the operation against the refreshed table."""


@dataclass
class CommitReport:
    """Commit-side observability (metrics/commit_report.go:29) — the
    write-path sibling of ScanReport.  Attached to the table as
    ``last_commit_report`` after every successful commit."""
    table_name: str = ""
    snapshot_id: int = -1
    sequence_number: int = -1
    operation: str = ""
    attempts: int = 0
    total_duration_ms: float = 0.0
    added_data_files: int = 0
    added_delete_files: int = 0
    added_records: int = 0
    added_files_size_bytes: int = 0
    total_data_files: int = 0
    total_records: int = 0
    extra: Dict[str, str] = dc_field(default_factory=dict)

    def to_json_dict(self) -> Dict[str, Any]:
        """Spec wire format (metrics/commit_report.go MarshalJSON; golden
        fixture metrics/testdata/commit_report.json)."""
        def cnt(v, unit="count"):
            return {"unit": unit, "value": int(v)}
        return {
            "report-type": "commit-report",
            "table-name": self.table_name,
            "snapshot-id": self.snapshot_id,
            "sequence-number": self.sequence_number,
            "operation": self.operation,
            "metrics": {
                "total-duration": {
                    "count": 1, "time-unit": "nanoseconds",
                    "total-duration": int(self.total_duration_ms * 1e6)},
                "attempts": cnt(self.attempts),
                "added-data-files": cnt(self.added_data_files),
                "added-delete-files": cnt(self.added_delete_files),
                "total-data-files": cnt(self.total_data_files),
                "added-records": cnt(self.added_records),
                "total-records": cnt(self.total_records),
                "added-files-size-bytes": cnt(
                    self.added_files_size_bytes, "bytes"),
            },
        }


def _new_snapshot_id(metadata: TableMetadata) -> int:
    existing = {s.snapshot_id for s in metadata.snapshots}
    while True:
        sid = uuid.uuid4().int & ((1 << 62) - 1)
        if sid not in existing:
            return sid


def _rewrite_without(manifests: List[M.ManifestFile], dropped: set,
                     schema: Schema, metadata_dir: str,
                     format_version: int = 2,
                     dropped_refs: set = frozenset()
                     ) -> List[M.ManifestFile]:
    """Rewrite ``manifests`` with ``dropped`` file paths removed; surviving
    entries become EXISTING with explicit (inherited) sequence numbers
    (snapshot_producers.go existing/deleted entry classification).
    Untouched manifests are kept as-is (no rewrite cost)."""
    def _gone(df: M.DataFile) -> bool:
        # drop by file path; by the (container, referenced-file) pair
        # (v3 DV entries superseded by a merged rewrite); or — for ANY
        # delete entry that declares its single referenced data file —
        # when that data file is itself dropped: a DV is 1:1 with its
        # file, so a live entry referencing a removed file would
        # violate the spec invariant in every caller (compaction, CoW
        # delete, OCC re-apply, replace_data_files) at once
        return (df.file_path in dropped
                or (df.referenced_data_file is not None
                    and (df.referenced_data_file in dropped
                         or (df.file_path, df.referenced_data_file)
                         in dropped_refs)))

    out: List[M.ManifestFile] = []
    for mf in manifests:
        entries, spec, _sid = M.read_manifest(mf.manifest_path)
        touched = any(_gone(e.data_file) for e in entries)
        if not touched:
            out.append(mf)
            continue
        # v3 row-id inheritance derives ids from the ORDER of live
        # unstamped data entries: dropping an entry would shift every
        # later derivation — materialize BEFORE dropping so survivors
        # keep their identity
        if format_version >= 3:
            M.materialize_first_row_ids(mf, entries)
        survivors = []
        for e in entries:
            if not e.is_live or _gone(e.data_file):
                continue
            survivors.append(M.ManifestEntry(
                status=M.STATUS_EXISTING, snapshot_id=e.snapshot_id,
                sequence_number=e.sequence_number
                if e.sequence_number is not None else mf.sequence_number,
                file_sequence_number=e.file_sequence_number,
                data_file=e.data_file))
        if not survivors:
            continue
        mpath = os.path.join(metadata_dir, f"{uuid.uuid4().hex}-rw.avro")
        new_mf = M.write_manifest(mpath, survivors, schema, spec,
                                  mf.content,
                                  format_version=format_version)
        new_mf.sequence_number = mf.sequence_number
        new_mf.min_sequence_number = min(
            (e.sequence_number for e in survivors
             if e.sequence_number is not None),
            default=mf.min_sequence_number)
        new_mf.added_snapshot_id = mf.added_snapshot_id
        out.append(new_mf)
    return out


def _shift_row_ids(manifests: List[M.ManifestFile], delta: int,
                   schema: Schema, metadata_dir: str,
                   format_version: int) -> List[M.ManifestFile]:
    """Shift the stamped v3 row-id ranges of a staged snapshot's own
    data manifests by ``delta`` during OCC rebase: a concurrent commit
    consumed row ids from the shared counter, so the ids staged against
    the old metadata would collide with the winner's (_row_id uniqueness
    is a table invariant — the reference derives ids from refreshed
    metadata when rebuilding snapshots, table/table.go:820)."""
    out: List[M.ManifestFile] = []
    for mf in manifests:
        if mf.content != M.MANIFEST_DATA:
            out.append(mf)
            continue
        entries, spec, _sid = M.read_manifest(mf.manifest_path)
        if not any(e.data_file.first_row_id is not None for e in entries):
            out.append(mf)
            continue
        for e in entries:
            if e.data_file.first_row_id is not None:
                e.data_file.first_row_id += delta
        mpath = os.path.join(metadata_dir, f"{uuid.uuid4().hex}-rid.avro")
        new_mf = M.write_manifest(mpath, entries, schema, spec, mf.content,
                                  format_version=format_version)
        new_mf.sequence_number = mf.sequence_number
        new_mf.min_sequence_number = mf.min_sequence_number
        new_mf.added_snapshot_id = mf.added_snapshot_id
        out.append(new_mf)
    return out


class Transaction:
    def __init__(self, table, branch: str = MAIN_BRANCH):
        self.table = table
        self.metadata = table.metadata  # base; snapshots appended on staged
        # base pointer captured at txn START: if the table HANDLE was
        # refreshed mid-transaction, the CAS would compare against the
        # fresh location while _build_metadata copies the stale base —
        # succeeding WITHOUT conflict and silently dropping the
        # concurrent snapshots.  commit() detects the drift and rebases.
        self._base_location = table.metadata_location
        # target branch for every snapshot this transaction commits
        # (write-audit-publish: stage on a branch, fast-forward main later;
        # parity: refs surface table/refs.go + branch-targeted producers)
        self.branch = branch
        self._staged: List[Snapshot] = []
        self._new_manifest_lists: Dict[int, List[M.ManifestFile]] = {}
        self._property_updates: Dict[str, str] = {}
        self._committed = False

    # ------------------------------------------------------------------ io
    def _metadata_dir(self) -> str:
        return os.path.join(self.metadata.location, "metadata")

    def _data_dir(self) -> str:
        return os.path.join(self.metadata.location, "data")

    def _branch_head_id(self):
        ref = self.metadata.refs.get(self.branch)
        if ref is not None:
            return ref.snapshot_id
        # nonexistent branch: auto-create at the current main head
        return self.metadata.current_snapshot_id

    def _current_manifests(self) -> List[M.ManifestFile]:
        if self._staged:
            return self._new_manifest_lists[self._staged[-1].snapshot_id]
        head = self._branch_head_id()
        snap = self.metadata.snapshot_by_id(head) \
            if head is not None else None
        if snap is None:
            return []
        return M.read_manifest_list(snap.manifest_list)

    # --------------------------------------------------------- snapshot ops
    def _produce_snapshot(self, operation: str,
                          added: List[M.DataFile],
                          manifests_to_keep: Optional[List[M.ManifestFile]] = None,
                          extra_summary: Optional[Dict[str, str]] = None,
                          delete_content: bool = False) -> Snapshot:
        """Write new manifest(s) + manifest list; stage the snapshot.

        ``added`` may mix data files and delete files (content field);
        each kind goes into its own manifest per the spec."""
        md = self.metadata
        seq = md.last_sequence_number + len(self._staged) + 1
        snapshot_id = _new_snapshot_id(md)
        parent = (self._staged[-1].snapshot_id if self._staged
                  else self._branch_head_id())
        schema = md.schema()
        spec = md.spec()

        keep = (manifests_to_keep if manifests_to_keep is not None
                else self._current_manifests())
        new_manifests: List[M.ManifestFile] = []
        added_data = [f for f in added if f.content == M.CONTENT_DATA]
        added_deletes = [f for f in added if f.content != M.CONTENT_DATA]
        if delete_content:  # legacy flag: treat all as deletes manifest
            added_data, added_deletes = [], added
        # v3 row lineage: assign per-file first_row_id from the table's
        # next-row-id counter (metadata_columns.go / arrow_scanner.go:896)
        next_row_id = md.next_row_id + sum(
            getattr(s, "_rows_assigned", 0) for s in self._staged)
        first_row_id = next_row_id
        for f in added_data:
            f.first_row_id = next_row_id
            next_row_id += f.record_count
        for i, (group, content) in enumerate(
                ((added_data, M.MANIFEST_DATA),
                 (added_deletes, M.MANIFEST_DELETES))):
            if not group:
                continue
            # sequence numbers are left null and INHERITED from the manifest
            # list entry at read time — this keeps manifests immutable across
            # OCC rebase (snapshot_producers.go sequence inheritance)
            entries = [M.ManifestEntry(
                status=M.STATUS_ADDED, snapshot_id=snapshot_id,
                sequence_number=None, file_sequence_number=None, data_file=df)
                for df in group]
            mpath = os.path.join(self._metadata_dir(),
                                 f"{uuid.uuid4().hex}-m{i}.avro")
            mf = M.write_manifest(mpath, entries, schema, spec, content,
                                  format_version=md.format_version)
            mf.sequence_number = seq
            mf.min_sequence_number = seq
            mf.added_snapshot_id = snapshot_id
            new_manifests.append(mf)

        all_manifests = new_manifests + list(keep)
        all_manifests = self._maybe_merge_manifests(
            all_manifests, schema, current_snapshot_id=snapshot_id)
        list_path = os.path.join(
            self._metadata_dir(), f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro")
        consumed = M.write_manifest_list(list_path, all_manifests,
                                         format_version=md.format_version,
                                         first_row_id=first_row_id
                                         if added_data else None)

        summary = self._summary(operation, added, keep, delete_content)
        summary.update(extra_summary or {})
        snap = Snapshot(
            snapshot_id=snapshot_id, sequence_number=seq,
            timestamp_ms=int(time.time() * 1000), manifest_list=list_path,
            summary=summary, schema_id=schema.schema_id,
            parent_snapshot_id=parent,
            first_row_id=first_row_id if added_data else None)
        # ids consumed = own stamped files PLUS blocks the list build
        # assigned to carried-forward legacy (null-fri) manifests
        snap._rows_assigned = (consumed if consumed is not None
                               else next_row_id - first_row_id)
        # PRE-merge own manifests: an OCC rebase must re-apply only this
        # snapshot's own additions on top of the FRESH base — a merged
        # manifest folds base files in under this snapshot's id, and
        # re-adding it over fresh base manifests would double-count
        # every folded file
        snap._own_manifests = list(new_manifests)
        self._staged.append(snap)
        self._new_manifest_lists[snapshot_id] = all_manifests
        return snap

    def _summary(self, operation: str, added: List[M.DataFile],
                 keep: List[M.ManifestFile], delete_content: bool
                 ) -> Dict[str, str]:
        added_data = [f for f in added if f.content == M.CONTENT_DATA]
        added_del = [f for f in added if f.content != M.CONTENT_DATA]
        total_records = sum(m.live_rows_count for m in keep
                            if m.content == M.MANIFEST_DATA) + \
            sum(f.record_count for f in added_data)
        total_files = sum(m.added_files_count + m.existing_files_count
                          for m in keep if m.content == M.MANIFEST_DATA) + \
            len(added_data)
        s = {
            "operation": operation,
            "added-data-files": str(len(added_data)),
            "added-records": str(sum(f.record_count for f in added_data)),
            "added-files-size": str(sum(f.file_size_in_bytes for f in added)),
            "total-records": str(total_records),
            "total-data-files": str(total_files),
        }
        if added_del:
            s["added-delete-files"] = str(len(added_del))
            s["added-position-deletes"] = str(sum(
                f.record_count for f in added_del
                if f.content == M.CONTENT_POS_DELETES))
            s["added-equality-deletes"] = str(sum(
                f.record_count for f in added_del
                if f.content == M.CONTENT_EQ_DELETES))
        return s

    def _maybe_merge_manifests(self, manifests: List[M.ManifestFile],
                               schema: Schema,
                               current_snapshot_id: Optional[int] = None
                               ) -> List[M.ManifestFile]:
        """Merge append (snapshot_producers.go:495 mergeManifests): when a
        snapshot would carry more than ``commit.manifest.min-count-to-merge``
        small data manifests of the same spec, bin-pack them into one.
        Entries keep their inherited sequence numbers (written explicitly).

        Gated on ``commit.manifest-merge.enabled`` — default FALSE per the
        reference (properties.go:64-65; transaction.go:287 reads it for
        every append producer, including AddFiles — the reference shipped
        a regression where AddFiles hardcoded fast-append, see
        addfiles_merge_regression_test.go; here every producer flows
        through _produce_snapshot so the gate is structural)."""
        if self.metadata.properties.get(
                "commit.manifest-merge.enabled", "false").lower() != "true":
            return manifests
        min_count = int(self.metadata.properties.get(
            "commit.manifest.min-count-to-merge", "100"))
        target_size = int(self.metadata.properties.get(
            "commit.manifest.target-size-bytes", str(8 * 1024 * 1024)))
        small = [m for m in manifests
                 if m.content == M.MANIFEST_DATA
                 and m.manifest_length < target_size]
        if len(small) < min_count:
            return manifests
        by_spec: Dict[int, List[M.ManifestFile]] = {}
        for m in small:
            by_spec.setdefault(m.partition_spec_id, []).append(m)
        out = [m for m in manifests if m not in small]
        for spec_id, group in by_spec.items():
            entries: List[M.ManifestEntry] = []
            spec = None
            for m in group:
                es, spec, _sid = M.read_manifest(m.manifest_path)
                # v3: inheritance-reliant entries must carry explicit
                # ids into the merged manifest (whose block differs)
                if self.metadata.format_version >= 3:
                    M.materialize_first_row_ids(m, es)
                own_new = (current_snapshot_id is not None
                           and m.added_snapshot_id == current_snapshot_id)
                for e in es:
                    if not e.is_live:
                        continue
                    if own_new and e.status == M.STATUS_ADDED:
                        # THIS snapshot's additions stay ADDED (with
                        # inherited seq) — folding them to EXISTING
                        # left no manifest carrying the snapshot's
                        # added entries, blinding changelog/incremental
                        # consumers and breaking spec inheritance
                        entries.append(e)
                        continue
                    entries.append(M.ManifestEntry(
                        M.STATUS_EXISTING, e.snapshot_id,
                        e.sequence_number if e.sequence_number is not None
                        else m.sequence_number,
                        e.file_sequence_number, e.data_file))
            if not entries:
                continue
            mpath = os.path.join(self._metadata_dir(),
                                 f"{uuid.uuid4().hex}-merged.avro")
            mf = M.write_manifest(mpath, entries, schema, spec,
                                  M.MANIFEST_DATA,
                                  format_version=self.metadata.format_version)
            mf.sequence_number = max(m.sequence_number for m in group)
            mf.min_sequence_number = min(m.min_sequence_number
                                         for m in group)
            mf.added_snapshot_id = group[0].added_snapshot_id
            out.append(mf)
        return out

    def _rewrite_manifests_without(self, dropped_paths,
                                   dropped_dv_refs=frozenset()
                                   ) -> List[M.ManifestFile]:
        """Rewrite current manifests with ``dropped_paths`` removed
        (and, for v3 DV supersedence, ``dropped_dv_refs`` —
        (container-path, referenced-data-file) pairs)."""
        return _rewrite_without(self._current_manifests(), set(dropped_paths),
                                self.metadata.schema(), self._metadata_dir(),
                                self.metadata.format_version,
                                set(dropped_dv_refs))

    # ------------------------------------------------------------- user ops
    def append(self, df: DataFrame, properties: Optional[Dict[str, str]] = None,
               extra_summary: Optional[Dict[str, str]] = None
               ) -> "Transaction":
        """Fast append (snapshot_producers.go:92): new manifest per append.
        ``extra_summary`` entries land in the snapshot summary (e.g. the
        streaming sink's query/batch idempotence markers)."""
        md = self.metadata
        props = {**md.properties, **(properties or {})}
        files = write_dataframe(df, md.schema(), md.spec(), self._data_dir(),
                                props, sort_order=md.sort_order())
        if files:
            self._produce_snapshot(OP_APPEND, files,
                                   extra_summary=extra_summary)
        return self

    def append_files(self, files: List[M.DataFile], operation: str = OP_APPEND,
                     manifests_to_keep: Optional[List[M.ManifestFile]] = None,
                     extra_summary: Optional[Dict[str, str]] = None,
                     delete_content: bool = False,
                     removed_paths: Optional[List[str]] = None,
                     removed_delete_paths: Optional[List[str]] = None,
                     referenced_paths: Optional[List[str]] = None,
                     conflict_filter: Optional[E.Expression] = None,
                     full_replace: bool = False,
                     dropped_dv_refs: Optional[set] = None
                     ) -> "Transaction":
        """Register already-written data files (add_files / internal DML).

        The conflict-context kwargs drive OCC rebase validation
        (conflict_validation.go): ``removed_paths`` = data/delete files this
        snapshot dropped (must still be live at rebase), ``referenced_paths``
        = data files its new delete files point at (validateDataFilesExist),
        ``conflict_filter`` = predicate for serializable added-file checks,
        ``full_replace`` = the kept manifests ARE the whole table (manifest
        rewrite) — never mechanically re-parentable."""
        snap = self._produce_snapshot(operation, files, manifests_to_keep,
                                      extra_summary, delete_content)
        snap._removed_paths = list(removed_paths or [])
        snap._removed_delete_paths = list(removed_delete_paths or [])
        snap._referenced_paths = list(referenced_paths or [])
        snap._conflict_filter = conflict_filter
        snap._full_replace = full_replace
        # superseded (container, referenced-file) DV pairs: recorded on
        # the snapshot so an OCC REBASE re-drops them — rebuilding keep-
        # manifests without this would resurrect the old DV next to the
        # merged one (two live DVs per file corrupts v3 readers)
        snap._dropped_dv_refs = set(dropped_dv_refs or ())
        snap._base_seq = self.metadata.last_sequence_number
        return self

    def _adopt_parquet_files(self, spark, paths: List[str]
                             ) -> List[M.DataFile]:
        """Footer-harvest existing parquet files into DataFile entries
        (shared by add_files and replace_data_files)."""
        schema = self.metadata.schema()
        from .write import harvest_data_files
        files = harvest_data_files(spark, [(p, {}) for p in paths], schema,
                                   self.metadata.properties)
        # files without parquet field IDs resolve by name mapping (spec:
        # schema.name-mapping.default property, name_mapping.go:85) —
        # record the mapping from the CURRENT schema so later renames
        # (which change names but not IDs) still resolve these files
        if any(f.name_based for f in files):
            from ..meta.name_mapping import NameMapping, PROP_NAME_MAPPING
            if PROP_NAME_MAPPING not in self.metadata.properties and \
                    PROP_NAME_MAPPING not in self._property_updates:
                self._property_updates[PROP_NAME_MAPPING] = \
                    NameMapping.from_schema(schema).to_json()
        return files


    def add_files(self, spark, paths: List[str],
                  check_duplicates: bool = True) -> "Transaction":
        """Register existing parquet files as data files without rewriting
        (transaction.go:900 AddFiles): stats come from footers, harvested
        on executors."""
        if check_duplicates:
            existing = {e.data_file.file_path
                        for mf in self._current_manifests()
                        for e in M.read_manifest(mf.manifest_path)[0]
                        if e.is_live}
            dupes = existing & set(paths)
            if dupes:
                raise ValueError(f"files already referenced: {sorted(dupes)[:3]}")
        if not self.metadata.spec().is_unpartitioned:
            raise ValueError("add_files currently requires an unpartitioned "
                             "table (no partition values in plain paths)")
        files = self._adopt_parquet_files(spark, paths)
        self._produce_snapshot(OP_APPEND, files)
        return self

    def replace_data_files(self, spark, files_to_delete: List[str],
                           files_to_add: List[str]) -> "Transaction":
        """Swap specific data files in one OVERWRITE snapshot
        (transaction.go:612 ReplaceDataFiles): drop ``files_to_delete``
        from the metadata and adopt ``files_to_add`` with
        footer-harvested stats, validating that delete paths belong to
        the table, add paths are not already referenced, and both sets
        are duplicate-free.  An empty delete set degenerates to
        ``add_files``."""
        if not files_to_delete:
            if files_to_add:
                return self.add_files(spark, files_to_add)
            return self
        to_delete, to_add = set(files_to_delete), set(files_to_add)
        if len(to_delete) != len(files_to_delete):
            raise ValueError("delete file paths must be unique")
        if len(to_add) != len(files_to_add):
            raise ValueError("add file paths must be unique")
        if self._branch_head_id() is None:
            raise ValueError("cannot replace files in a table without "
                             "an existing snapshot")
        live = {e.data_file.file_path
                for mf in self._current_manifests()
                if mf.content == M.MANIFEST_DATA
                for e in M.read_manifest(mf.manifest_path)[0] if e.is_live}
        already = live & to_add
        if already:
            raise ValueError("cannot add files that are already "
                             f"referenced by table: {sorted(already)[:3]}")
        missing = to_delete - live
        if missing:
            raise ValueError("cannot delete files that do not belong to "
                             f"the table: {sorted(missing)[:3]}")
        keep = self._rewrite_manifests_without(sorted(to_delete))
        files: List[M.DataFile] = []
        if files_to_add:
            files = self._adopt_parquet_files(spark, files_to_add)
        snap = self._produce_snapshot(OP_OVERWRITE, files,
                                      manifests_to_keep=keep)
        # conflict context for OCC rebase (same contract as
        # append_files): without _removed_paths a rebase keeps the
        # FRESH base manifests unmodified and silently resurrects the
        # replaced files
        snap._removed_paths = sorted(to_delete)
        snap._removed_delete_paths = []
        snap._referenced_paths = []
        snap._conflict_filter = None
        snap._full_replace = False
        snap._base_seq = self.metadata.last_sequence_number
        return self

    # ------------------------------------------------------------- commit
    def _build_metadata(self) -> TableMetadata:
        md = self.metadata
        import copy
        new = copy.deepcopy(md)
        new.properties.update(self._property_updates)
        # metadata log: pointer to the superseded metadata file;
        # bounded by write.metadata.previous-versions-max
        # (properties.go:85, default 100, floor 1)
        if self.table.metadata_location:
            try:
                keep = int(new.properties.get(
                    "write.metadata.previous-versions-max", 100))
            except ValueError:
                keep = 100
            keep = max(1, keep)
            new.metadata_log.append({
                "timestamp-ms": md.last_updated_ms,
                "metadata-file": self.table.metadata_location})
            new.metadata_log = new.metadata_log[-keep:]
        for snap in self._staged:
            new.snapshots.append(snap)
            new.last_sequence_number = max(new.last_sequence_number,
                                           snap.sequence_number)
            new.last_updated_ms = snap.timestamp_ms
            prev_ref = new.refs.get(self.branch)
            if prev_ref is not None and prev_ref.ref_type == "tag":
                raise ValidationError(
                    f"cannot commit to {self.branch!r}: it is a TAG "
                    f"(immutable); retag or use a branch")
            # preserve the branch's retention settings — a bare
            # replacement silently dropped min-snapshots-to-keep /
            # max-snapshot-age and expire_snapshots then used defaults
            new.refs[self.branch] = SnapshotRef(
                snap.snapshot_id, "branch",
                min_snapshots_to_keep=(prev_ref.min_snapshots_to_keep
                                       if prev_ref else None),
                max_snapshot_age_ms=(prev_ref.max_snapshot_age_ms
                                     if prev_ref else None),
                max_ref_age_ms=(prev_ref.max_ref_age_ms
                                if prev_ref else None))
            if self.branch == MAIN_BRANCH:
                # only main moves the table's current state + history log
                new.snapshot_log.append({"snapshot-id": snap.snapshot_id,
                                         "timestamp-ms": snap.timestamp_ms})
                new.current_snapshot_id = snap.snapshot_id
            new.next_row_id += getattr(snap, "_rows_assigned", 0)
        return new

    def commit(self):
        """OCC commit with refresh + retry (table/table.go:520-979)."""
        if self._committed:
            raise RuntimeError("transaction already committed")
        if not self._staged:
            return self.table
        from ..catalog.filesystem import CommitConflictError
        attempt = 0
        t0 = time.time()
        # a mid-transaction table.refresh() moved the handle past this
        # transaction's captured base: rebase FIRST or the CAS succeeds
        # against the fresh pointer while carrying the stale snapshot
        # list (silent lost update, no conflict raised)
        if (self._base_location is not None
                and self.table.metadata_location != self._base_location):
            self._rebase(self.table)
            self._base_location = self.table.metadata_location
        # commit.retry.* table properties (properties.go:111-136)
        props = self.metadata.properties
        num_retries = int(props.get("commit.retry.num-retries",
                                    COMMIT_NUM_RETRIES))
        min_wait_ms = int(props.get("commit.retry.min-wait-ms",
                                    COMMIT_MIN_WAIT_MS))
        max_wait_ms = int(props.get("commit.retry.max-wait-ms",
                                    COMMIT_MAX_WAIT_MS))
        while True:
            base_md = self.table.metadata
            new_md = self._build_metadata()
            try:
                path = self.table.catalog.commit_table(
                    self.table.identifier, self.table.metadata_location, new_md)
                self._committed = True
                self.table.metadata = new_md
                self.table.metadata_location = path
                _delete_old_metadata(base_md, new_md)
                last = self._staged[-1]
                s = last.summary

                def _i(key: str) -> int:
                    return int(s.get(key, 0))
                self.table.last_commit_report = CommitReport(
                    table_name=".".join(self.table.identifier),
                    snapshot_id=last.snapshot_id,
                    sequence_number=last.sequence_number,
                    operation=s.get("operation", ""),
                    attempts=attempt + 1,
                    total_duration_ms=(time.time() - t0) * 1000,
                    added_data_files=_i("added-data-files"),
                    added_delete_files=_i("added-delete-files"),
                    added_records=_i("added-records"),
                    added_files_size_bytes=_i("added-files-size"),
                    total_data_files=_i("total-data-files"),
                    total_records=_i("total-records"))
                # inline delivery at commit completion (metrics/reporter.go
                # contract: must never raise into the commit)
                from .. import metrics as _metrics
                rep = self.table.metrics_reporter()
                if not _metrics.is_nop(rep):
                    _metrics.deliver(
                        rep, self.table.last_commit_report.to_json_dict())
                return self.table
            except CommitConflictError:
                if self.table.metadata_location is None:
                    # staged create (no base): the table now exists with
                    # someone else's identity — rebasing onto it would
                    # silently append to a foreign table; terminal
                    from ..catalog.filesystem import TableAlreadyExistsError
                    raise TableAlreadyExistsError(
                        ".".join(self.table.identifier))
                attempt += 1
                if attempt > num_retries:
                    raise
                wait = min(min_wait_ms * (2 ** (attempt - 1)),
                           max_wait_ms) / 1000.0
                time.sleep(wait * (0.5 + random.random() / 2))
                # refresh: re-parent staged snapshots onto latest metadata
                fresh = self.table.catalog.load_table(self.table.identifier)
                # a changed table UUID means drop+recreate raced this
                # commit — rebasing would append to a FOREIGN table;
                # terminal, never retried (refresh_uuid_test.go:
                # TestCommitRetryRejectsChangedTableUUIDBeforeRetryCommit)
                if (self.table.metadata.table_uuid
                        and fresh.metadata.table_uuid
                        and self.table.metadata.table_uuid
                        != fresh.metadata.table_uuid):
                    raise ValidationError(
                        f"table UUID changed during commit retry "
                        f"({self.table.metadata.table_uuid} -> "
                        f"{fresh.metadata.table_uuid}): the table was "
                        f"replaced; load a new table handle")
                self._rebase(fresh)

    def _isolation(self, operation: str) -> str:
        props = self.metadata.properties
        key = {OP_DELETE: "write.delete.isolation-level",
               OP_OVERWRITE: "write.update.isolation-level"}.get(operation)
        if key is None:
            return ISOLATION_SNAPSHOT
        return props.get(key, ISOLATION_SERIALIZABLE)

    def _validate_rebase(self, snap: Snapshot, fresh_manifests:
                         List[M.ManifestFile]) -> Dict[str, Any]:
        """Conflict validation before re-applying a non-append snapshot
        (conflict_validation.go:68-199,305,646; row_delta.go:65-281).

        Checks, against commits that landed since this snapshot was staged:
        1. files this snapshot removed or its delete files reference still
           exist (validateDataFilesExist — a concurrent CoW delete or
           compaction that rewrote them silently loses our change);
        2. no NEW delete files were committed that could apply to files we
           are removing/rewriting (their deletes would be lost with them);
        3. serializable only: no NEW data files match the operation's
           predicate (they should have been part of the rewrite/delete).
        Runs on manifest metadata only — no data files are read."""
        removed = set(getattr(snap, "_removed_paths", []) or [])
        referenced = set(getattr(snap, "_referenced_paths", []) or [])
        cfilter = getattr(snap, "_conflict_filter", None)
        base_seq = getattr(snap, "_base_seq", 0)
        op = snap.summary.get("operation", OP_APPEND)

        live_paths: set = set()
        removed_partitions: List[Dict[str, Any]] = []
        new_data: List[M.DataFile] = []
        new_deletes: List[M.DataFile] = []
        # a multi-snapshot transaction validates each staged snapshot
        # against base manifests that already include its OWN earlier
        # restaged snapshots — their files are ordered-by-construction,
        # not concurrent conflicts (their rows still count as live)
        own_ids = {sn.snapshot_id for sn in self._staged}
        for mf in fresh_manifests:
            # a manifest's sequence_number bounds its entries' — skip old
            is_new = ((mf.sequence_number or 0) > base_seq
                      and mf.added_snapshot_id not in own_ids)
            entries, _spec, _sid = M.read_manifest(mf.manifest_path)
            for e in entries:
                if not e.is_live:
                    continue
                eseq = (e.sequence_number if e.sequence_number is not None
                        else mf.sequence_number) or 0
                f = e.data_file
                if f.content == M.CONTENT_DATA:
                    live_paths.add(f.file_path)
                    # deletes conflict with files we REMOVE and with
                    # files our new delete files REFERENCE (two
                    # concurrent MoR/DV deletes on one file would
                    # commit two live DVs, losing the winner's rows)
                    if f.file_path in removed or f.file_path in referenced:
                        removed_partitions.append(f.partition or {})
                    if is_new and eseq > base_seq:
                        new_data.append(f)
                elif is_new and eseq > base_seq:
                    new_deletes.append(f)

        missing = (removed | referenced) - live_paths
        if missing:
            raise ValidationError(
                f"cannot re-apply {op} snapshot: {len(missing)} "
                f"referenced/removed data files were removed by a "
                f"concurrent commit (e.g. {sorted(missing)[0]})")

        if (removed or referenced) and new_deletes:
            targets = removed | referenced

            def applies(d: M.DataFile) -> bool:
                if d.referenced_data_file is not None:
                    # DV / single-file delete: exact path scope
                    return d.referenced_data_file in targets
                if not d.partition or \
                        all(v is None for v in d.partition.values()):
                    return True  # globally-scoped delete
                return any(d.partition == p for p in removed_partitions)
            conflicting = [d for d in new_deletes if applies(d)]
            if conflicting:
                raise ValidationError(
                    f"cannot re-apply {op} snapshot: concurrent commits "
                    f"added {len(conflicting)} delete files that apply to "
                    f"files this snapshot rewrites or re-deletes (their "
                    f"deletes would be lost)")

        if cfilter is not None and new_data and \
                self._isolation(op) == ISOLATION_SERIALIZABLE:
            from ..plans.evaluators import InclusiveMetricsEvaluator
            ev = InclusiveMetricsEvaluator(self.metadata.schema(), cfilter)
            hits = [f for f in new_data if ev.eval(f)]
            if hits:
                raise ValidationError(
                    f"serializable isolation: {len(hits)} concurrently "
                    f"added data files match this {op}'s predicate")
        # dead delete files re-dropped opportunistically (not validated:
        # a concurrent compaction may already have removed them)
        return {"removed": removed | set(
            getattr(snap, "_removed_delete_paths", []) or [])}

    def _rebase(self, fresh_table) -> None:
        """Re-parent staged snapshots onto refreshed metadata
        (table/table.go:820 rebuildSnapshotUpdates + conflict validators).

        Appends re-parent mechanically (own manifests + fresh base).
        Delete/overwrite/replace snapshots are validated first (see
        _validate_rebase) and then RE-APPLY their file drops against the
        fresh base manifests — re-parenting them append-style would
        resurrect the manifests they dropped.  Manifest rewrites
        (full_replace) are never re-parentable and always fail."""
        fresh_md = fresh_table.metadata
        # re-parent onto the fresh head OF THIS TRANSACTION'S BRANCH —
        # rebasing a branch transaction onto MAIN's head would graft
        # main's manifests under the branch ref and drop every
        # branch-only file (and discard concurrent branch commits)
        fref = fresh_md.refs.get(self.branch)
        fresh_head = (fref.snapshot_id if fref is not None
                      else fresh_md.current_snapshot_id)
        base_manifests = []
        fs = (fresh_md.snapshot_by_id(fresh_head)
              if fresh_head is not None else None)
        if fs is not None:
            base_manifests = M.read_manifest_list(fs.manifest_list)
        parent = fresh_head
        seq = fresh_md.last_sequence_number
        next_rid = fresh_md.next_row_id
        restaged = []
        lists = {}
        schema = self.metadata.schema()
        for snap in self._staged:
            op = snap.summary.get("operation", OP_APPEND)
            if getattr(snap, "_full_replace", False):
                raise ValidationError(
                    "manifest rewrite conflicts with a concurrent commit; "
                    "re-run it against the refreshed table")
            keep = base_manifests
            if op != OP_APPEND:
                ctx = self._validate_rebase(snap, base_manifests)
                dv_refs = getattr(snap, "_dropped_dv_refs", None) or set()
                if ctx["removed"] or dv_refs:
                    keep = _rewrite_without(
                        base_manifests, ctx["removed"], schema,
                        self._metadata_dir(), fresh_md.format_version,
                        dropped_refs=dv_refs)
            seq += 1
            own = list(getattr(snap, "_own_manifests", None)
                       or [m for m in
                           self._new_manifest_lists[snap.snapshot_id]
                           if m.added_snapshot_id == snap.snapshot_id])
            # v3 row lineage: this snapshot's row ids were assigned from
            # the PRE-refresh next-row-id; if the concurrent winner also
            # assigned ids, re-base the staged range onto the refreshed
            # counter (rewriting own manifests' stamped file-level ids)
            # so _row_ids stay table-unique
            if fresh_md.format_version >= 3 and snap.first_row_id is not None:
                delta = next_rid - snap.first_row_id
                if delta:
                    own = _shift_row_ids(own, delta, schema,
                                         self._metadata_dir(),
                                         fresh_md.format_version)
                    snap.first_row_id = next_rid
            for m in own:
                m.sequence_number = seq
                m.min_sequence_number = seq
            all_manifests = own + list(keep)
            list_path = os.path.join(
                self._metadata_dir(),
                f"snap-{snap.snapshot_id}-{uuid.uuid4().hex}.avro")
            consumed = M.write_manifest_list(
                list_path, all_manifests,
                format_version=fresh_md.format_version,
                first_row_id=snap.first_row_id)
            if fresh_md.format_version >= 3 \
                    and snap.first_row_id is not None:
                # actual ids consumed by the re-parented list (own
                # stamps + any legacy-manifest block assignments)
                if consumed is not None:
                    snap._rows_assigned = consumed
                next_rid += getattr(snap, "_rows_assigned", 0)
            snap.parent_snapshot_id = parent
            snap.sequence_number = seq
            snap.manifest_list = list_path
            # totals were computed against the PRE-conflict base;
            # recompute from the re-parented manifest list so
            # total-records/total-data-files include the winner's rows
            snap.summary["total-records"] = str(sum(
                m.live_rows_count for m in all_manifests
                if m.content == M.MANIFEST_DATA))
            snap.summary["total-data-files"] = str(sum(
                m.added_files_count + m.existing_files_count
                for m in all_manifests
                if m.content == M.MANIFEST_DATA))
            parent = snap.snapshot_id
            base_manifests = all_manifests
            restaged.append(snap)
            lists[snap.snapshot_id] = all_manifests
        self._staged = restaged
        self._new_manifest_lists = lists
        self.table.metadata = fresh_md
        self.table.metadata_location = fresh_table.metadata_location
        self.metadata = fresh_md


def _delete_old_metadata(base_md, new_md) -> None:
    """write.metadata.delete-after-commit.enabled (table.go:1007
    deleteOldMetadata): after a successful commit, remove the metadata
    files that dropped OUT of the (bounded) metadata log — best-effort,
    an external compactor may have deleted them already."""
    props = new_md.properties
    if str(props.get("write.metadata.delete-after-commit.enabled",
                     "false")).lower() != "true":
        return
    old = {e.get("metadata-file") for e in base_md.metadata_log}
    kept = {e.get("metadata-file") for e in new_md.metadata_log}
    from ..io import load_io
    for path in sorted(old - kept):
        if not path:
            continue
        try:
            load_io(path).delete(path)
        except Exception:
            # best-effort by contract: a missing file, an unregistered
            # scheme, or a storage error must never fail a commit that
            # already landed
            pass
