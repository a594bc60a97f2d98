"""Table maintenance: compaction (bin-pack rewrite), snapshot expiry,
orphan-file cleanup, manifest rewrite.

Parity (behavior only): /root/reference/table/compaction/compaction.go:194
(PlanCompaction bin-pack :208-330), table/rewrite_data_files.go:223,
table/transaction.go:374-557 (expire), table/orphan_cleanup.go:267-735,
table/rewrite_manifests.go:115.

Scale notes: compaction groups become independent Spark jobs (read group ->
write one right-sized file set); orphan detection is an anti-join between
the FS listing and the referenced-file set — at 100 TB both sides are
DataFrames, never driver lists.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional, Set, Tuple

from pyspark.sql import SparkSession, functions as F

from ..meta import manifests as M
from ..io import load_io
from ..meta.metadata import OP_REPLACE
from ..session import local_frame
from .write import write_dataframe

DEFAULT_TARGET_FILE_SIZE = 512 * 1024 * 1024
DEFAULT_MIN_INPUT_FILES = 2


@dataclass
class CompactionGroup:
    partition: Dict
    files: List[M.DataFile] = dc_field(default_factory=list)

    @property
    def total_bytes(self) -> int:
        return sum(f.file_size_in_bytes for f in self.files)


def plan_compaction(table, target_size: int = DEFAULT_TARGET_FILE_SIZE,
                    small_file_threshold: Optional[int] = None,
                    min_input_files: int = DEFAULT_MIN_INPUT_FILES,
                    tasks: Optional[list] = None,
                    delete_file_threshold: int = 1
                    ) -> List[CompactionGroup]:
    """Bin-pack small files per partition (compaction.go:208-330).
    ``tasks`` reuses a pre-planned file list (compact() plans once).
    ``delete_file_threshold``: a data file carrying at least this many
    delete files qualifies regardless of size AND bypasses
    min_input_files (rewriting is how its deletes get applied; the
    reference's BinPackStrategy delete-file-threshold knob) — raise it
    to leave lightly-deleted large files alone."""
    if small_file_threshold is None:
        small_file_threshold = int(target_size * 0.75)
    if tasks is None:
        tasks = table.scan().plan_files()
    by_partition: Dict[Tuple, List[M.DataFile]] = {}
    with_deletes: Set[str] = set()
    for t in tasks:
        if t.pos_deletes or t.eq_deletes:
            key = tuple(sorted(t.data_file.partition.items()))
            by_partition.setdefault(key, []).append(t.data_file)
            if (len(t.pos_deletes) + len(t.eq_deletes)
                    >= delete_file_threshold):
                with_deletes.add(t.data_file.file_path)
            continue
        if t.data_file.file_size_in_bytes >= small_file_threshold:
            continue
        key = tuple(sorted(t.data_file.partition.items()))
        by_partition.setdefault(key, []).append(t.data_file)

    def qualifies(files: List[M.DataFile]) -> bool:
        # a delete-carrying file must be rewritten even ALONE: that is
        # how its pending deletes get applied and its dead delete
        # files/DVs reclaimed — min_input_files only gates pure
        # small-file consolidation
        return (len(files) >= min_input_files
                or any(f.file_path in with_deletes for f in files))

    groups = []
    for key, files in by_partition.items():
        if not qualifies(files):
            continue
        # bin-pack into target-size bins
        files = sorted(files, key=lambda f: -f.file_size_in_bytes)
        bins: List[CompactionGroup] = []
        for f in files:
            placed = False
            for b in bins:
                if b.total_bytes + f.file_size_in_bytes <= target_size:
                    b.files.append(f)
                    placed = True
                    break
            if not placed:
                bins.append(CompactionGroup(dict(key), [f]))
        groups.extend(b for b in bins if qualifies(b.files))
    return groups


def compact(table, spark: SparkSession,
            target_size: int = DEFAULT_TARGET_FILE_SIZE,
            min_input_files: int = DEFAULT_MIN_INPUT_FILES,
            delete_file_threshold: int = 1):
    """Rewrite each compaction group through Spark; one REPLACE snapshot.

    Applies pending deletes during the rewrite (dead deletes dropped)."""
    # ONE planning pass shared by plan_compaction, the group-task
    # filter, and the dead-delete liveness check below
    all_tasks = table.scan().plan_files()
    groups = plan_compaction(table, target_size,
                             min_input_files=min_input_files,
                             tasks=all_tasks,
                             delete_file_threshold=delete_file_threshold)
    if not groups:
        return table
    md = table.metadata
    schema = md.schema()
    txn = table.new_transaction()

    rewritten: List[M.DataFile] = []
    dropped: List[str] = []
    group_paths = [f.file_path for g in groups for f in g.files]
    gp = set(group_paths)
    tasks = [t for t in all_tasks if t.data_file.file_path in gp]
    if not tasks:
        return table
    # reuse the scan lowering (applies MoR deletes) on just these tasks
    from .scan import Scan
    sub = Scan(table)
    sub.plan_files = lambda: tasks  # type: ignore[assignment]
    # v3 row lineage survives compaction only when EVERY source file
    # carries it: scan with lineage and materialize _row_id /
    # _last_updated_sequence_number into the rewritten files (reserved
    # field ids), which the lineage read path prefers over synthesis.
    # A mixed group (legacy v2-era files on an upgraded table) would
    # emit nulls for some rows — degrade to no lineage, like the
    # reference (rewrite_data_files.go:330-360 preserveLineage).
    preserve_lineage = (md.format_version >= 3 and tasks and
                        all(t.data_file.first_row_id is not None
                            for t in tasks))
    if preserve_lineage:
        sub.row_lineage = True
    elif md.format_version >= 3 and any(
            t.data_file.first_row_id is not None for t in tasks):
        import logging
        logging.getLogger(__name__).warning(
            "compaction group has mixed row lineage; "
            "dropping _row_id on output")
    df = sub.to_df(spark)
    # bin-pack the output: small input files must merge, so shrink the
    # partition count to ceil(total_bytes / target) (Spark otherwise keeps
    # one partition per input file for parallelism)
    total = sum(t.data_file.file_size_in_bytes for t in tasks)
    n_out = max(1, -(-total // target_size))
    df = df.coalesce(int(n_out))
    write_schema = schema
    if preserve_lineage:
        # extend the write schema with the reserved lineage fields
        # (metadata_columns.go:41-52) so the parquet footers carry
        # their field ids and foreign v3 readers resolve them by id
        from .. import types as _T
        from ..schema import Schema as _Schema
        write_schema = _Schema(list(schema.fields) + [
            _T.NestedField(2147483540, "_row_id", _T.LongType()),
            _T.NestedField(2147483539, "_last_updated_sequence_number",
                           _T.LongType())])
    rewritten = write_dataframe(
        df, write_schema, md.spec(), os.path.join(md.location, "data"),
        {**md.properties,
         "write.target-file-size-bytes": str(target_size)},
        sort_order=md.sort_order())
    dropped = group_paths
    # also drop delete files that applied only to compacted data files
    dead_deletes = {d.file_path for t in tasks
                    for d in (t.pos_deletes + t.eq_deletes)}
    still_needed = {d.file_path for t in all_tasks
                    if t.data_file.file_path not in gp
                    for d in (t.pos_deletes + t.eq_deletes)}
    dead = sorted(dead_deletes - still_needed)
    # v3 DVs: a puffin CONTAINER shared with surviving files stays live,
    # but the per-file DV entries of COMPACTED files must be expunged in
    # the same rewrite snapshot — no live entry may reference a removed
    # data file (dv_rewrite_test.go guarantee; the reference's
    # RewriteDataFiles covers both commit paths)
    dv_refs_dropped = {
        (d.file_path, d.referenced_data_file)
        for t in tasks for d in t.pos_deletes
        if d.referenced_data_file is not None}

    keep = txn._rewrite_manifests_without(dropped + dead,
                                          dropped_dv_refs=dv_refs_dropped)
    txn.append_files(rewritten, operation=OP_REPLACE,
                     manifests_to_keep=keep,
                     removed_paths=dropped, removed_delete_paths=dead,
                     extra_summary={
                         "compacted-input-files": str(len(group_paths)),
                         "compacted-output-files": str(len(rewritten))})
    return txn.commit()


def rewrite_manifests(table, target_entries_per_manifest: int = 2000,
                      target_manifest_size_bytes: Optional[int] = None,
                      spec_id: Optional[int] = None,
                      predicate=None):
    """Repack eligible data manifests into right-sized ones (one
    metadata-only REPLACE commit; manifests stay immutable, only the
    list changes).  Parity: table/rewrite_manifests.go:85-110,169 —

    - ``target_manifest_size_bytes``: size the output manifests by
      BYTES (a 100 TB table compacts manifests by size, not row count);
      entries per chunk are derived from the source manifests' measured
      bytes/entry.  Overrides ``target_entries_per_manifest``.
    - ``spec_id``: restrict the rewrite to manifests of one partition
      spec (WithRewriteSpecID).
    - ``predicate``: ``ManifestFile -> bool`` — only rewrite manifests
      for which it returns True (WithRewriteManifestPredicate).

    Only DATA manifests are eligible (rewrite_manifests.go:214
    eligible); delete manifests and non-matching manifests pass through
    untouched."""
    md = table.metadata
    snap = md.current_snapshot()
    if snap is None:
        return table
    txn = table.new_transaction()
    manifests = M.read_manifest_list(snap.manifest_list)
    schema = md.schema()

    def eligible(mf: M.ManifestFile) -> bool:
        if mf.content != M.MANIFEST_DATA:
            return False
        if spec_id is not None and mf.partition_spec_id != spec_id:
            return False
        if predicate is not None and not predicate(mf):
            return False
        return True

    to_rewrite = [mf for mf in manifests if eligible(mf)]
    kept = [mf for mf in manifests if not eligible(mf)]
    if not to_rewrite:
        return table  # no-op: nothing eligible, skip the empty commit

    entries: List[Tuple[M.ManifestEntry, int]] = []
    spec_by_id = {}
    for mf in to_rewrite:
        es, spec, sid = M.read_manifest(mf.manifest_path)
        spec_by_id[sid] = spec
        # v3: materialize inherited first_row_ids BEFORE repacking —
        # entries relying on manifest-level inheritance would land in
        # chunks with no row-id block and every scan would read their
        # _row_id as NULL (irreversible lineage loss from a
        # metadata-only operation)
        if md.format_version >= 3:
            M.materialize_first_row_ids(mf, es)
        for e in es:
            if not e.is_live:
                continue
            if e.sequence_number is None:
                e.sequence_number = mf.sequence_number
            entries.append((M.ManifestEntry(
                M.STATUS_EXISTING, e.snapshot_id, e.sequence_number,
                e.file_sequence_number, e.data_file), sid))

    per_chunk = target_entries_per_manifest
    if target_manifest_size_bytes is not None and entries:
        # measured bytes/entry from the source manifests being rewritten
        avg = max(1, sum(mf.manifest_length for mf in to_rewrite)
                  // len(entries))
        per_chunk = max(1, target_manifest_size_bytes // avg)

    out: List[M.ManifestFile] = list(kept)
    for sid in sorted({s for _e, s in entries}):
        es = [e for e, s in entries if s == sid]
        for i in range(0, len(es), per_chunk):
            chunk = es[i:i + per_chunk]
            mpath = os.path.join(txn._metadata_dir(),
                                 f"{uuid.uuid4().hex}-rm.avro")
            mf = M.write_manifest(mpath, chunk, schema,
                                  spec_by_id[sid], M.MANIFEST_DATA,
                                  format_version=md.format_version)
            mf.sequence_number = md.last_sequence_number
            mf.min_sequence_number = min(
                (e.sequence_number for e in chunk
                 if e.sequence_number is not None), default=0)
            mf.added_snapshot_id = snap.snapshot_id
            out.append(mf)

    txn.append_files([], operation=OP_REPLACE, manifests_to_keep=out,
                     full_replace=True,
                     extra_summary={"rewritten-manifests":
                                    str(len(to_rewrite))})
    return txn.commit()


def _referenced_paths_df(spark: SparkSession, snapshots,
                         extra: Optional[Set[str]] = None):
    """DataFrame of every file path the given snapshots reference,
    built in two executor waves so neither the per-manifest fan-out nor
    the per-entry fan-out lands on the driver: wave 1 reads manifest
    lists (one task each) and yields manifest paths; wave 2 reads
    manifests and yields data/delete file paths. Only path strings ever
    reach the driver between waves."""
    lists = sorted({s.manifest_list for s in snapshots if s.manifest_list})
    extra_rows = [(p,) for p in (extra or set())]
    if not lists:
        return local_frame(spark, extra_rows, "path string")

    def manifests_of(ml):
        from iceberg_go_spark.meta import manifests as M2
        return [mf.manifest_path for mf in M2.read_manifest_list(ml)]

    manifest_paths = sorted(set(
        spark.sparkContext.parallelize(lists, max(1, min(len(lists), 64)))
        .flatMap(manifests_of).collect()))

    def entries_of(mp):
        from iceberg_go_spark.meta import manifests as M2
        es, _spec, _sid = M2.read_manifest(mp)
        return [e.data_file.file_path for e in es]

    entry_rdd = spark.sparkContext.parallelize(
        manifest_paths, max(1, min(len(manifest_paths), 64))) \
        .flatMap(entries_of).map(lambda p: (p,))
    entry_df = spark.createDataFrame(entry_rdd, "path string")
    known = local_frame(
        spark, [(p,) for p in lists + manifest_paths] + extra_rows,
        "path string")
    return entry_df.union(known).distinct()


# Spec defaults are "keep everything" (properties.go:102-109 uses
# MaxInt); any finite sentinel works since comparisons are `age > max`.
_RETENTION_INF = 1 << 62


def _first_set(*vals):
    for v in vals:
        if v is not None:
            return v
    return _RETENTION_INF


def _retention_keep_set(md, now_ms: int, retain_last: Optional[int],
                        caller_max_age: Optional[int]
                        ) -> Tuple[Set[int], Set[str]]:
    """Resolve per-ref retention (transaction.go:468-538): reference age
    falls back ref.max-ref-age-ms -> table prop; snapshot age falls back
    ref -> caller -> table prop; min-snapshots-to-keep likewise.  Tags
    keep only their snapshot; branches walk the parent chain keeping a
    snapshot unless it is BOTH over max-age AND past min-keep.  A
    non-main ref older than its max-ref-age is itself removed.  Returns
    (snapshot ids to keep, ref names to drop)."""
    props = md.properties
    prop_max_ref_age = (int(props["max-ref-age-ms"])
                        if "max-ref-age-ms" in props else None)
    prop_min_keep = (int(props["min-snapshots-to-keep"])
                     if "min-snapshots-to-keep" in props else None)
    prop_max_age = (int(props["max-snapshot-age-ms"])
                    if "max-snapshot-age-ms" in props else None)

    keep_ids: Set[int] = set()
    drop_refs: Set[str] = set()
    # O(1) ancestry hops: snapshot_by_id linearly scans the snapshot
    # list, making the walk O(refs x chain x snapshots) on big tables
    by_id = {s.snapshot_id: s for s in md.snapshots}
    for name, ref in md.refs.items():
        if name == "main":
            # the main head is always retained (transaction.go:487)
            keep_ids.add(ref.snapshot_id)
        head = by_id.get(ref.snapshot_id)
        if head is None:
            continue
        max_ref_age = _first_set(ref.max_ref_age_ms, prop_max_ref_age)
        if name != "main" and now_ms - head.timestamp_ms > max_ref_age:
            drop_refs.add(name)
            continue
        if ref.ref_type != "branch":
            keep_ids.add(ref.snapshot_id)
            continue
        # a SURVIVING branch ref's head is unconditionally retained:
        # with min_keep resolved to 0 the walk below could expire the
        # head while the ref stays, leaving a dangling reference whose
        # files the GC then deletes
        keep_ids.add(ref.snapshot_id)
        min_keep = _first_set(ref.min_snapshots_to_keep, retain_last,
                              prop_min_keep)
        max_age = _first_set(ref.max_snapshot_age_ms, caller_max_age,
                             prop_max_age)
        n_kept, sid = 0, ref.snapshot_id
        while True:
            s = by_id.get(sid)
            if s is None:  # parent trimmed by a prior expiry: end of chain
                break
            if now_ms - s.timestamp_ms > max_age and n_kept >= min_keep:
                break
            keep_ids.add(s.snapshot_id)
            if s.parent_snapshot_id is None:
                break
            sid = s.parent_snapshot_id
            n_kept += 1
    return keep_ids, drop_refs


def expire_snapshots(table, older_than_ms: Optional[int] = None,
                     retain_last: Optional[int] = 1,
                     delete_files: bool = True,
                     spark: Optional[SparkSession] = None) -> List[str]:
    """Drop expired snapshots; GC files only they referenced
    (transaction.go:374-557).  Returns deleted file paths.

    ``older_than_ms`` is an absolute cutoff (default: now) translated to
    the caller-level snapshot age; ``retain_last`` the caller-level
    min-snapshots-to-keep.  Per-ref settings beat both, table properties
    (max-ref-age-ms / max-snapshot-age-ms / min-snapshots-to-keep) are
    the last resort; pass ``retain_last=None`` to defer fully to
    ref/table policy.  Unreferenced snapshots are always eligible.

    Commit-first ordering: the trimmed metadata is committed (with
    refresh+retry on conflict) BEFORE any file is unlinked — deleting
    first would corrupt the table irreversibly if the commit then lost
    an OCC race while the still-current metadata references the files."""
    import copy
    from ..catalog.filesystem import CommitConflictError
    now_ms = int(time.time() * 1000)
    if older_than_ms is None:
        older_than_ms = now_ms
    caller_max_age = now_ms - older_than_ms

    for _attempt in range(5):
        md = table.metadata
        keep_ids, drop_refs = _retention_keep_set(
            md, now_ms, retain_last, caller_max_age)
        if md.current_snapshot_id is not None and "main" not in md.refs:
            for s in md.ancestors_of()[:max(retain_last or 1, 1)]:
                keep_ids.add(s.snapshot_id)
        expired = [s for s in md.snapshots
                   if s.snapshot_id not in keep_ids]
        if not expired and not drop_refs:
            return []

        new = copy.deepcopy(md)
        new.refs = {k: v for k, v in new.refs.items()
                    if k not in drop_refs}
        expired_ids = {s.snapshot_id for s in expired}
        new.snapshots = [s for s in new.snapshots
                         if s.snapshot_id not in expired_ids]
        new.snapshot_log = [e for e in new.snapshot_log
                            if e["snapshot-id"] not in expired_ids]
        # statistics entries of expired snapshots go with them (reference
        # metadata builder removes stats for dropped snapshots,
        # table/metadata.go:623); the files become orphans and are
        # reclaimed by orphan_files
        new.statistics = [e for e in new.statistics
                          if e.get("snapshot-id") not in expired_ids]
        new.partition_statistics = [
            e for e in new.partition_statistics
            if e.get("snapshot-id") not in expired_ids]
        new.last_updated_ms = int(time.time() * 1000)
        # track the superseded metadata file like every transaction
        # commit does (Transaction._build_metadata) — without the log
        # entry the pre-expire version vanishes from history AND from
        # GC reach (orphan_files never touches *.metadata.json)
        if table.metadata_location:
            try:
                keep_n = max(1, int(new.properties.get(
                    "write.metadata.previous-versions-max", "100")))
            except ValueError:
                keep_n = 100
            new.metadata_log.append({
                "timestamp-ms": table.metadata.last_updated_ms,
                "metadata-file": table.metadata_location})
            new.metadata_log = new.metadata_log[-keep_n:]
        try:
            path = table.catalog.commit_table(table.identifier,
                                              table.metadata_location, new)
            table.metadata, table.metadata_location = new, path
            break
        except CommitConflictError:
            # refresh and recompute the expiry set against latest metadata
            fresh = table.catalog.load_table(table.identifier)
            table.metadata = fresh.metadata
            table.metadata_location = fresh.metadata_location
    else:
        raise CommitConflictError("expire_snapshots: too many conflicts")

    # GC phase — only after the trimmed metadata is durably current.
    # The live set is recomputed from the COMMITTED metadata.
    if spark is not None:
        # distributed: candidate paths (expired snapshots) minus live
        # paths (current snapshots) as a DataFrame anti-join; both sides
        # built on executors, deletes fanned out on executors
        live_df = _referenced_paths_df(spark, table.metadata.snapshots)
        cand_df = _referenced_paths_df(spark, expired)
        deleted = [r.path for r in
                   cand_df.join(live_df, on="path", how="left_anti")
                   .collect()]
        if delete_files and deleted:
            def _rm(p: str) -> None:
                # scheme-aware: os.unlink silently no-ops on object
                # store URIs (and the path list would still be
                # RETURNED as deleted — leaking files forever)
                from iceberg_go_spark.io import load_io
                try:
                    load_io(p).delete(p)
                except FileNotFoundError:
                    pass
            spark.sparkContext.parallelize(
                deleted, max(1, min(len(deleted) // 1000 + 1, 64))) \
                .foreach(_rm)
        return deleted

    live_data: Set[str] = set()
    live_manifests: Set[str] = set()
    live_lists: Set[str] = set()
    for s in table.metadata.snapshots:
        live_lists.add(s.manifest_list)
        for mf in M.read_manifest_list(s.manifest_list):
            live_manifests.add(mf.manifest_path)
            entries, _, _ = M.read_manifest(mf.manifest_path)
            for e in entries:
                live_data.add(e.data_file.file_path)

    # two-phase GC: PLAN every path first (all manifest reads happen
    # before any unlink), THEN delete.  Interleaving read+unlink leaked
    # files: a manifest shared by two expired snapshots was unlinked in
    # the first pass, the second pass's read raised FileNotFoundError,
    # and the broad per-snapshot catch abandoned that snapshot's whole
    # cleanup (its unique manifests/data/list stayed behind silently).
    to_unlink: List[str] = []
    planned_manifests: Set[str] = set()
    for s in expired:
        if s.manifest_list in live_lists:
            continue
        try:
            mfs = M.read_manifest_list(s.manifest_list)
        except FileNotFoundError:
            continue
        for mf in mfs:
            if mf.manifest_path in live_manifests \
                    or mf.manifest_path in planned_manifests:
                continue
            planned_manifests.add(mf.manifest_path)
            try:
                entries, _, _ = M.read_manifest(mf.manifest_path)
            except FileNotFoundError:
                continue
            for e in entries:
                p = e.data_file.file_path
                if p not in live_data and load_io(p).exists(p):
                    to_unlink.append(p)
            to_unlink.append(mf.manifest_path)
        to_unlink.append(s.manifest_list)
    deleted = list(dict.fromkeys(to_unlink))
    if delete_files:
        for p in deleted:
            try:
                load_io(p).delete(p)
            except FileNotFoundError:
                pass
    return deleted


class OrphanResult(List[str]):
    """A (possibly truncated) sample of orphan paths, plus the FULL
    count and an optional written manifest.  list-compatible so small
    tables (sample == everything) behave exactly as before."""
    total_count: int = 0
    manifest_path: Optional[str] = None
    truncated: bool = False


def orphan_files(table, spark: SparkSession,
                 older_than_ms: Optional[int] = None,
                 dry_run: bool = True,
                 max_results: Optional[int] = 10_000,
                 manifest_path: Optional[str] = None) -> "OrphanResult":
    """Files under the table location referenced by NO snapshot.

    The referenced set and the FS listing are joined as DataFrames
    (orphan_cleanup.go's listing diff, but spill-able at 100 TB).
    Deletes run on executors straight from the orphan DataFrame — the
    driver never materializes the full path list (a 100 TB table can
    hold millions of orphans).  The return value is a SAMPLE capped at
    ``max_results`` (None = unbounded, the pre-scale behavior) carrying
    ``total_count``; pass ``manifest_path`` to write the complete list
    as text, one path per line, via executors."""
    md = table.metadata
    if older_than_ms is None:
        older_than_ms = int(time.time() * 1000) - 3 * 24 * 3600 * 1000

    extra: Set[str] = {table.metadata_location}
    # Puffin statistics + partition statistics files + metadata-log
    # entries are live references
    for st in list(md.statistics) + list(md.partition_statistics):
        p = st.get("statistics-path")
        if p:
            extra.add(p)
    for entry in md.metadata_log:
        p = entry.get("metadata-file")
        if p:
            extra.add(p)
    # manifest/entry references built on executors, never on the driver
    ref_df = _referenced_paths_df(spark, md.snapshots, extra)

    # listing fanned out per first-level subtree (the object-store
    # analogue is a per-prefix LIST); the driver only enumerates the
    # table root
    roots = [md.location]
    subtrees = []
    try:
        for n in sorted(os.listdir(md.location)):
            p = os.path.join(md.location, n)
            if os.path.isdir(p):
                subtrees.append(p)
    except FileNotFoundError:
        pass

    def walk_one(base):
        import os as _os
        out = []
        if base == roots[0]:
            # same race guard as the recursive branch: a concurrent
            # delete between listdir and getmtime (or a missing table
            # root) must not abort the whole orphan job
            try:
                names = _os.listdir(base)
            except OSError:
                return out
            for n in names:
                p = _os.path.join(base, n)
                try:
                    if _os.path.isfile(p):
                        out.append((p, int(_os.path.getmtime(p) * 1000)))
                except OSError:
                    pass
            return out
        for r, _d, names in _os.walk(base):
            for n in names:
                p = _os.path.join(r, n)
                try:
                    out.append((p, int(_os.path.getmtime(p) * 1000)))
                except OSError:
                    pass
        return out

    targets = roots + subtrees
    listing_rdd = spark.sparkContext.parallelize(
        targets, max(1, min(len(targets), 64))).flatMap(walk_one)
    fs_df = spark.createDataFrame(listing_rdd,
                                  "path string, mtime_ms long")
    orphans = (fs_df
               .filter(F.col("mtime_ms") < older_than_ms)
               .filter(~F.col("path").rlike(r"version-hint|metadata\.json"))
               .join(ref_df, on="path", how="left_anti")
               .select("path")
               .cache())  # reused by count + manifest + delete + sample
    try:
        total = orphans.count()
        # sample BEFORE any deletes: a cache eviction would otherwise
        # recompute the listing post-unlink and return an empty sample
        sample_df = orphans.limit(max_results) if max_results else orphans
        sample = [r.path for r in sample_df.collect()]
        if manifest_path and total:
            orphans.write.mode("overwrite").text(manifest_path)
        if not dry_run and total:
            # delete on executors straight from the partitioned frame:
            # at 100 TB file counts the driver is neither the unlink
            # bottleneck nor the path-list holder
            # (orphan_cleanup.go worker pool)
            def _rm_part(rows) -> None:
                import os as _os
                for r in rows:
                    try:
                        _os.unlink(r.path)
                    except FileNotFoundError:
                        pass
            orphans.foreachPartition(_rm_part)
    finally:
        orphans.unpersist()
    res = OrphanResult(sample)
    res.total_count = total
    res.manifest_path = manifest_path if (manifest_path and total) else None
    res.truncated = len(sample) < total
    return res


def purge_table_files(metadata, metadata_location: str) -> List[str]:
    """Best-effort physical delete of every file a dropped table owns:
    data/delete files of all snapshots, manifests, manifest lists,
    statistics files, and all metadata versions (reference PurgeTable,
    catalog/glue/glue.go:445-463 via table.PurgeFiles). Returns the paths
    it attempted. Driver-side: a purge is a one-shot administrative op
    with no SparkSession in catalog context."""
    from ..io import load_io

    paths: Set[str] = {metadata_location}
    for e in list(metadata.statistics) + list(metadata.partition_statistics):
        if e.get("statistics-path"):
            paths.add(e["statistics-path"])
    for e in metadata.metadata_log:
        if e.get("metadata-file"):
            paths.add(e["metadata-file"])
    for snap in metadata.snapshots:
        if not snap.manifest_list:
            continue
        paths.add(snap.manifest_list)
        try:
            manifests = M.read_manifest_list(snap.manifest_list)
        except (OSError, ValueError, KeyError):
            continue
        for mf in manifests:
            paths.add(mf.manifest_path)
            try:
                entries, _spec, _sid = M.read_manifest(mf.manifest_path)
            except (OSError, ValueError, KeyError):
                continue
            for e in entries:
                paths.add(e.data_file.file_path)
    # Hadoop's local FS leaves .crc / _SUCCESS sidecars next to data
    # files; they carry no Iceberg reference, so sweep them with their
    # primary (object stores never produce them)
    sidecars: Set[str] = set()
    for p in paths:
        d, base = os.path.split(p)
        sidecars.add(os.path.join(d, f".{base}.crc"))
        sidecars.add(os.path.join(d, "_SUCCESS"))
        sidecars.add(os.path.join(d, "._SUCCESS.crc"))
        sidecars.add(os.path.join(os.path.dirname(d), "_SUCCESS"))
        sidecars.add(os.path.join(os.path.dirname(d), "._SUCCESS.crc"))
    for p in sorted(paths):
        try:
            load_io(p).delete(p)
        except OSError:
            pass
    for p in sorted(sidecars - paths):
        try:
            os.unlink(p)
        except OSError:
            pass
    return sorted(paths)
