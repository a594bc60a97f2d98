"""Scan planning (multi-level pruning) + lowering onto a Spark DataFrame.

Parity (behavior only): /root/reference/table/scanner.go — Scan :226, plan
:809/:877, manifest fetch+prune :640, entry collection :716, delete matching
:509-638; table/arrow_scanner.go execution (superseded by Spark's vectorized
parquet reader + anti-joins for deletes).

Plan lifecycle: snapshot -> manifest-list -> ManifestEvaluator (partition
summaries) -> per-file partition-tuple eval + InclusiveMetricsEvaluator
(min/max/null/nan) -> FileScanTasks with matched delete files ->
``spark.read.parquet(files)`` + anti-joins + residual filter.

Scale notes: pruning runs on manifest *metadata* (driver, ~KBs per manifest);
row data only ever flows executor-side.  Delete application is expressed as
joins so Spark can pick broadcast vs shuffled strategies and spill — the
reference's in-memory delete sets OOM at 100 TB, joins don't.  Parquet
position deletes and deletion vectors are one delete side behind one row
gate (``_apply_position_deletes``): under it DV bitmaps are expanded on
the driver and broadcast, above it on executors.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, FrozenSet, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import expressions as E
from .. import types as T
from ..meta import manifests as M
from ..meta.dv import (DV_ITEM_SCHEMA, DV_SCHEMA, dv_positions,
                       expand_dv_items, list_deletion_vector_keys,
                       read_dv_blobs)
from ..meta.metadata import Snapshot, TableMetadata
from ..plans.evaluators import (InclusiveMetricsEvaluator, ManifestEvaluator,
                                partition_expr_evaluator)
from ..schema import Schema
from ..session import local_frame


def raw_file_path(col):
    """``_metadata.file_path`` as the RAW filesystem path manifests
    record: strip the ``file:`` scheme and percent-decode (a location
    with a space/'%'/'#'/non-ASCII char yields %XX in Spark's URI form;
    every join against manifest-recorded paths — delete application, DV
    membership, lineage — must compare raw to raw).  Native, so paths
    never reach a Python worker (a Python UDF, even under a conditional,
    is hoisted into a per-row ArrowEvalPython node).  ``+`` is escaped
    first: the URI form leaves it bare and URLDecoder reads it as a
    space.  A literal ``%`` arrives as ``%25`` and round-trips."""
    stripped = F.regexp_replace(col, "^file:", "")
    return F.url_decode(F.replace(stripped, F.lit("+"), F.lit("%2B")))


def read_delete_files(spark: SparkSession, paths: List[str],
                      equality_ids=None, schema: Optional[Schema] = None,
                      schemas=()) -> DataFrame:
    """Position-delete files (no ``equality_ids``) or equality-delete
    files over ``equality_ids`` as a DataFrame, read with a known schema:
    an inferred read runs a Spark job per call, at build time.

    - position deletes: the spec's ``file_path string, pos long``;
    - equality deletes: one column per key, named as in ``schema`` and
      typed from it.  No field ids: the engine's delete files carry
      none, and ``fieldId.read.ignoreMissing`` would read an id-less
      file as nulls, so columns resolve by name.  A file names a key as
      the key was called when it was written, so a key renamed in
      ``schemas`` (the table's schema history) is read under each of its
      names and coalesced: a file carries exactly one of them.

    A nested key, or a name that another column has also had, keeps the
    inferred read (it fails loudly where a guess could read nulls)."""
    if not equality_ids:
        return spark.read.schema("file_path string, pos long").parquet(*paths)
    import pyspark.sql.types as ST
    history = [schema, *schemas]
    fields, keys = [], []
    for fid in equality_ids:
        name = schema.find_column_name(fid)
        names: Dict[str, str] = {}
        for s in history:
            n = s.find_column_name(fid)
            if n is not None:
                names.setdefault(n.lower(), n)
        taken = {f.name.lower() for s in history for f in s.fields
                 if f.field_id != fid}
        if (name is None or any("." in n for n in names.values())
                or taken & names.keys()):
            return spark.read.parquet(*paths)
        dtype = T.to_spark_type(schema.find_field(fid).field_type)
        fields += [ST.StructField(n, dtype) for n in names.values()]
        keys.append(F.coalesce(*map(F.col, names.values())).alias(name))
    return spark.read.schema(ST.StructType(fields)).parquet(*paths) \
        .select(*keys)


def read_data_files(spark: SparkSession, table, paths: List[str],
                    schema: Optional[Schema] = None,
                    row_lineage: bool = False,
                    identity: bool = True) -> DataFrame:
    """The rows of the data files at ``paths``, under ``schema`` (default:
    the table's current schema), plus ``__file`` (the path as manifests
    record it) and ``__pos`` (the row's position in its file) unless
    ``identity`` is off: a plan that reads the file metadata keeps
    reading it even where the columns are dropped.  Applies no
    deletes.  Every path that reads table rows reads them here, so a
    column resolves the same way for all of them:

    - by parquet field id where the file carries ids;
    - through the table's name mapping where it carries none (files
      registered with ``add_files``);
    - as the field's initial default where the file predates the field.

    ``row_lineage`` adds ``_row_id`` and ``_last_updated_sequence_number``
    as far as files materialize them (null elsewhere)."""
    md = table.metadata
    schema = schema or md.schema()
    # encrypted tables: arm the session's PME confs so the parquet
    # reader can unwrap footers (no-op without a JVM KmsClient)
    from ..encryption import (apply_parquet_encryption,
                              table_encryption_enabled)
    if table_encryption_enabled(md.properties):
        apply_parquet_encryption(spark, md.properties)
    layouts = _file_layouts(spark, md, paths, schema)
    groups: Dict[Tuple[bool, FrozenSet[int]], List[str]] = {}
    for p in paths:
        groups.setdefault(layouts[p], []).append(p)
    return functools.reduce(DataFrame.unionByName, [
        _read_layout(spark, md, schema, group, name_based, missing_ids,
                     row_lineage, identity)
        for (name_based, missing_ids), group in groups.items()])


def _file_layouts(spark: SparkSession, md, paths: List[str], schema: Schema
                  ) -> Dict[str, Tuple[bool, FrozenSet[int]]]:
    """Per data file: (resolves by name, initial-default field ids it
    lacks).  One footer probe job at most, and only for tables that
    need it: those with a name mapping or with initial defaults."""
    # name mapping (spec: schema.name-mapping.default property,
    # name_mapping.go:85): files lacking parquet field IDs resolve
    # columns through the mapping instead of by ID
    from ..meta.name_mapping import NameMapping, PROP_NAME_MAPPING
    nm_json = md.properties.get(PROP_NAME_MAPPING)
    # v3 default values: files written before a defaulted column was
    # added must read that column as its initial-default, not null —
    # a per-FILE decision (a newer file's explicit nulls stay null)
    # nested fields included: a default inside a struct fills via
    # withField on rows whose parent struct exists (a file missing
    # the whole struct reads the struct as null, not as a struct of
    # defaults — reference ToRequestedSchema semantics)
    dids = {f.field_id for f in schema._by_id.values()
            if f.initial_default is not None}
    if nm_json or dids:
        # data files are immutable, so the footer probe is cached per
        # path for the process lifetime — one executor probe job per
        # file ever, not one per scan
        unknown = sorted(set(paths) - _FOOTER_PROBE_CACHE.keys())
        if unknown:
            probes = spark.sparkContext.parallelize(
                unknown, max(1, min(len(unknown), 64))) \
                .map(_footer_field_ids).collect()
            _FOOTER_PROBE_CACHE.update(zip(unknown, probes))
    nm = NameMapping.from_json(nm_json) if nm_json else None
    out = {}
    for p in paths:
        probe = _FOOTER_PROBE_CACHE.get(p)
        # a footer pyarrow cannot open resolves by name (the mapping
        # handles both cases) and fills NO defaults: clobbering real
        # values with defaults is the harmful direction
        name_based = nm is not None and (
            probe is None or all(fid is None for _n, fid in probe[0]))
        missing = frozenset()
        if dids and probe is not None:
            top, ids = probe
            # an ID-less column's id comes through the name mapping
            present = ids | {nm.id_for(n) for n, fid in top
                             if fid is None and nm is not None} - {None}
            missing = frozenset(dids - present)
        out[p] = (name_based, missing)
    return out


def _read_layout(spark: SparkSession, md, schema: Schema, paths: List[str],
                 name_based: bool, missing_ids: FrozenSet[int],
                 row_lineage: bool, identity: bool) -> DataFrame:
    """``read_data_files`` for files of one layout."""
    spark_schema = schema.to_spark()
    ident = ([raw_file_path(F.col("_metadata.file_path")).alias("__file"),
              F.col("_metadata.row_index").alias("__pos")]
             if identity else [])
    if name_based:
        # ID-less files: infer the file schema, then resolve each
        # current-schema field through the name mapping (file name
        # -> field ID -> current name), casting promoted types and
        # null-filling columns added after import
        from ..meta.name_mapping import NameMapping, PROP_NAME_MAPPING
        nm = NameMapping.from_json(md.properties[PROP_NAME_MAPPING])
        try:
            df = (spark.read.option("mergeSchema", "true")
                  .parquet(*paths))
        except Exception:
            # schema inference rejects GEOMETRY/unshredded
            # VARIANT annotations on externally-written files;
            # list the footer's top-level columns through the
            # JVM reader and read with an explicit schema (geo
            # lowers to binary, which the reader accepts)
            import pyspark.sql.types as ST
            fcols = _jvm_top_level_columns(spark, paths)
            by_name = {sf.name: sf.dataType
                       for sf in spark_schema.fields}
            read_fields = []
            for c in fcols:
                fid = nm.id_for(c)
                tgt = None
                if fid is not None:
                    # map through current name -> spark type
                    cur = schema.find_column_name(fid)
                    tgt = by_name.get(cur)
                if tgt is None:
                    tgt = by_name.get(c)
                if tgt is not None:
                    read_fields.append(ST.StructField(c, tgt, True))
            df = spark.read.schema(
                ST.StructType(read_fields)).parquet(*paths)
        by_id: Dict[int, List[str]] = {}
        for c in sorted(df.columns):
            fid = nm.id_for(c)
            if fid is not None:
                by_id.setdefault(fid, []).append(c)
        sel = []
        resolved: Dict[int, Optional[List[str]]] = {}
        for f0, sf in zip(schema.fields, spark_schema.fields):
            srcs = by_id.get(f0.field_id)
            resolved[f0.field_id] = srcs
            if not srcs:
                sel.append(F.lit(None).cast(sf.dataType)
                           .alias(f0.name))
            else:
                # several file columns can map to one field id
                # after a rename (the mapping keeps the old name
                # as an alias): per ROW exactly one is non-null,
                # since each file carries one of the aliases
                src = (F.col(srcs[0]) if len(srcs) == 1
                       else F.coalesce(*[F.col(c) for c in srcs]))
                sel.append(src.cast(sf.dataType).alias(f0.name))
        if row_lineage:
            sel += [F.lit(None).cast("long").alias("_row_id"),
                    F.lit(None).cast("long")
                    .alias("_last_updated_sequence_number")]
        df = df.select(*sel, *ident)
        # ID-less files have no PARQUET:field_id, so the footer
        # probe marks every defaulted field "missing" — but a
        # name-resolved column IS present; filling it would
        # clobber real data.  Fill only TOP-LEVEL fields the
        # name resolution could not find; nested defaults are
        # skipped entirely for name-based groups (presence of a
        # nested field cannot be probed through the top-level
        # mapping, and a wrong fill overwrites real values)
        missing_ids = frozenset(
            fid for fid in missing_ids
            if fid in resolved and resolved.get(fid) is None)
    else:
        read_schema = spark_schema
        if row_lineage:
            # position-delta reinsert files materialize _row_id
            # (position_delta_writer.go), and lineage-preserving
            # compaction materializes BOTH lineage columns
            # (rewrite_data_files.go:339-390 WithPreserveRowLineage);
            # files without the columns read null here and the scan
            # synthesizes them
            import pyspark.sql.types as ST
            read_schema = ST.StructType(
                list(spark_schema.fields) +
                [ST.StructField("_row_id", ST.LongType(), True),
                 ST.StructField("_last_updated_sequence_number",
                                ST.LongType(), True)])
        df = spark.read.schema(read_schema).parquet(*paths)
        if identity:
            df = df.select("*", *ident)
    # v3 initial-defaults: these files all lack these fields — every
    # row reads the default (constant column, filled before delete
    # joins and residual filters so both see the defaulted values)
    # defaults fill at ANY depth (struct via withField, list
    # interiors via transform, map values via a keys+values
    # rebuild); null parents stay null (table/defaults.py)
    from .defaults import fill_default
    defaults_by_id = {f.field_id: f for f in schema._by_id.values()
                      if f.initial_default is not None}
    for fid in sorted(missing_ids):
        f0 = defaults_by_id[fid]
        path = schema.find_column_name(fid) or f0.name
        df = fill_default(df, schema, path, f0, f0.initial_default)
    return df


@dataclass
class FileScanTask:
    data_file: M.DataFile
    sequence_number: int
    pos_deletes: List[M.DataFile] = dc_field(default_factory=list)
    eq_deletes: List[M.DataFile] = dc_field(default_factory=list)
    residual: Optional[E.Expression] = None
    # partition spec the file was written under (from its manifest header;
    # multi-spec tables carry files of several specs at once)
    spec_id: Optional[int] = None
    # byte range of this task within the file (reference scanner.go:981
    # FileScanTask.Start/Length): 0/file-size for whole-file tasks;
    # split_tasks() carves ranges on row-group boundaries
    start: int = 0
    length: Optional[int] = None

    @property
    def size(self) -> int:
        return (self.length if self.length is not None
                else self.data_file.file_size_in_bytes)


PROP_SPLIT_TARGET_SIZE = "read.split.target.size"
DEFAULT_SPLIT_TARGET_SIZE = 128 * 1024 * 1024


def split_tasks(tasks: List["FileScanTask"],
                target_size: int = DEFAULT_SPLIT_TARGET_SIZE
                ) -> List["FileScanTask"]:
    """Carve whole-file tasks into byte-range tasks of ~target_size,
    aligned on the file's row-group boundaries (split_offsets harvested
    at write time). Files without split offsets, or smaller than the
    target, pass through whole. Delete files ride along on every split —
    position deletes are row-addressed against the whole file, so each
    range still needs the full delete set."""
    out: List[FileScanTask] = []
    for t in tasks:
        size = t.data_file.file_size_in_bytes
        offs = sorted(t.data_file.split_offsets or [])
        if len(offs) <= 1 or size <= target_size:
            out.append(t)
            continue
        bounds = offs + [size]
        start = bounds[0]
        for nxt in bounds[1:]:
            # grow the current range until adding the next row group
            # would push it past the target
            if nxt - start >= target_size:
                out.append(FileScanTask(
                    data_file=t.data_file,
                    sequence_number=t.sequence_number,
                    pos_deletes=t.pos_deletes, eq_deletes=t.eq_deletes,
                    residual=t.residual, spec_id=t.spec_id,
                    start=start, length=nxt - start))
                start = nxt
        if start < size:
            out.append(FileScanTask(
                data_file=t.data_file, sequence_number=t.sequence_number,
                pos_deletes=t.pos_deletes, eq_deletes=t.eq_deletes,
                residual=t.residual, spec_id=t.spec_id,
                start=start, length=size - start))
    return out


@dataclass
class ScanReport:
    """Planning observability (metrics/scan_report.go:33).

    total/skipped_manifests keep their historical meaning (ALL
    manifests in the list); the wire form's *-data-manifests counters
    exclude delete manifests per the reference golden fixture, and
    result-delete-files reports deletes MATCHED to result tasks, not
    every pruned-in delete entry."""
    total_manifests: int = 0
    skipped_manifests: int = 0
    total_data_manifests: int = 0
    skipped_data_manifests: int = 0
    total_data_files: int = 0
    skipped_data_files: int = 0
    total_delete_files: int = 0
    result_delete_files: int = 0
    planning_ms: float = 0.0

    def to_json_dict(self, table_name: str = "",
                     snapshot_id: int = -1,
                     schema_id: int = 0,
                     filter_: bool = False) -> Dict[str, Any]:
        """Spec wire format (metrics/scan_report.go MarshalJSON; golden
        fixture metrics/testdata/scan_report.json): counters as
        {unit, value}, durations as {count, time-unit, total-duration}."""
        def cnt(v, unit="count"):
            return {"unit": unit, "value": int(v)}
        return {
            "report-type": "scan-report",
            "table-name": table_name,
            "snapshot-id": snapshot_id,
            "schema-id": schema_id,
            "filter": filter_,
            "metrics": {
                "total-planning-duration": {
                    "count": 1, "time-unit": "nanoseconds",
                    "total-duration": int(self.planning_ms * 1e6)},
                "result-data-files": cnt(self.total_data_files
                                         - self.skipped_data_files),
                "result-delete-files": cnt(self.result_delete_files),
                "total-data-manifests": cnt(self.total_data_manifests),
                "scanned-data-manifests": cnt(self.total_data_manifests
                                              - self.skipped_data_manifests),
                "skipped-data-manifests": cnt(self.skipped_data_manifests),
            },
        }


class Scan:
    def __init__(self, table, row_filter: E.Expression = None,
                 selected: Optional[List[str]] = None,
                 snapshot_id: Optional[int] = None,
                 ref: Optional[str] = None,
                 as_of_ms: Optional[int] = None,
                 limit: Optional[int] = None,
                 case_sensitive: bool = True,
                 concurrency: int = 8,
                 row_lineage: bool = False):
        self.table = table
        self.row_filter = row_filter or E.AlwaysTrue()
        self.selected = selected
        self.snapshot_id = snapshot_id
        self.ref = ref
        self.as_of_ms = as_of_ms
        self.limit = limit
        self.case_sensitive = case_sensitive
        self.concurrency = concurrency
        self.row_lineage = row_lineage
        self.report = ScanReport()

    # builder-style options (scanner.go:1025-1135)
    def filter(self, expr: E.Expression) -> "Scan":
        return self._copy(row_filter=E.and_(self.row_filter, expr))

    def select(self, *names: str) -> "Scan":
        return self._copy(selected=list(names))

    def use_snapshot(self, snapshot_id: int) -> "Scan":
        return self._copy(snapshot_id=snapshot_id)

    def use_ref(self, ref: str) -> "Scan":
        return self._copy(ref=ref)

    def as_of(self, timestamp_ms: int) -> "Scan":
        return self._copy(as_of_ms=timestamp_ms)

    def with_limit(self, n: int) -> "Scan":
        return self._copy(limit=n)

    def with_row_lineage(self) -> "Scan":
        """Add reserved metadata columns _row_id and
        _last_updated_sequence_number (v3 row lineage,
        metadata_columns.go:29-80): _row_id = file first_row_id + the
        row's ordinal position in its file."""
        return self._copy(row_lineage=True)

    def _copy(self, **kw) -> "Scan":
        args = dict(row_filter=self.row_filter, selected=self.selected,
                    snapshot_id=self.snapshot_id, ref=self.ref,
                    as_of_ms=self.as_of_ms, limit=self.limit,
                    case_sensitive=self.case_sensitive,
                    concurrency=self.concurrency,
                    row_lineage=self.row_lineage)
        args.update(kw)
        return Scan(self.table, **args)

    # ------------------------------------------------------------ planning
    def _resolve_snapshot(self) -> Optional[Snapshot]:
        md: TableMetadata = self.table.metadata
        if self.snapshot_id is not None:
            s = md.snapshot_by_id(self.snapshot_id)
            if s is None:
                raise ValueError(f"snapshot {self.snapshot_id} not found")
            return s
        if self.ref is not None:
            s = md.snapshot_for_ref(self.ref)
            if s is None:
                raise ValueError(f"ref {self.ref!r} not found")
            return s
        if self.as_of_ms is not None:
            s = md.snapshot_as_of(self.as_of_ms)
            if s is None:
                # the table did not exist yet — an empty scan would
                # read as "the table was empty at ts" (reference errors
                # too, scanner.go:299-301)
                raise ValueError(
                    f"no snapshot found for timestamp {self.as_of_ms}")
            return s
        return md.current_snapshot()

    def effective_schema(self) -> Schema:
        """The schema this scan reads under: time-travel reads (explicit
        snapshot id, as-of timestamp, or a TAG ref) pin the snapshot's
        schema; a current-state scan and BRANCH reads use the CURRENT
        schema — per Iceberg semantics a branch is a living line of the
        table (the current snapshot may also predate a schema evolution
        that added no data)."""
        md = self.table.metadata
        schema = md.schema()
        ref_is_tag = (self.ref is not None and
                      getattr(md.refs.get(self.ref), "ref_type",
                              "branch") == "tag")
        time_travel = (self.snapshot_id is not None or ref_is_tag
                       or self.as_of_ms is not None)
        if time_travel:
            snap = self._resolve_snapshot()
            if snap is not None and snap.schema_id is not None:
                try:
                    schema = md.schema_by_id(snap.schema_id)
                except ValueError:
                    pass
        return schema

    def projection(self) -> Schema:
        schema = self.effective_schema()
        if self.selected is None:
            return schema
        return schema.select(*self.selected,
                             case_sensitive=self.case_sensitive)

    def plan_files(self) -> List[FileScanTask]:
        import time as _t
        t0 = _t.time()
        md: TableMetadata = self.table.metadata
        snap = self._resolve_snapshot()
        if snap is None:
            return []
        schema = self.effective_schema()
        manifests = M.read_manifest_list(snap.manifest_list)
        self.report.total_manifests = len(manifests)

        # per-spec evaluator caches (multi-spec tables, scanner.go:503)
        manifest_evals: Dict[int, ManifestEvaluator] = {}
        part_evals: Dict[int, Any] = {}
        metrics_eval = InclusiveMetricsEvaluator(schema, self.row_filter,
                                                 self.case_sensitive)

        def mev(spec_id: int) -> ManifestEvaluator:
            if spec_id not in manifest_evals:
                manifest_evals[spec_id] = ManifestEvaluator(
                    schema, md.spec_by_id(spec_id), self.row_filter,
                    self.case_sensitive)
            return manifest_evals[spec_id]

        def pev(spec_id: int):
            if spec_id not in part_evals:
                part_evals[spec_id] = partition_expr_evaluator(
                    schema, md.spec_by_id(spec_id), self.row_filter,
                    self.case_sensitive)
            return part_evals[spec_id]

        def manifest_live(m: M.ManifestFile) -> bool:
            if m.content != M.MANIFEST_DATA:
                # DELETE manifests may hold globally-scoped entries
                # (partition={} under a partitioned spec — our upsert
                # writer's convention, transaction.py) whose field
                # summaries read contains_null with no bounds; the
                # partition evaluator would prune the whole manifest
                # and RESURRECT deleted rows on partition-filtered
                # scans.  Prune by summaries only when no summary
                # admits nulls (then every entry is partition-scoped
                # and the evaluator is sound); entry-level matching
                # gates precisely either way.
                if not m.partitions or any(s.contains_null
                                           for s in m.partitions):
                    return True
            return mev(m.partition_spec_id).eval(m)

        live = []
        for m in manifests:
            is_data = m.content == M.MANIFEST_DATA
            self.report.total_data_manifests += is_data
            if manifest_live(m):
                live.append(m)
            else:
                self.report.skipped_data_manifests += is_data
        self.report.skipped_manifests = len(manifests) - len(live)

        data_entries: List[Tuple[M.ManifestEntry, int]] = []
        delete_entries: List[Tuple[M.ManifestEntry, int]] = []

        def load(mf: M.ManifestFile):
            entries, _spec, spec_id = M.read_manifest(mf.manifest_path)
            out_d, out_del = [], []
            n_data = 0
            # v3 first-row-id inheritance (manifest.go:922-933): v3
            # manifests written by other engines leave the file-level
            # first_row_id null and readers derive it — manifest's
            # first_row_id plus record counts of the preceding live data
            # files that were themselves assigned (files carrying an
            # explicit id do NOT advance the counter, mirroring Java's
            # ManifestReader.idAssigner).  Runs over every live data
            # entry BEFORE pruning: assignment order is a property of
            # the manifest, not of this scan's filter.
            next_first_row_id = mf.first_row_id
            for e in entries:
                if not e.is_live:
                    continue
                if e.sequence_number is None:  # inheritance
                    e.sequence_number = mf.sequence_number
                is_data = e.data_file.content == M.CONTENT_DATA
                if (is_data and next_first_row_id is not None
                        and e.data_file.first_row_id is None):
                    e.data_file.first_row_id = next_first_row_id
                    next_first_row_id += e.data_file.record_count
                n_data += is_data
                if is_data:
                    if pev(spec_id)(e.data_file.partition) and \
                            metrics_eval.eval(e.data_file):
                        out_d.append((e, spec_id))
                else:
                    # globally-scoped deletes (no partition values) must
                    # survive partition pruning
                    if _is_global_delete(e.data_file.partition) or \
                            pev(spec_id)(e.data_file.partition):
                        out_del.append((e, spec_id))
            return out_d, out_del, n_data

        total_files = 0
        with ThreadPoolExecutor(max_workers=self.concurrency) as pool:
            for out_d, out_del, n in pool.map(load, live):
                data_entries.extend(out_d)
                delete_entries.extend(out_del)
                total_files += n
        self.report.total_data_files = total_files
        self.report.skipped_data_files = total_files - len(data_entries)
        self.report.total_delete_files = len(delete_entries)

        # residual per task (scanner.go residual evaluation): when strict
        # metrics prove every row in a file matches the filter, the task's
        # residual collapses to ALWAYS-TRUE and the executor skips per-row
        # predicate evaluation for that file entirely
        residual_strict = None
        bound = E.bind(self.row_filter, schema, self.case_sensitive)
        if not isinstance(bound, E.AlwaysTrue):
            from ..plans.evaluators import StrictMetricsEvaluator
            residual_strict = StrictMetricsEvaluator(
                schema, self.row_filter, self.case_sensitive)

        tasks = []
        didx = _DeleteIndex(delete_entries)
        matched_deletes = set()
        for e, spec_id in data_entries:
            pos, eq = didx.match(e, spec_id)
            matched_deletes.update(d.file_path for d in pos)
            matched_deletes.update(d.file_path for d in eq)
            residual = None
            if residual_strict is not None:
                residual = (E.AlwaysTrue()
                            if residual_strict.eval(e.data_file) else bound)
            tasks.append(FileScanTask(
                data_file=e.data_file, sequence_number=e.sequence_number,
                pos_deletes=pos, eq_deletes=eq, residual=residual,
                spec_id=spec_id))
        self.report.result_delete_files = len(matched_deletes)
        self.report.planning_ms = (_t.time() - t0) * 1000
        # inline delivery at planning completion (metrics/reporter.go:
        # never raises into the scan, free when the reporter is the nop)
        from .. import metrics as _metrics
        rep = self.table.metrics_reporter()
        if not _metrics.is_nop(rep):
            _metrics.deliver(rep, self.report.to_json_dict(
                table_name=self.table.name,
                snapshot_id=snap.snapshot_id,
                schema_id=snap.schema_id or 0,
                filter_=not isinstance(bound, E.AlwaysTrue)))
        return tasks

    def plan_tasks(self, target_split_size: Optional[int] = None
                   ) -> List[FileScanTask]:
        """Plan files, then split into byte-range tasks of
        ``read.split.target.size`` (default 128 MB) for balanced
        distribution across readers (scanner.go:981). Spark's own reader
        re-splits parquet internally, so to_df() uses whole files; this
        surface exists for external/REST task consumers."""
        if target_split_size is None:
            target_split_size = int(self.table.metadata.properties.get(
                PROP_SPLIT_TARGET_SIZE, DEFAULT_SPLIT_TARGET_SIZE))
        return split_tasks(self.plan_files(), target_split_size)

    # ------------------------------------------------------------ execute
    def to_arrow(self, spark: SparkSession):
        """Scan result as one pyarrow Table (reference
        scanner.go:1096 ToArrowTable) — a driver-side materialization:
        use to_df for anything larger than a driver's memory."""
        return self.to_df(spark).toArrow()

    def to_pandas(self, spark: SparkSession):
        """Scan result as a pandas DataFrame (driver-side
        materialization, Arrow-mediated)."""
        return self.to_df(spark).toPandas()

    def to_df(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, identity=False)

    def _read(self, spark: SparkSession, identity: bool) -> DataFrame:
        """``to_df``, keeping each surviving row's ``__file``/``__pos``
        where ``identity`` is on."""
        md = self.table.metadata
        schema = self.effective_schema()
        projection = self.projection()
        tasks = self.plan_files()
        if not tasks:
            import pyspark.sql.types as ST
            empty_schema = projection.to_spark()
            if self.row_lineage:
                # the empty-scan schema must match the non-empty one:
                # lineage columns are part of the contract
                empty_schema = ST.StructType(
                    list(empty_schema.fields) + [
                        ST.StructField("_row_id", ST.LongType()),
                        ST.StructField("_last_updated_sequence_number",
                                       ST.LongType())])
            if identity:
                empty_schema = ST.StructType(
                    list(empty_schema.fields) + [
                        ST.StructField("__file", ST.StringType()),
                        ST.StructField("__pos", ST.LongType())])
            return local_frame(spark, [], empty_schema)

        # group tasks by (applicable eq-delete set, residual need) so
        # each group is one read + anti-join pipeline; usually
        # one group.  POSITION deletes (parquet pos files, legacy puffin
        # containers and v3 per-DV entries alike) are deliberately NOT
        # part of the key: every positional delete names its target data
        # file by path and the apply joins are keyed on that path, so
        # unioning them across a group is exactly as correct as applying
        # them per task — while keying on them split a partition-fanout
        # merge/delete into one scan + anti-join pipeline PER PARTITION
        # (a month-grained year of data built ~84 plan branches; at
        # 100 TB the per-branch planning alone dwarfs the query).
        # EQUALITY deletes stay in the key: they are sequence-gated (a
        # delete applies only to data files with a lower sequence
        # number), so the applicable set genuinely differs per file.
        # Files of different layouts (resolved by name, lacking defaulted
        # fields) share a group: read_data_files unions their reads.
        def key(t: FileScanTask) -> Tuple:
            return (frozenset((tuple(d.equality_ids or []), d.file_path,
                               d.record_count)
                              for d in t.eq_deletes),
                    # strict-match files (residual TRUE) skip the filter
                    not isinstance(t.residual, E.AlwaysTrue)
                    if t.residual is not None else False)

        groups: Dict[Tuple, List[FileScanTask]] = {}
        for t in tasks:
            groups.setdefault(key(t), []).append(t)

        bound = E.bind(self.row_filter, schema, self.case_sensitive)
        dfs = []
        for (eq_set, needs_filter), group in groups.items():
            pos_set = frozenset(
                (d.file_path, d.file_format, d.record_count)
                for t in group for d in t.pos_deletes
                if d.referenced_data_file is None)
            # v3 DV entries, located by their manifest offset and size
            dv_slices = {
                (d.file_path, d.content_offset, d.content_size_in_bytes,
                 d.referenced_data_file): d.record_count
                for t in group for d in t.pos_deletes
                if d.referenced_data_file is not None}
            df = read_data_files(
                spark, self.table, [t.data_file.file_path for t in group],
                schema, self.row_lineage,
                identity=bool(identity or self.row_lineage or pos_set
                              or dv_slices))
            if self.row_lineage:
                # materialized lineage (compaction-preserved) wins;
                # otherwise synthesize from the manifest: _row_id =
                # first_row_id + position, seq = data sequence number
                # a file with NO assigned first_row_id (v2 tables, or
                # a v3 writer that never assigned) degrades to NULL
                # _row_id — `or 0` would fabricate position-based ids
                # that collide across files and with a real
                # first_row_id=0 assignment
                lineage = local_frame(
                    spark,
                    [(t.data_file.file_path,
                      None if t.data_file.first_row_id is None
                      else int(t.data_file.first_row_id),
                      int(t.sequence_number or 0)) for t in group],
                    "__lfile string, __first long, __lseq long")
                # LEFT join: a path-normalization miss must degrade
                # to null lineage for that file, never silently drop
                # its rows (delete anti-joins fail open; so does this)
                df = (df.join(F.broadcast(lineage),
                              F.col("__file") == F.col("__lfile"), "left")
                      .withColumn("_row_id",
                                  F.coalesce(F.col("_row_id"),
                                             F.col("__first") +
                                             F.col("__pos")))
                      .withColumn(
                          "_last_updated_sequence_number",
                          F.coalesce(
                              F.col("_last_updated_sequence_number"),
                              F.col("__lseq")))
                      .drop("__lfile", "__first", "__lseq"))
            if pos_set or dv_slices:
                # DVs as read_dv_blobs work items (DV_ITEM_SCHEMA)
                dv_items = [(p, None, None, None) for p, fmt, _n
                            in sorted(pos_set) if fmt == "PUFFIN"]
                dv_items += sorted(dv_slices)
                # one gate over every positional delete: manifest record
                # counts, which for a DV or a legacy container are its
                # cardinality
                rows = (sum(n for _p, _f, n in pos_set)
                        + sum(dv_slices.values()))
                df = _apply_position_deletes(
                    spark, df,
                    sorted(p for p, fmt, _n in pos_set if fmt != "PUFFIN"),
                    dv_items, rows <= _broadcast_row_limit())
            # one anti-join per key set, not per delete file
            eq_groups: Dict[Tuple, List[Tuple[str, int]]] = {}
            for eq_ids, dpath, n_rows in sorted(eq_set):
                eq_groups.setdefault(tuple(eq_ids), []).append(
                    (dpath, n_rows or 0))
            for eq_ids, dentries in sorted(eq_groups.items()):
                if not eq_ids:
                    # a None join condition would anti-join
                    # UNCONDITIONALLY and silently delete every row —
                    # a malformed delete file must fail loudly instead
                    raise ValueError(
                        f"equality delete file with empty equality_ids: "
                        f"{[p for p, _ in dentries]}")
                cols = []
                for fid in eq_ids:
                    name = schema.find_column_name(fid)
                    if name is None:
                        raise ValueError(
                            f"equality delete references field id {fid} "
                            f"not present in the scan schema (dropped "
                            f"column?) — cannot apply deletes soundly")
                    if "." in name:
                        raise NotImplementedError(
                            f"equality delete on nested field {name!r} "
                            f"is not supported by this reader")
                    cols.append(name)
                ddf = read_delete_files(
                    spark, [p for p, _ in dentries], eq_ids, schema,
                    md.schemas).select(
                    *[F.col(c).alias(f"__eq_{c}") for c in cols])
                # broadcast only when manifest record counts say the key
                # set is small; a 100 TB upsert stream accumulates
                # billion-key eq-delete sets — above the threshold let
                # AQE pick a shuffled anti-join (mirrors the pos-delete
                # gate above, dedupe included)
                if sum(n for _, n in dentries) <= _broadcast_row_limit():
                    ddf = F.broadcast(ddf)
                else:
                    ddf = ddf.distinct()
                # null-safe equality: an eq-delete key with NULL matches
                # rows with NULL (reference null-tagged key encoding)
                cond = None
                for c in cols:
                    piece = df[c].eqNullSafe(ddf[f"__eq_{c}"])
                    cond = piece if cond is None else (cond & piece)
                df = df.join(ddf, cond, "left_anti")
            if not identity:
                df = df.drop("__file", "__pos")
            # residual filter: strict-match groups skip this entirely
            if needs_filter and not isinstance(bound, E.AlwaysTrue):
                df = df.filter(E.to_spark_column(bound))
            dfs.append(df)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)

        if self.selected is not None:
            cols = [f.name for f in projection.fields]
            if self.row_lineage:
                cols += ["_row_id", "_last_updated_sequence_number"]
            if identity:
                cols += ["__file", "__pos"]
            out = out.select(*cols)
        if self.limit is not None:
            out = out.limit(self.limit)
        return out

    def count_rows(self, spark: Optional[SparkSession] = None) -> int:
        """Row count, metadata-only when provably exact: no deletes, and
        every surviving file either fully matches the filter (strict
        metrics) or the filter is ALL.  Falls back to executing the scan.

        At 100 TB this answers count(*) in milliseconds from manifests."""
        tasks = self.plan_files()
        # bind against the snapshot-effective schema (time travel may
        # reference columns since dropped), and gate the limit on
        # `is not None` — with_limit(0) must count 0, not everything
        schema = self.effective_schema()

        def capped(total: int) -> int:
            return min(total, self.limit) if self.limit is not None \
                else total

        no_filter = isinstance(
            E.bind(self.row_filter, schema, self.case_sensitive),
            E.AlwaysTrue)
        if all(not t.pos_deletes and not t.eq_deletes for t in tasks):
            if no_filter:
                return capped(sum(t.data_file.record_count
                                  for t in tasks))
            from ..plans.evaluators import StrictMetricsEvaluator
            strict = StrictMetricsEvaluator(schema, self.row_filter,
                                            self.case_sensitive)
            if all(strict.eval(t.data_file) for t in tasks):
                return capped(sum(t.data_file.record_count
                                  for t in tasks))
        if spark is None:
            raise ValueError("count not derivable from metadata; "
                             "pass a SparkSession to execute the scan")
        return self.to_df(spark).count()


# data files are immutable once committed, so a path's footer probe never
# changes; keyed by absolute path, process-lifetime (_footer_field_ids)
_FOOTER_PROBE_CACHE: Dict[str, Optional[tuple]] = {}

# rows of delete keys/positions below which the delete side of the
# anti-join is broadcast; above it AQE picks a shuffled strategy.  Env
# override exists so tests/bench can exercise the shuffled path on small
# fixtures (and so operators can tune it per deployment).
DEFAULT_BROADCAST_ROW_LIMIT = 2_000_000


def _broadcast_row_limit() -> int:
    return int(os.environ.get("ICEBERG_SPARK_BROADCAST_ROW_LIMIT",
                              DEFAULT_BROADCAST_ROW_LIMIT))


def _footer_field_ids(path: str, pf=None):
    """Footer probe (executor-side in a scan): the file's top-level
    columns as ``(name, field id or None)`` pairs, and every field id
    it carries at any depth.  ``pf`` is the already-open
    ``pq.ParquetFile`` where the caller has one (an encrypted footer
    needs the caller's decryption properties).  None when pyarrow
    cannot open the footer (VARIANT/GEOMETRY logical types)."""
    import pyarrow as _pa
    import pyarrow.parquet as pq
    try:
        sch = (pf or pq.ParquetFile(path)).schema_arrow
    except (OSError, _pa.lib.ArrowException):
        return None

    def fid(f):
        v = (f.metadata or {}).get(b"PARQUET:field_id")
        return None if v is None else int(v)

    ids = set()

    def walk(f) -> None:
        if fid(f) is not None:
            ids.add(fid(f))
        t = f.type
        if _pa.types.is_struct(t):
            for i in range(t.num_fields):
                walk(t.field(i))
        elif _pa.types.is_list(t) or _pa.types.is_large_list(t):
            walk(t.value_field)
        elif _pa.types.is_map(t):
            walk(t.key_field)
            walk(t.item_field)

    for f in sch:
        walk(f)
    return tuple((f.name, fid(f)) for f in sch), frozenset(ids)


def _apply_position_deletes(spark: SparkSession, df, parquet_paths,
                            dv_items, small: bool):
    """Anti-join away the rows named by parquet position-delete files and
    by deletion vectors: one delete side in the spec's ``file_path, pos``
    shape, one join on ``(__file, __pos)``.

    ``dv_items`` are ``read_dv_blobs`` arguments, one per legacy
    container or v3 DV entry.  ``small`` is the row gate over the
    manifest record counts of both kinds:

    - under it, the driver reads every DV blob and expands it with
      ``dv_positions`` into an Arrow-backed frame of one row per DV,
      exploded in the plan, and the delete side is broadcast.  At the
      gate's edge (2M positions over 64 files, on a 4-core host) the
      build takes ~2.3 s, with peak driver Python RSS +57 MB and JVM RSS
      +50-120 MB, and the broadcast join adds ~1.0 GB of JVM RSS: what a
      2M-row parquet position-delete broadcast already costs under the
      same gate (+0.9-1.0 GB);
    - above it, executors read and expand the blobs, and the delete side
      is deduplicated and anti-joined through a shuffle.

    Spec contract (v3 deletes; parity scanner.go +
    row_lineage_prune_delete_test.go
    TestReadTaskDeletionVectorSupersedesPositionalDeletes): a data file
    with a DV ignores position-delete files, since the DV is the merged
    superset.  So the covered files' parquet rows are dropped before the
    union; v3 entries name their file, and a legacy container's footer
    lists its files, read once per scan."""
    covered = {fp for _p, off, _l, fp in dv_items if off is not None}
    dvs = None
    if small:
        blobs = [b for item in dv_items for b in read_dv_blobs(*item)]
        covered.update(fp for fp, _raw in blobs)
        if blobs:
            dvs = spark.createDataFrame(dv_positions(blobs), DV_SCHEMA)
    elif dv_items:
        if parquet_paths:
            covered.update(fp for p, off, _l, _f in dv_items
                           if off is None
                           for fp in list_deletion_vector_keys(p))
        dvs = local_frame(spark, dv_items, DV_ITEM_SCHEMA) \
            .mapInArrow(expand_dv_items, DV_SCHEMA)
    sides = []
    if dvs is not None:
        sides.append(dvs.select("file_path", F.explode("pos").alias("pos")))
    if parquet_paths:
        deletes = read_delete_files(spark, parquet_paths)
        if covered:
            deletes = deletes.join(F.broadcast(local_frame(
                spark, [(p,) for p in sorted(covered)],
                "file_path string")), "file_path", "left_anti")
        sides.append(deletes)
    if not sides:
        return df
    deletes = functools.reduce(DataFrame.unionByName, sides).select(
        F.col("file_path").alias("__dfile"), F.col("pos").alias("__dpos"))
    # an anti-join ignores duplicates on its build side; only a
    # shuffled join pays for them
    deletes = F.broadcast(deletes) if small else deletes.distinct()
    return df.join(deletes, (df["__file"] == deletes["__dfile"]) &
                   (df["__pos"] == deletes["__dpos"]), "left_anti")


def _is_global_delete(partition: Optional[Dict[str, Any]]) -> bool:
    """A delete file with no partition values (or an Avro round-tripped
    all-None partition struct) is globally scoped.

    Known ambiguity: after the Avro round-trip an empty tuple and a
    REAL all-null partition tuple are indistinguishable (the manifest's
    partition struct always carries the spec's fields).  This engine's
    writers only emit the empty/global form; an externally-written
    eq-delete scoped to a genuinely-null partition is treated as global
    and over-applies.  The spec-clean fix is writing global deletes
    under an unpartitioned spec (reference behavior) — tracked as a
    future manifest-writer change."""
    return not partition or all(v is None for v in partition.values())


class _DeleteIndex:
    """Delete entries bucketed for O(1)-per-data-file matching
    (reference DeleteFileIndex, scanner.go:509-598): DV entries by
    referenced data-file path, partition-scoped deletes by
    (spec_id, partition tuple), global deletes in one bucket.  A naive
    per-data-file rescan of the delete list is O(data x deletes) on the
    driver — hours of planning at 500k data files x 50k deletes."""

    def __init__(self, delete_entries: List[Tuple[M.ManifestEntry, int]]):
        self._by_path: Dict[str, list] = {}
        self._by_part: Dict[tuple, list] = {}
        self._global: list = []
        for i, (de, dspec_id) in enumerate(delete_entries):
            df = de.data_file
            if df.content not in (M.CONTENT_POS_DELETES,
                                  M.CONTENT_EQ_DELETES):
                continue
            item = (i, de.sequence_number or 0, df)
            if df.referenced_data_file is not None:
                # v3 DV entry: applies to exactly one data file by
                # path — partition comparison irrelevant
                self._by_path.setdefault(
                    df.referenced_data_file, []).append(item)
            elif _is_global_delete(df.partition):
                self._global.append(item)
            else:
                # partition-scoped deletes bind to their own spec's
                # partitioning: a different partition OR a different
                # spec can never match (applying across specs
                # over-deleted — reference scopes by (spec, partition))
                key = (dspec_id, tuple(sorted(
                    (df.partition or {}).items())))
                self._by_part.setdefault(key, []).append(item)

    def match(self, entry: M.ManifestEntry, spec_id: int
              ) -> Tuple[List[M.DataFile], List[M.DataFile]]:
        """Pos deletes apply when del_seq >= data_seq; eq deletes when
        del_seq > data_seq."""
        data_seq = entry.sequence_number or 0
        part_key = (spec_id, tuple(sorted(
            (entry.data_file.partition or {}).items())))
        cands = (self._by_path.get(entry.data_file.file_path, [])
                 + self._by_part.get(part_key, [])
                 + self._global)
        pos, eq = [], []
        # original manifest order kept for deterministic task shapes
        for _i, dseq, df in sorted(cands):
            if df.content == M.CONTENT_POS_DELETES:
                if dseq >= data_seq:
                    pos.append(df)
            elif dseq > data_seq:
                eq.append(df)
        return pos, eq


def _jvm_top_level_columns(spark, paths: List[str]) -> List[str]:
    """Union of top-level parquet field names across ``paths``, read
    through the JVM footer reader (pyarrow cannot open GEOMETRY/VARIANT
    footers; parquet-java can).  Driver-side metadata-only I/O."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    seen: List[str] = []
    for p in paths:
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile \
            .fromPath(jvm.org.apache.hadoop.fs.Path(p), conf)
        rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            sch = rdr.getFooter().getFileMetaData().getSchema()
            for i in range(sch.getFieldCount()):
                n = sch.getFields().get(i).getName()
                if n not in seen:
                    seen.append(n)
        finally:
            rdr.close()
    return seen
