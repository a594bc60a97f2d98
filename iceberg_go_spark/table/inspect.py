"""Inspect: metadata tables rendered as Spark DataFrames / Arrow tables.

Parity (behavior only): /root/reference/table/inspect.go — History :87
(snapshot-log walk, is_current_ancestor via the parent chain, silent
truncation across expired ancestors), Snapshots :175, fixed field IDs
HistorySchema :254 / SnapshotsSchema :272.  ``files``/``manifests``/
``partitions``/``refs`` follow the Iceberg metadata-tables spec surface
the Java/PyIceberg clients expose (the Go reference implements the first
two; the rest are the same one-row-per-metadata-object rendering).

Scale note: these tables are metadata-plane — rows ∝ snapshots/manifests/
files, built driver-side from already-parsed metadata and handed to Spark
through ``session.local_frame`` as an Arrow LocalTableScan: no job, no
Python worker.  ``files`` is the only one that can get large (one row per
data file); it is built from the manifest entries the planner already
holds, not by re-listing storage.  ``all_entries``/``all_files`` read
each manifest on executors, so the driver holds only manifest paths;
``position_deletes`` reads delete files and expands DVs on executors.
"""

from __future__ import annotations

import datetime as _dt
import json
from typing import Optional

import pyspark.sql.types as ST
from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


def _ts(ms: int) -> _dt.datetime:
    return _dt.datetime.fromtimestamp(ms / 1000.0, _dt.timezone.utc)


HISTORY_SCHEMA = ST.StructType([
    ST.StructField("made_current_at", ST.TimestampType(), False),
    ST.StructField("snapshot_id", ST.LongType(), False),
    ST.StructField("parent_id", ST.LongType(), True),
    ST.StructField("is_current_ancestor", ST.BooleanType(), False),
])

SNAPSHOTS_SCHEMA = ST.StructType([
    ST.StructField("committed_at", ST.TimestampType(), False),
    ST.StructField("snapshot_id", ST.LongType(), False),
    ST.StructField("parent_id", ST.LongType(), True),
    ST.StructField("operation", ST.StringType(), True),
    ST.StructField("manifest_list", ST.StringType(), True),
    ST.StructField("summary", ST.MapType(ST.StringType(), ST.StringType()),
                   True),
])

REFS_SCHEMA = ST.StructType([
    ST.StructField("name", ST.StringType(), False),
    ST.StructField("type", ST.StringType(), False),
    ST.StructField("snapshot_id", ST.LongType(), False),
    ST.StructField("max_reference_age_in_ms", ST.LongType(), True),
    ST.StructField("min_snapshots_to_keep", ST.IntegerType(), True),
    ST.StructField("max_snapshot_age_in_ms", ST.LongType(), True),
])

MANIFESTS_SCHEMA = ST.StructType([
    ST.StructField("path", ST.StringType(), False),
    ST.StructField("length", ST.LongType(), False),
    ST.StructField("partition_spec_id", ST.IntegerType(), False),
    ST.StructField("added_snapshot_id", ST.LongType(), True),
    ST.StructField("added_data_files_count", ST.IntegerType(), True),
    ST.StructField("existing_data_files_count", ST.IntegerType(), True),
    ST.StructField("deleted_data_files_count", ST.IntegerType(), True),
    ST.StructField("content", ST.IntegerType(), False),
])

FILES_SCHEMA = ST.StructType([
    ST.StructField("content", ST.IntegerType(), False),
    ST.StructField("file_path", ST.StringType(), False),
    ST.StructField("file_format", ST.StringType(), False),
    ST.StructField("partition", ST.StringType(), True),  # JSON rendering
    ST.StructField("record_count", ST.LongType(), False),
    ST.StructField("file_size_in_bytes", ST.LongType(), False),
    ST.StructField("sort_order_id", ST.IntegerType(), True),
    ST.StructField("spec_id", ST.IntegerType(), True),
])

PARTITIONS_SCHEMA = ST.StructType([
    ST.StructField("partition", ST.StringType(), True),  # JSON rendering
    ST.StructField("spec_id", ST.IntegerType(), False),
    ST.StructField("record_count", ST.LongType(), False),
    ST.StructField("file_count", ST.IntegerType(), False),
    ST.StructField("total_data_file_size_in_bytes", ST.LongType(), False),
])

ENTRIES_SCHEMA = ST.StructType([
    ST.StructField("status", ST.IntegerType(), False),
    ST.StructField("snapshot_id", ST.LongType(), True),
    ST.StructField("sequence_number", ST.LongType(), True),
    ST.StructField("file_sequence_number", ST.LongType(), True),
    ST.StructField("content", ST.IntegerType(), False),
    ST.StructField("file_path", ST.StringType(), False),
    ST.StructField("file_format", ST.StringType(), False),
    ST.StructField("record_count", ST.LongType(), False),
    ST.StructField("file_size_in_bytes", ST.LongType(), False),
    ST.StructField("partition",
                   ST.MapType(ST.StringType(), ST.StringType()), False),
])


class InspectTable:
    def __init__(self, table, spark: SparkSession):
        self.table = table
        self.spark = spark

    # -- parity tables (inspect.go) -----------------------------------------
    def history(self) -> DataFrame:
        md = self.table.metadata
        ancestors = set()
        cur = md.current_snapshot()
        if cur is not None:
            # ancestors_of truncates silently across expired parents —
            # snapshots below the gap render is_current_ancestor=false
            ancestors = {s.snapshot_id for s in md.ancestors_of()}
        rows = []
        for entry in md.snapshot_log:
            sid = entry["snapshot-id"]
            snap = md.snapshot_by_id(sid)
            rows.append((
                _ts(entry["timestamp-ms"]), sid,
                snap.parent_snapshot_id if snap is not None else None,
                sid in ancestors))
        return local_frame(self.spark, rows, HISTORY_SCHEMA)

    def snapshots(self) -> DataFrame:
        rows = []
        for s in self.table.metadata.snapshots:
            summary = dict(s.summary) if s.summary else None
            rows.append((
                _ts(s.timestamp_ms), s.snapshot_id, s.parent_snapshot_id,
                s.summary.get("operation") if s.summary else None,
                s.manifest_list or None, summary))
        return local_frame(self.spark, rows, SNAPSHOTS_SCHEMA)

    def partition_statistics(self) -> DataFrame:
        """Registered partition-statistics files (v3; reference
        table/statistics.go:93 PartitionStatisticsFile)."""
        rows = [(e.get("snapshot-id"), e.get("statistics-path"),
                 e.get("file-size-in-bytes"))
                for e in self.table.metadata.partition_statistics]
        return local_frame(self.spark, rows,
                           "snapshot_id long, statistics_path string, "
                           "file_size_in_bytes long")

    # -- spec metadata tables beyond the Go reference -----------------------
    def refs(self) -> DataFrame:
        rows = [(name, r.ref_type, r.snapshot_id, r.max_ref_age_ms,
                 r.min_snapshots_to_keep, r.max_snapshot_age_ms)
                for name, r in sorted(self.table.metadata.refs.items())]
        return local_frame(self.spark, rows, REFS_SCHEMA)

    def manifests(self, snapshot_id: Optional[int] = None) -> DataFrame:
        from ..meta import manifests as M
        md = self.table.metadata
        snap = md.snapshot_by_id(snapshot_id) if snapshot_id is not None \
            else md.current_snapshot()
        rows = []
        if snap is not None:
            for mf in M.read_manifest_list(snap.manifest_list):
                rows.append((
                    mf.manifest_path, mf.manifest_length,
                    mf.partition_spec_id, mf.added_snapshot_id,
                    mf.added_files_count, mf.existing_files_count,
                    mf.deleted_files_count, mf.content))
        return local_frame(self.spark, rows, MANIFESTS_SCHEMA)

    def all_manifests(self) -> DataFrame:
        """Manifests across ALL snapshots, deduped by path with a
        reference-snapshot-ids rollup (parity: Table.AllManifests,
        table/all_manifests_internal_test.go — every snapshot's manifest
        list is read, shared manifests appear once)."""
        rows = [(mf.manifest_path, mf.manifest_length,
                 mf.partition_spec_id, mf.added_snapshot_id,
                 mf.added_files_count, mf.existing_files_count,
                 mf.deleted_files_count, mf.content, sorted(refs))
                for _p, (mf, refs)
                in sorted(self._deduped_manifests().items())]
        schema = ST.StructType(
            list(MANIFESTS_SCHEMA.fields) +
            [ST.StructField("reference_snapshot_ids",
                            ST.ArrayType(ST.LongType()), False)])
        return local_frame(self.spark, rows, schema)

    def entries(self, snapshot_id: Optional[int] = None) -> DataFrame:
        """The spec's ``entries`` metadata table: one row per manifest
        entry of the (current or given) snapshot with its status
        (0=existing, 1=added, 2=deleted), sequence numbers, and data-file
        descriptor fields."""
        from ..meta import manifests as M
        md = self.table.metadata
        snap = md.snapshot_by_id(snapshot_id) if snapshot_id is not None \
            else md.current_snapshot()
        rows = []
        if snap is not None:
            for mf in M.read_manifest_list(snap.manifest_list):
                rows.extend(self._entry_rows(mf.manifest_path))
        return local_frame(self.spark, rows, ENTRIES_SCHEMA)

    @staticmethod
    def _entry_rows(manifest_path: str):
        from ..meta import manifests as M
        es, _spec, _sid = M.read_manifest(manifest_path)
        for e in es:
            d = e.data_file
            yield (e.status, e.snapshot_id, e.sequence_number,
                   e.file_sequence_number, d.content, d.file_path,
                   d.file_format, d.record_count, d.file_size_in_bytes,
                   {k: str(v) for k, v in (d.partition or {}).items()})

    def all_entries(self) -> DataFrame:
        """entries() across every snapshot's manifest list, reading each
        shared manifest once ON EXECUTORS (same walk as all_files): the
        full add/exist/delete history of every file the table has ever
        referenced."""
        manifest_paths = self._deduped_manifests()
        if not manifest_paths:
            return local_frame(self.spark, [], ENTRIES_SCHEMA)
        reader = InspectTable._entry_rows
        paths = sorted(manifest_paths)
        rdd = (self.spark.sparkContext
               .parallelize(paths, min(len(paths), 64))
               .flatMap(reader))
        return self.spark.createDataFrame(rdd, ENTRIES_SCHEMA)

    def metadata_log_entries(self) -> DataFrame:
        """The table's metadata-file lineage (spec metadata_log_entries
        metadata table; metadata.go MetadataLog)."""
        md = self.table.metadata
        rows = [(_ts(e["timestamp-ms"]), e["metadata-file"])
                for e in md.metadata_log]
        rows.append((_ts(md.last_updated_ms),
                     self.table.metadata_location))
        schema = ST.StructType([
            ST.StructField("timestamp", ST.TimestampType(), False),
            ST.StructField("file", ST.StringType(), False)])
        return local_frame(self.spark, rows, schema)

    def files(self) -> DataFrame:
        md = self.table.metadata
        rows = []
        seen_deletes = set()
        for t in self.table.scan().plan_files():
            d = t.data_file
            # the task's own spec, not the table default: multi-spec
            # tables report each file under the spec it was written with
            sid = t.spec_id if t.spec_id is not None else md.default_spec_id
            rows.append(self._file_row(d, sid))
            for dd in list(t.pos_deletes) + list(t.eq_deletes):
                if dd.file_path in seen_deletes:
                    continue
                seen_deletes.add(dd.file_path)
                rows.append(self._file_row(dd, sid))
        return local_frame(self.spark, rows, FILES_SCHEMA)

    @staticmethod
    def _file_row(d, spec_id):
        return (d.content, d.file_path, d.file_format,
                json.dumps(d.partition, sort_keys=True, default=str),
                d.record_count, d.file_size_in_bytes, d.sort_order_id,
                spec_id)

    def position_deletes(self) -> DataFrame:
        """One row per deleted position of the current snapshot
        (Iceberg position_deletes table): parquet pos-delete files read
        distributed; deletion vectors expanded on executors by
        ``meta.dv.expand_dv_items``, one work item per v3 DV entry (its
        own blob) or legacy container (its footer), as the scan does."""
        from pyspark.sql import functions as F
        from ..meta.dv import DV_ITEM_SCHEMA, DV_SCHEMA, expand_dv_items
        from .scan import read_delete_files
        dels = [d for t in self.table.scan().plan_files()
                for d in t.pos_deletes]
        parquet = sorted({d.file_path for d in dels
                          if d.file_format != "PUFFIN"})
        dv_items = sorted({(d.file_path, d.content_offset,
                            d.content_size_in_bytes, d.referenced_data_file)
                           for d in dels if d.file_format == "PUFFIN"})
        dfs = []
        if parquet:
            dfs.append(read_delete_files(self.spark, parquet))
        if dv_items:
            dfs.append(local_frame(self.spark, dv_items, DV_ITEM_SCHEMA)
                       .mapInArrow(expand_dv_items, DV_SCHEMA)
                       .select("file_path", F.explode("pos").alias("pos")))
        if not dfs:
            return local_frame(self.spark, [], "file_path string, pos long")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.distinct()

    def data_files(self) -> DataFrame:
        """Only content=0 rows of files() (Iceberg data_files table)."""
        return self.files().filter("content = 0")

    def delete_files(self) -> DataFrame:
        """Only delete rows of files() (Iceberg delete_files table):
        positional (1) and equality (2) delete files plus puffin DVs."""
        return self.files().filter("content != 0")

    def all_files(self) -> DataFrame:
        """files() across EVERY snapshot (Iceberg all_files table),
        deduplicated by path — files no longer live in the current
        snapshot still appear.

        Scale shape: snapshots share almost all their manifests, so the
        walk dedupes MANIFESTS first (the all_manifests logic); the
        deduped manifests are then read ON EXECUTORS (one task per
        manifest, like the orphan scanner) and the per-file dedupe is a
        distributed dropDuplicates — the driver holds only manifest
        paths, never file rows."""
        manifest_paths = self._deduped_manifests()
        if not manifest_paths:
            return local_frame(self.spark, [], FILES_SCHEMA)
        spec_by_path = {p: mf.partition_spec_id
                        for p, (mf, _refs) in manifest_paths.items()}
        file_row = InspectTable._file_row

        def read_rows(path):
            from iceberg_go_spark.meta import manifests as M2
            entries, _spec, _sid = M2.read_manifest(path)
            for entry in entries:
                if entry.status != M2.STATUS_DELETED:
                    yield file_row(entry.data_file, spec_by_path[path])

        paths = sorted(manifest_paths)
        rdd = (self.spark.sparkContext
               .parallelize(paths, min(len(paths), 64))
               .flatMap(read_rows))
        return (self.spark.createDataFrame(rdd, FILES_SCHEMA)
                .dropDuplicates(["file_path"]))

    def _deduped_manifests(self) -> dict:
        """Distinct manifest path -> (ManifestFile, ids of the snapshots
        that list it) across every snapshot's manifest list
        (expired-but-logged snapshots skipped)."""
        from ..meta import manifests as M
        out: dict = {}
        for snap in self.table.metadata.snapshots:
            try:
                mfs = M.read_manifest_list(snap.manifest_list)
            except FileNotFoundError:
                continue
            for mf in mfs:
                out.setdefault(mf.manifest_path, (mf, []))[1].append(
                    snap.snapshot_id)
        return out

    def partitions(self) -> DataFrame:
        agg = {}
        for t in self.table.scan().plan_files():
            d = t.data_file
            key = json.dumps(d.partition, sort_keys=True, default=str)
            rec, files, size = agg.get(key, (0, 0, 0))
            agg[key] = (rec + d.record_count, files + 1,
                        size + d.file_size_in_bytes)
        spec_id = self.table.metadata.default_spec_id
        rows = [(k, spec_id, rec, files, size)
                for k, (rec, files, size) in sorted(agg.items())]
        return local_frame(self.spark, rows, PARTITIONS_SCHEMA)

    # -- arrow rendering (reference returns Arrow record readers) -----------
    def history_arrow(self):
        import pyarrow as pa
        return pa.Table.from_pandas(self.history().toPandas())

    def snapshots_arrow(self):
        import pyarrow as pa
        return pa.Table.from_pandas(self.snapshots().toPandas())
