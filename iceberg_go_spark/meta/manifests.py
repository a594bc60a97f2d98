"""Manifests and manifest lists (Avro), with per-file column stats.

Parity: /root/reference/manifest.go — ManifestFile :284/:550, ManifestEntry
:2765, DataFile :2123 (+ stats colMap :1965), readers :701/:1008, writers
:1054-1086/:1563-1604, partition FieldSummary :67 + fieldStats :1101.
Original code; Avro layout follows the public Iceberg spec (v2).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional, Tuple

from .. import types as T
from ..schema import Schema
from . import avro
from .conversions import from_bytes, to_bytes
from .partitioning import PartitionSpec

# DataFile content
CONTENT_DATA = 0
CONTENT_POS_DELETES = 1
CONTENT_EQ_DELETES = 2

# ManifestEntry status
STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

# Manifest content (manifest-list entry)
MANIFEST_DATA = 0
MANIFEST_DELETES = 1


@dataclass
class DataFile:
    content: int
    file_path: str
    file_format: str
    partition: Dict[str, Any]
    record_count: int
    file_size_in_bytes: int
    column_sizes: Dict[int, int] = dc_field(default_factory=dict)
    value_counts: Dict[int, int] = dc_field(default_factory=dict)
    null_value_counts: Dict[int, int] = dc_field(default_factory=dict)
    nan_value_counts: Dict[int, int] = dc_field(default_factory=dict)
    lower_bounds: Dict[int, bytes] = dc_field(default_factory=dict)
    upper_bounds: Dict[int, bytes] = dc_field(default_factory=dict)
    split_offsets: Optional[List[int]] = None
    equality_ids: Optional[List[int]] = None
    sort_order_id: Optional[int] = None
    first_row_id: Optional[int] = None
    # wrapped per-file encryption key envelope (spec data_file field 131;
    # reference table/encryption.go EncryptionKey carries the table-level
    # keys, this is the file-level DEK descriptor)
    key_metadata: Optional[bytes] = None
    # v3 deletion-vector fields (spec data_file 143/144/145; reference
    # manifest.go:2143-2145 ReferencedDataFileField/ContentOffsetField/
    # ContentSizeInBytesField): a DV entry is one manifest entry per
    # deletion vector — file_path is the puffin container, these locate
    # the blob and name the one data file it applies to
    referenced_data_file: Optional[str] = None
    content_offset: Optional[int] = None
    content_size_in_bytes: Optional[int] = None
    # in-memory only (never serialized to spec manifests): set by
    # add_files from its footer harvest, to decide whether the table
    # needs a schema.name-mapping.default property.  Readers probe
    # footers themselves (scan.read_data_files)
    name_based: bool = False

    def lower_bound(self, fid: int, t: T.IcebergType) -> Any:
        return from_bytes(t, self.lower_bounds.get(fid))

    def upper_bound(self, fid: int, t: T.IcebergType) -> Any:
        return from_bytes(t, self.upper_bounds.get(fid))


@dataclass
class ManifestEntry:
    status: int
    snapshot_id: Optional[int]
    sequence_number: Optional[int]
    file_sequence_number: Optional[int]
    data_file: DataFile

    @property
    def is_live(self) -> bool:
        return self.status in (STATUS_ADDED, STATUS_EXISTING)


@dataclass
class FieldSummary:
    contains_null: bool
    contains_nan: Optional[bool] = None
    lower_bound: Optional[bytes] = None
    upper_bound: Optional[bytes] = None


@dataclass
class ManifestFile:
    manifest_path: str
    manifest_length: int
    partition_spec_id: int
    content: int
    sequence_number: int
    min_sequence_number: int
    added_snapshot_id: int
    added_files_count: int
    existing_files_count: int
    deleted_files_count: int
    added_rows_count: int
    existing_rows_count: int
    deleted_rows_count: int
    partitions: List[FieldSummary] = dc_field(default_factory=list)
    # v3 manifest-list field (spec manifest_file 520; reference
    # manifest.go:300 FirstRowIDValue): starting row id assigned to the
    # manifest for first-row-id inheritance; null on delete manifests
    first_row_id: Optional[int] = None

    @property
    def has_added_files(self) -> bool:
        return self.added_files_count > 0

    @property
    def has_existing_files(self) -> bool:
        return self.existing_files_count > 0

    @property
    def live_rows_count(self) -> int:
        return self.added_rows_count + self.existing_rows_count


# ---------------------------------------------------------------------------
# Avro schemas


def _kv_array(name: str, value_type: str) -> dict:
    return {"type": "array", "items": {
        "type": "record", "name": name,
        "fields": [{"name": "key", "type": "int"},
                   {"name": "value", "type": value_type}]}}


def _opt(t) -> list:
    return ["null", t]


def _partition_avro_type(t: T.IcebergType, name: str) -> Any:
    if isinstance(t, T.BooleanType):
        return "boolean"
    if isinstance(t, T.IntegerType):
        return "int"
    if isinstance(t, (T.LongType, T.TimeType)):
        return "long"
    if isinstance(t, T.FloatType):
        return "float"
    if isinstance(t, T.DoubleType):
        return "double"
    if isinstance(t, T.DateType):
        return "int"          # days since epoch
    if isinstance(t, (T.TimestampType, T.TimestamptzType)):
        return "long"         # micros since epoch
    if isinstance(t, (T.StringType, T.UUIDType)):
        return "string"
    if isinstance(t, (T.BinaryType, T.FixedType, T.DecimalType)):
        return "bytes"
    raise TypeError(f"partition value type {t} not supported")


def partition_avro_schema(ptype: T.StructType) -> dict:
    return {"type": "record", "name": "r102", "fields": [
        {"name": f.name, "type": _opt(_partition_avro_type(f.field_type, f.name))}
        for f in ptype.fields]}


def _encode_partition_value(t: T.IcebergType, v: Any) -> Any:
    if v is None:
        return None
    from datetime import date, datetime, time as _dtime
    from ..transforms import EPOCH_DATE, datetime_to_micros
    if isinstance(t, T.DateType) and isinstance(v, date) and not isinstance(v, datetime):
        return (v - EPOCH_DATE).days
    if isinstance(t, (T.TimestampType, T.TimestamptzType)) and isinstance(v, datetime):
        return datetime_to_micros(v)
    if isinstance(t, T.TimeType) and isinstance(v, _dtime):
        return ((v.hour * 60 + v.minute) * 60 + v.second) * 1_000_000 \
            + v.microsecond
    if isinstance(t, T.DecimalType):
        return to_bytes(t, v)
    return v


def _decode_partition_value(t: T.IcebergType, v: Any) -> Any:
    if v is None:
        return None
    from datetime import timedelta, datetime, time as _dtime
    from ..transforms import EPOCH_DATE
    if isinstance(t, T.DateType):
        return EPOCH_DATE + timedelta(days=v)
    if isinstance(t, (T.TimestampType, T.TimestamptzType)):
        return datetime(1970, 1, 1) + timedelta(microseconds=v)
    if isinstance(t, T.TimeType):
        us = int(v)
        return _dtime((us // 3_600_000_000) % 24,
                      (us // 60_000_000) % 60,
                      (us // 1_000_000) % 60, us % 1_000_000)
    if isinstance(t, T.DecimalType):
        return from_bytes(t, v)
    return v


def data_file_avro_schema(ptype: T.StructType,
                          format_version: int = 2) -> dict:
    """Per-version data_file layouts (manifest.go:1054-1086 writer
    variants): v1 has no content/sequence plumbing and carries the
    historical required block_size_in_bytes; v3 adds the deletion-vector
    locator fields (referenced_data_file/content_offset/
    content_size_in_bytes)."""
    stats = [
        {"name": "column_sizes", "type": _opt(_kv_array("k117_v118", "long"))},
        {"name": "value_counts", "type": _opt(_kv_array("k119_v120", "long"))},
        {"name": "null_value_counts", "type": _opt(_kv_array("k121_v122", "long"))},
        {"name": "nan_value_counts", "type": _opt(_kv_array("k138_v139", "long"))},
        {"name": "lower_bounds", "type": _opt(_kv_array("k126_v127", "bytes"))},
        {"name": "upper_bounds", "type": _opt(_kv_array("k129_v130", "bytes"))},
    ]
    if format_version == 1:
        return {"type": "record", "name": "data_file", "fields": [
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {"name": "partition", "type": partition_avro_schema(ptype)},
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            {"name": "block_size_in_bytes", "type": "long"},
            *stats,
            {"name": "split_offsets", "type": _opt({"type": "array", "items": "long"})},
            {"name": "sort_order_id", "type": _opt("int")},
            {"name": "key_metadata", "type": _opt("bytes")},
        ]}
    fields = [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {"name": "partition", "type": partition_avro_schema(ptype)},
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
        *stats,
        {"name": "split_offsets", "type": _opt({"type": "array", "items": "long"})},
        {"name": "equality_ids", "type": _opt({"type": "array", "items": "int"})},
        {"name": "sort_order_id", "type": _opt("int")},
        # first_row_id is a v3 spec field (142), DELIBERATELY also
        # written in v2 manifests as an optional engine extension: it
        # powers this engine's v2 row-lineage projection, upgrades
        # carry it forward losslessly, and name-projecting spec readers
        # ignore unknown optional Avro fields.  The DV locator trio
        # stays v3-only (v2 readers have no supersede semantics).
        {"name": "first_row_id", "type": _opt("long")},
        {"name": "key_metadata", "type": _opt("bytes")},
    ]
    if format_version >= 3:
        fields += [
            {"name": "referenced_data_file", "type": _opt("string")},
            {"name": "content_offset", "type": _opt("long")},
            {"name": "content_size_in_bytes", "type": _opt("long")},
        ]
    return {"type": "record", "name": "data_file", "fields": fields}


def manifest_entry_avro_schema(ptype: T.StructType,
                               format_version: int = 2) -> dict:
    if format_version == 1:
        # v1: snapshot id is required, no sequence-number inheritance
        return {"type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": "long"},
            {"name": "data_file",
             "type": data_file_avro_schema(ptype, 1)},
        ]}
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": _opt("long")},
        {"name": "sequence_number", "type": _opt("long")},
        {"name": "file_sequence_number", "type": _opt("long")},
        {"name": "data_file",
         "type": data_file_avro_schema(ptype, format_version)},
    ]}


_PARTITIONS_FIELD = {"name": "partitions", "type": _opt({
    "type": "array", "items": {
        "type": "record", "name": "r508", "fields": [
            {"name": "contains_null", "type": "boolean"},
            {"name": "contains_nan", "type": _opt("boolean")},
            {"name": "lower_bound", "type": _opt("bytes")},
            {"name": "upper_bound", "type": _opt("bytes")},
        ]}})}


def manifest_list_avro_schema(format_version: int = 2) -> dict:
    """Per-version manifest_file layouts (manifest.go:1563-1625 list
    writer variants): v1 uses the historical *_data_files_count names
    and has no content/sequence fields; v3 adds first_row_id."""
    if format_version == 1:
        return {"type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "added_snapshot_id", "type": "long"},
            {"name": "added_data_files_count", "type": _opt("int")},
            {"name": "existing_data_files_count", "type": _opt("int")},
            {"name": "deleted_data_files_count", "type": _opt("int")},
            {"name": "added_rows_count", "type": _opt("long")},
            {"name": "existing_rows_count", "type": _opt("long")},
            {"name": "deleted_rows_count", "type": _opt("long")},
            _PARTITIONS_FIELD,
        ]}
    fields = [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
        _PARTITIONS_FIELD,
    ]
    if format_version >= 3:
        fields.append({"name": "first_row_id", "type": _opt("long")})
    return {"type": "record", "name": "manifest_file", "fields": fields}


# historical alias (v2 layout)


# ---------------------------------------------------------------------------
# write / read


def _kv_to_records(d: Dict[int, Any]) -> Optional[List[dict]]:
    if not d:
        return None
    return [{"key": int(k), "value": v} for k, v in sorted(d.items())]


def _records_to_kv(lst) -> Dict[int, Any]:
    if not lst:
        return {}
    return {r["key"]: r["value"] for r in lst}


def write_manifest(path: str, entries: List[ManifestEntry], schema: Schema,
                   spec: PartitionSpec, content: int = MANIFEST_DATA,
                   format_version: int = 2) -> ManifestFile:
    """Write one manifest; returns its manifest-list entry (summaries filled,
    sequence numbers must be patched by the committer if inheriting)."""
    if format_version < 1 or format_version > 3:
        raise ValueError(
            f"unsupported manifest format version: {format_version}")
    if format_version == 1 and content != MANIFEST_DATA:
        raise ValueError("v1 manifests cannot carry delete files")
    if format_version == 1 and any(
            e.data_file.content != CONTENT_DATA for e in entries):
        # the v1 record layout drops df.content: a delete-typed entry
        # would silently serialize as an ordinary DATA file and its
        # delete rows would be scanned as table rows
        raise ValueError(
            "v1 manifests cannot carry delete-content data files")
    ptype = spec.partition_type(schema)
    avro_schema = manifest_entry_avro_schema(ptype, format_version)
    recs = []
    for e in entries:
        df = e.data_file
        if format_version >= 3 and df.file_format == "PUFFIN" \
                and e.status == STATUS_ADDED:
            # a NEWLY-ADDED v3 DV entry must locate its blob and
            # reference exactly one data file (manifest.go:2756-2759);
            # EXISTING entries may be pre-upgrade footer-style
            # containers carried forward by a manifest rewrite — the
            # read path resolves those via the puffin footer
            if (df.referenced_data_file is None
                    or df.content_offset is None
                    or df.content_size_in_bytes is None):
                raise ValueError(
                    "v3 deletion-vector entries require "
                    "referenced_data_file, content_offset and "
                    "content_size_in_bytes")
        if content == MANIFEST_DELETES and df.first_row_id is not None:
            # manifest.go:1445
            raise ValueError(
                "first_row_id must not be set on delete manifests")
        part = {f.name: _encode_partition_value(f.field_type,
                                                df.partition.get(f.name))
                for f in ptype.fields}
        if format_version == 1:
            recs.append({
                "status": e.status,
                "snapshot_id": e.snapshot_id or 0,
                "data_file": {
                    "file_path": df.file_path,
                    "file_format": df.file_format, "partition": part,
                    "record_count": df.record_count,
                    "file_size_in_bytes": df.file_size_in_bytes,
                    "block_size_in_bytes": df.file_size_in_bytes,
                    "column_sizes": _kv_to_records(df.column_sizes),
                    "value_counts": _kv_to_records(df.value_counts),
                    "null_value_counts": _kv_to_records(df.null_value_counts),
                    "nan_value_counts": _kv_to_records(df.nan_value_counts),
                    "lower_bounds": _kv_to_records(df.lower_bounds),
                    "upper_bounds": _kv_to_records(df.upper_bounds),
                    "split_offsets": df.split_offsets,
                    "sort_order_id": df.sort_order_id,
                    "key_metadata": df.key_metadata,
                }})
            continue
        rec_df = {
            "content": df.content, "file_path": df.file_path,
            "file_format": df.file_format, "partition": part,
            "record_count": df.record_count,
            "file_size_in_bytes": df.file_size_in_bytes,
            "column_sizes": _kv_to_records(df.column_sizes),
            "value_counts": _kv_to_records(df.value_counts),
            "null_value_counts": _kv_to_records(df.null_value_counts),
            "nan_value_counts": _kv_to_records(df.nan_value_counts),
            "lower_bounds": _kv_to_records(df.lower_bounds),
            "upper_bounds": _kv_to_records(df.upper_bounds),
            "split_offsets": df.split_offsets,
            "equality_ids": df.equality_ids,
            "sort_order_id": df.sort_order_id,
            "first_row_id": df.first_row_id,
            "key_metadata": df.key_metadata,
        }
        if format_version >= 3:
            rec_df["referenced_data_file"] = df.referenced_data_file
            rec_df["content_offset"] = df.content_offset
            rec_df["content_size_in_bytes"] = df.content_size_in_bytes
        recs.append({
            "status": e.status, "snapshot_id": e.snapshot_id,
            "sequence_number": e.sequence_number,
            "file_sequence_number": e.file_sequence_number,
            "data_file": rec_df})
    import json
    meta = {
        "schema": json.dumps(schema.to_json_dict()),
        "partition-spec": json.dumps([f.to_json_dict() for f in spec.fields]),
        "partition-spec-id": str(spec.spec_id),
        "format-version": str(format_version),
        "content": "data" if content == MANIFEST_DATA else "deletes",
    }
    avro.write_container(path, avro_schema, recs, metadata=meta)

    # partition field summaries (manifest.go fieldStats)
    summaries = _field_summaries(ptype, entries)
    added = [e for e in entries if e.status == STATUS_ADDED]
    existing = [e for e in entries if e.status == STATUS_EXISTING]
    deleted = [e for e in entries if e.status == STATUS_DELETED]
    seqs = [e.sequence_number for e in entries
            if e.sequence_number is not None and e.is_live]
    # v3 row lineage: when every live data file already carries an
    # explicit first_row_id (this engine stamps them at stage time),
    # the manifest inherits the smallest — its id range is already
    # reserved, so the manifest-list writer must NOT assign it a fresh
    # block (which would advance next-row-id past rows that own ids).
    # Any live file without an id leaves this None for list-time
    # assignment + read-side inheritance (manifest.go:802-826).
    first_row_id = None
    if format_version >= 3 and content == MANIFEST_DATA:
        live_ids = [e.data_file.first_row_id for e in entries if e.is_live]
        if live_ids and all(i is not None for i in live_ids):
            first_row_id = min(live_ids)
    from ..io import load_io
    return ManifestFile(
        manifest_path=path, manifest_length=load_io(path).size(path),
        partition_spec_id=spec.spec_id, content=content,
        sequence_number=0, min_sequence_number=min(seqs) if seqs else 0,
        added_snapshot_id=next((e.snapshot_id for e in entries
                                if e.snapshot_id is not None), 0),
        added_files_count=len(added), existing_files_count=len(existing),
        deleted_files_count=len(deleted),
        added_rows_count=sum(e.data_file.record_count for e in added),
        existing_rows_count=sum(e.data_file.record_count for e in existing),
        deleted_rows_count=sum(e.data_file.record_count for e in deleted),
        partitions=summaries, first_row_id=first_row_id)


def _field_summaries(ptype: T.StructType, entries: List[ManifestEntry]
                     ) -> List[FieldSummary]:
    import math
    out = []
    for f in ptype.fields:
        contains_null = False
        contains_nan = False
        lo = hi = None
        for e in entries:
            if not e.is_live:
                continue
            v = e.data_file.partition.get(f.name)
            if v is None:
                contains_null = True
                continue
            if isinstance(v, float) and math.isnan(v):
                contains_nan = True
                continue
            if lo is None or v < lo:
                lo = v
            if hi is None or v > hi:
                hi = v
        out.append(FieldSummary(
            contains_null=contains_null, contains_nan=contains_nan,
            lower_bound=to_bytes(f.field_type, lo) if lo is not None else None,
            upper_bound=to_bytes(f.field_type, hi) if hi is not None else None))
    return out


def read_manifest(path: str) -> Tuple[List[ManifestEntry], PartitionSpec, int]:
    """Read a manifest -> (entries, spec, spec_id)."""
    import json
    _, recs, meta = avro.read_container(path)
    spec_fields = json.loads(meta["partition-spec"].decode())
    spec_id = int(meta.get("partition-spec-id", b"0").decode())
    from .partitioning import PartitionField
    spec = PartitionSpec([PartitionField.from_json_dict(f) for f in spec_fields],
                         spec_id=spec_id)
    mschema = Schema.from_json_dict(json.loads(meta["schema"].decode()))
    ptype = spec.partition_type(mschema)
    entries = []
    for r in recs:
        d = r["data_file"]
        part = {f.name: _decode_partition_value(f.field_type,
                                                d["partition"].get(f.name))
                for f in ptype.fields}
        df = DataFile(
            content=d.get("content", CONTENT_DATA),  # v1: data only
            file_path=d["file_path"],
            file_format=d["file_format"], partition=part,
            record_count=d["record_count"],
            file_size_in_bytes=d["file_size_in_bytes"],
            column_sizes=_records_to_kv(d.get("column_sizes")),
            value_counts=_records_to_kv(d.get("value_counts")),
            null_value_counts=_records_to_kv(d.get("null_value_counts")),
            nan_value_counts=_records_to_kv(d.get("nan_value_counts")),
            lower_bounds=_records_to_kv(d.get("lower_bounds")),
            upper_bounds=_records_to_kv(d.get("upper_bounds")),
            split_offsets=d.get("split_offsets"),
            equality_ids=d.get("equality_ids"),
            sort_order_id=d.get("sort_order_id"),
            first_row_id=d.get("first_row_id"),
            key_metadata=d.get("key_metadata"),
            referenced_data_file=d.get("referenced_data_file"),
            content_offset=d.get("content_offset"),
            content_size_in_bytes=d.get("content_size_in_bytes"))
        entries.append(ManifestEntry(
            status=r["status"], snapshot_id=r.get("snapshot_id"),
            sequence_number=r.get("sequence_number"),
            file_sequence_number=r.get("file_sequence_number"), data_file=df))
    return entries, spec, spec_id


def materialize_first_row_ids(mf: "ManifestFile",
                              entries: List["ManifestEntry"]) -> None:
    """Stamp explicit first_row_ids derived from ``mf``'s v3 row-id
    block onto entries relying on manifest-level inheritance (same
    derivation rule as the scan: walk live data entries in order,
    assign, advance by record_count).  MUST run before any repack that
    reorders/drops entries or moves them into a manifest with a
    different (or no) block — otherwise surviving rows change _row_id
    identity or lose lineage entirely."""
    if mf.first_row_id is None:
        return
    next_rid = mf.first_row_id
    for e in entries:
        if (e.is_live and e.data_file.content == CONTENT_DATA
                and e.data_file.first_row_id is None):
            e.data_file.first_row_id = next_rid
            next_rid += e.data_file.record_count


def write_manifest_list(path: str, manifests: List[ManifestFile],
                        format_version: int = 2,
                        first_row_id: Optional[int] = None
                        ) -> Optional[int]:
    """Write a manifest list.  For v3, ``first_row_id`` is the
    snapshot's starting row id: data manifests are assigned sequential
    first_row_id values (advancing by live rows, manifest.go:1630
    advanceRowID); delete manifests stay null.  Returns the number of
    row ids this build CONSUMED past ``first_row_id`` (None when not
    applicable) — callers advance the table's next-row-id by it."""
    if format_version < 1 or format_version > 3:
        raise ValueError(
            f"unsupported manifest-list format version: {format_version}")
    next_row_id = first_row_id
    recs = []
    for m in manifests:
        parts = [{
            "contains_null": s.contains_null,
            "contains_nan": s.contains_nan,
            "lower_bound": s.lower_bound, "upper_bound": s.upper_bound,
        } for s in m.partitions] or None
        if format_version == 1:
            if m.content != MANIFEST_DATA:
                raise ValueError(
                    "v1 manifest lists cannot carry delete manifests")
            recs.append({
                "manifest_path": m.manifest_path,
                "manifest_length": m.manifest_length,
                "partition_spec_id": m.partition_spec_id,
                "added_snapshot_id": m.added_snapshot_id,
                "added_data_files_count": m.added_files_count,
                "existing_data_files_count": m.existing_files_count,
                "deleted_data_files_count": m.deleted_files_count,
                "added_rows_count": m.added_rows_count,
                "existing_rows_count": m.existing_rows_count,
                "deleted_rows_count": m.deleted_rows_count,
                "partitions": parts,
            })
            continue
        rec = {
            "manifest_path": m.manifest_path,
            "manifest_length": m.manifest_length,
            "partition_spec_id": m.partition_spec_id, "content": m.content,
            "sequence_number": m.sequence_number,
            "min_sequence_number": m.min_sequence_number,
            "added_snapshot_id": m.added_snapshot_id,
            "added_files_count": m.added_files_count,
            "existing_files_count": m.existing_files_count,
            "deleted_files_count": m.deleted_files_count,
            "added_rows_count": m.added_rows_count,
            "existing_rows_count": m.existing_rows_count,
            "deleted_rows_count": m.deleted_rows_count,
            "partitions": parts,
        }
        if format_version >= 3:
            # v3 row lineage (manifest.go:1736-1745): a data manifest is
            # assigned a first_row_id ONCE — when it first enters a
            # manifest list with a null value — and keeps it in every
            # later list (reassigning a carried-forward manifest would
            # shift ids past next-row-id and duplicate _row_ids for
            # readers using manifest-list inheritance).  The id range
            # reserved is live rows (added+existing, advanceRowID);
            # stamping the in-memory object is deliberate: it IS the
            # durable one-time assignment, so later lists built from the
            # same staged objects preserve it.
            if m.content == MANIFEST_DATA and next_row_id is not None:
                if m.first_row_id is None:
                    m.first_row_id = next_row_id
                    next_row_id += m.live_rows_count
                else:
                    # a manifest stamped THIS snapshot (fri >= base)
                    # already owns [fri, fri+live): the cursor must
                    # clear it or the next null-fri manifest (e.g. a
                    # legacy pre-v3 manifest carried into its first v3
                    # list) would be assigned an OVERLAPPING block —
                    # duplicate _row_ids, permanent lineage corruption.
                    # Older manifests (fri below the base) are already
                    # covered by the table's next-row-id and never
                    # advance the cursor (max keeps it).
                    next_row_id = max(next_row_id,
                                      m.first_row_id + m.live_rows_count)
            rec["first_row_id"] = m.first_row_id \
                if m.content == MANIFEST_DATA else None
        recs.append(rec)
    meta = {"format-version": str(format_version)}
    if format_version >= 3 and first_row_id is not None:
        meta["first-row-id"] = str(first_row_id)
    avro.write_container(path, manifest_list_avro_schema(format_version),
                         recs, metadata=meta)
    # ids consumed by THIS list build (new-manifest stamps + blocks
    # assigned to previously-null manifests): the caller must advance
    # the table's next-row-id by this amount — the block handed to a
    # carried-forward legacy manifest was otherwise invisible to the
    # counter and later snapshots re-issued the same ids
    if format_version >= 3 and first_row_id is not None \
            and next_row_id is not None:
        return next_row_id - first_row_id
    return None


def _c(r: dict, *keys):
    """First present count value across spelling variants; None when
    every candidate is null (v1: null = UNKNOWN, not zero)."""
    for k in keys:
        v = r.get(k)
        if v is not None:
            return v
    return None


def _fill_unknown_counts(m: "ManifestFile") -> None:
    """A v1 manifest-list entry may legally carry null counts (unknown).
    Reporting them as 0 corrupted total-records/total-files summaries
    for imported tables — derive the real numbers by reading the
    manifest once (v1 legacy is rare; driver-side metadata I/O)."""
    try:
        entries, _spec, _sid = read_manifest(m.manifest_path)
    except (FileNotFoundError, OSError):
        for attr in ("added_files_count", "existing_files_count",
                     "deleted_files_count", "added_rows_count",
                     "existing_rows_count", "deleted_rows_count"):
            if getattr(m, attr) is None:
                setattr(m, attr, 0)
        return
    counts = {"added_files_count": 0, "existing_files_count": 0,
              "deleted_files_count": 0, "added_rows_count": 0,
              "existing_rows_count": 0, "deleted_rows_count": 0}
    for e in entries:
        if e.status == STATUS_ADDED:
            counts["added_files_count"] += 1
            counts["added_rows_count"] += e.data_file.record_count
        elif e.status == STATUS_EXISTING:
            counts["existing_files_count"] += 1
            counts["existing_rows_count"] += e.data_file.record_count
        else:
            counts["deleted_files_count"] += 1
            counts["deleted_rows_count"] += e.data_file.record_count
    for attr, v in counts.items():
        if getattr(m, attr) is None:
            setattr(m, attr, v)


def read_manifest_list(path: str) -> List[ManifestFile]:
    _, recs, _ = avro.read_container(path)
    out = []
    for r in recs:
        parts = [FieldSummary(
            contains_null=p["contains_null"], contains_nan=p.get("contains_nan"),
            lower_bound=p.get("lower_bound"), upper_bound=p.get("upper_bound"))
            for p in (r.get("partitions") or [])]
        out.append(ManifestFile(
            manifest_path=r["manifest_path"],
            manifest_length=r["manifest_length"],
            partition_spec_id=r["partition_spec_id"],
            content=r.get("content", MANIFEST_DATA),  # v1: data only
            sequence_number=r.get("sequence_number", 0),
            min_sequence_number=r.get("min_sequence_number", 0),
            added_snapshot_id=r["added_snapshot_id"],
            added_files_count=_c(r, "added_files_count",
                                 "added_data_files_count"),
            existing_files_count=_c(r, "existing_files_count",
                                    "existing_data_files_count"),
            deleted_files_count=_c(r, "deleted_files_count",
                                   "deleted_data_files_count"),
            added_rows_count=_c(r, "added_rows_count"),
            existing_rows_count=_c(r, "existing_rows_count"),
            deleted_rows_count=_c(r, "deleted_rows_count"),
            partitions=parts,
            first_row_id=r.get("first_row_id")))
        m = out[-1]
        if any(v is None for v in (
                m.added_files_count, m.existing_files_count,
                m.deleted_files_count, m.added_rows_count,
                m.existing_rows_count, m.deleted_rows_count)):
            _fill_unknown_counts(m)
    return out
