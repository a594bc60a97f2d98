"""Spark-native partitioned fan-out write + per-file stats harvest.

Parity (behavior only): /root/reference/table/partitioned_fanout_writer.go
:109-485 (routing rows to per-partition rolling files),
table/rolling_data_writer.go:320-500 (target file size, write-side sort),
table/internal/utils.go:187-425 (StatsAgg + truncate(16) metrics modes),
table/internal/parquet_files.go:168 (footer stats harvest).

Spark-first design: the fanout trie + worker pool of the reference collapses
into ``df.repartition(partition_cols).sortWithinPartitions(...).write
.partitionBy(partition_cols)`` — shuffle, fanout, rolling and parquet
encoding are Spark's native, already-vectorized paths.  Stats come from
parquet footers through one harvest (``harvest_data_files``): two footer
readers (pyarrow, and parquet-java for footers pyarrow cannot open) feed
one fold over column-chunk stats.  Past a handful of files the pyarrow
reads run on *executors*, so the driver never becomes the bottleneck at
100 TB file counts.
"""

from __future__ import annotations

import functools
import os
import urllib.parse
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, functions as F

from .. import types as T
from ..schema import Schema
from ..meta.conversions import to_bytes
from ..meta.manifests import CONTENT_DATA, DataFile
from ..meta.partitioning import PartitionSpec, SortOrder

PART_COL_PREFIX = "__part__"
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

PROP_TARGET_FILE_SIZE = "write.target-file-size-bytes"
DEFAULT_TARGET_FILE_SIZE = 512 * 1024 * 1024
PROP_METRICS_TRUNCATE = "write.metadata.metrics.truncate-length"
DEFAULT_METRICS_TRUNCATE = 16
PROP_ZORDER_COLUMNS = "write.zorder.columns"

# Iceberg write.parquet.* table properties -> parquet-mr writer options
# (spec property names per the reference, parquet_files.go:53-92; the
# parquet-mr keys are what Spark's writer hands to the OutputFormat, so
# a table carrying these properties gets the same physical layout from
# either implementation)
_PARQUET_PROP_MAP = {
    "write.parquet.row-group-size-bytes": "parquet.block.size",
    "write.parquet.page-size-bytes": "parquet.page.size",
    "write.parquet.page-row-limit": "parquet.page.row.count.limit",
    "write.parquet.dict-size-bytes": "parquet.dictionary.page.size",
    "write.parquet.bloom-filter-max-bytes": "parquet.bloom.filter.max.bytes",
    # parquet-mr key read as-is by Iceberg Java (parquet_files.go:88-92)
    "parquet.enable.dictionary": "parquet.enable.dictionary",
}
_BLOOM_COL_PREFIX = "write.parquet.bloom-filter-enabled.column."
_DICT_COL_PREFIX = "write.parquet.dict-encoding-enabled.column."


def _parquet_writer_options(properties: Dict[str, str]) -> Dict[str, str]:
    """Translate Iceberg ``write.parquet.*`` table properties to the
    parquet-mr option keys Spark's writer understands (per-column bloom
    filters and dictionary toggles use parquet-mr's ``key#column``
    form)."""
    out: Dict[str, str] = {}
    for prop, opt in _PARQUET_PROP_MAP.items():
        v = properties.get(prop)
        if v is not None:
            out[opt] = v
    lvl = properties.get("write.parquet.compression-level")
    if lvl is not None:
        codec = properties.get("write.parquet.compression-codec", "zstd")
        out[f"parquet.compression.codec.{codec}.level"] = lvl
    ver = properties.get("write.parquet.page-version")
    if ver is not None:
        out["parquet.writer.version"] = \
            {"1": "PARQUET_1_0", "2": "PARQUET_2_0"}.get(ver, ver)
    for k, v in properties.items():
        if k.startswith(_BLOOM_COL_PREFIX):
            out[f"parquet.bloom.filter.enabled#{k[len(_BLOOM_COL_PREFIX):]}"] = v
        elif k.startswith(_DICT_COL_PREFIX):
            out[f"parquet.enable.dictionary#{k[len(_DICT_COL_PREFIX):]}"] = v
    return out
ZORDER_BITS = 8  # buckets per dimension; 8 bits x <=8 dims fits a long


def _zorder_value(df: DataFrame, cols: List[str]):
    """Z-order (Morton) key column over ``cols``: each column maps to a
    2^ZORDER_BITS-bucket rank via its observed min/max (one tiny agg on
    the driver — the same class of decision as a broadcast threshold),
    and the buckets' bits interleave into one long.

    Linear bucketing is deliberate: the mapping only shapes LAYOUT
    (query results never see it), mild skew costs some pruning
    selectivity but never correctness, and it needs no per-column
    quantile pass over the corpus.  Numeric/date/timestamp columns
    only; nulls cluster at bucket 0."""
    n = len(cols)
    if not 2 <= n <= 8:
        raise ValueError("zorder needs 2..8 columns")
    # total interleaved bits must stay OUT of the long's sign bit: with
    # 8 cols x 8 bits the last bit landed at position 63, flipping z
    # negative for half of the last dimension and splitting each Morton
    # region across opposite ends of the range sort
    bits = min(ZORDER_BITS, 63 // n)
    dtypes = dict(df.dtypes)

    def num(c):
        # temporal types have no direct double cast; go via timestamp
        if dtypes.get(c, "").startswith(("timestamp", "date")):
            return F.col(c).cast("timestamp").cast("double")
        return F.col(c).cast("double")

    aggs = []
    for c in cols:
        aggs += [F.min(num(c)).alias(f"mn_{c}"),
                 F.max(num(c)).alias(f"mx_{c}")]
    row = df.agg(*aggs).first()
    nbuckets = 1 << bits
    buckets = []
    for c in cols:
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        if mn is None or mx is None or mx <= mn:
            buckets.append(F.lit(0))
            continue
        span = mx - mn
        b = F.floor((num(c) - F.lit(mn))
                    / F.lit(span) * nbuckets).cast("long")
        buckets.append(F.coalesce(
            F.least(F.lit(nbuckets - 1), F.greatest(F.lit(0), b)),
            F.lit(0)))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                bit * n + i).cast("long")
    return z


def _erase_metadata(dt):
    """Copy of a Spark DataType with all StructField metadata removed and
    nullability relaxed.

    Metadata: the id-stamping aliases below must ADD metadata that was
    not on the input attributes — an alias whose metadata is already
    present upstream is redundant and the optimizer strips it, silently
    writing id-less parquet files.  Nullability: DataFrame.to rejects a
    nullable input column for a required target field, but required-ness
    is an Iceberg metadata contract enforced by our schema plane, not by
    the parquet writer."""
    import pyspark.sql.types as ST
    if isinstance(dt, ST.StructType):
        return ST.StructType([
            ST.StructField(f.name, _erase_metadata(f.dataType), True)
            for f in dt.fields])
    if isinstance(dt, ST.ArrayType):
        return ST.ArrayType(_erase_metadata(dt.elementType), True)
    if isinstance(dt, ST.MapType):
        return ST.MapType(_erase_metadata(dt.keyType),
                          _erase_metadata(dt.valueType), True)
    return dt


def truncate_lower_text(s: str, width: int) -> str:
    return s[:width]


def truncate_upper_text(s: str, width: int) -> Optional[str]:
    """First ``width`` codepoints with the last one incremented, so the
    result is still an upper bound (utils.go truncate semantics)."""
    if len(s) <= width:
        return s
    t = s[:width]
    chars = list(t)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < 0x10FFFF:
            chars[i] = chr(cp + 1)
            return "".join(chars[:i + 1])
    return None  # cannot produce a valid upper bound


def truncate_upper_binary(b: bytes, width: int) -> Optional[bytes]:
    if len(b) <= width:
        return b
    t = bytearray(b[:width])
    for i in range(len(t) - 1, -1, -1):
        if t[i] < 0xFF:
            t[i] += 1
            return bytes(t[:i + 1])
    return None


def partition_columns(df: DataFrame, schema: Schema, spec: PartitionSpec
                      ) -> Tuple[DataFrame, List[str]]:
    """Attach derived partition-value columns (hidden partitioning).

    Uses a ``__part__`` prefix so identity-partition source columns stay in
    the data files (partitionBy strips the partition columns themselves)."""
    pcols = []
    for pf in spec.fields:
        src = schema.find_field(pf.source_id)
        col_name = schema.find_column_name(pf.source_id)
        expr = pf.transform.spark_column(F.col(col_name), src.field_type)
        cname = PART_COL_PREFIX + pf.name
        df = df.withColumn(cname, expr)
        pcols.append(cname)
    return df, pcols


def _parse_partition_value(t: T.IcebergType, raw: str,
                           session_tz: Optional[str] = None) -> Any:
    if raw == HIVE_NULL:
        return None
    if isinstance(t, (T.BinaryType, T.FixedType)):
        # bytes must round-trip the percent-encoding as BYTES: decoding
        # to str first mangles non-UTF-8 (b'\xc3\xa9' -> 'é' ->
        # latin1 b'\xe9' loses a byte; b'\xff' crashed outright)
        return urllib.parse.unquote_to_bytes(raw)
    v = urllib.parse.unquote(raw)
    if isinstance(t, (T.IntegerType, T.LongType)):
        return int(v)
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(t, T.BooleanType):
        return v.lower() == "true"
    if isinstance(t, T.DateType):
        return date.fromisoformat(v)
    if isinstance(t, (T.TimestampType, T.TimestamptzType)):
        dt = datetime.fromisoformat(v.replace(" ", "T"))
        if isinstance(t, T.TimestamptzType) and dt.tzinfo is None \
                and session_tz and session_tz != "UTC":
            # Spark renders timestamptz dir values in the SESSION
            # timezone; downstream serialization treats naive as UTC —
            # normalize so partition tuples don't shift by the offset
            from zoneinfo import ZoneInfo
            dt = dt.replace(tzinfo=ZoneInfo(session_tz)) \
                .astimezone(ZoneInfo("UTC")).replace(tzinfo=None)
        return dt
    if isinstance(t, T.DecimalType):
        return Decimal(v)
    if isinstance(t, (T.StringType, T.UUIDType)):
        return v
    raise TypeError(f"cannot parse partition value of type {t}")


def discover_partitioned_files(out_dir: str, ptype: T.StructType,
                               session_tz: Optional[str] = None
                               ) -> List[Tuple[str, Dict[str, Any]]]:
    """Walk a ``partitionBy`` output tree -> [(path, partition dict)].

    Inverse of the hive-style ``__part__name=value`` directory encoding
    used by the fanout writers (data and pos-delete).  ``session_tz``
    normalizes timestamptz dir values Spark rendered in a non-UTC
    session timezone."""
    ptype_by_name = {f.name: f.field_type for f in ptype.fields}
    files: List[Tuple[str, Dict[str, Any]]] = []
    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            full = os.path.join(root, n)
            rel = os.path.relpath(root, out_dir)
            part: Dict[str, Any] = {}
            if rel != ".":
                for comp in rel.split(os.sep):
                    k, _, raw = comp.partition("=")
                    pname = k[len(PART_COL_PREFIX):] if k.startswith(
                        PART_COL_PREFIX) else k
                    part[pname] = _parse_partition_value(
                        ptype_by_name[pname], raw, session_tz)
            files.append((full, part))
    return files


# the footer harvest reads footers on the driver up to this many files
# and in one executor job above it: dispatching a Python-worker job
# costs more than opening a handful of footers (~0.2 s of job overhead
# per small append; commits of 1-8 files are the common case for tests,
# maintenance and micro-batches)
FOOTER_DRIVER_FILES = 16

_GEO = ("geometry", "geography")


def _fold_footer(path: str, has_field_ids: bool, row_groups,
                 fields: Dict[str, Tuple[int, str]],
                 shred_map: Dict[str, Tuple[int, str, str]],
                 variant_fids: Dict[str, int],
                 truncate_len: int) -> Dict[str, Any]:
    """The one fold over a parquet footer's column-chunk stats (StatsAgg,
    utils.go:187-425): both footer readers feed it, so both yield the
    same stats dict.

    ``row_groups`` yields ``(split offset, row count, chunks)``; a chunk
    is ``(dotted path, compressed size, value count, null count or None,
    bounds)``, where ``bounds(type_str)`` decodes the chunk's min/max for
    that Iceberg type, or returns None when the footer holds none.
    ``fields`` maps a top-level column name -> (field id, type str);
    ``shred_map`` maps a shredded-variant companion leaf's path
    (``_shred_v.a_b``) -> (variant field id, normalized JSON path, type
    str), whose per-path min/max land in ``variant_lower``/
    ``variant_upper`` as plain values; ``variant_fids`` maps a VARIANT
    column's name -> field id (its leaves add to the column's size
    only)."""
    sizes: Dict[int, int] = {}
    vcounts: Dict[int, int] = {}
    ncounts: Dict[int, int] = {}
    out: Dict[str, Any] = {
        "path": path, "has_field_ids": has_field_ids, "record_count": 0,
        "file_size": os.path.getsize(path), "column_sizes": sizes,
        "value_counts": vcounts, "null_counts": ncounts,
        "lower": {}, "upper": {}, "split_offsets": [],
    }
    # keys: a field id, or (variant field id, JSON path) for a shredded
    # leaf
    mins: Dict[Any, Any] = {}
    maxs: Dict[Any, Any] = {}
    types: Dict[Any, str] = {}
    # a column holding values but no usable min/max in ANY row group
    # (stats absent, undecodable, or omitted: parquet writes none for a
    # group containing NaN) loses bounds for the WHOLE file — bounds
    # folded from the other groups would not cover its rows, and an
    # understated max silently prunes live rows
    bad: set = set()
    for offset, rows, chunks in row_groups:
        out["record_count"] += rows
        out["split_offsets"].append(offset)
        for dotted, size, n_values, n_nulls, bounds in chunks:
            top = dotted.split(".", 1)[0]
            sm = shred_map.get(dotted)
            if sm is not None:
                key, tstr = (sm[0], sm[1]), sm[2]
            elif top in variant_fids:
                fid = variant_fids[top]
                sizes[fid] = sizes.get(fid, 0) + size
                continue
            else:
                info = fields.get(dotted) or fields.get(top)
                if info is None:
                    continue
                key, tstr = info
                sizes[key] = sizes.get(key, 0) + size
                if "." in dotted:
                    continue
                # parquet counts values including nulls
                vcounts[key] = vcounts.get(key, 0) + n_values
                if n_nulls is not None:
                    ncounts[key] = ncounts.get(key, 0) + n_nulls
                if tstr.startswith(_GEO):
                    continue  # byte-wise WKB min/max is no bbox
            types[key] = tstr
            try:
                mm = bounds(tstr)
            except (ValueError, TypeError):
                mm = None
            if mm is None:
                if n_values > 0 and (n_nulls is None or n_nulls < n_values):
                    bad.add(key)
                continue
            mn, mx = mm
            if key not in mins or _lt(mn, mins[key]):
                mins[key] = mn
            if key not in maxs or _lt(maxs[key], mx):
                maxs[key] = mx
    vl: Dict[int, Dict[str, Any]] = {}
    vu: Dict[int, Dict[str, Any]] = {}

    def put(dst, vdst, key, v):
        if v is None:
            return  # no valid truncated upper bound
        if isinstance(key, tuple):
            vdst.setdefault(key[0], {})[key[1]] = v
            return
        try:
            dst[key] = to_bytes(T.type_from_str(types[key]), v)
        except (TypeError, ValueError):
            pass

    for key, v in mins.items():
        if key not in bad:
            put(out["lower"], vl, key, _truncate_lower(v, truncate_len))
    for key, v in maxs.items():
        if key not in bad:
            put(out["upper"], vu, key, _truncate_upper(v, truncate_len))
    if vl or vu:
        out["variant_lower"], out["variant_upper"] = vl, vu
    return out


def _arrow_bounds(col, tstr: str):
    if not col.is_stats_set or not col.statistics.has_min_max:
        return None
    st = col.statistics
    if tstr.startswith("decimal") and st.physical_type in ("INT32", "INT64"):
        # pyarrow cannot decode int-backed decimal stats
        # (ArrowNotImplementedError); the raw values are the unscaled
        # integers
        scale = T.type_from_str(tstr).scale
        return (Decimal(st.min_raw).scaleb(-scale),
                Decimal(st.max_raw).scaleb(-scale))
    return st.min, st.max


def _harvest_one(path: str, fields: Dict[str, Tuple[int, str]],
                 truncate_len: int,
                 shred_map: Optional[Dict[str, Tuple[int, str, str]]] = None,
                 enc_props: Optional[Dict[str, str]] = None,
                 variant_fids: Optional[Dict[str, int]] = None
                 ) -> Optional[Dict[str, Any]]:
    """pyarrow footer reader: one file's stats dict (``_fold_footer``),
    on the driver or on an executor; None when pyarrow cannot open the
    footer (pyarrow 16.1 rejects VARIANT/GEOMETRY logical types), which
    leaves the file to the JVM reader.  ``enc_props`` decrypts a PME
    footer through the engine KMS.  Geometry columns take their bounds
    from the WKB values, since parquet's byte-array min/max over WKB is
    meaningless (geo_codec.go:53)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dec = None
    if enc_props:
        from ..encryption import pyarrow_decryption_properties
        _factory, dec = pyarrow_decryption_properties(enc_props)
    try:
        pf = pq.ParquetFile(path, decryption_properties=dec)
    except (OSError, pa.lib.ArrowException):
        return None
    md = pf.metadata

    def row_groups():
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            first = rg.column(0)
            # parquet deprecated ColumnChunk.file_offset (writers emit
            # 0); the row group's true start is its first page offset
            off = first.dictionary_page_offset
            if off is None or off <= 0:
                off = first.data_page_offset
            chunks = []
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                chunks.append((
                    col.path_in_schema, col.total_compressed_size,
                    col.num_values,
                    col.statistics.null_count if col.is_stats_set else None,
                    functools.partial(_arrow_bounds, col)))
            yield off, rg.num_rows, chunks

    has_ids = any((f.metadata or {}).get(b"PARQUET:field_id")
                  for f in pf.schema_arrow)
    out = _fold_footer(path, bool(has_ids), row_groups(), fields,
                       shred_map or {}, variant_fids or {}, truncate_len)
    for name, (fid, tstr) in fields.items():
        if not tstr.startswith("geometry"):
            continue  # geography: geodesic edges make vertex bounds unsafe
        from ..geo import GeoBoundsAccumulator
        acc = GeoBoundsAccumulator()
        try:
            for chunk in pf.read(columns=[name]).column(0).chunks:
                for v in chunk:
                    if v.is_valid:
                        acc.add_wkb(v.as_py())
        except (ValueError, KeyError):
            continue  # unparsable WKB: omit bounds (disables pruning, safe)
        lower, upper = acc.bounds()
        if lower is not None:
            out["lower"][fid] = lower
            out["upper"][fid] = upper
    return out


def _jvm_stat_value(st, tstr: str, is_min: bool):
    """Convert a JVM parquet Statistics min/max into the python value
    the bounds pipeline expects for iceberg type ``tstr``; raises for
    types without a safe conversion (uuid -> no bounds)."""
    import datetime as dt
    if tstr == "string":
        b = bytes(st.getMinBytes() if is_min else st.getMaxBytes())
        # STRICT decode: a writer that truncated min/max mid-codepoint
        # would turn the partial sequence into U+FFFD, which can move
        # the bound the WRONG WAY (understate max / overstate min) and
        # make the metrics evaluator silently prune live rows.  Raising
        # skips bounds for the column — missing bounds are safe.
        try:
            return b.decode("utf-8", "strict")
        except UnicodeDecodeError as e:
            raise ValueError(
                f"non-UTF-8 string bound (truncated mid-codepoint?): "
                f"{b!r}") from e
    if tstr == "binary" or tstr.startswith("fixed"):
        return bytes(st.getMinBytes() if is_min else st.getMaxBytes())
    v = st.genericGetMin() if is_min else st.genericGetMax()
    if tstr.startswith("decimal"):
        # INT32/INT64-backed: the unscaled integer; byte-array-backed:
        # its big-endian two's complement
        if not isinstance(v, int):
            v = int.from_bytes(
                bytes(st.getMinBytes() if is_min else st.getMaxBytes()),
                "big", signed=True)
        return Decimal(v).scaleb(-T.type_from_str(tstr).scale)
    if tstr in ("int", "long"):
        return int(v)
    if tstr in ("float", "double"):
        return float(v)
    if tstr == "boolean":
        return bool(v)
    if tstr == "date":
        return dt.date(1970, 1, 1) + dt.timedelta(days=int(v))
    if tstr.startswith("timestamptz"):
        return (dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
                + dt.timedelta(microseconds=int(v)))
    if tstr.startswith("timestamp"):
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(v))
    raise ValueError(f"no footer-bound conversion for {tstr}")


def _jvm_bounds(st, tstr: str):
    if st is None or st.isEmpty() or not st.hasNonNullValue():
        return None
    return _jvm_stat_value(st, tstr, True), _jvm_stat_value(st, tstr, False)


def _harvest_via_jvm_footers(spark, paths: List[str],
                             fields: Dict[str, Tuple[int, str]],
                             shred_map: Dict[str, Tuple[int, str, str]],
                             truncate_len: int,
                             variant_fids: Dict[str, int]
                             ) -> List[Dict[str, Any]]:
    """parquet-java footer reader over py4j, for the footers pyarrow
    cannot open: the same column-chunk records, through the same fold.
    Footers open with read options built from the session's Hadoop
    conf, so a session armed for JVM Parquet Modular Encryption
    decrypts them.  Driver-side (the py4j gateway lives there);
    metadata-only I/O, never data pages."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    out: List[Dict[str, Any]] = []
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        opts = jvm.org.apache.parquet.HadoopReadOptions \
            .builder(conf, jpath).build()
        rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(jpath, conf), opts)
        try:
            footer = rdr.getFooter()
            pschema = footer.getFileMetaData().getSchema()
            has_ids = any(
                pschema.getFields().get(i).getId() is not None
                for i in range(pschema.getFieldCount()))
            blocks = footer.getBlocks()
            groups = []
            for bi in range(blocks.size()):
                b = blocks.get(bi)
                cols = b.getColumns()
                chunks = []
                for ci in range(cols.size()):
                    c = cols.get(ci)
                    st = c.getStatistics()
                    chunks.append((
                        c.getPath().toDotString(), int(c.getTotalSize()),
                        int(c.getValueCount()),
                        int(st.getNumNulls())
                        if st is not None and st.isNumNullsSet() else None,
                        functools.partial(_jvm_bounds, st)))
                groups.append((int(b.getStartingPos()),
                               int(b.getRowCount()), chunks))
            out.append(_fold_footer(p, has_ids, groups, fields, shred_map,
                                    variant_fids, truncate_len))
        finally:
            rdr.close()
    return out


def harvest_data_files(spark, files: List[Tuple[str, Dict[str, Any]]],
                       schema: Schema, properties: Dict[str, str],
                       shred_map: Optional[Dict[str, Tuple[int, str, str]]]
                       = None, encrypted: bool = False,
                       sort_order_id: Optional[int] = None
                       ) -> List[DataFile]:
    """The footer-stats harvest every writer and adopter goes through
    (parquet_files.go:168): one DataFile per ``(path, partition)``.

    pyarrow reads every footer it can open, on the driver up to
    ``FOOTER_DRIVER_FILES`` files and in one executor job above that;
    the JVM reader takes the footers pyarrow cannot open.  Bounds
    truncate at the table's ``write.metadata.metrics.truncate-length``.
    ``encrypted``: the caller wrote these files under Parquet Modular
    Encryption, so pyarrow decrypts their footers through the table's
    KMS.  ``spark`` is None where no session exists (a DataSource write
    task): pyarrow then reads every footer in-process."""
    truncate_len = int(properties.get(PROP_METRICS_TRUNCATE,
                                      DEFAULT_METRICS_TRUNCATE))
    # VARIANT columns take no generic bounds (min/max over the
    # metadata/value binaries is meaningless); their bounds come from
    # the shredded companions in shred_map
    fields = {f.name: (f.field_id, str(f.field_type))
              for f in schema.fields
              if f.field_type.is_primitive
              and not isinstance(f.field_type, T.VariantType)}
    variant_fids = {f.name: f.field_id for f in schema.fields
                    if isinstance(f.field_type, T.VariantType)}
    shred_map = shred_map or {}
    enc_props = dict(properties) if encrypted else None

    def harvest(p):
        return _harvest_one(p, fields, truncate_len, shred_map, enc_props,
                            variant_fids)

    paths = [p for p, _ in files]
    if spark is None or len(paths) <= FOOTER_DRIVER_FILES:
        stats = [harvest(p) for p in paths]
    else:
        stats = spark.sparkContext.parallelize(
            paths, min(len(paths), 64)).map(harvest).collect()
    unopened = [p for p, s in zip(paths, stats) if s is None]
    if unopened:
        if spark is None:
            raise ValueError(f"pyarrow cannot open the parquet footer of "
                             f"{unopened[0]} and no Spark session is "
                             f"available for the JVM reader")
        jvm_stats = dict(zip(unopened, _harvest_via_jvm_footers(
            spark, unopened, fields, shred_map, truncate_len,
            variant_fids)))
        stats = [s or jvm_stats[p] for p, s in zip(paths, stats)]
    return [_data_file(s, part, sort_order_id)
            for s, (_p, part) in zip(stats, files)]


def stamp_field_ids(arrow_schema, schema: Schema):
    """``arrow_schema`` with each top-level field carrying its table
    field id, so a pyarrow-written file resolves columns by id."""
    import pyarrow as pa
    fields = []
    for f in arrow_schema:
        sf = schema.find_field(f.name)
        fields.append(f if sf is None else f.with_metadata(
            {b"PARQUET:field_id": str(sf.field_id).encode()}))
    return pa.schema(fields)


def _data_file(s: Dict[str, Any], partition: Dict[str, Any],
               sort_order_id: Optional[int]) -> DataFile:
    lower, upper = dict(s["lower"]), dict(s["upper"])
    if s.get("variant_lower") or s.get("variant_upper"):
        # encode per-path bounds into the spec's variant bounds objects
        # under the variant column's field id
        from ..variant import encode_variant_blob
        for dst, src in ((lower, s.get("variant_lower")),
                         (upper, s.get("variant_upper"))):
            for vfid, m in (src or {}).items():
                try:
                    dst[vfid] = encode_variant_blob(m)
                except (TypeError, ValueError):
                    pass
    return DataFile(
        content=CONTENT_DATA, file_path=s["path"], file_format="PARQUET",
        partition=partition, record_count=s["record_count"],
        file_size_in_bytes=s["file_size"], column_sizes=s["column_sizes"],
        value_counts=s["value_counts"], null_value_counts=s["null_counts"],
        lower_bounds=lower, upper_bounds=upper,
        split_offsets=sorted(s["split_offsets"]) or None,
        sort_order_id=sort_order_id,
        name_based=not s["has_field_ids"])


def _lt(a: Any, b: Any) -> bool:
    try:
        return a < b
    except TypeError:
        return False


def _truncate_lower(v: Any, width: int) -> Any:
    if isinstance(v, str):
        return truncate_lower_text(v, width)
    if isinstance(v, bytes):
        return v[:width]
    return v


def _truncate_upper(v: Any, width: int) -> Any:
    if isinstance(v, str):
        return truncate_upper_text(v, width)
    if isinstance(v, bytes):
        return truncate_upper_binary(v, width)
    return v


def write_dataframe(df: DataFrame, schema: Schema, spec: PartitionSpec,
                    data_dir: str, properties: Dict[str, str],
                    sort_order: Optional[SortOrder] = None,
                    batch_id: Optional[str] = None) -> List[DataFile]:
    """Write ``df`` as partitioned parquet data files; return DataFiles with
    footer-harvested stats.  Files are written once, in their final location
    (manifests record absolute paths; no rename pass needed)."""
    import uuid as _uuid

    spark = df.sparkSession
    out_dir = os.path.join(data_dir, batch_id or _uuid.uuid4().hex[:16])

    # columns missing from the input fill from their write-default
    # (falling back to initial-default), per v3 default values
    # (arrow_utils.go:1255-1263 useWriteDefault); a required column with
    # no default cannot be synthesized
    present = set(df.columns)
    fills = {}
    for f in schema.fields:
        if f.name in present:
            continue
        default = f.write_default if f.write_default is not None \
            else f.initial_default
        if default is None and f.required:
            raise ValueError(
                f"required field is missing and has no default: {f.name}")
        fills[f.name] = F.lit(default).cast(
            T.to_spark_type(f.field_type))
    if fills:
        df = df.withColumns(fills)

    # nested write-defaults: a defaulted field the input lacks fills at
    # ANY depth — struct via withField, list interiors via transform,
    # map values via a keys+values rebuild (table/defaults.py); rows
    # whose parent struct/array/map is null stay null
    import pyspark.sql.types as ST

    from .defaults import fill_default

    def _nav(dt, parts):
        # navigate the INPUT's Spark type to test field presence —
        # explicit input values always win over defaults
        for p in parts:
            if isinstance(dt, ST.ArrayType) and p == "element":
                dt = dt.elementType
            elif isinstance(dt, ST.MapType) and p == "value":
                dt = dt.valueType
            elif isinstance(dt, ST.MapType) and p == "key":
                dt = dt.keyType
            elif isinstance(dt, ST.StructType) and p in dt.names:
                dt = dt[p].dataType
            else:
                return None
        return dt

    for f in schema._by_id.values():
        default = f.write_default if f.write_default is not None \
            else f.initial_default
        if default is None:
            continue
        path = schema.find_column_name(f.field_id) or f.name
        if "." not in path:
            continue  # top-level handled by the fills above
        top, rest = path.split(".", 1)
        if top not in df.columns:
            continue
        if _nav(df.schema[top].dataType, rest.split(".")) is not None:
            continue  # present in the input: explicit values win
        df = fill_default(df, schema, path, f, default)

    # stamp parquet field IDs (nested included) so files are readable
    # by-ID after renames/moves at any depth: DataFrame.to reconciles
    # columns and inner struct fields BY NAME (reorder + safe upcast),
    # then an explicit cast-to-id-carrying-type + alias attaches the
    # parquet.field.id metadata that fieldId.write.enabled turns into
    # footer field ids.  The alias metadata must be EXPLICIT — the
    # optimizer strips no-op aliases whose metadata came in implicitly,
    # which silently writes id-less files.  (Spark cannot stamp list
    # element / map key/value ids — ArrayType/MapType carry no metadata
    # slot — but their struct children get ids, which is what Spark's
    # own fieldId.read matching uses.)
    tgt = T.to_spark_type(T.StructType(*schema.fields))
    plain = _erase_metadata(tgt)
    df = df.to(plain).select(*[
        F.col(f.name).cast(f.dataType).alias(f.name, metadata=f.metadata)
        for f in tgt.fields])

    # variant shredding companions: materialize typed subcolumns next to
    # each VARIANT column (try_variant_get, JVM-vectorized) so the
    # parquet footers carry per-path min/max, folded below into the
    # spec's variant-bounds objects under the variant field id — the
    # metrics evaluator then prunes FILES on variant-path predicates.
    # The companions are physical-file-only: scans read with an explicit
    # schema, so they never surface.  Parity (behavior):
    # table/internal/variant_bounds.go + variant_shredding_writer.go.
    shred_map: Dict[str, Tuple[int, str, str]] = {}
    if properties.get("write.variant.shred.enabled",
                      "true").lower() == "true":
        import json as _json

        from ..variant import (analyze_shredding, shred_column,
                               shredded_leaf_paths)
        for f in schema.fields:
            if not isinstance(f.field_type, T.VariantType):
                continue
            # planner-style driver sample to infer the shredded shape
            # (most-common-type inference, variant_shredding.go)
            try:
                sample = [_json.loads(r[0]) for r in
                          df.select(F.col(f.name).cast("string"))
                          .limit(1024).collect() if r[0] is not None]
            except Exception:
                continue
            if not sample:
                continue
            inner = analyze_shredding(sample)
            if not isinstance(inner, T.StructType) or not inner.fields:
                continue
            comp = f"_shred_{f.name}"
            df = shred_column(df, f.name, inner, shredded_name=comp)
            for path, cname, t in shredded_leaf_paths(inner):
                if not t.is_primitive:
                    continue
                norm = "$" + "".join(f"['{seg}']"
                                     for seg in path[2:].split("."))
                shred_map[f"{comp}.{cname}"] = (f.field_id, norm, str(t))

    writer_df, pcols = partition_columns(df, schema, spec)
    zorder_cols = [c.strip() for c in
                   properties.get(PROP_ZORDER_COLUMNS, "").split(",")
                   if c.strip()]
    # write.distribution-mode=hash (the Iceberg default for partitioned
    # tables): shuffle rows to their partition before the fanout write, so
    # output files ≈ one-per-partition-per-target-size instead of
    # input_partitions × partition_values small files
    dist_mode = properties.get("write.distribution-mode",
                               "hash" if pcols else "none")
    if dist_mode not in ("none", "hash", "range", "zorder"):
        raise ValueError(
            f"unsupported write.distribution-mode: {dist_mode!r} "
            "(none, hash, range, zorder)")
    if dist_mode == "zorder":
        # Z-order clustering: interleave the bits of rank-bucketed
        # write.zorder.columns into one key, then range-distribute +
        # sort on it.  Files get TIGHT min/max bounds on EVERY z
        # dimension simultaneously, so a predicate on any one of them
        # prunes — the multi-dimensional analogue of the sorted-table
        # layout (a plain sort only helps its leading column).  The
        # z key is a layout decision, never part of query results.
        if not zorder_cols:
            raise ValueError(
                "write.distribution-mode=zorder requires "
                f"{PROP_ZORDER_COLUMNS!r}")
        zval = _zorder_value(writer_df, zorder_cols)
        writer_df = (writer_df.withColumn("__zorder", zval)
                     .repartitionByRange(F.col("__zorder"))
                     .sortWithinPartitions("__zorder")
                     .drop("__zorder"))
    elif dist_mode == "range":
        # range distribution: globally cluster by (partition cols, sort
        # order) — each task holds a contiguous key range, so sorted
        # tables get non-overlapping file min/max bounds and range
        # predicates prune to a handful of files (Iceberg
        # write.distribution-mode=range)
        range_cols = [F.col(c) for c in pcols]
        if sort_order and not sort_order.is_unsorted:
            range_cols += list(sort_order.spark_columns(schema))
        if range_cols:
            writer_df = writer_df.repartitionByRange(*range_cols)
    elif pcols and dist_mode == "hash":
        writer_df = writer_df.repartition(*[F.col(c) for c in pcols])
    if dist_mode != "zorder" and sort_order and not sort_order.is_unsorted:
        writer_df = writer_df.sortWithinPartitions(
            *sort_order.spark_columns(schema))

    target_size = int(properties.get(PROP_TARGET_FILE_SIZE,
                                     DEFAULT_TARGET_FILE_SIZE))
    # rows-per-file cap approximating the byte target (AQE handles the rest)
    sample_width = max(1, len(schema.fields) * 16)
    max_records = max(10_000, target_size // sample_width)

    writer = writer_df.write.mode("append") \
        .option("maxRecordsPerFile", str(max_records)) \
        .option("compression", properties.get("write.parquet.compression-codec",
                                              "zstd"))
    for k, v in _parquet_writer_options(properties).items():
        writer = writer.option(k, v)
    if pcols:
        writer = writer.partitionBy(*pcols)
    # live Parquet Modular Encryption when the table names a JVM
    # KmsClient; otherwise the metadata plane alone carries the DEKs.
    # The confs are SESSION-GLOBAL: an unencrypted table's write must
    # actively CLEAR any leftovers (from an earlier encrypted write or
    # a lazy encrypted read), or its files get silently encrypted under
    # the other table's footer key while its metadata says plaintext
    from ..encryption import (apply_parquet_encryption,
                              unapply_parquet_encryption)
    pme_on = apply_parquet_encryption(spark, properties)
    if not pme_on:
        unapply_parquet_encryption(spark)
    writer.parquet(out_dir)

    # discover written files + their partition tuples
    ptype = spec.partition_type(schema)
    files = discover_partitioned_files(
        out_dir, ptype,
        session_tz=spark.conf.get("spark.sql.session.timeZone", "UTC"))

    if not files:
        return []

    # object-storage layout: relocate each file under a murmur3 entropy
    # prefix (locations.go:116-173) so no single object-store key prefix
    # absorbs the whole table's request rate.  Spark's fanout writer can't
    # target per-file hashed dirs directly (the hash needs the final file
    # name), so this is a post-write move pass, parallelized on executors
    # — same rename the committer already performs on real object stores.
    from ..locations import (PROP_OBJECT_STORE_ENABLED, _truthy,
                             load_location_provider)
    if _truthy(properties, PROP_OBJECT_STORE_ENABLED, False):
        import shutil
        provider = load_location_provider(
            os.path.dirname(data_dir.rstrip("/")) or data_dir, properties)
        # Spark repeats task-based basenames across partition dirs
        # (part-00000-<job-uuid> in every partition one task wrote), so a
        # unique per-file prefix is required or hashed targets collide and
        # overwrite each other; it also decorrelates the entropy prefixes.
        # The file's partition dir (relative to the fanout root) rides
        # along so `write.object-storage.partitioned-paths` can keep it
        # inside the entropy prefix (the default) or drop it.
        def _part_dir(p: str) -> Optional[str]:
            rel = os.path.relpath(os.path.dirname(p), out_dir)
            return None if rel in (".", "") else rel

        moves = [(p, provider.new_data_location(
            f"{_uuid.uuid4().hex[:12]}-{os.path.basename(p)}",
            partition_path=_part_dir(p)))
                 for p, _ in files]

        def _mv(pair):
            import os as _os
            import shutil as _sh
            src, dst = pair
            _os.makedirs(_os.path.dirname(dst), exist_ok=True)
            _sh.move(src, dst)

        spark.sparkContext.parallelize(
            moves, max(1, min(len(moves), 64))).foreach(_mv)
        files = [(dst, part) for (_s, dst), (_p, part) in zip(moves, files)]
        shutil.rmtree(out_dir, ignore_errors=True)

    out = harvest_data_files(
        spark, files, schema, properties, shred_map=shred_map,
        encrypted=pme_on,
        # zorder distribution SKIPS the sort-order sort (Morton-key
        # clustering instead): claiming sort_order_id would tell
        # readers the files are order-sorted when they are not
        sort_order_id=(sort_order.order_id
                       if sort_order and dist_mode != "zorder" else None))
    # encrypted tables: stamp a wrapped per-file DEK envelope on every
    # new data file (encryption.table-key-id + kms-type properties)
    from ..encryption import attach_file_keys
    attach_file_keys(out, properties)
    return out
