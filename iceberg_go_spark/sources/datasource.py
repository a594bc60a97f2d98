"""PySpark Python DataSource over the engine's scan planner.

Registers a batch source so any Spark user can read engine tables with
the stock reader API::

    from iceberg_go_spark.sources.datasource import register
    register(spark)
    df = (spark.read.format("iceberg_go_spark")
          .option("warehouse", "/wh").option("table", "db.t").load())

Division of labor (the Spark-first shape):

- the DRIVER side (``schema``/``pushFilters``/``partitions``) runs the
  engine's planner: snapshot resolution (``snapshot_id``/``ref``
  options), manifest+metrics pruning with the pushed filters, byte-range
  task splitting — one InputPartition per FileScanTask, shipped as the
  engine's task-codec JSON (the same wire format the REST planning
  endpoint speaks).
- the EXECUTOR side (``read``) is a pyarrow row-group reader: it reads
  only the row groups inside the task's byte range, applies positional
  deletes and deletion vectors as a vectorized row-index mask, applies
  the task's equality deletes as a null-safe key anti-join (task-local
  key sets — the executor analogue of the relational path's broadcast
  side), and yields Arrow batches.
- filters are pushed for FILE pruning only and all of them are returned
  to Spark as leftovers, so Spark re-applies them row-level (partial
  pushdown — pruning is a performance contract, never a correctness
  one).

Parity note: this is the Spark-native analogue of the reference's Arrow
scanner entry point (table/arrow_scanner.go) — same planning semantics,
but Spark owns parallelism and the row-level filter.
"""

from __future__ import annotations

import os
from typing import Iterator, List

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamReader,
                                    DataSourceWriter, EqualTo,
                                    GreaterThan, InputPartition,
                                    WriterCommitMessage)
import pyspark.sql.types as ST

FORMAT_NAME = "iceberg_go_spark"


_PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"


def register(spark) -> None:
    """Register the DataSource against ANY session, ours or foreign.
    Spark rejects a reader implementing `pushFilters` when
    `spark.sql.python.filterPushdown.enabled` is false, so first try to
    turn the conf on (it is a runtime SQL conf); if the session refuses
    or it stays false, register the pushdown-less variant — the scan
    still prunes files from explicit options, it just loses the
    filter-hook file pruning."""
    try:
        spark.conf.set(_PUSHDOWN_CONF, "true")
    except Exception:
        pass  # conf locked down: fall through to the value check
    try:
        enabled = str(spark.conf.get(_PUSHDOWN_CONF, "false")).lower() \
            == "true"
    except Exception:
        enabled = False
    try:
        spark.dataSource.register(
            IcebergGoSparkDataSource if enabled
            else IcebergGoSparkDataSourceNoPushdown)
    except Exception as exc:  # cloned sessions inherit the parent's
        # registration and Spark refuses a re-register there
        # (DATA_SOURCE_ALREADY_EXISTS); the inherited class is safe as
        # long as the conf is on (a hook-less reader works under either
        # conf value) — only conf-off + inherited-pushdown is fatal
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise
        if not enabled:
            raise RuntimeError(
                f"'{FORMAT_NAME}' was registered by a parent session "
                f"with the pushFilters hook, but {_PUSHDOWN_CONF} is "
                f"false and cannot be enabled here — reads would fail "
                f"with DATA_SOURCE_PUSHDOWN_DISABLED; enable the conf "
                f"or register from a fresh session") from exc


def _load_table(options):
    from ..catalog import FilesystemCatalog
    wh = options.get("warehouse")
    ident = options.get("table")
    if not wh or not ident:
        raise ValueError(
            "iceberg_go_spark source needs options warehouse and table")
    return FilesystemCatalog(wh).load_table(ident)


def _scan(options, row_filter=None):
    t = _load_table(options)
    kw = {}
    if options.get("snapshot_id"):
        kw["snapshot_id"] = int(options["snapshot_id"])
    if options.get("ref"):
        kw["ref"] = options["ref"]
    if options.get("as_of"):
        # epoch millis, or an ISO timestamp (UTC assumed when naive)
        v = options["as_of"]
        try:
            kw["as_of_ms"] = int(v)
        except ValueError:
            import datetime as _dt
            ts = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            kw["as_of_ms"] = int(ts.timestamp() * 1000)
    return t.scan(row_filter=row_filter, **kw)


class IcebergGoSparkDataSource(DataSource):
    _push_enabled = True

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> ST.StructType:
        return _scan(self.options).projection().to_spark()

    def reader(self, schema: ST.StructType) -> "_Reader":
        # fail loudly up front: the batch reader materializes files with
        # pyarrow, which in this container cannot open parquet footers
        # carrying the VARIANT logical type — the relational path
        # (table.to_df / scan API) reads those fine through Spark
        if any(t == "variant" or "variant" in t
               for t in (f.dataType.simpleString() for f in schema.fields)):
            raise NotImplementedError(
                "variant-bearing tables are not readable through the "
                "Python DataSource in this environment (pyarrow lacks "
                "the VARIANT logical type) — use table.to_df(spark) or "
                "the scan API instead")
        return (_Reader if self._push_enabled
                else _ReaderBase)(self.options, schema)

    def streamReader(self, schema: ST.StructType) -> "_StreamReader":
        return _StreamReader(self.options, schema)

    def writer(self, schema: ST.StructType,
               overwrite: bool) -> "_Writer":
        if overwrite:
            raise ValueError(
                "mode('overwrite') is not supported; use "
                "Table.overwrite_where for filtered overwrites")
        return _Writer(self.options, schema)


class IcebergGoSparkDataSourceNoPushdown(IcebergGoSparkDataSource):
    """Same source under the same format name, but serves a reader that
    does NOT implement `pushFilters` — for sessions where
    `spark.sql.python.filterPushdown.enabled` is false (Spark refuses the
    hook outright there: DATA_SOURCE_PUSHDOWN_DISABLED)."""
    _push_enabled = False


class _TableRows:
    """Executor-side reads of a table's data files, shared by the batch
    and the stream reader.  Columns resolve by parquet field id, through
    the table's name mapping for ID-less files (by current names where
    the table has none), and read as the v3 initial-default where a file
    predates the field — the resolution ``scan.read_data_files`` applies
    on the relational path.  Everything is captured on the driver and
    pickled to executors."""

    def __init__(self, options, schema: ST.StructType):
        from ..encryption import table_encryption_enabled
        from ..meta.name_mapping import NameMapping, PROP_NAME_MAPPING
        self.options = dict(options)
        self.spark_schema = schema
        self.columns = [f.name for f in schema.fields]
        t = _load_table(options)
        sch = t.schema()
        props = t.metadata.properties
        self._defaults = {f.name: f.initial_default for f in sch.fields
                          if f.initial_default is not None}
        # field-id -> current column name
        self._col_by_id = {f.field_id: f.name for f in sch.fields}
        self._nm_json = (props.get(PROP_NAME_MAPPING)
                         or NameMapping.from_schema(sch).to_json())
        # encrypted tables: executors rebuild the KMS client from these
        # properties and decrypt parquet via pyarrow PME — the JVM
        # reader can't without a classpath KmsClient (encryption.py,
        # parity table/encryption.go:76)
        self._enc_props = (dict(props) if table_encryption_enabled(props)
                           else None)
        self._crypto = None  # built on the executor, by _open

    def _open(self, path: str):
        import pyarrow.parquet as pq
        if not self._enc_props:
            return pq.ParquetFile(path)
        if self._crypto is None:
            from ..encryption import pyarrow_decryption_properties
            # (factory, properties): the factory must stay referenced
            # while its properties are in use
            self._crypto = pyarrow_decryption_properties(self._enc_props)
        return pq.ParquetFile(path, decryption_properties=self._crypto[1])

    def _read_row_groups(self, pf, path: str, groups):
        """Row groups ``groups`` of the open file ``pf`` as an Arrow
        table of the current columns, under their current names."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..meta.name_mapping import NameMapping
        from ..table.scan import _footer_field_ids

        top, _ids = _footer_field_ids(path, pf)
        if any(fid is not None for _n, fid in top):
            by_id = {fid: name for name, fid in top if fid is not None}
        else:
            nm = NameMapping.from_json(self._nm_json)
            by_id = {}
            for name, _fid in top:
                by_id.setdefault(nm.id_for(name), name)
        src = {name: by_id.get(fid)
               for fid, name in self._col_by_id.items()}
        table = pf.read_row_groups(
            groups, columns=[src[c] for c in self.columns if src.get(c)])
        aschema = to_arrow_schema(self.spark_schema)
        cols = []
        for c in self.columns:
            if src.get(c):
                cols.append(table.column(src[c]))
                continue
            # absent from this file (added after it was written): the
            # v3 initial-default where declared, else nulls
            fld, val = aschema.field(c), self._defaults.get(c)
            cols.append(pa.nulls(table.num_rows, fld.type) if val is None
                        else pa.array([val] * table.num_rows)
                        .cast(fld.type))
        return pa.Table.from_arrays(cols, names=self.columns)


class _ReaderBase(_TableRows, DataSourceReader):
    """File-pruning batch reader WITHOUT `pushFilters` — served when
    `spark.sql.python.filterPushdown.enabled` is false (a session we did
    not build), where Spark refuses any reader that implements the hook
    (DATA_SOURCE_PUSHDOWN_DISABLED).  `_Reader` layers the hook on top."""

    def __init__(self, options, schema: ST.StructType):
        super().__init__(options, schema)
        self.pushed = []  # [(col, op, value)] — picklable, not Column

    def _row_filter(self):
        from .. import expressions as E
        expr = None
        for col, op, val in self.pushed:
            piece = E.eq(col, val) if op == "eq" else E.gt(col, val)
            expr = piece if expr is None else E.and_(expr, piece)
        return expr

    def partitions(self) -> List[InputPartition]:
        # NOTE (upstream quirk): Spark plans python-source reads in a
        # worker with a FRESH reader per plan (pushFilters -> partitions,
        # sql/worker/data_source_pushdown_filters.py), but the planned
        # partitions are cached on the shared relation — after a
        # FILTERED action on a DataFrame, an unfiltered action on the
        # SAME DataFrame can reuse the file-pruned partitions.  Use a
        # fresh load() per query (the normal reader pattern) when mixing
        # filtered and unfiltered reads of one loaded DataFrame.
        from .task_codec import encode_tasks
        scan = _scan(self.options, self._row_filter())
        tasks = scan.plan_tasks()
        # one partition per byte-range task; encode per task so each
        # executor deserializes only its own slice (eq-delete files ride
        # along in the task wire form and are applied in read())
        return [InputPartition(encode_tasks([t])) for t in tasks]

    def read(self, partition) -> Iterator:
        import numpy as np
        import pyarrow as pa

        from .task_codec import decode_tasks

        (task,) = decode_tasks(partition.value)
        df_meta = task.data_file
        pf = self._open(df_meta.file_path)

        # row groups whose byte range starts inside [start, start+length)
        # (split_tasks carves on row-group boundaries, same rule here)
        end = task.start + (task.length or df_meta.file_size_in_bytes)
        groups, first_row = [], 0
        for i in range(pf.metadata.num_row_groups):
            rg = pf.metadata.row_group(i)
            off = rg.column(0).file_offset or rg.column(0).data_page_offset
            if task.start <= off < end:
                groups.append(i)
            elif not groups:
                # rows before the first selected group (ranges carved on
                # row-group boundaries are contiguous)
                first_row += rg.num_rows

        if not groups:
            return
        table = self._read_row_groups(pf, df_meta.file_path, groups)

        deleted = self._deleted_positions(task)
        if deleted.size:
            # global row index of every row in the slice we read
            base = first_row
            idx = np.arange(base, base + table.num_rows, dtype=np.int64)
            keep = ~np.isin(idx, deleted)
            table = table.filter(pa.array(keep))
        table = self._apply_eq_deletes(task, table)
        for batch in table.to_batches():
            yield batch

    def _apply_eq_deletes(self, task, table):
        """Null-safe equality-delete anti-join, per task, executor-side:
        the planner already gated which delete files apply to this data
        file (seq_delete > seq_data, partition scope), so this only has
        to drop rows whose key tuple appears in the attached files.
        Null-tagged semantics: a delete key with NULL matches rows with
        NULL (equality_delete_reader.go:53-180).  The key set is
        per-task-local (the executor analogue of the relational path's
        broadcast side); billion-key histories should read through
        Table.to_df, where AQE picks a shuffled anti-join."""
        if not task.eq_deletes:
            return table
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        groups: dict = {}
        for d in task.eq_deletes:
            groups.setdefault(tuple(d.equality_ids or ()),
                              []).append(d.file_path)
        for eq_ids, paths in sorted(groups.items()):
            cols = []
            for fid in eq_ids:
                name = self._col_by_id.get(fid)
                if name is None:
                    raise ValueError(
                        f"equality delete references unknown field id "
                        f"{fid}")
                cols.append(name)
            keys = pa.concat_tables(
                [pq.read_table(p, columns=cols) for p in sorted(set(paths))]
            ).to_pandas().drop_duplicates()
            if not len(keys) or not table.num_rows:
                continue
            # pandas merge factorizes keys, so NaN/None match NaN/None —
            # exactly the null-tagged encoding we need
            data = table.select(cols).to_pandas()
            merged = data.merge(keys, on=cols, how="left", indicator=True)
            keep = (merged["_merge"] == "left_only").to_numpy()
            table = table.filter(pa.array(keep))
        return table

    @staticmethod
    def _deleted_positions(task):
        """Positions deleted in this task's data file, from positional
        delete parquet files and puffin deletion vectors."""
        import numpy as np
        import pyarrow.parquet as pq

        out = []
        for d in task.pos_deletes:
            if d.file_format == "PUFFIN":
                from ..meta.dv import (deserialize_dv,
                                       read_deletion_vector_blobs,
                                       read_dv_blob_slice)
                if d.referenced_data_file is not None:
                    # v3: manifest entry locates the blob directly
                    if d.referenced_data_file == task.data_file.file_path:
                        out.append(deserialize_dv(read_dv_blob_slice(
                            d.file_path, d.content_offset,
                            d.content_size_in_bytes)).to_numpy())
                    continue
                blob = read_deletion_vector_blobs(d.file_path).get(
                    task.data_file.file_path)
                if blob is not None:
                    out.append(deserialize_dv(blob).to_numpy())
            else:
                t = pq.read_table(d.file_path,
                                  columns=["file_path", "pos"])
                mask = np.asarray(t["file_path"]) == \
                    task.data_file.file_path
                out.append(np.asarray(t["pos"])[mask].astype(np.int64))
        if not out:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(out))


class _Reader(_ReaderBase):
    """`_ReaderBase` + the `pushFilters` planning hook.  Only served when
    `spark.sql.python.filterPushdown.enabled` is true — Spark raises
    DATA_SOURCE_PUSHDOWN_DISABLED for a reader implementing the hook
    under a session with the conf off."""

    def pushFilters(self, filters):
        """Use supported filters to prune FILES at planning time; return
        every filter (by reference) so Spark still applies them to rows
        — partial pushdown per the DataSource contract."""
        for f in filters:
            if isinstance(f, EqualTo) and len(f.attribute) == 1:
                self.pushed.append((f.attribute[0], "eq", f.value))
            elif isinstance(f, GreaterThan) and len(f.attribute) == 1:
                self.pushed.append((f.attribute[0], "gt", f.value))
            yield f


class _StreamReader(_TableRows, DataSourceStreamReader):
    """Incremental snapshot streaming: spark.readStream over an engine
    table.  Offsets are snapshot ids (the engine's natural changelog
    cursor, parity table/snapshot_ancestry.go AncestorsBetween); each
    microbatch covers the data files ADDED by append/overwrite snapshots
    in (start, end], one InputPartition per file so the batch reads in
    parallel on executors.  With option starting_snapshot_id=0 the first
    batch replays the whole table (earliest); by default streaming
    starts at the CURRENT snapshot (latest, new appends only)."""

    def initialOffset(self) -> dict:
        start = self.options.get("starting_snapshot_id")
        if start is not None:
            return {"snapshot_id": int(start)}
        t = _load_table(self.options)
        return {"snapshot_id": int(t.metadata.current_snapshot_id or 0)}

    def latestOffset(self) -> dict:
        t = _load_table(self.options)  # re-load: sees new commits
        return {"snapshot_id": int(t.metadata.current_snapshot_id or 0)}

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        from ..streaming.source import added_files_between
        s, e = start["snapshot_id"], end["snapshot_id"]
        if e == 0 or s == e:
            return []
        t = _load_table(self.options)
        files = added_files_between(t, s or None, e)
        return [InputPartition(p) for p in files]

    def read(self, partition) -> Iterator:
        pf = self._open(partition.value)
        groups = range(pf.metadata.num_row_groups)
        if groups:
            yield from self._read_row_groups(
                pf, partition.value, groups).to_batches()

    def commit(self, end: dict) -> None:
        pass  # progress lives in Spark's checkpoint, not the table


class _CommitMsg(WriterCommitMessage):
    def __init__(self, data_file):
        self.data_file = data_file  # None for empty partitions


class _Writer(DataSourceWriter):
    """Distributed append through the engine transaction: each executor
    writes its partition as one parquet file (arrow, spec field-ids in
    the schema metadata) directly into the table's data directory and
    harvests its footer in-process (``harvest_data_files``); the driver
    commits the collected DataFiles as ONE append snapshot via
    Transaction.append_files — no second stats job, no data movement.
    A failed job aborts by unlinking the written files (the commit never
    happened, so the table never saw them)."""

    def __init__(self, options, schema: ST.StructType):
        self.options = dict(options)
        self.spark_schema = schema
        t = _load_table(options)
        if not t.metadata.spec().is_unpartitioned:
            raise ValueError(
                "DataSource writes currently target unpartitioned "
                "tables; use Table.append for partitioned fan-out")
        self.schema = t.schema()
        self.properties = dict(t.metadata.properties)
        self.data_dir = os.path.join(t.metadata.location, "data")

    def write(self, iterator) -> _CommitMsg:
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..table.write import harvest_data_files, stamp_field_ids

        rows = list(iterator)
        if not rows:
            return _CommitMsg(None)
        cols = [f.name for f in self.spark_schema.fields]
        pdf = pd.DataFrame.from_records(rows, columns=cols)
        arrow_schema = stamp_field_ids(to_arrow_schema(self.spark_schema),
                                       self.schema)
        table = pa.Table.from_pandas(pdf, schema=arrow_schema,
                                     preserve_index=False)
        os.makedirs(self.data_dir, exist_ok=True)
        path = os.path.join(self.data_dir, f"ds-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, path)
        (data_file,) = harvest_data_files(None, [(path, {})], self.schema,
                                          self.properties)
        return _CommitMsg(data_file)

    def commit(self, messages) -> None:
        files = [m.data_file for m in messages
                 if getattr(m, "data_file", None) is not None]
        if not files:
            return
        t = _load_table(self.options)
        txn = t.new_transaction()
        txn.append_files(files)
        txn.commit()

    def abort(self, messages) -> None:
        for m in messages:
            d = getattr(m, "data_file", None)
            if d is not None:
                try:
                    os.remove(d.file_path)
                except OSError:
                    pass
