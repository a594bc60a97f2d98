"""Hive Metastore catalog.

Parity (behavior only): /root/reference/catalog/hive/hive.go (~1069 LoC),
lock.go, schema.go. One HMS table per Iceberg table with
``parameters.table_type = "ICEBERG"`` and the pointer in
``parameters.metadata_location`` (schema.go:139-160); commits take an
HMS EXCLUSIVE table lock, re-read the pointer under the lock, and treat
a moved pointer as a retryable conflict (hive.go:554-627, the Java
HiveTableOperations protocol). Renames lock BOTH tables in sorted order
(lock.go:51-61) and verify the source pointer under the lock
(hive.go:479-552).

The client is duck-typed to the Thrift metastore surface
(client.go:30-48) with plain dicts for Database/Table/lock structs; wire
a real ``hmsclient``/thrift client behind the same method names (the
test suite drives an in-memory double from ``tests/support``).
"""

from __future__ import annotations

import time
import uuid
from typing import Any, Dict, List, Optional, Tuple

from ..meta.metadata import TableMetadata, new_table_metadata
from ..meta.partitioning import PartitionSpec, SortOrder
from ..schema import Schema
from .filesystem import (CommitConflictError, NoSuchTableError,
                         TableAlreadyExistsError, _ident)
from .glue import NoSuchNamespaceError, _glue_type

TABLE_TYPE_ICEBERG = "ICEBERG"
TABLE_TYPE_ICEBERG_VIEW = "ICEBERG_VIEW"
TABLE_TYPE_EXTERNAL = "EXTERNAL_TABLE"
TABLE_TYPE_VIRTUAL_VIEW = "VIRTUAL_VIEW"
PARAM_TABLE_TYPE = "table_type"
PARAM_METADATA_LOCATION = "metadata_location"
PARAM_PREV_METADATA_LOCATION = "previous_metadata_location"
PARAM_EXTERNAL = "EXTERNAL"
PARAM_STORAGE_HANDLER = "storage_handler"
ICEBERG_STORAGE_HANDLER = \
    "org.apache.iceberg.mr.hive.HiveIcebergStorageHandler"

LOCK_ACQUIRED = "ACQUIRED"
LOCK_WAITING = "WAITING"


class LockAcquisitionError(Exception):
    pass


def _hive_columns(schema: Schema) -> List[Dict[str, str]]:
    return [{"name": f.name, "type": _glue_type(f.field_type),
             "comment": f.doc or ""} for f in schema.fields]


def _hive_table(db: str, name: str, metadata: TableMetadata,
                metadata_location: str,
                prev: Optional[Dict[str, Any]]) -> Dict[str, Any]:
    """HMS Table dict for a commit (schema.go constructHiveTable /
    updateHiveTableForCommit): carries forward foreign parameters, moves
    the old pointer to previous_metadata_location."""
    params: Dict[str, str] = {}
    if prev is not None:
        params.update(prev.get("parameters") or {})
    params.update({k: str(v) for k, v in metadata.properties.items()})
    params.pop(PARAM_PREV_METADATA_LOCATION, None)
    if prev is not None:
        old = (prev.get("parameters") or {}).get(PARAM_METADATA_LOCATION)
        if old:
            params[PARAM_PREV_METADATA_LOCATION] = old
    params[PARAM_TABLE_TYPE] = TABLE_TYPE_ICEBERG
    params[PARAM_METADATA_LOCATION] = metadata_location
    params[PARAM_EXTERNAL] = "TRUE"
    params[PARAM_STORAGE_HANDLER] = ICEBERG_STORAGE_HANDLER
    return {
        "dbName": db,
        "tableName": name,
        "tableType": TABLE_TYPE_EXTERNAL,
        "parameters": params,
        "sd": {
            "location": metadata.location,
            "cols": _hive_columns(metadata.schema()),
            "inputFormat": "org.apache.iceberg.mr.hive.HiveIcebergInputFormat",
            "outputFormat":
                "org.apache.iceberg.mr.hive.HiveIcebergOutputFormat",
            "serdeInfo": {"serializationLib":
                          "org.apache.iceberg.mr.hive.HiveIcebergSerDe"},
        }}


class _HiveLock:
    def __init__(self, client: Any, lock_id: int):
        self.client = client
        self.lock_id = lock_id

    def release(self) -> None:
        try:
            self.client.unlock(self.lock_id)
        except Exception:  # noqa: BLE001 — release is best-effort cleanup
            pass


class HiveCatalog:
    """Iceberg catalog over a Hive Metastore.

    ``client`` is anything with the Thrift metastore methods
    (get_database, create_database, alter_database, drop_database,
    get_all_databases, get_table, create_table, alter_table, drop_table,
    get_tables, lock, check_lock, unlock) taking/returning plain dicts.
    """

    def __init__(self, warehouse: str, client: Any, name: str = "hive",
                 lock_retries: int = 10, lock_min_wait_s: float = 0.05,
                 lock_max_wait_s: float = 2.0):
        self.warehouse = warehouse
        self.client = client
        self.name = name
        self.lock_retries = lock_retries
        self.lock_min_wait_s = lock_min_wait_s
        self.lock_max_wait_s = lock_max_wait_s

    # -- locks (lock.go:51-143) ---------------------------------------------
    def _acquire_locks(self, idents: List[Tuple[str, str]]) -> _HiveLock:
        """EXCLUSIVE table locks on every identifier in one request,
        sorted for a global order (deadlock avoidance); WAITING states
        are polled with exponential backoff."""
        components = [{"type": "EXCLUSIVE", "level": "TABLE",
                       "dbname": db, "tablename": tb}
                      for db, tb in sorted(set(idents))]
        resp = self.client.lock({"component": components})
        lock_id, state = resp["lockid"], resp["state"]
        if state == LOCK_ACQUIRED:
            return _HiveLock(self.client, lock_id)
        wait = self.lock_min_wait_s
        for _ in range(self.lock_retries):
            if state != LOCK_WAITING:
                break
            time.sleep(wait)
            wait = min(wait * 2, self.lock_max_wait_s)
            state = self.client.check_lock(lock_id)["state"]
            if state == LOCK_ACQUIRED:
                return _HiveLock(self.client, lock_id)
        try:
            self.client.unlock(lock_id)
        except Exception:  # noqa: BLE001
            pass
        raise LockAcquisitionError(
            f"failed to acquire lock ({state}) for "
            + ", ".join(f"{d}.{t}" for d, t in idents))

    def _acquire_lock(self, db: str, table: str) -> _HiveLock:
        return self._acquire_locks([(db, table)])

    # -- plumbing ------------------------------------------------------------
    @staticmethod
    def _db_table(identifier) -> Tuple[str, str]:
        parts = _ident(identifier)
        if len(parts) != 2:
            raise ValueError(
                f"Hive identifiers are database.table, got {parts}")
        return parts[0], parts[1]

    def _get_table(self, db: str, name: str) -> Dict[str, Any]:
        t = self.client.get_table(db, name)
        if t is None:
            raise NoSuchTableError(f"{db}.{name}")
        return t

    def _iceberg_table(self, db: str, name: str) -> Dict[str, Any]:
        t = self._get_table(db, name)
        params = t.get("parameters") or {}
        if params.get(PARAM_TABLE_TYPE, "").upper() != TABLE_TYPE_ICEBERG:
            raise NoSuchTableError(
                f"{db}.{name} is not an Iceberg table "
                f"(table_type={params.get(PARAM_TABLE_TYPE)!r})")
        return t

    # -- namespaces ----------------------------------------------------------
    def create_namespace(self, namespace,
                         properties: Optional[Dict[str, str]] = None
                         ) -> None:
        ns = ".".join(_ident(namespace))
        props = dict(properties or {})
        db = {"name": ns,
              "locationUri": props.pop(
                  "location", f"{self.warehouse.rstrip('/')}/{ns}.db"),
              "description": props.pop("comment", ""),
              "parameters": props}
        if self.client.get_database(ns) is not None:
            raise TableAlreadyExistsError(f"namespace {ns}")
        self.client.create_database(db)

    def namespace_exists(self, namespace) -> bool:
        return self.client.get_database(
            ".".join(_ident(namespace))) is not None

    def list_namespaces(self) -> List[Tuple[str, ...]]:
        return sorted((n,) for n in self.client.get_all_databases())

    def load_namespace_properties(self, namespace) -> Dict[str, str]:
        ns = ".".join(_ident(namespace))
        db = self.client.get_database(ns)
        if db is None:
            raise NoSuchNamespaceError(ns)
        props = dict(db.get("parameters") or {})
        if db.get("locationUri"):
            props["location"] = db["locationUri"]
        if db.get("description"):
            props["comment"] = db["description"]
        return props

    def update_namespace_properties(self, namespace,
                                    removals: Optional[List[str]] = None,
                                    updates: Optional[Dict[str, str]] = None
                                    ) -> None:
        ns = ".".join(_ident(namespace))
        overlap = set(removals or []) & set(updates or {})
        if overlap:
            raise ValueError(
                f"properties in both removals and updates: {sorted(overlap)}")
        props = self.load_namespace_properties(namespace)
        for k in removals or []:
            props.pop(k, None)
        props.update(updates or {})
        db = {"name": ns,
              "locationUri": props.pop("location", ""),
              "description": props.pop("comment", ""),
              "parameters": props}
        self.client.alter_database(ns, db)

    def drop_namespace(self, namespace) -> None:
        ns = ".".join(_ident(namespace))
        if self.client.get_database(ns) is None:
            raise NoSuchNamespaceError(ns)
        if self.list_tables(namespace):
            raise ValueError(f"namespace {ns} is not empty")
        self.client.drop_database(ns, False, False)

    # -- tables --------------------------------------------------------------
    def list_tables(self, namespace) -> List[Tuple[str, ...]]:
        ns = ".".join(_ident(namespace))
        if self.client.get_database(ns) is None:
            raise NoSuchNamespaceError(ns)
        out = []
        for name in self.client.get_tables(ns, "*"):
            t = self.client.get_table(ns, name)
            params = (t or {}).get("parameters") or {}
            if params.get(PARAM_TABLE_TYPE, "").upper() \
                    == TABLE_TYPE_ICEBERG:
                out.append((ns, name))
        return sorted(out)

    def create_table(self, identifier, schema: Schema,
                     spec: Optional[PartitionSpec] = None,
                     sort_order: Optional[SortOrder] = None,
                     properties: Optional[Dict[str, str]] = None):
        from ..io import load_io
        from ..locations import load_location_provider
        from ..table.table import Table
        db, name = self._db_table(identifier)
        ns_props = self.load_namespace_properties((db,))
        base = ns_props.get("location") or f"{self.warehouse}/{db}.db"
        location = f"{base.rstrip('/')}/{name}"
        md = new_table_metadata(schema, spec or PartitionSpec(),
                                location=location, properties=properties,
                                sort_order=sort_order)
        path = load_location_provider(
            location, md.properties).new_table_metadata_file_location(1)
        md.write(path)
        if self.client.get_table(db, name) is not None:
            load_io(path).delete(path)
            raise TableAlreadyExistsError(f"{db}.{name}")
        try:
            self.client.create_table(_hive_table(db, name, md, path, None))
        except Exception:
            load_io(path).delete(path)
            raise
        return Table((db, name), md, path, self)

    def register_table(self, identifier, metadata_location: str):
        from ..table.table import Table
        db, name = self._db_table(identifier)
        md = TableMetadata.read(metadata_location)
        if self.client.get_table(db, name) is not None:
            raise TableAlreadyExistsError(f"{db}.{name}")
        self.client.create_table(
            _hive_table(db, name, md, metadata_location, None))
        return Table((db, name), md, metadata_location, self)

    def load_table(self, identifier):
        from ..table.table import Table
        db, name = self._db_table(identifier)
        t = self._iceberg_table(db, name)
        loc = (t.get("parameters") or {}).get(PARAM_METADATA_LOCATION)
        if not loc:
            raise NoSuchTableError(
                f"{db}.{name} has no metadata_location parameter")
        return Table((db, name), TableMetadata.read(loc), loc, self)

    def table_exists(self, identifier) -> bool:
        try:
            db, name = self._db_table(identifier)
            self._iceberg_table(db, name)
            return True
        except NoSuchTableError:
            return False

    def drop_table(self, identifier, purge: bool = False) -> None:
        """Lock, re-read, drop (hive.go:426-457): the lock prevents a drop
        from racing a concurrent commit's alter."""
        db, name = self._db_table(identifier)
        self._iceberg_table(db, name)
        lock = self._acquire_lock(db, name)
        try:
            t = self._iceberg_table(db, name)
            self.client.drop_table(db, name, False)
        finally:
            lock.release()
        if purge:
            loc = (t.get("parameters") or {}).get(PARAM_METADATA_LOCATION)
            if loc:
                try:
                    md = TableMetadata.read(loc)
                    from ..table.maintenance import purge_table_files
                    purge_table_files(md, loc)
                except (OSError, ValueError, KeyError):
                    pass

    def rename_table(self, src, dst) -> None:
        """Lock both tables in sorted order, verify the source pointer
        under the lock, then alter dbName/tableName (hive.go:479-552)."""
        sdb, sname = self._db_table(src)
        ddb, dname = self._db_table(dst)
        if self.client.get_database(ddb) is None:
            raise NoSuchNamespaceError(ddb)
        source = self._iceberg_table(sdb, sname)
        src_loc = (source.get("parameters") or {}).get(
            PARAM_METADATA_LOCATION)
        if self.client.get_table(ddb, dname) is not None:
            raise TableAlreadyExistsError(f"{ddb}.{dname}")
        lock = self._acquire_locks([(sdb, sname), (ddb, dname)])
        try:
            locked = self._iceberg_table(sdb, sname)
            locked_loc = (locked.get("parameters") or {}).get(
                PARAM_METADATA_LOCATION)
            if locked_loc != src_loc:
                raise CommitConflictError(
                    f"source table changed during rename: {sdb}.{sname} "
                    f"moved {src_loc} -> {locked_loc}")
            renamed = dict(locked)
            renamed["dbName"], renamed["tableName"] = ddb, dname
            self.client.alter_table(sdb, sname, renamed)
        finally:
            lock.release()

    # -- commit (HMS exclusive lock, hive.go:554-627) ------------------------
    def commit_table(self, identifier, base_metadata_path: Optional[str],
                     metadata: TableMetadata) -> str:
        from ..io import load_io
        from ..locations import load_location_provider
        db, name = self._db_table(identifier)
        try:
            lock = self._acquire_lock(db, name)
        except LockAcquisitionError as e:
            # contention is Hive's concurrent-writer signal: retryable
            raise CommitConflictError(str(e)) from e
        path = None
        try:
            current = self.client.get_table(db, name)
            cur_loc = None
            if current is not None:
                cur_loc = (current.get("parameters") or {}).get(
                    PARAM_METADATA_LOCATION)
            # CAS under the lock: the base the writer saw must still be
            # the catalog pointer
            if base_metadata_path is not None and cur_loc \
                    != base_metadata_path:
                raise CommitConflictError(
                    f"{db}.{name}: expected base {base_metadata_path}, "
                    f"catalog points at {cur_loc}")
            if base_metadata_path is None and current is not None:
                raise TableAlreadyExistsError(f"{db}.{name}")
            version = self._next_version(base_metadata_path)
            path = load_location_provider(
                metadata.location, metadata.properties
            ).new_table_metadata_file_location(version)
            metadata.write(path)
            tbl = _hive_table(db, name, metadata, path, current)
            if current is not None:
                self.client.alter_table(db, name, tbl)
            else:
                self.client.create_table(tbl)
        except BaseException:
            if path is not None:
                try:
                    load_io(path).delete(path)
                except OSError:
                    pass
            raise
        finally:
            lock.release()
        return path

    def commit_transaction(self, commits) -> List[str]:
        if len(commits) == 1:
            c = commits[0]
            return [self.commit_table(c.identifier, c.base_metadata_path,
                                      c.metadata)]
        raise NotImplementedError(
            "Hive Metastore cannot commit multiple tables atomically")

    @staticmethod
    def _next_version(base_metadata_path: Optional[str]) -> int:
        import os
        if base_metadata_path:
            prefix = os.path.basename(base_metadata_path).split("-", 1)[0]
            try:
                return int(prefix) + 1
            except ValueError:
                pass
        return 1

