"""SQL catalog over any DB-API driver — the reference's catalog/sql/sql.go
(1858 LoC, bun ORM, dialects sqlite/postgres/mysql/mssql/oracle,
sql.go:44-50) re-expressed as a dialect layer over DB-API connections with
the same table layout (iceberg_tables / iceberg_namespace_properties) and
the same CAS semantics: commit = UPDATE ... WHERE metadata_location =
<expected>.

Dialects: sqlite (stdlib, default), postgres, mysql, mssql, and oracle
— the reference's full set.  The non-sqlite
dialects are driver-duck-typed like the Glue/Hive pattern — pass
``connect=`` a zero-arg callable returning a DB-API connection (psycopg /
pg8000 / pymysql / MySQLdb drop in unchanged; the test suite's
fake-wire adapters in ``tests/support/fake_pg.py`` speak each backend's
parameter style, upsert syntax, and exception surface).  All statements are written in
'?'-placeholder form and translated per dialect; transactions are explicit
BEGIN/COMMIT statements on autocommit connections, so multi-statement ops
(multi-table commits, namespace property updates) are atomic on every
backend.

Metadata/manifest files live on the filesystem under the warehouse, as with
the FS catalog; only the pointer swap is transactional in SQL.
"""

from __future__ import annotations

import os
import sqlite3
from typing import Callable, Dict, List, Optional, Tuple

from ..meta.metadata import TableMetadata, new_table_metadata
from ..meta.partitioning import PartitionSpec, SortOrder
from ..schema import Schema
from .filesystem import (CommitConflictError, NoSuchTableError,
                         TableAlreadyExistsError, _ident)

def _ddl(key_type: str = "TEXT", value_type: str = "TEXT",
         if_not_exists: str = "IF NOT EXISTS ") -> List[str]:
    """The two catalog tables; key columns parameterized because MySQL
    cannot index unbounded TEXT and MSSQL/Oracle lack IF NOT EXISTS."""
    return [
        f"""CREATE TABLE {if_not_exists}iceberg_tables (
        catalog_name {key_type} NOT NULL,
        table_namespace {key_type} NOT NULL,
        table_name {key_type} NOT NULL,
        metadata_location {value_type},
        previous_metadata_location {value_type},
        PRIMARY KEY (catalog_name, table_namespace, table_name))""",
        f"""CREATE TABLE {if_not_exists}iceberg_namespace_properties (
        catalog_name {key_type} NOT NULL,
        namespace {key_type} NOT NULL,
        property_key {key_type} NOT NULL,
        property_value {value_type},
        PRIMARY KEY (catalog_name, namespace, property_key))"""]


class SqliteDialect:
    """'?' placeholders pass through; BEGIN IMMEDIATE takes the write
    lock up front so concurrent committers serialize instead of
    failing mid-transaction."""

    name = "sqlite"
    begin = "BEGIN IMMEDIATE"

    def ddl(self) -> List[str]:
        return _ddl()

    def translate(self, sql: str) -> str:
        return sql

    def upsert_namespace_property(self) -> str:
        return ("INSERT OR REPLACE INTO iceberg_namespace_properties "
                "VALUES (?, ?, ?, ?)")


class PostgresDialect:
    """%s placeholders (psycopg / pg8000 'format' paramstyle); upserts
    via the standard ON CONFLICT form (sql.go:44-50 bun pgdialect)."""

    name = "postgres"
    begin = "BEGIN"

    def ddl(self) -> List[str]:
        return _ddl()

    def translate(self, sql: str) -> str:
        # our statements carry no literal '?', so a plain substitution
        # is exact
        return sql.replace("?", "%s")

    def upsert_namespace_property(self) -> str:
        return ("INSERT INTO iceberg_namespace_properties "
                "VALUES (%s, %s, %s, %s) "
                "ON CONFLICT (catalog_name, namespace, property_key) "
                "DO UPDATE SET property_value = EXCLUDED.property_value")


class MySQLDialect:
    """%s placeholders (MySQLdb / pymysql 'format' paramstyle); upserts
    via ON DUPLICATE KEY UPDATE (sql.go:44-50 bun mysqldialect)."""

    name = "mysql"
    begin = "BEGIN"

    def ddl(self) -> List[str]:
        # MySQL cannot put unbounded TEXT in a PRIMARY KEY
        return _ddl(key_type="VARCHAR(255)", value_type="TEXT")

    def translate(self, sql: str) -> str:
        return sql.replace("?", "%s")

    def upsert_namespace_property(self) -> str:
        return ("INSERT INTO iceberg_namespace_properties "
                "VALUES (%s, %s, %s, %s) "
                "ON DUPLICATE KEY UPDATE "
                "property_value = VALUES(property_value)")


class MSSQLDialect:
    """%s placeholders (pymssql 'format' paramstyle); upserts via MERGE
    (sql.go:44-50 bun mssqldialect).  BEGIN TRANSACTION syntax."""

    name = "mssql"
    begin = "BEGIN TRANSACTION"

    def ddl(self) -> List[str]:
        # no IF NOT EXISTS on MSSQL CREATE TABLE; creation errors on an
        # existing table are swallowed by the caller
        return _ddl(key_type="NVARCHAR(255)",
                    value_type="NVARCHAR(MAX)", if_not_exists="")

    def translate(self, sql: str) -> str:
        return sql.replace("?", "%s")

    def upsert_namespace_property(self) -> str:
        return (
            "MERGE iceberg_namespace_properties AS t "
            "USING (SELECT %s AS catalog_name, %s AS namespace, "
            "%s AS property_key, %s AS property_value) AS s "
            "ON t.catalog_name = s.catalog_name "
            "AND t.namespace = s.namespace "
            "AND t.property_key = s.property_key "
            "WHEN MATCHED THEN UPDATE SET "
            "property_value = s.property_value "
            "WHEN NOT MATCHED THEN INSERT "
            "(catalog_name, namespace, property_key, property_value) "
            "VALUES (s.catalog_name, s.namespace, s.property_key, "
            "s.property_value);")


class OracleDialect:
    """:1-numbered bind placeholders (oracledb 'numbered' paramstyle);
    upserts via MERGE ... USING (SELECT ... FROM dual)
    (sql.go:44-50 bun oracledialect)."""

    name = "oracle"
    # bare BEGIN is invalid Oracle SQL (it opens a PL/SQL block);
    # oracledb runs implicit transactions, so no statement is issued
    begin = None

    def ddl(self) -> List[str]:
        return _ddl(key_type="VARCHAR2(255)",
                    value_type="VARCHAR2(4000)", if_not_exists="")

    def translate(self, sql: str) -> str:
        out, i = [], 0
        for ch in sql:
            if ch == "?":
                i += 1
                out.append(f":{i}")
            else:
                out.append(ch)
        return "".join(out)

    def upsert_namespace_property(self) -> str:
        return (
            "MERGE INTO iceberg_namespace_properties t "
            "USING (SELECT :1 AS catalog_name, :2 AS namespace, "
            ":3 AS property_key, :4 AS property_value FROM dual) s "
            "ON (t.catalog_name = s.catalog_name "
            "AND t.namespace = s.namespace "
            "AND t.property_key = s.property_key) "
            "WHEN MATCHED THEN UPDATE SET "
            "t.property_value = s.property_value "
            "WHEN NOT MATCHED THEN INSERT "
            "(catalog_name, namespace, property_key, property_value) "
            "VALUES (s.catalog_name, s.namespace, s.property_key, "
            "s.property_value)")


_DIALECTS = {"sqlite": SqliteDialect, "postgres": PostgresDialect,
             "mysql": MySQLDialect, "mssql": MSSQLDialect,
             "oracle": OracleDialect}


def _is_integrity_error(exc: BaseException) -> bool:
    """Duck-typed across drivers: sqlite3.IntegrityError,
    psycopg.errors.UniqueViolation, pg8000 IntegrityError — match by
    class-name anywhere in the MRO."""
    return any(c.__name__ in ("IntegrityError", "UniqueViolation")
               for c in type(exc).__mro__)


class SqlCatalog:
    def __init__(self, warehouse: str, db_path: Optional[str] = None,
                 name: str = "sql", dialect: str = "sqlite",
                 connect: Optional[Callable[[], object]] = None):
        self.warehouse = os.path.abspath(warehouse)
        self.name = name
        if dialect not in _DIALECTS:
            raise ValueError(
                f"unknown sql catalog dialect {dialect!r} "
                f"(supported: {sorted(_DIALECTS)})")
        self.dialect = _DIALECTS[dialect]()
        os.makedirs(self.warehouse, exist_ok=True)
        if connect is not None:
            self._connect_fn = connect
        else:
            if dialect != "sqlite":
                raise ValueError(
                    f"dialect {dialect!r} needs a connect= callable "
                    f"returning a DB-API connection")
            self.db_path = db_path or os.path.join(self.warehouse,
                                                   "catalog.db")
            self._connect_fn = self._sqlite_connect
        con = self._conn()
        try:
            cur = con.cursor()
            for ddl in self.dialect.ddl():
                try:
                    cur.execute(self.dialect.translate(ddl))
                except Exception:
                    # dialects without IF NOT EXISTS raise when the
                    # table already exists — idempotent either way
                    if "IF NOT EXISTS" in ddl:
                        raise
            con.commit()
            # a swallowed error above must mean already-exists, never a
            # broken DDL: probe both tables so misconfiguration fails
            # loudly at construction
            for tname in ("iceberg_tables",
                          "iceberg_namespace_properties"):
                cur.execute(f"SELECT count(*) FROM {tname}")
                cur.fetchone()
        finally:
            con.close()

    def _sqlite_connect(self):
        con = sqlite3.connect(self.db_path, timeout=30)
        con.isolation_level = None  # autocommit; we use explicit BEGIN
        return con

    def _conn(self):
        con = self._connect_fn()
        if self.dialect.begin is None:
            # implicit-transaction dialect (Oracle): forcing driver
            # autocommit made every statement commit immediately —
            # commit_transaction's multi-table CAS lost atomicity and
            # its conflict cleanup deleted metadata a COMMITTED pointer
            # referenced.  Leave the driver's transaction mode alone;
            # explicit COMMIT/ROLLBACK statements drive it.
            return con
        # explicit-statement transactions need autocommit drivers;
        # psycopg/pg8000 expose an attribute, pymysql/MySQLdb a METHOD
        # (a bare assignment would silently shadow the method)
        ac = getattr(con, "autocommit", None)
        try:
            if callable(ac):
                con.autocommit(True)
            elif ac is not None:
                con.autocommit = True
        except Exception:
            pass
        return con

    def _exec(self, cur, sql: str, params: Tuple = ()):
        cur.execute(self.dialect.translate(sql), params)
        return cur

    def _run(self, sql: str, params: Tuple = (), fetch: str = "none"):
        """One-statement op on a fresh autocommit connection."""
        con = self._conn()
        try:
            cur = self._exec(con.cursor(), sql, params)
            if fetch == "one":
                out = cur.fetchone()
            elif fetch == "all":
                out = cur.fetchall()
            elif fetch == "rowcount":
                out = cur.rowcount
            else:
                out = None
            # commit unconditionally: rowcount fetches are DML
            # (drop/rename), and a driver whose autocommit could not be
            # enabled would otherwise roll the statement back on close
            con.commit()
            return out
        finally:
            con.close()

    # -- namespaces ----------------------------------------------------------
    def create_namespace(self, namespace,
                         properties: Optional[Dict[str, str]] = None) -> None:
        ns = ".".join(_ident(namespace))
        upsert = self.dialect.upsert_namespace_property()
        con = self._conn()
        try:
            cur = con.cursor()
            if self.dialect.begin:
                cur.execute(self.dialect.translate(self.dialect.begin))
            cur.execute(upsert, (self.name, ns, "exists", "true"))
            for k, v in (properties or {}).items():
                cur.execute(upsert, (self.name, ns, k, v))
            cur.execute("COMMIT")
        finally:
            con.close()

    def list_namespaces(self) -> List[Tuple[str, ...]]:
        rows = self._run(
            "SELECT DISTINCT namespace FROM iceberg_namespace_properties "
            "WHERE catalog_name = ? UNION "
            "SELECT DISTINCT table_namespace FROM iceberg_tables "
            "WHERE catalog_name = ?", (self.name, self.name), fetch="all")
        return sorted(tuple(r[0].split(".")) for r in rows)

    def _namespace_exists(self, ns: str) -> bool:
        row = self._run(
            "SELECT 1 FROM iceberg_namespace_properties WHERE "
            "catalog_name = ? AND namespace = ?", (self.name, ns),
            fetch="one")
        if row is not None:
            return True
        row = self._run(
            "SELECT 1 FROM iceberg_tables WHERE catalog_name = ? AND "
            "table_namespace = ?", (self.name, ns), fetch="one")
        return row is not None

    def namespace_exists(self, namespace) -> bool:
        return self._namespace_exists(".".join(_ident(namespace)))

    def drop_namespace(self, namespace) -> None:
        """Delete an EMPTY namespace's property rows (sql.go
        DropNamespace; the other catalogs implement this too — without
        it namespaces were permanent)."""
        from .glue import NoSuchNamespaceError
        ns = ".".join(_ident(namespace))
        if not self._namespace_exists(ns):
            raise NoSuchNamespaceError(ns)
        if self.list_tables(namespace):
            raise ValueError(f"namespace not empty: {ns}")
        self._run(
            "DELETE FROM iceberg_namespace_properties WHERE "
            "catalog_name = ? AND namespace = ?", (self.name, ns))

    def namespace_properties(self, namespace) -> Dict[str, str]:
        ns = ".".join(_ident(namespace))
        if not self._namespace_exists(ns):
            from .glue import NoSuchNamespaceError
            raise NoSuchNamespaceError(ns)
        rows = self._run(
            "SELECT property_key, property_value FROM "
            "iceberg_namespace_properties WHERE catalog_name = ? AND "
            "namespace = ?", (self.name, ns), fetch="all")
        # Oracle VARCHAR2 stores '' as NULL: coalesce back so the
        # Dict[str, str] contract holds
        return {k: (v if v is not None else "")
                for k, v in rows if k != "exists"}

    # spec-name alias (catalog.go LoadNamespaceProperties)
    def load_namespace_properties(self, namespace) -> Dict[str, str]:
        return self.namespace_properties(namespace)

    def update_namespace_properties(self, namespace,
                                    removals: Optional[List[str]] = None,
                                    updates: Optional[Dict[str, str]] = None
                                    ) -> Dict[str, List[str]]:
        """Removals + updates in ONE database transaction; returns the
        spec summary (catalog.go UpdateNamespaceProperties)."""
        overlap = set(removals or []) & set(updates or {})
        if overlap:
            raise ValueError(
                f"properties in both removals and updates: {sorted(overlap)}")
        ns = ".".join(_ident(namespace))
        if not self._namespace_exists(ns):
            from .glue import NoSuchNamespaceError
            raise NoSuchNamespaceError(ns)
        upsert = self.dialect.upsert_namespace_property()
        con = self._conn()
        try:
            cur = con.cursor()
            if self.dialect.begin:
                cur.execute(self.dialect.translate(self.dialect.begin))
            # existence read INSIDE the transaction (a separate-
            # connection pre-read let a concurrent insert escape the
            # removal and skewed the summary)
            self._exec(
                cur,
                "SELECT property_key FROM iceberg_namespace_properties "
                "WHERE catalog_name = ? AND namespace = ?",
                (self.name, ns))
            existing = {r[0] for r in cur.fetchall()}
            removed = sorted(set(removals or []) & existing)
            missing = sorted(set(removals or []) - existing)
            for k in removed:
                self._exec(
                    cur,
                    "DELETE FROM iceberg_namespace_properties WHERE "
                    "catalog_name = ? AND namespace = ? AND "
                    "property_key = ?", (self.name, ns, k))
            for k, v in (updates or {}).items():
                cur.execute(upsert, (self.name, ns, k, v))
            # COMMIT as a STATEMENT: psycopg's conn.commit() is a
            # documented no-op on autocommit connections, so the whole
            # method silently rolled back on real drivers (the fake's
            # commit() delegated to sqlite and masked it)
            cur.execute("COMMIT")
        finally:
            con.close()
        return {"updated": sorted(updates or {}), "removed": removed,
                "missing": missing}

    # -- tables --------------------------------------------------------------
    def list_tables(self, namespace) -> List[Tuple[str, ...]]:
        ns = ".".join(_ident(namespace))
        rows = self._run(
            "SELECT table_namespace, table_name FROM iceberg_tables "
            "WHERE catalog_name = ? AND table_namespace = ?",
            (self.name, ns), fetch="all")
        return [tuple(r[0].split(".")) + (r[1],) for r in rows]

    def _split(self, identifier) -> Tuple[str, str]:
        parts = _ident(identifier)
        if len(parts) < 2:
            raise ValueError(f"identifier needs namespace.table: {identifier}")
        return ".".join(parts[:-1]), parts[-1]

    def create_table(self, identifier, schema: Schema,
                     spec: Optional[PartitionSpec] = None,
                     sort_order: Optional[SortOrder] = None,
                     properties: Optional[Dict[str, str]] = None):
        from ..table.table import Table
        ns, name = self._split(identifier)
        table_dir = os.path.join(self.warehouse, *ns.split("."), name)
        md = new_table_metadata(schema, spec or PartitionSpec(),
                                location=table_dir, properties=properties,
                                sort_order=sort_order)
        os.makedirs(os.path.join(table_dir, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(table_dir, "data"), exist_ok=True)
        from ..locations import load_location_provider
        path = load_location_provider(
            table_dir, md.properties).new_table_metadata_file_location(0)
        md.write(path)
        try:
            self._run(
                "INSERT INTO iceberg_tables VALUES (?, ?, ?, ?, NULL)",
                (self.name, ns, name, path))
        except Exception as e:
            if _is_integrity_error(e):
                # remove the just-written v0 metadata file: it would
                # pollute the EXISTING table's metadata directory
                try:
                    os.unlink(path)
                except OSError:
                    pass
                raise TableAlreadyExistsError(str(identifier))
            raise
        return Table(_ident(identifier), md, path, self)

    def register_table(self, identifier, metadata_location: str):
        """Adopt an existing metadata file into the catalog (sql.go
        RegisterTable): one row insert pointing at the given location."""
        from ..table.table import Table
        ns, name = self._split(identifier)
        md = TableMetadata.read(metadata_location)
        try:
            self._run(
                "INSERT INTO iceberg_tables VALUES (?, ?, ?, ?, NULL)",
                (self.name, ns, name, metadata_location))
        except Exception as e:
            if _is_integrity_error(e):
                raise TableAlreadyExistsError(str(identifier))
            raise
        return Table(_ident(identifier), md, metadata_location, self)

    def load_table(self, identifier):
        from ..table.table import Table
        ns, name = self._split(identifier)
        row = self._run(
            "SELECT metadata_location FROM iceberg_tables WHERE "
            "catalog_name = ? AND table_namespace = ? AND table_name = ?",
            (self.name, ns, name), fetch="one")
        if row is None or row[0] is None:
            raise NoSuchTableError(str(identifier))
        return Table(_ident(identifier), TableMetadata.read(row[0]),
                     row[0], self)

    def table_exists(self, identifier) -> bool:
        ns, name = self._split(identifier)
        row = self._run(
            "SELECT 1 FROM iceberg_tables WHERE catalog_name = ? AND "
            "table_namespace = ? AND table_name = ? AND "
            "metadata_location IS NOT NULL",
            (self.name, ns, name), fetch="one")
        return row is not None

    def drop_table(self, identifier, purge: bool = False) -> None:
        ns, name = self._split(identifier)
        loc = None
        if purge:
            row = self._run(
                "SELECT metadata_location FROM iceberg_tables WHERE "
                "catalog_name = ? AND table_namespace = ? AND "
                "table_name = ?", (self.name, ns, name), fetch="one")
            loc = row[0] if row else None
        n = self._run(
            "DELETE FROM iceberg_tables WHERE catalog_name = ? AND "
            "table_namespace = ? AND table_name = ?",
            (self.name, ns, name), fetch="rowcount")
        if n == 0:
            raise NoSuchTableError(str(identifier))
        if purge and loc:
            # same contract as the glue/hive/rest catalogs: purge
            # deletes the table's files, not just the pointer row
            try:
                md = TableMetadata.read(loc)
            except (FileNotFoundError, OSError, ValueError):
                return
            from ..table.maintenance import purge_table_files
            purge_table_files(md, loc)

    def rename_table(self, src, dst) -> None:
        sns, sname = self._split(src)
        dns, dname = self._split(dst)
        try:
            n = self._run(
                "UPDATE iceberg_tables SET table_namespace = ?, "
                "table_name = ? WHERE catalog_name = ? AND "
                "table_namespace = ? AND table_name = ?",
                (dns, dname, self.name, sns, sname), fetch="rowcount")
        except Exception as e:
            if _is_integrity_error(e):
                raise TableAlreadyExistsError(str(dst))
            raise
        if n == 0:
            raise NoSuchTableError(str(src))

    # -- commit (CAS via conditional UPDATE) ---------------------------------
    @staticmethod
    def _next_version(base_metadata_path: Optional[str],
                      metadata: TableMetadata) -> int:
        """Monotonic metadata file version. Derived from the current
        pointer's ``%05d-uuid`` prefix, NOT from len(metadata_log): the
        log is truncated to its last 10 entries, which froze the prefix
        at 00011- after ten commits."""
        if base_metadata_path:
            prefix = os.path.basename(base_metadata_path).split("-", 1)[0]
            try:
                return int(prefix) + 1
            except ValueError:
                pass
        return len(metadata.metadata_log) + 1

    def commit_table(self, identifier, base_metadata_path: Optional[str],
                     metadata: TableMetadata) -> str:
        from .multi_table import TableCommit
        from .filesystem import _ident
        return self.commit_transaction(
            [TableCommit(tuple(_ident(identifier)), base_metadata_path,
                         metadata)])[0]

    def commit_transaction(self, commits) -> List[str]:
        """Atomic multi-table commit: every conditional pointer UPDATE
        runs inside ONE database transaction — either all tables move or
        none do. Metadata files are written first (data-plane; harmless
        orphans on rollback, removed here on failure)."""
        from ..locations import load_location_provider
        from ..io import load_io
        paths: List[str] = []
        for c in commits:
            path = load_location_provider(
                c.metadata.location, c.metadata.properties
            ).new_table_metadata_file_location(
                self._next_version(c.base_metadata_path, c.metadata))
            c.metadata.write(path)
            paths.append(path)
        con = self._conn()
        try:
            cur = con.cursor()
            if self.dialect.begin:
                cur.execute(self.dialect.translate(self.dialect.begin))
            for c, path in zip(commits, paths):
                ns, name = ".".join(c.identifier[:-1]), c.identifier[-1]
                if c.base_metadata_path is None:
                    self._exec(
                        cur,
                        "UPDATE iceberg_tables SET metadata_location = ?, "
                        "previous_metadata_location = metadata_location "
                        "WHERE catalog_name = ? AND table_namespace = ? AND "
                        "table_name = ? AND metadata_location IS NULL",
                        (path, self.name, ns, name))
                else:
                    self._exec(
                        cur,
                        "UPDATE iceberg_tables SET metadata_location = ?, "
                        "previous_metadata_location = metadata_location "
                        "WHERE catalog_name = ? AND table_namespace = ? AND "
                        "table_name = ? AND metadata_location = ?",
                        (path, self.name, ns, name, c.base_metadata_path))
                if cur.rowcount == 0:
                    raise CommitConflictError(
                        f"{'.'.join(c.identifier)}: expected base "
                        f"{c.base_metadata_path}")
            cur.execute("COMMIT")
        except BaseException:
            try:
                con.cursor().execute("ROLLBACK")
            except Exception:
                pass
            for path in paths:
                try:
                    load_io(path).delete(path)
                except OSError:
                    pass
            raise
        finally:
            con.close()
        return paths
