"""AWS Glue catalog.

Parity (behavior only): /root/reference/catalog/glue/glue.go (~1083 LoC).
The catalog stores one Glue table per Iceberg table with
``Parameters.table_type = "ICEBERG"`` and the current pointer in
``Parameters.metadata_location`` (pyiceberg conventions, glue.go:47-66);
commits are optimistically locked on Glue's ``VersionId``
(glue.go:345-414), and rename uses a claim token + conditional update
before the unconditional delete (glue.go:466-545).

The client is duck-typed to boto3's ``glue`` client surface
(``glueAPI`` interface, glue.go:138-150): pass ``boto3.client("glue")``
(the test suite drives an in-memory double from ``tests/support``).
Errors are matched by Glue error *code* — both native exception classes
named after the code and botocore ``ClientError`` responses work.
"""

from __future__ import annotations

import uuid
from typing import Any, Dict, List, Optional, Tuple

from .. import types as T
from ..meta.metadata import TableMetadata, new_table_metadata
from ..meta.partitioning import PartitionSpec, SortOrder
from ..schema import Schema
from .filesystem import (CommitConflictError, NoSuchTableError,
                         TableAlreadyExistsError, _ident)

GLUE_TYPE_ICEBERG = "ICEBERG"
GLUE_TYPE_ICEBERG_RENAMING = "ICEBERG_RENAMING"
GLUE_TABLE_TYPE = "EXTERNAL_TABLE"
PARAM_TABLE_TYPE = "table_type"
PARAM_METADATA_LOCATION = "metadata_location"
PARAM_PREV_METADATA_LOCATION = "previous_metadata_location"
PARAM_RENAME_TOKEN = "iceberg.rename-token"
FIELD_ID_PARAM = "iceberg.field.id"
FIELD_OPTIONAL_PARAM = "iceberg.field.optional"
FIELD_CURRENT_PARAM = "iceberg.field.current"


class NoSuchNamespaceError(Exception):
    pass


def _error_code(exc: BaseException) -> str:
    """Glue error code of an exception: botocore ClientError carries it in
    response["Error"]["Code"]; native/fake exceptions are named after it."""
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        code = resp.get("Error", {}).get("Code")
        if code:
            return code
    return type(exc).__name__


def _glue_type(t: T.IcebergType) -> str:
    """Iceberg type -> Glue (Hive DDL) column type string."""
    if isinstance(t, T.BooleanType):
        return "boolean"
    if isinstance(t, T.IntegerType):
        return "int"
    if isinstance(t, T.LongType):
        return "bigint"
    if isinstance(t, T.FloatType):
        return "float"
    if isinstance(t, T.DoubleType):
        return "double"
    if isinstance(t, T.DecimalType):
        return f"decimal({t.precision},{t.scale})"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, (T.TimestampType, T.TimestamptzType,
                      T.TimestampNsType, T.TimestamptzNsType)):
        return "timestamp"
    if isinstance(t, (T.StringType, T.UUIDType)):
        return "string"
    if isinstance(t, (T.BinaryType, T.FixedType)):
        return "binary"
    if isinstance(t, T.ListType):
        return f"array<{_glue_type(t.element_type)}>"
    if isinstance(t, T.MapType):
        return f"map<{_glue_type(t.key_type)},{_glue_type(t.value_type)}>"
    if isinstance(t, T.StructType):
        inner = ",".join(f"{f.name}:{_glue_type(f.field_type)}"
                         for f in t.fields)
        return f"struct<{inner}>"
    return "string"  # geometry/geography/variant/unknown: opaque


def _glue_columns(metadata: TableMetadata) -> List[Dict[str, Any]]:
    """Current-schema columns annotated with Iceberg field metadata
    (glue.go icebergFieldIDKey/OptionalKey/CurrentKey)."""
    cols = []
    for f in metadata.schema().fields:
        cols.append({
            "Name": f.name,
            "Type": _glue_type(f.field_type),
            "Parameters": {
                FIELD_ID_PARAM: str(f.field_id),
                FIELD_OPTIONAL_PARAM: str(not f.required).lower(),
                FIELD_CURRENT_PARAM: "true",
            }})
    return cols


# AWS property keys, mirroring the reference registrar's config
# resolution (glue.go:68-135 toAwsConfig + internal/awsconfig)
CATALOG_ID_KEY = "glue.id"
SKIP_ARCHIVE_KEY = "glue.skip-archive"
ACCESS_KEY_ID_KEY = "glue.access-key-id"
SECRET_ACCESS_KEY_KEY = "glue.secret-access-key"
SESSION_TOKEN_KEY = "glue.session-token"
REGION_KEY = "glue.region"
ENDPOINT_KEY = "glue.endpoint"
MAX_RETRIES_KEY = "glue.max-retries"
RETRY_MODE_KEY = "glue.retry-mode"


class IncompleteStaticCredentialsError(ValueError):
    """Static AWS credentials configured incompletely
    (internal/awsconfig/credentials.go ErrIncompleteStaticCredentials)."""


def validate_static_credentials(key: str, secret: str, token: str) -> None:
    """A session token requires the full key pair, and key/secret must
    be configured together (credentials.go:29-38)."""
    if not key and not secret and token:
        raise IncompleteStaticCredentialsError(
            f"{SESSION_TOKEN_KEY} requires {ACCESS_KEY_ID_KEY} and "
            f"{SECRET_ACCESS_KEY_KEY}")
    if bool(key) != bool(secret):
        raise IncompleteStaticCredentialsError(
            f"{ACCESS_KEY_ID_KEY} and {SECRET_ACCESS_KEY_KEY} must be "
            f"configured together")


def glue_client_from_properties(props: Dict[str, str]):
    """A real boto3 glue client resolved from catalog properties —
    the Python analogue of the reference's toAwsConfig chain
    (glue.go:103-135): region, endpoint override, retry count/mode,
    and static credentials (validated; falling back to boto3's default
    provider chain — env, shared config, instance metadata — when no
    static keys are set, exactly like config.LoadDefaultConfig)."""
    import boto3
    from botocore.config import Config

    key = props.get(ACCESS_KEY_ID_KEY, "")
    secret = props.get(SECRET_ACCESS_KEY_KEY, "")
    token = props.get(SESSION_TOKEN_KEY, "")
    validate_static_credentials(key, secret, token)

    cfg_kw: Dict[str, Any] = {}
    retries: Dict[str, Any] = {}
    if MAX_RETRIES_KEY in props:
        retries["max_attempts"] = int(props[MAX_RETRIES_KEY])
    if RETRY_MODE_KEY in props:
        mode = props[RETRY_MODE_KEY]
        if mode not in ("legacy", "standard", "adaptive"):
            raise ValueError(f"unknown {RETRY_MODE_KEY}: {mode!r}")
        retries["mode"] = mode
    if retries:
        cfg_kw["retries"] = retries

    client_kw: Dict[str, Any] = {"config": Config(**cfg_kw)}
    if REGION_KEY in props:
        client_kw["region_name"] = props[REGION_KEY]
    if ENDPOINT_KEY in props:
        client_kw["endpoint_url"] = props[ENDPOINT_KEY]
    if key:
        client_kw["aws_access_key_id"] = key
        client_kw["aws_secret_access_key"] = secret
        if token:
            client_kw["aws_session_token"] = token
    return boto3.client("glue", **client_kw)


class GlueCatalog:
    """Iceberg catalog over AWS Glue Data Catalog.

    ``client`` is anything with boto3's glue-client methods
    (create_table, get_table, get_tables, update_table, delete_table,
    create_database, get_database, get_databases, delete_database,
    update_database). ``warehouse`` is only used to place metadata for
    newly created tables whose namespace has no LocationUri.
    """

    def __init__(self, warehouse: str, client: Any,
                 catalog_id: Optional[str] = None, name: str = "glue",
                 skip_archive: bool = True):
        self.warehouse = warehouse
        self.client = client
        self.catalog_id = catalog_id
        self.name = name
        self.skip_archive = skip_archive

    @classmethod
    def from_properties(cls, warehouse: str, props: Dict[str, str],
                        name: str = "glue") -> "GlueCatalog":
        """Property-driven construction (the reference's catalog
        registrar path, glue.go:92-101): a real boto3 client from the
        glue.* AWS properties, catalog id from ``glue.id``, archive
        skipping from ``glue.skip-archive`` (default true,
        glue.go:73-74)."""
        skip = str(props.get(SKIP_ARCHIVE_KEY, "true")).lower() != "false"
        return cls(warehouse, glue_client_from_properties(props),
                   catalog_id=props.get(CATALOG_ID_KEY), name=name,
                   skip_archive=skip)

    # -- plumbing ------------------------------------------------------------
    def _cid(self, kw: Dict[str, Any]) -> Dict[str, Any]:
        if self.catalog_id is not None:
            kw["CatalogId"] = self.catalog_id
        return kw

    @staticmethod
    def _db_table(identifier) -> Tuple[str, str]:
        parts = _ident(identifier)
        if len(parts) != 2:
            raise ValueError(
                f"Glue identifiers are database.table, got {parts}")
        return parts[0], parts[1]

    def _get_glue_table(self, db: str, name: str) -> Dict[str, Any]:
        try:
            out = self.client.get_table(
                **self._cid({"DatabaseName": db, "Name": name}))
        except Exception as e:  # noqa: BLE001 — matched by Glue error code
            if _error_code(e) == "EntityNotFoundException":
                raise NoSuchTableError(f"{db}.{name}") from e
            raise
        return out["Table"]

    def _iceberg_table(self, db: str, name: str) -> Dict[str, Any]:
        t = self._get_glue_table(db, name)
        params = t.get("Parameters") or {}
        if params.get(PARAM_TABLE_TYPE, "").upper() != GLUE_TYPE_ICEBERG:
            raise NoSuchTableError(
                f"{db}.{name} is not an Iceberg table "
                f"(table_type={params.get(PARAM_TABLE_TYPE)!r})")
        return t

    def _table_input(self, name: str, metadata: TableMetadata,
                     metadata_location: str,
                     prev: Optional[Dict[str, Any]]) -> Dict[str, Any]:
        """TableInput for a commit (glue.go constructTableInput): carries
        forward unknown parameters, moves the old pointer to
        previous_metadata_location."""
        params: Dict[str, str] = {}
        if prev is not None:
            params.update(prev.get("Parameters") or {})
        params.update({k: str(v) for k, v in metadata.properties.items()})
        params.pop(PARAM_PREV_METADATA_LOCATION, None)
        if prev is not None:
            old = (prev.get("Parameters") or {}).get(PARAM_METADATA_LOCATION)
            if old:
                params[PARAM_PREV_METADATA_LOCATION] = old
        params[PARAM_TABLE_TYPE] = GLUE_TYPE_ICEBERG
        params[PARAM_METADATA_LOCATION] = metadata_location
        return {
            "Name": name,
            "TableType": GLUE_TABLE_TYPE,
            "Parameters": params,
            "StorageDescriptor": {
                "Location": metadata.location,
                "Columns": _glue_columns(metadata),
            }}

    # -- namespaces ----------------------------------------------------------
    def create_namespace(self, namespace,
                         properties: Optional[Dict[str, str]] = None
                         ) -> None:
        ns = ".".join(_ident(namespace))
        props = dict(properties or {})
        db: Dict[str, Any] = {"Name": ns}
        loc = props.pop("location", None)
        if loc:
            db["LocationUri"] = loc
        desc = props.pop("comment", None)
        if desc:
            db["Description"] = desc
        db["Parameters"] = props
        try:
            self.client.create_database(**self._cid({"DatabaseInput": db}))
        except Exception as e:  # noqa: BLE001
            if _error_code(e) == "AlreadyExistsException":
                raise TableAlreadyExistsError(f"namespace {ns}") from e
            raise

    def namespace_exists(self, namespace) -> bool:
        try:
            self.client.get_database(**self._cid(
                {"Name": ".".join(_ident(namespace))}))
            return True
        except Exception as e:  # noqa: BLE001
            if _error_code(e) == "EntityNotFoundException":
                return False
            raise

    def list_namespaces(self) -> List[Tuple[str, ...]]:
        out, token = [], None
        while True:
            kw = self._cid({})
            if token:
                kw["NextToken"] = token
            resp = self.client.get_databases(**kw)
            out.extend((d["Name"],) for d in resp.get("DatabaseList", []))
            token = resp.get("NextToken")
            if not token:
                return sorted(out)

    def load_namespace_properties(self, namespace) -> Dict[str, str]:
        ns = ".".join(_ident(namespace))
        try:
            db = self.client.get_database(
                **self._cid({"Name": ns}))["Database"]
        except Exception as e:  # noqa: BLE001
            if _error_code(e) == "EntityNotFoundException":
                raise NoSuchNamespaceError(ns) from e
            raise
        props = dict(db.get("Parameters") or {})
        if db.get("LocationUri"):
            props["location"] = db["LocationUri"]
        if db.get("Description"):
            props["comment"] = db["Description"]
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
        db: Dict[str, Any] = {"Name": ns}
        loc = props.pop("location", None)
        if loc:
            db["LocationUri"] = loc
        desc = props.pop("comment", None)
        if desc:
            db["Description"] = desc
        db["Parameters"] = props
        self.client.update_database(
            **self._cid({"Name": ns, "DatabaseInput": db}))

    def drop_namespace(self, namespace) -> None:
        ns = ".".join(_ident(namespace))
        if self.list_tables(namespace):
            raise ValueError(f"namespace {ns} is not empty")
        try:
            self.client.delete_database(**self._cid({"Name": ns}))
        except Exception as e:  # noqa: BLE001
            if _error_code(e) == "EntityNotFoundException":
                raise NoSuchNamespaceError(ns) from e
            raise

    # -- tables --------------------------------------------------------------
    def list_tables(self, namespace) -> List[Tuple[str, ...]]:
        """Only tables whose table_type is ICEBERG, case-insensitively
        (glue.go filterTableListByType)."""
        ns = ".".join(_ident(namespace))
        out, token = [], None
        while True:
            kw = self._cid({"DatabaseName": ns})
            if token:
                kw["NextToken"] = token
            try:
                resp = self.client.get_tables(**kw)
            except Exception as e:  # noqa: BLE001
                if _error_code(e) == "EntityNotFoundException":
                    raise NoSuchNamespaceError(ns) from e
                raise
            for t in resp.get("TableList", []):
                params = t.get("Parameters") or {}
                if params.get(PARAM_TABLE_TYPE, "").upper() \
                        == GLUE_TYPE_ICEBERG:
                    out.append((ns, t["Name"]))
            token = resp.get("NextToken")
            if not token:
                return sorted(out)

    def create_table(self, identifier, schema: Schema,
                     spec: Optional[PartitionSpec] = None,
                     sort_order: Optional[SortOrder] = None,
                     properties: Optional[Dict[str, str]] = None):
        from ..io import load_io
        from ..locations import load_location_provider
        from ..table.table import Table
        db, name = self._db_table(identifier)
        ns_props = self.load_namespace_properties((db,))  # raises if missing
        base = ns_props.get("location") or f"{self.warehouse}/{db}"
        location = f"{base.rstrip('/')}/{name}"
        md = new_table_metadata(schema, spec or PartitionSpec(),
                                location=location, properties=properties,
                                sort_order=sort_order)
        path = load_location_provider(
            location, md.properties).new_table_metadata_file_location(1)
        md.write(path)
        try:
            self.client.create_table(**self._cid({
                "DatabaseName": db,
                "TableInput": self._table_input(name, md, path, None)}))
        except Exception as e:  # noqa: BLE001
            load_io(path).delete(path)
            if _error_code(e) == "AlreadyExistsException":
                raise TableAlreadyExistsError(f"{db}.{name}") from e
            raise
        return Table((db, name), md, path, self)

    def register_table(self, identifier, metadata_location: str):
        """Adopt an existing metadata file into Glue (glue.go:311-343)."""
        from ..table.table import Table
        db, name = self._db_table(identifier)
        md = TableMetadata.read(metadata_location)
        try:
            self.client.create_table(**self._cid({
                "DatabaseName": db,
                "TableInput": self._table_input(
                    name, md, metadata_location, None)}))
        except Exception as e:  # noqa: BLE001
            if _error_code(e) == "AlreadyExistsException":
                raise TableAlreadyExistsError(f"{db}.{name}") from e
            raise
        return Table((db, name), md, metadata_location, self)

    def load_table(self, identifier):
        from ..table.table import Table
        db, name = self._db_table(identifier)
        t = self._iceberg_table(db, name)
        loc = (t.get("Parameters") or {}).get(PARAM_METADATA_LOCATION)
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
        db, name = self._db_table(identifier)
        table = self._iceberg_table(db, name)  # raises NoSuchTableError
        self.client.delete_table(
            **self._cid({"DatabaseName": db, "Name": name}))
        if purge:
            from ..io import load_io
            loc = (table.get("Parameters") or {}).get(PARAM_METADATA_LOCATION)
            if loc:
                try:
                    md = TableMetadata.read(loc)
                    from ..table.maintenance import purge_table_files
                    purge_table_files(md, loc)
                except (OSError, ValueError, KeyError):
                    pass  # best-effort purge, matching PurgeTable's intent

    def rename_table(self, src, dst) -> None:
        """Copy-claim-delete (glue.go:466-545): create the destination as
        a copy, CLAIM the source with a conditional update (table_type
        flips to ICEBERG_RENAMING so writers refuse it; VersionId rejects
        stale writers), then delete the source. On claim conflict the
        destination is rolled back."""
        sdb, sname = self._db_table(src)
        ddb, dname = self._db_table(dst)
        if not self.namespace_exists((ddb,)):
            raise NoSuchNamespaceError(ddb)
        source = self._iceberg_table(sdb, sname)
        version = source.get("VersionId")
        if not version:
            raise CommitConflictError(
                f"cannot rename {sdb}.{sname}: Glue VersionId missing")
        copy_input = {
            k: v for k, v in source.items()
            if k in ("Name", "Description", "Owner", "Parameters",
                     "PartitionKeys", "Retention", "StorageDescriptor",
                     "TableType", "TargetTable")}
        copy_input["Name"] = dname
        copy_input["Parameters"] = dict(source.get("Parameters") or {})
        try:
            self.client.create_table(**self._cid(
                {"DatabaseName": ddb, "TableInput": copy_input}))
        except Exception as e:  # noqa: BLE001
            if _error_code(e) == "AlreadyExistsException":
                raise TableAlreadyExistsError(f"{ddb}.{dname}") from e
            raise
        claim = dict(copy_input)
        claim["Name"] = sname
        claim["Parameters"] = dict(source.get("Parameters") or {})
        claim["Parameters"][PARAM_TABLE_TYPE] = GLUE_TYPE_ICEBERG_RENAMING
        claim["Parameters"][PARAM_RENAME_TOKEN] = \
            f"{ddb}.{dname}@{version}"
        try:
            self.client.update_table(**self._cid({
                "DatabaseName": sdb, "TableInput": claim,
                "VersionId": version,
                "SkipArchive": self.skip_archive}))
        except Exception as e:  # noqa: BLE001
            # roll the destination back, then surface the conflict
            try:
                self.client.delete_table(**self._cid(
                    {"DatabaseName": ddb, "Name": dname}))
            except Exception:  # noqa: BLE001 — best-effort rollback
                pass
            if _error_code(e) == "ConcurrentModificationException":
                raise CommitConflictError(
                    f"source table changed during rename: {sdb}.{sname}"
                ) from e
            raise
        self.client.delete_table(
            **self._cid({"DatabaseName": sdb, "Name": sname}))

    # -- commit (optimistic lock on Glue VersionId) --------------------------
    def commit_table(self, identifier, base_metadata_path: Optional[str],
                     metadata: TableMetadata) -> str:
        from ..io import load_io
        from ..locations import load_location_provider
        db, name = self._db_table(identifier)
        try:
            current = self._get_glue_table(db, name)
        except NoSuchTableError:
            current = None

        if current is not None:
            cur_loc = (current.get("Parameters") or {}).get(
                PARAM_METADATA_LOCATION)
            if base_metadata_path is not None \
                    and cur_loc != base_metadata_path:
                raise CommitConflictError(
                    f"{db}.{name}: expected base {base_metadata_path}, "
                    f"catalog points at {cur_loc}")

        version = self._next_version(base_metadata_path)
        path = load_location_provider(
            metadata.location, metadata.properties
        ).new_table_metadata_file_location(version)
        metadata.write(path)
        try:
            if current is not None:
                if not current.get("VersionId"):
                    raise CommitConflictError(
                        f"{db}.{name}: Glue VersionId missing")
                self.client.update_table(**self._cid({
                    "DatabaseName": db,
                    "TableInput": self._table_input(
                        name, metadata, path, current),
                    "VersionId": current["VersionId"],
                    "SkipArchive": self.skip_archive}))
            else:
                self.client.create_table(**self._cid({
                    "DatabaseName": db,
                    "TableInput": self._table_input(
                        name, metadata, path, None)}))
        except Exception as e:  # noqa: BLE001
            try:
                load_io(path).delete(path)
            except OSError:
                pass
            code = _error_code(e)
            if code == "ConcurrentModificationException":
                raise CommitConflictError(f"{db}.{name}: {e}") from e
            if code == "AlreadyExistsException":
                raise TableAlreadyExistsError(f"{db}.{name}") from e
            raise
        return path

    def commit_transaction(self, commits) -> List[str]:
        """Glue has no multi-table transaction primitive: N=1 delegates to
        commit_table; N>1 is refused rather than half-committed."""
        if len(commits) == 1:
            c = commits[0]
            return [self.commit_table(c.identifier, c.base_metadata_path,
                                      c.metadata)]
        raise NotImplementedError(
            "Glue cannot commit multiple tables atomically")

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

