"""Glue test doubles for GlueCatalog.

- :class:`FakeGlueClient`: an in-memory, boto3-glue-shaped client with
  Glue's ``VersionId`` compare-and-swap semantics.
- :class:`LocalGlueWireServer`: serves the AWS JSON 1.1 protocol
  (``X-Amz-Target: AWSGlue.<Operation>``) over HTTP on 127.0.0.1,
  backed by a FakeGlueClient, so a genuine
  ``boto3.client("glue", endpoint_url=...)`` runs the full botocore
  request-serialization / response-parsing / error-mapping stack:

  - request kwargs must survive the Glue service model (an off-model
    parameter dies client-side in ParamValidationError);
  - errors come back as botocore ``ClientError`` with the Glue error
    code parsed from ``__type`` — exactly what ``glue._error_code``
    matches;
  - ``VersionId`` CAS conflicts surface as
    ConcurrentModificationException over the wire, not as a Python
    class raised in-process.

No auth, single catalog; production points the same GlueCatalog at
``boto3.client("glue")`` with real credentials.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Dict, Optional, Tuple

from iceberg_go_spark.catalog.glue import _error_code


class _GlueError(Exception):
    pass


class EntityNotFoundException(_GlueError):
    pass


class AlreadyExistsException(_GlueError):
    pass


class ConcurrentModificationException(_GlueError):
    pass


class FakeGlueClient:
    """In-memory boto3-glue-shaped client.

    Implements exactly the semantics GlueCatalog depends on: per-table
    monotonically increasing ``VersionId`` strings, conditional
    ``update_table(VersionId=...)`` raising
    ConcurrentModificationException on mismatch, and
    EntityNotFound/AlreadyExists on the lookup/create paths.
    """

    def __init__(self):
        self._dbs: Dict[str, Dict[str, Any]] = {}
        self._tables: Dict[Tuple[str, str], Dict[str, Any]] = {}

    # -- databases --
    def create_database(self, DatabaseInput: Dict[str, Any], **_kw):
        name = DatabaseInput["Name"]
        if name in self._dbs:
            raise AlreadyExistsException(name)
        self._dbs[name] = dict(DatabaseInput)
        return {}

    def get_database(self, Name: str, **_kw):
        if Name not in self._dbs:
            raise EntityNotFoundException(Name)
        return {"Database": dict(self._dbs[Name])}

    def get_databases(self, **_kw):
        return {"DatabaseList": [dict(d) for d in self._dbs.values()]}

    def update_database(self, Name: str, DatabaseInput: Dict[str, Any],
                        **_kw):
        if Name not in self._dbs:
            raise EntityNotFoundException(Name)
        self._dbs[Name] = dict(DatabaseInput)
        return {}

    def delete_database(self, Name: str, **_kw):
        if Name not in self._dbs:
            raise EntityNotFoundException(Name)
        del self._dbs[Name]
        for key in [k for k in self._tables if k[0] == Name]:
            del self._tables[key]
        return {}

    # -- tables --
    def create_table(self, DatabaseName: str, TableInput: Dict[str, Any],
                     **_kw):
        if DatabaseName not in self._dbs:
            raise EntityNotFoundException(DatabaseName)
        key = (DatabaseName, TableInput["Name"])
        if key in self._tables:
            raise AlreadyExistsException(TableInput["Name"])
        t = dict(TableInput)
        t["DatabaseName"] = DatabaseName
        t["VersionId"] = "1"
        self._tables[key] = t
        return {}

    def get_table(self, DatabaseName: str, Name: str, **_kw):
        t = self._tables.get((DatabaseName, Name))
        if t is None:
            raise EntityNotFoundException(f"{DatabaseName}.{Name}")
        return {"Table": dict(t)}

    def get_tables(self, DatabaseName: str, **_kw):
        if DatabaseName not in self._dbs:
            raise EntityNotFoundException(DatabaseName)
        return {"TableList": [dict(t) for (db, _), t in self._tables.items()
                              if db == DatabaseName]}

    def update_table(self, DatabaseName: str, TableInput: Dict[str, Any],
                     VersionId: Optional[str] = None, **_kw):
        key = (DatabaseName, TableInput["Name"])
        cur = self._tables.get(key)
        if cur is None:
            raise EntityNotFoundException(TableInput["Name"])
        if VersionId is not None and VersionId != cur["VersionId"]:
            raise ConcurrentModificationException(
                f"{key}: version {VersionId} is not current "
                f"{cur['VersionId']}")
        t = dict(TableInput)
        t["DatabaseName"] = DatabaseName
        t["VersionId"] = str(int(cur["VersionId"]) + 1)
        self._tables[key] = t
        return {}

    def delete_table(self, DatabaseName: str, Name: str, **_kw):
        if (DatabaseName, Name) not in self._tables:
            raise EntityNotFoundException(f"{DatabaseName}.{Name}")
        del self._tables[(DatabaseName, Name)]
        return {}


# CamelCase operation -> FakeGlueClient method (the boto3 client method
# names, which ARE the wire operation names lower-snaked by botocore)
_OPS = {
    "CreateDatabase": "create_database",
    "GetDatabase": "get_database",
    "GetDatabases": "get_databases",
    "UpdateDatabase": "update_database",
    "DeleteDatabase": "delete_database",
    "CreateTable": "create_table",
    "GetTable": "get_table",
    "GetTables": "get_tables",
    "UpdateTable": "update_table",
    "DeleteTable": "delete_table",
}


class _Handler(BaseHTTPRequestHandler):
    server_version = "LocalGlue/0"

    def log_message(self, *args):  # quiet
        pass

    def do_POST(self):
        target = self.headers.get("X-Amz-Target", "")
        op = target.split(".")[-1]
        length = int(self.headers.get("Content-Length", 0))
        body = json.loads(self.rfile.read(length) or b"{}")
        method = _OPS.get(op)
        if method is None:
            self._error(400, "InvalidAction", f"unknown operation {op}")
            return
        # CatalogId is accepted on the wire but the local backend holds
        # a single catalog
        body.pop("CatalogId", None)
        try:
            out = getattr(self.server.backend, method)(**body)
        except Exception as exc:  # -> Glue-coded wire error
            self._error(400, _error_code(exc), str(exc))
            return
        payload = json.dumps(out or {}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/x-amz-json-1.1")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _error(self, status: int, code: str, message: str):
        payload = json.dumps({"__type": code, "Message": message}).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/x-amz-json-1.1")
        self.send_header("x-amzn-ErrorType", code)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


class LocalGlueWireServer:
    """AWS JSON 1.1 endpoint over a FakeGlueClient backend."""

    def __init__(self, backend: Optional[FakeGlueClient] = None):
        self.backend = backend or FakeGlueClient()
        self._httpd: Optional[ThreadingHTTPServer] = None
        self._thread: Optional[threading.Thread] = None

    @property
    def endpoint(self) -> str:
        assert self._httpd is not None, "server not started"
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "LocalGlueWireServer":
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._httpd.backend = self.backend
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self):
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    def boto3_client(self):
        """A REAL boto3 glue client bound to this endpoint (dummy
        credentials, retries off so CAS-conflict tests see the first
        ConcurrentModificationException, not a retried apply)."""
        import boto3
        from botocore.config import Config
        return boto3.client(
            "glue",
            endpoint_url=self.endpoint,
            region_name="us-east-1",
            aws_access_key_id="local",
            aws_secret_access_key="local",
            config=Config(retries={"max_attempts": 1},
                          connect_timeout=5, read_timeout=30))
