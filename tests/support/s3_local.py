"""Local S3 wire endpoint: a path-style S3 REST subset on 127.0.0.1.

:class:`LocalS3WireServer` serves PutObject, GetObject (incl. Range),
HeadObject, DeleteObject, ListObjectsV2 and CreateBucket over in-memory
buckets; signature headers are accepted and ignored.  Tests point a REAL
``boto3.client("s3")`` at it through ``iceberg_go_spark.io.
Boto3BucketClient``, so the metadata plane's s3:// FileIO runs the
genuine botocore request-signing/marshalling/error-mapping stack.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Dict, Optional
from urllib.parse import parse_qs, unquote, urlparse
from xml.sax.saxutils import escape


class _Handler(BaseHTTPRequestHandler):
    server_version = "LocalS3/0"
    protocol_version = "HTTP/1.1"

    def log_message(self, *args):
        pass

    def _split(self):
        u = urlparse(self.path)
        parts = u.path.lstrip("/").split("/", 1)
        bucket = unquote(parts[0]) if parts and parts[0] else ""
        key = unquote(parts[1]) if len(parts) > 1 else ""
        return bucket, key, parse_qs(u.query)

    def _respond(self, status: int, body: bytes = b"",
                 headers: Optional[dict] = None, send_body=True):
        self.send_response(status)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if send_body and body:
            self.wfile.write(body)

    def _error(self, status: int, code: str, key: str = ""):
        body = (f"<?xml version='1.0'?><Error><Code>{code}</Code>"
                f"<Key>{escape(key)}</Key></Error>").encode()
        self._respond(status, body,
                      {"Content-Type": "application/xml"})

    def _store(self) -> Dict[str, Dict[str, bytes]]:
        return self.server.buckets

    def do_PUT(self):
        bucket, key, _ = self._split()
        length = int(self.headers.get("Content-Length", 0))
        data = self.rfile.read(length) if length else b""
        with self.server.lock:
            if not key:  # CreateBucket
                self._store().setdefault(bucket, {})
                self._respond(200)
                return
            self._store().setdefault(bucket, {})[key] = data
        import hashlib
        self._respond(200, headers={
            "ETag": '"' + hashlib.md5(data).hexdigest() + '"'})

    def do_GET(self):
        bucket, key, q = self._split()
        with self.server.lock:  # snapshot: PUTs run concurrently
            objs = dict(self._store().get(bucket, {}))
        if not key:  # ListObjectsV2
            prefix = q.get("prefix", [""])[0]
            keys = sorted(k for k in objs if k.startswith(prefix))
            items = "".join(
                f"<Contents><Key>{escape(k)}</Key>"
                f"<Size>{len(objs[k])}</Size>"
                f"<ETag>&quot;0&quot;</ETag>"
                f"<LastModified>2026-01-01T00:00:00.000Z</LastModified>"
                f"<StorageClass>STANDARD</StorageClass></Contents>"
                for k in keys)
            body = (f"<?xml version='1.0'?>"
                    f"<ListBucketResult>"
                    f"<Name>{escape(bucket)}</Name>"
                    f"<Prefix>{escape(prefix)}</Prefix>"
                    f"<KeyCount>{len(keys)}</KeyCount>"
                    f"<MaxKeys>1000</MaxKeys>"
                    f"<IsTruncated>false</IsTruncated>{items}"
                    f"</ListBucketResult>").encode()
            self._respond(200, body,
                          {"Content-Type": "application/xml"})
            return
        if key not in objs:
            self._error(404, "NoSuchKey", key)
            return
        data = objs[key]
        rng = self.headers.get("Range")
        if rng and rng.startswith("bytes="):
            spec = rng[len("bytes="):]
            start_s, _, end_s = spec.partition("-")
            if not start_s:  # suffix range: bytes=-N (last N bytes)
                n = int(end_s)
                start, end = max(len(data) - n, 0), len(data) - 1
            else:
                start = int(start_s)
                end = int(end_s) if end_s else len(data) - 1
            end = min(end, len(data) - 1)
            part = data[start:end + 1]
            self._respond(206, part, {
                "Content-Range": f"bytes {start}-{end}/{len(data)}",
                "Content-Type": "application/octet-stream"})
            return
        self._respond(200, data,
                      {"Content-Type": "application/octet-stream"})

    def do_HEAD(self):
        bucket, key, _ = self._split()
        with self.server.lock:
            objs = dict(self._store().get(bucket, {}))
        if key and key in objs:
            # HEAD: Content-Length reflects the OBJECT, no body follows
            self.send_response(200)
            self.send_header("Content-Type", "application/octet-stream")
            self.send_header("Content-Length", str(len(objs[key])))
            self.end_headers()
            return
        # boto3 maps a bodyless HEAD 404 to error code "404"
        self.send_response(404)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def do_DELETE(self):
        bucket, key, _ = self._split()
        with self.server.lock:
            self._store().get(bucket, {}).pop(key, None)
        self._respond(204)


class LocalS3WireServer:
    """Path-style S3 REST subset over in-memory buckets."""

    def __init__(self):
        self._httpd: Optional[ThreadingHTTPServer] = None
        self._thread: Optional[threading.Thread] = None

    @property
    def endpoint(self) -> str:
        assert self._httpd is not None, "server not started"
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "LocalS3WireServer":
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._httpd.buckets = {}
        self._httpd.lock = threading.Lock()
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
        """A REAL boto3 s3 client bound to this endpoint (path-style
        addressing so the bucket rides the URL path, not a subdomain)."""
        import boto3
        from botocore.config import Config
        return boto3.client(
            "s3",
            endpoint_url=self.endpoint,
            region_name="us-east-1",
            aws_access_key_id="local",
            aws_secret_access_key="local",
            config=Config(s3={"addressing_style": "path"},
                          retries={"max_attempts": 1}))
