"""FileIO abstraction for the metadata plane.

Parity (behavior only): /root/reference/io/io.go (the ``IO`` interface),
io/local.go (local FS), io/blob.go (scheme-based resolution onto object
stores).  Implementations register by URI scheme; path resolution picks
the registered IO or falls back to the local filesystem.

Scope note (Spark-first design): FileIO governs METADATA files —
manifests, manifest lists, table-metadata JSON, Puffin statistics and
deletion-vector blobs.  The data plane (parquet read/write/scan) runs
through Spark's own Hadoop FileSystem layer, which is already pluggable
by URI scheme on a real cluster; duplicating it here would build a
second, slower IO stack next to the one Spark ships.
"""

from __future__ import annotations

import os
import threading
from itertools import count as _count
from typing import Dict, List

_TMP_COUNTER = _count()


class FileIO:
    """Byte-level metadata file IO (io/io.go ReadFileIO/WriteFileIO)."""

    def read(self, path: str) -> bytes:
        raise NotImplementedError

    def read_range(self, path: str, offset: int, length: int) -> bytes:
        """Ranged read (object stores serve this as a byte-range GET);
        default falls back to a full read + slice."""
        return self.read(path)[offset:offset + length]

    def write(self, path: str, data: bytes) -> None:
        """Full-file write; atomic replace where the store allows it."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:  # no-op for object stores
        raise NotImplementedError


class LocalFileIO(FileIO):
    @staticmethod
    def _p(path: str) -> str:
        """Strip a file:// scheme (reference local.go url.Parse uses
        .Path) — passing the raw URI to open()/os.* reads the wrong
        location and silently writes metadata under a relative
        'file:/...' directory."""
        low = path[:7].lower()
        if low.startswith("file://"):
            rest = path[7:]
            if rest.startswith("/"):
                return rest
            host, _, tail = rest.partition("/")
            if host in ("", "localhost"):
                return "/" + tail
            raise ValueError(
                f"file:// URI with non-local host {host!r}: {path!r}")
        return path

    def read(self, path: str) -> bytes:
        with open(self._p(path), "rb") as f:
            return f.read()

    def read_range(self, path: str, offset: int, length: int) -> bytes:
        with open(self._p(path), "rb") as f:
            f.seek(offset)
            return f.read(length)

    def write(self, path: str, data: bytes) -> None:
        path = self._p(path)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        # pid alone collides across THREADS (both open the same tmp,
        # the second truncates the first mid-write, os.replace then
        # publishes interleaved bytes as committed metadata)
        tmp = (f"{path}.tmp{os.getpid()}.{threading.get_ident()}."
               f"{next(_TMP_COUNTER)}")
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    def delete(self, path: str) -> None:
        try:
            os.unlink(self._p(path))
        except FileNotFoundError:
            pass

    def exists(self, path: str) -> bool:
        return os.path.exists(self._p(path))

    def size(self, path: str) -> int:
        return os.path.getsize(self._p(path))

    def makedirs(self, path: str) -> None:
        os.makedirs(self._p(path), exist_ok=True)


class InMemoryFileIO(FileIO):
    """Dict-backed IO for tests and ephemeral catalogs (io/mem parity).
    Thread-safe; paths are opaque keys."""

    def __init__(self) -> None:
        self.files: Dict[str, bytes] = {}
        self._lock = threading.Lock()

    def read(self, path: str) -> bytes:
        try:
            return self.files[path]
        except KeyError:
            raise FileNotFoundError(path)

    def write(self, path: str, data: bytes) -> None:
        with self._lock:
            self.files[path] = bytes(data)

    def delete(self, path: str) -> None:
        with self._lock:
            self.files.pop(path, None)

    def exists(self, path: str) -> bool:
        return path in self.files

    def size(self, path: str) -> int:
        return len(self.read(path))

    def makedirs(self, path: str) -> None:
        pass

    def list(self, prefix: str) -> List[str]:
        with self._lock:  # concurrent write() would resize mid-iteration
            return sorted(p for p in self.files if p.startswith(prefix))


# -- object-store (blob) IO -------------------------------------------------
# Parity (behavior only): /root/reference/io/gocloud/{blob,s3,register}.go +
# io/config.go property keys.  A BlobFileIO adapts any bucket-shaped client
# (duck-typed to get/put/delete/exists/size/list) to the FileIO interface;
# scheme factories build one per (scheme, bucket) from table/catalog
# properties.  The client comes from a pluggable provider: InMemoryBucket
# backs mem:// (gocloud memblob), Boto3BucketClient adapts a real
# ``boto3.client("s3")`` (AWS or any S3-compatible endpoint), and any other
# adapter with the same methods drops in unchanged.

# property keys (io/config.go:21-63; the offline-meaningful subset)
S3_REGION = "s3.region"
S3_ACCESS_KEY_ID = "s3.access-key-id"
S3_SECRET_ACCESS_KEY = "s3.secret-access-key"
S3_SESSION_TOKEN = "s3.session-token"
S3_ENDPOINT = "s3.endpoint"
S3_FORCE_VIRTUAL_ADDRESSING = "s3.force-virtual-addressing"
GCS_ENDPOINT = "gcs.endpoint"
ADLS_ENDPOINT = "adls.endpoint"


class InMemoryBucket:
    """Bucket-shaped store (gocloud blob.Bucket surface, memblob
    semantics): flat keys, prefix listing, thread-safe."""

    def __init__(self) -> None:
        self.objects: Dict[str, bytes] = {}
        self._lock = threading.Lock()

    def get(self, key: str) -> bytes:
        try:
            return self.objects[key]
        except KeyError:
            raise FileNotFoundError(key)

    def put(self, key: str, data: bytes) -> None:
        with self._lock:
            self.objects[key] = bytes(data)

    def delete(self, key: str) -> None:
        with self._lock:
            self.objects.pop(key, None)

    def exists(self, key: str) -> bool:
        return key in self.objects

    def size(self, key: str) -> int:
        return len(self.get(key))

    def list(self, prefix: str = "") -> List[str]:
        with self._lock:  # concurrent put() would resize mid-iteration
            return sorted(k for k in self.objects if k.startswith(prefix))


class Boto3BucketClient:
    """InMemoryBucket-shaped surface over a real boto3 s3 client
    (io/gocloud/s3.go opens s3:// buckets through the AWS SDK)."""

    def __init__(self, s3_client, bucket: str):
        self._c = s3_client
        self.bucket = bucket

    def _not_found(self, e) -> bool:
        code = getattr(e, "response", {}).get("Error", {}).get("Code", "")
        return code in ("NoSuchKey", "404", "NotFound")

    def get(self, key: str) -> bytes:
        try:
            return self._c.get_object(Bucket=self.bucket,
                                      Key=key)["Body"].read()
        except Exception as e:
            if self._not_found(e):
                raise FileNotFoundError(key)
            raise

    def get_range(self, key: str, offset: int, length: int) -> bytes:
        end = offset + length - 1
        try:
            return self._c.get_object(
                Bucket=self.bucket, Key=key,
                Range=f"bytes={offset}-{end}")["Body"].read()
        except Exception as e:
            if self._not_found(e):
                raise FileNotFoundError(key)
            raise

    def put(self, key: str, data: bytes) -> None:
        self._c.put_object(Bucket=self.bucket, Key=key,
                           Body=bytes(data))

    def delete(self, key: str) -> None:
        self._c.delete_object(Bucket=self.bucket, Key=key)

    def exists(self, key: str) -> bool:
        try:
            self._c.head_object(Bucket=self.bucket, Key=key)
            return True
        except Exception as e:
            if self._not_found(e):
                return False
            raise

    def size(self, key: str) -> int:
        try:
            return int(self._c.head_object(Bucket=self.bucket,
                                           Key=key)["ContentLength"])
        except Exception as e:
            if self._not_found(e):
                raise FileNotFoundError(key)
            raise

    def list(self, prefix: str = "") -> List[str]:
        keys: List[str] = []
        token = None
        while True:
            kw = {"Bucket": self.bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            out = self._c.list_objects_v2(**kw)
            keys.extend(o["Key"] for o in out.get("Contents", []))
            if not out.get("IsTruncated"):
                return sorted(keys)
            token = out.get("NextContinuationToken")


class BlobFileIO(FileIO):
    """FileIO over one bucket client; paths are full URIs
    (``s3://bucket/key``) and resolve to keys within the bound bucket
    (io/gocloud/blob.go)."""

    def __init__(self, scheme: str, bucket_name: str, client,
                 properties: Dict[str, str] = None) -> None:
        self.scheme = scheme
        self.bucket_name = bucket_name
        self.client = client
        self.properties = dict(properties or {})

    def _key(self, path: str) -> str:
        prefix = f"{self.scheme}://{self.bucket_name}/"
        if not path.startswith(prefix):
            raise ValueError(
                f"path {path!r} is outside bucket {prefix!r}")
        return path[len(prefix):]

    def read(self, path: str) -> bytes:
        return self.client.get(self._key(path))

    def read_range(self, path: str, offset: int, length: int) -> bytes:
        # byte-range GET when the client speaks it (real object stores
        # do — fetching a whole multi-MB puffin/manifest to serve a
        # few-hundred-byte blob read is the wrong wire shape); the
        # in-memory bucket falls back to full read + slice
        getr = getattr(self.client, "get_range", None)
        if getr is not None:
            return getr(self._key(path), offset, length)
        return self.read(path)[offset:offset + length]

    def write(self, path: str, data: bytes) -> None:
        # single-shot PUT: object stores are atomic per object, no tmp+rename
        self.client.put(self._key(path), data)

    def delete(self, path: str) -> None:
        self.client.delete(self._key(path))

    def exists(self, path: str) -> bool:
        return self.client.exists(self._key(path))

    def size(self, path: str) -> int:
        return self.client.size(self._key(path))

    def makedirs(self, path: str) -> None:
        pass  # object stores have no directories

    def list(self, prefix_path: str) -> List[str]:
        base = f"{self.scheme}://{self.bucket_name}/"
        return [base + k for k in self.client.list(self._key(prefix_path))]


_LOCAL = LocalFileIO()
_REGISTRY: Dict[str, FileIO] = {}
# scheme -> factory(scheme, bucket, props) -> FileIO.  Instances cache
# per (scheme, bucket, properties-fingerprint): keying by bucket alone
# let one table's vended credentials stomp another's client in the same
# bucket, and let a props-less first call poison the cache with an
# unauthenticated client.  _BLOB_CURRENT tracks the most recently built
# IO per (scheme, bucket) for the repo-wide props-less
# ``load_io(path).read(path)`` call shape (vended-credential installs
# refresh it).
_FACTORIES: Dict[str, object] = {}
_BLOB_CACHE: Dict[tuple, FileIO] = {}
_BLOB_CURRENT: Dict[tuple, FileIO] = {}
_provider = None  # (scheme, bucket, props) -> bucket client


def _props_fp(properties) -> tuple:
    return tuple(sorted((properties or {}).items()))


def register_io(scheme: str, io: FileIO) -> None:
    """Register an IO implementation for a URI scheme (io/blob.go)."""
    _REGISTRY[scheme] = io


def unregister_io(scheme: str) -> None:
    _REGISTRY.pop(scheme, None)


def register_io_factory(scheme: str, factory) -> None:
    """Register factory(scheme, bucket, props) -> FileIO for a scheme
    (io/gocloud/register.go Register).  Cached IOs for the scheme are
    dropped so the new factory takes effect immediately (a stale cache
    entry would silently keep serving the old factory's instances)."""
    _FACTORIES[scheme] = factory
    for k in [k for k in _BLOB_CACHE if k[0] == scheme]:
        del _BLOB_CACHE[k]
    for k in [k for k in _BLOB_CURRENT if k[0] == scheme]:
        del _BLOB_CURRENT[k]


def set_blob_client_provider(fn) -> None:
    """Install the bucket-client provider used by the built-in blob
    schemes: fn(scheme, bucket, props) -> client.  Clears cached blob IOs
    so a new provider takes effect immediately."""
    global _provider
    _provider = fn
    _BLOB_CACHE.clear()
    _BLOB_CURRENT.clear()


def _blob_factory(scheme: str, bucket: str, props: Dict[str, str]) -> FileIO:
    if _provider is None:
        raise ValueError(
            f"no blob client provider installed for {scheme}://{bucket} "
            "(set_blob_client_provider; cloud SDKs are environment-bound)")
    return BlobFileIO(scheme, bucket, _provider(scheme, bucket, props), props)


for _s in ("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "mem"):
    _FACTORIES[_s] = _blob_factory


def refresh_blob_io(path: str, properties: Dict[str, str] = None):
    """Force-rebuild the cached per-(scheme, bucket) BlobFileIO for
    ``path`` with fresh ``properties`` — vended-credential rotation: the
    cached client was constructed with storage credentials that have
    since expired, so a plain load_io (which caches) would keep handing
    back an IO whose reads 403 (vended_creds.go:109 loadFS refresh).
    Returns the new IO, or None for non-blob paths."""
    if "://" not in path:
        return None
    scheme, rest = path.split("://", 1)
    scheme = scheme.lower()
    if scheme in _REGISTRY or scheme == "file" or scheme not in _FACTORIES:
        return None
    bucket = rest.split("/", 1)[0]
    io = _FACTORIES[scheme](scheme, bucket, dict(properties or {}))
    _BLOB_CACHE[(scheme, bucket, _props_fp(properties))] = io
    _BLOB_CURRENT[(scheme, bucket)] = io
    return io


def load_io(path: str, properties: Dict[str, str] = None) -> FileIO:
    """Resolve the IO for a path: explicit scheme registration first, then
    scheme factory (cached per scheme+bucket), then local FS for plain and
    file:// paths (io/io.go LoadFS)."""
    if "://" in path:
        scheme, rest = path.split("://", 1)
        scheme = scheme.lower()  # URI schemes are case-insensitive
        if scheme in _REGISTRY:
            return _REGISTRY[scheme]
        if scheme == "file":
            return _LOCAL
        if scheme in _FACTORIES:
            bucket = rest.split("/", 1)[0]
            if not properties:
                # the repo-wide call shape: most recently built IO for
                # the bucket (vended-credential installs keep this
                # fresh); falls through to an unauthenticated build
                # only when nothing was ever installed
                cur = _BLOB_CURRENT.get((scheme, bucket))
                if cur is not None:
                    return cur
            key = (scheme, bucket, _props_fp(properties))
            io = _BLOB_CACHE.get(key)
            if io is None:
                io = _FACTORIES[scheme](scheme, bucket,
                                        dict(properties or {}))
                _BLOB_CACHE[key] = io
                _BLOB_CURRENT[(scheme, bucket)] = io
            return io
        raise ValueError(f"no FileIO registered for scheme {scheme!r}")
    return _REGISTRY.get("", _LOCAL)
