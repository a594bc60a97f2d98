"""FileIO abstraction: the metadata plane resolves IO by URI scheme.

Parity (behavior only): /root/reference/io/io.go (IO interface),
io/mem.go (in-memory store used exactly like this in the reference's
own tests), io/blob.go (scheme-based resolution).
"""

import pytest

from iceberg_go_spark.io import (InMemoryFileIO, LocalFileIO, load_io,
                                 register_io, unregister_io)
from iceberg_go_spark.meta.avro import read_container, write_container
from iceberg_go_spark.meta.dv import PuffinReader, PuffinWriter


@pytest.fixture
def mem():
    io = InMemoryFileIO()
    register_io("mem", io)
    yield io
    unregister_io("mem")


def test_scheme_resolution(mem):
    assert load_io("mem://t/metadata/v1.json") is mem
    assert isinstance(load_io("/tmp/plain/path"), LocalFileIO)
    assert isinstance(load_io("file:///tmp/x"), LocalFileIO)
    with pytest.raises(ValueError):
        load_io("s3://bucket/key")  # unregistered scheme is an error


def test_mem_io_roundtrip(mem):
    mem.write("mem://a/b", b"hello")
    assert mem.read("mem://a/b") == b"hello"
    assert mem.size("mem://a/b") == 5
    assert mem.exists("mem://a/b")
    mem.delete("mem://a/b")
    assert not mem.exists("mem://a/b")
    with pytest.raises(FileNotFoundError):
        mem.read("mem://a/b")


def test_avro_container_through_mem_io(mem):
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "x", "type": "long"}, {"name": "s", "type": "string"}]}
    recs = [{"x": 1, "s": "a"}, {"x": 2, "s": "b"}]
    write_container("mem://wh/m1.avro", schema, recs, {"k": b"v"})
    got_schema, got, meta = read_container("mem://wh/m1.avro")
    assert got == recs
    assert meta["k"] == b"v"


def test_puffin_through_mem_io(mem):
    w = PuffinWriter("mem://wh/stats.puffin")
    w.add_blob("apache-datasketches-theta-v1", b"\x01\x02\x03",
               fields=[1], **{"snapshot-id": 7, "sequence-number": 1})
    w.write()
    r = PuffinReader("mem://wh/stats.puffin")
    blobs = r.blobs
    assert len(blobs) == 1
    meta = blobs[0]
    assert meta["type"] == "apache-datasketches-theta-v1"
    assert r.read_blob(meta) == b"\x01\x02\x03"


# -- object-store (blob) IO (io/gocloud/{blob,s3,register}.go) --------------

@pytest.fixture(params=["mem", "boto3-wire"])
def s3(request):
    """Every blob-IO test runs twice: over the in-memory bucket AND —
    when boto3 is importable — over a REAL boto3 s3 client against a
    local path-style S3 wire endpoint (tests/support/s3_local.py), so the
    metadata plane's s3:// paths exercise genuine botocore signing/
    marshalling/error mapping, not just the duck-typed surface."""
    from iceberg_go_spark import io as IO
    buckets = {}

    if request.param == "mem":
        def provider(scheme, bucket, props):
            return buckets.setdefault((scheme, bucket),
                                      IO.InMemoryBucket())
        IO.set_blob_client_provider(provider)
        yield buckets
        IO.set_blob_client_provider(None)
        return

    pytest.importorskip("boto3")
    from tests.support.s3_local import LocalS3WireServer
    server = LocalS3WireServer().start()
    client = server.boto3_client()

    def provider(scheme, bucket, props):
        key = (scheme, bucket)
        if key not in buckets:
            # server-side name carries the scheme so s3://b and gs://b
            # stay isolated, matching the mem variant's semantics
            wire_bucket = f"{scheme}-{bucket}"
            client.create_bucket(Bucket=wire_bucket)
            buckets[key] = IO.Boto3BucketClient(client, wire_bucket)
        return buckets[key]

    IO.set_blob_client_provider(provider)
    yield buckets
    IO.set_blob_client_provider(None)
    server.stop()


def test_blob_io_roundtrip(s3):
    io = load_io("s3://warehouse/db/t/metadata/v1.json")
    path = "s3://warehouse/db/t/metadata/v1.json"
    assert not io.exists(path)
    io.write(path, b"hello")
    assert io.read(path) == b"hello" and io.size(path) == 5
    # same (scheme, bucket) -> cached instance; other bucket -> another
    assert load_io("s3://warehouse/other/key") is io
    assert load_io("s3://elsewhere/x") is not io
    io.delete(path)
    assert not io.exists(path)
    with pytest.raises(ValueError):
        io.read("s3://otherbucket/key")  # outside the bound bucket


def test_blob_io_listing_and_schemes(s3):
    io = load_io("s3a://b/k")
    for k in ("a/1", "a/2", "b/3"):
        io.write(f"s3a://b/{k}", b"x")
    assert io.list("s3a://b/a/") == ["s3a://b/a/1", "s3a://b/a/2"]
    # all S3-compatible and azure/gcs schemes resolve (register.go)
    for scheme in ("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb",
                   "wasbs"):
        assert load_io(f"{scheme}://b/k") is not None


def test_metadata_plane_on_object_store(s3):
    """Table metadata JSON + a puffin blob round-trip via s3:// paths —
    the whole metadata plane works off an object store."""
    from iceberg_go_spark.meta.metadata import TableMetadata, \
        new_table_metadata
    from iceberg_go_spark.meta.partitioning import PartitionSpec
    from iceberg_go_spark.schema import NestedField, Schema
    from iceberg_go_spark import types as T

    schema = Schema([NestedField(1, "id", T.LongType(), required=True)])
    md = new_table_metadata(schema, PartitionSpec(),
                            location="s3://warehouse/db/t")
    path = "s3://warehouse/db/t/metadata/00000-x.metadata.json"
    md.write(path)
    back = TableMetadata.read(path)
    assert back.table_uuid == md.table_uuid
    assert back.location == "s3://warehouse/db/t"

    blob_path = "s3://warehouse/db/t/metadata/stats.puffin"
    pw = PuffinWriter(blob_path)
    pw.add_blob("apache-datasketches-theta-v1", b"\x01\x02")
    pw.write()
    pr = PuffinReader(blob_path)
    assert len(pr.blobs) == 1 and pr.read_blob(pr.blobs[0]) == b"\x01\x02"


class TestRound9ReviewFindings:
    def test_file_uri_scheme_stripped(self, tmp_path):
        from iceberg_go_spark.io import load_io
        p = tmp_path / "m" / "v1.json"
        uri = "file://" + str(p)
        io = load_io(uri)
        io.write(uri, b"hello")
        assert p.read_bytes() == b"hello"       # lands at the real path
        assert io.read(uri) == b"hello"
        assert io.size(uri) == 5 and io.exists(uri)
        io.delete(uri)
        assert not p.exists()
        # file://localhost/... form too
        uri2 = "file://localhost" + str(tmp_path / "x.bin")
        io.write(uri2, b"y")
        assert (tmp_path / "x.bin").read_bytes() == b"y"
        import pytest as _pt
        with _pt.raises(ValueError):
            io.read("file://otherhost/a/b")

    def test_uppercase_scheme_accepted(self, tmp_path):
        from iceberg_go_spark.io import load_io
        p = tmp_path / "up.bin"
        io = load_io("FILE://" + str(p))
        io.write("FILE://" + str(p), b"z")
        assert p.read_bytes() == b"z"

    def test_concurrent_local_writes_same_path(self, tmp_path):
        import threading
        from iceberg_go_spark.io import LocalFileIO
        io = LocalFileIO()
        path = str(tmp_path / "meta.json")
        payloads = [bytes([i]) * 4096 for i in range(8)]
        threads = [threading.Thread(target=io.write, args=(path, pl))
                   for pl in payloads]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        # the published file is EXACTLY one thread's payload, never a mix
        assert open(path, "rb").read() in payloads
        # no leaked tmp files
        assert [f for f in tmp_path.iterdir()] == [tmp_path / "meta.json"]

    def test_blob_cache_keyed_by_properties(self):
        from iceberg_go_spark.io import (InMemoryBucket, load_io,
                                         set_blob_client_provider)
        built = []

        def provider(scheme, bucket, props):
            built.append(dict(props))
            return InMemoryBucket()

        set_blob_client_provider(provider)
        try:
            a = load_io("mem://bkt/t1/f", {"s3.access-key-id": "A"})
            b = load_io("mem://bkt/t2/f", {"s3.access-key-id": "B"})
            assert a is not b                  # no credential stomp
            # same props -> cached instance
            assert load_io("mem://bkt/t1/g",
                           {"s3.access-key-id": "A"}) is a
            # props-less call returns the most recently built client
            assert load_io("mem://bkt/t1/h") is b
            assert [p.get("s3.access-key-id") for p in built] == ["A", "B"]
        finally:
            set_blob_client_provider(None)

    def test_register_io_factory_invalidates_cache(self):
        from iceberg_go_spark import io as iomod
        from iceberg_go_spark.io import (BlobFileIO, InMemoryBucket,
                                         load_io, register_io_factory,
                                         set_blob_client_provider)
        set_blob_client_provider(
            lambda s, b, p: InMemoryBucket())
        try:
            first = load_io("mem://inv/f")
            register_io_factory(
                "mem", lambda s, b, p: BlobFileIO(s, b, InMemoryBucket(),
                                                  p))
            assert load_io("mem://inv/f") is not first
        finally:
            register_io_factory("mem", iomod._blob_factory)
            set_blob_client_provider(None)
