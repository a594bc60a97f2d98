"""Encryption scaffolding: KMS wrap/unwrap, registry, EncryptionKey entries.

Cases mirror /root/reference/encryption/kms_test semantics; code original."""

import base64

import pytest

from iceberg_go_spark.encryption import (AuthenticationFailedError,
                                         CiphertextTooShortError,
                                         EncryptionKey, InMemoryKMS,
                                         InvalidKeyLengthError,
                                         KMSTypeNotFoundError,
                                         UnknownKeyIDError,
                                         load_key_management_client,
                                         register_kms, registered_kms_names,
                                         unregister_kms)


def _kms():
    kms = InMemoryKMS()
    kms.add_key("kek-1", b"0123456789abcdef")  # AES-128
    return kms


def test_wrap_unwrap_roundtrip():
    kms = _kms()
    dek = b"\x01" * 32
    wrapped = kms.wrap_key("kek-1", dek)
    assert wrapped != dek and len(wrapped) == 12 + 32 + 16  # nonce|ct|tag
    assert kms.unwrap_key("kek-1", wrapped) == dek
    # wrapping is nonce-randomized: same DEK -> different blobs
    assert kms.wrap_key("kek-1", dek) != wrapped


def test_generate_key():
    kms = _kms()
    assert kms.supports_key_generation()
    plain, wrapped = kms.generate_key("kek-1", 16)
    assert len(plain) == 16
    assert kms.unwrap_key("kek-1", wrapped) == plain
    with pytest.raises(InvalidKeyLengthError):
        kms.generate_key("kek-1", 0)


def test_error_paths():
    kms = _kms()
    with pytest.raises(UnknownKeyIDError):
        kms.wrap_key("nope", b"\x00" * 16)
    with pytest.raises(InvalidKeyLengthError):
        kms.add_key("bad", b"short")
    with pytest.raises(CiphertextTooShortError):
        kms.unwrap_key("kek-1", b"\x00" * 5)
    wrapped = bytearray(kms.wrap_key("kek-1", b"\x02" * 16))
    wrapped[-1] ^= 0xFF  # corrupt the GCM tag
    with pytest.raises(AuthenticationFailedError):
        kms.unwrap_key("kek-1", bytes(wrapped))
    # wrong KEK also fails authentication, not silent garbage
    kms.add_key("kek-2", b"fedcba9876543210")
    good = kms.wrap_key("kek-1", b"\x03" * 16)
    with pytest.raises(AuthenticationFailedError):
        kms.unwrap_key("kek-2", good)


def test_registry():
    assert "memory" in registered_kms_names()
    client = load_key_management_client({"kms-type": "memory"})
    assert isinstance(client, InMemoryKMS)
    with pytest.raises(KMSTypeNotFoundError):
        load_key_management_client({})
    with pytest.raises(KMSTypeNotFoundError):
        load_key_management_client({"kms-type": "vault"})
    register_kms("testkms", lambda p: InMemoryKMS())
    try:
        with pytest.raises(ValueError):
            register_kms("testkms", lambda p: InMemoryKMS())
        assert isinstance(
            load_key_management_client({"kms-type": "testkms"}), InMemoryKMS)
    finally:
        unregister_kms("testkms")
    assert "testkms" not in registered_kms_names()


def test_encryption_key_metadata():
    meta = base64.b64encode(b"wrapped-dek-bytes").decode()
    k = EncryptionKey(key_id="k1", encrypted_key_metadata=meta)
    k.validate()
    d = k.to_json_dict()
    assert d == {"key-id": "k1", "encrypted-key-metadata": meta}
    assert EncryptionKey.from_json_dict(d) == k
    with pytest.raises(ValueError):
        EncryptionKey(" k1", meta).validate()
    with pytest.raises(ValueError):
        EncryptionKey("k1", "!!!not-base64!!!").validate()
    with pytest.raises(ValueError):
        EncryptionKey("k1", "").validate()


# ---------------------------------------------------------------------------
# file-level DEK envelopes + write/scan wiring


def test_file_key_envelope_roundtrip():
    from iceberg_go_spark.encryption import (InMemoryKMS, generate_file_key,
                                             unwrap_file_key)
    kms = InMemoryKMS()
    kms.add_key("master", b"0123456789abcdef")
    dek, meta = generate_file_key(kms, "master")
    assert len(dek) == 16
    assert unwrap_file_key(kms, meta) == dek
    # each file gets its own DEK
    dek2, meta2 = generate_file_key(kms, "master")
    assert dek2 != dek and meta2 != meta
    with pytest.raises(Exception):
        unwrap_file_key(kms, b"garbage")


def test_pme_confs_gated_on_jvm_class():
    from iceberg_go_spark.encryption import (KMSTypeNotFoundError,
                                             spark_parquet_encryption_confs)
    assert spark_parquet_encryption_confs({}) == {}
    with pytest.raises(KMSTypeNotFoundError):
        spark_parquet_encryption_confs(
            {"encryption.table-key-id": "master"})
    confs = spark_parquet_encryption_confs({
        "encryption.table-key-id": "master",
        "encryption.parquet.kms-client-class": "com.example.Kms",
        "encryption.parquet.column-keys": "master:name"})
    assert confs["parquet.encryption.footer.key"] == "master"
    assert confs["parquet.encryption.kms.client.class"] == "com.example.Kms"
    assert confs["parquet.encryption.column.keys"] == "master:name"
    assert confs["parquet.crypto.factory.class"].endswith(
        "PropertiesDrivenCryptoFactory")


def test_encrypted_table_stamps_key_metadata(spark, tmp_path):
    """Write to a table with encryption.table-key-id: every data file's
    manifest entry must carry a wrapped DEK envelope that the table's KMS
    (and only it) can unwrap; envelopes survive the manifest round-trip
    and differ per file."""
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.encryption import (InMemoryKMS, register_kms,
                                             unregister_kms, unwrap_file_key)
    from iceberg_go_spark.schema import Schema

    kms = InMemoryKMS()
    kms.add_key("table-master", b"fedcba9876543210")
    register_kms("test-table-kms", lambda _p: kms)
    try:
        cat = FilesystemCatalog(str(tmp_path / "wh"))
        df = spark.range(0, 1000).selectExpr("id", "id % 5 AS k")
        t = cat.create_table(
            "db.enc", Schema.from_spark(df.schema),
            properties={"encryption.table-key-id": "table-master",
                        "kms-type": "test-table-kms"})
        t = t.append(df.repartition(4))

        tasks = t.scan().plan_files()
        assert len(tasks) >= 2
        envelopes = [k.data_file.key_metadata for k in tasks]
        assert all(e for e in envelopes)
        assert len(set(envelopes)) == len(envelopes)  # per-file DEKs
        deks = {unwrap_file_key(kms, e) for e in envelopes}
        assert len(deks) == len(envelopes)
        # reads still work (metadata-plane only: no JVM KmsClient here)
        assert t.to_df(spark).count() == 1000

        # a KMS without the master key cannot unwrap
        other = InMemoryKMS()
        other.add_key("table-master", b"0000000000000000")
        with pytest.raises(Exception):
            unwrap_file_key(other, envelopes[0])
    finally:
        unregister_kms("test-table-kms")


def test_unencrypted_table_has_no_key_metadata(spark, tmp_path):
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.schema import Schema
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = spark.range(0, 10).selectExpr("id")
    t = cat.create_table("db.plain", Schema.from_spark(df.schema))
    t = t.append(df)
    assert all(k.data_file.key_metadata is None
               for k in t.scan().plan_files())


def test_encrypted_datafile_roundtrip_datasource(spark, sf_dir, tmp_path):
    """End-to-end encrypted DATA (not just metadata-plane envelopes)
    without a JVM KmsClient: write an AES-GCM parquet file via pyarrow
    PME under the in-memory KMS, commit it through a normal transaction,
    and read it back decrypted through the Python DataSource.  The JVM
    relational path must FAIL on the same file (proves it is actually
    encrypted).  Reference executes its envelope path natively
    (table/encryption.go:76, encryption/kms.go:92-226)."""
    import base64

    import pyarrow.parquet as pq
    import pytest as _pytest

    from conftest import read_table
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.encryption import append_encrypted
    from iceberg_go_spark.schema import Schema
    from iceberg_go_spark.sources.datasource import register

    kek = base64.b64encode(b"0123456789abcdef").decode()
    props = {
        "format-version": "3",
        "encryption.table-key-id": "t-key",
        "kms-type": "memory",
        "encryption.kms.memory.keys": f"t-key:{kek}",
    }
    wh = str(tmp_path / "wh")
    cat = FilesystemCatalog(wh)
    df = read_table(spark, "region", sf_dir)
    t = cat.create_table("db.enc", Schema.from_spark(df.schema),
                         properties=props)
    append_encrypted(t, spark, df)

    # the parquet file on disk is really encrypted: plain pyarrow fails
    task = t.scan().plan_files()[0]
    assert task.data_file.key_metadata is not None
    with _pytest.raises(Exception):
        pq.read_table(task.data_file.file_path)

    # Python DataSource decrypts via the shipped properties
    register(spark)
    out = (spark.read.format("iceberg_go_spark")
           .option("warehouse", wh).option("table", "db.enc").load())
    got = {(r.r_regionkey, r.r_name) for r in out.collect()}
    want = {(r.r_regionkey, r.r_name) for r in df.collect()}
    assert got == want


def test_append_encrypted_harvests_decrypted_footer(spark, sf_dir, tmp_path):
    """append_encrypted harvests the file's stats through the decrypted
    footer, like every other write: bounds, counts and split offsets
    land, so metrics pruning works on encrypted data too."""
    from conftest import read_table
    from iceberg_go_spark import expressions as E
    from iceberg_go_spark.catalog import FilesystemCatalog
    from iceberg_go_spark.encryption import append_encrypted
    from iceberg_go_spark.schema import Schema

    kek = base64.b64encode(b"0123456789abcdef").decode()
    cat = FilesystemCatalog(str(tmp_path / "wh"))
    df = read_table(spark, "region", sf_dir)
    t = cat.create_table("db.encstats", Schema.from_spark(df.schema),
                         properties={
                             "encryption.table-key-id": "t-key",
                             "kms-type": "memory",
                             "encryption.kms.memory.keys": f"t-key:{kek}"})
    append_encrypted(t, spark, df)
    t = cat.load_table("db.encstats")
    (task,) = t.scan().plan_files()
    d = task.data_file
    fid = t.schema().find_field("r_regionkey").field_id
    assert d.record_count == df.count()
    assert d.value_counts[fid] == df.count()
    assert fid in d.lower_bounds and fid in d.upper_bounds
    assert d.split_offsets and d.key_metadata is not None
    assert t.scan(E.gt("r_regionkey", 1000)).plan_files() == []
