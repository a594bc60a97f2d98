"""Encryption scaffolding: KMS client interface, registry, envelope keys.

Parity (behavior only, original code): /root/reference/encryption/kms.go
(KeyManagementClient :66-89, in-memory AES-GCM client :92-226, ciphertext
layout ``12-byte nonce || ciphertext || 16-byte GCM tag``),
encryption/kms_registry.go (named factory registry, ``kms-type`` catalog
property, built-in "memory"), table/encryption.go:29-56 (EncryptionKey
metadata entries, v3 ``encryption-keys`` list).

Envelope model: a KEK (key-encryption key) lives in the KMS, identified by
the ``encryption.key-id`` table property; a fresh DEK (data-encryption
key) is generated per file, wrapped by the KMS, and stored in the file's
``key_metadata``.  This module supplies the key-management plane; wiring
DEKs into parquet modular encryption is a later layer (Spark's parquet
reader supports it via hadoop conf once a KMS is available).
"""

from __future__ import annotations

import base64
import os
import threading
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple


class EncryptionError(Exception):
    pass


class UnknownKeyIDError(EncryptionError):
    """A KMS client was asked to (un)wrap with a key ID it doesn't know."""


class InvalidKeyLengthError(EncryptionError):
    """Key or requested key length invalid for the cipher (AES: 16/24/32)."""


class CiphertextTooShortError(EncryptionError):
    """Wrapped key smaller than the minimum (the AES-GCM nonce prefix)."""


class AuthenticationFailedError(EncryptionError):
    """Authenticated decryption rejected its input (tamper/wrong key)."""


class KMSTypeNotFoundError(EncryptionError):
    """No registered KMS factory under the requested ``kms-type``."""


_GCM_NONCE_LEN = 12


class KeyManagementClient:
    """Interface to a KMS that wraps/unwraps DEKs with externally-managed
    KEKs (kms.go:66-89)."""

    def wrap_key(self, key_id: str, plaintext_key: bytes) -> bytes:
        raise NotImplementedError

    def unwrap_key(self, key_id: str, wrapped_key: bytes) -> bytes:
        raise NotImplementedError

    def supports_key_generation(self) -> bool:
        return False

    def generate_key(self, key_id: str, length: int
                     ) -> Tuple[bytes, bytes]:
        """-> (plaintext DEK, wrapped DEK)."""
        raise NotImplementedError


class InMemoryKMS(KeyManagementClient):
    """Test-only KMS backed by an in-process KEK map; AES-GCM wrapping.

    All keys are plaintext in process memory with no persistence, access
    control, or audit logging — do not use in production (kms.go:92)."""

    def __init__(self):
        self._keys: Dict[str, bytes] = {}
        self._mu = threading.RLock()

    def add_key(self, key_id: str, master_key: bytes) -> None:
        if len(master_key) not in (16, 24, 32):
            raise InvalidKeyLengthError(
                f"master key for {key_id!r} must be 16, 24, or 32 bytes; "
                f"got {len(master_key)}")
        with self._mu:
            self._keys[key_id] = bytes(master_key)

    def _kek(self, key_id: str) -> bytes:
        with self._mu:
            kek = self._keys.get(key_id)
        if kek is None:
            raise UnknownKeyIDError(repr(key_id))
        return kek

    def wrap_key(self, key_id: str, plaintext_key: bytes) -> bytes:
        return _aesgcm_seal(self._kek(key_id), bytes(plaintext_key))

    def unwrap_key(self, key_id: str, wrapped_key: bytes) -> bytes:
        return _aesgcm_open(self._kek(key_id), bytes(wrapped_key))

    def supports_key_generation(self) -> bool:
        return True

    def generate_key(self, key_id: str, length: int) -> Tuple[bytes, bytes]:
        if length <= 0:
            raise InvalidKeyLengthError(
                f"key length must be positive, got {length}")
        plaintext = os.urandom(length)
        return plaintext, self.wrap_key(key_id, plaintext)


def _aesgcm_seal(key: bytes, plaintext: bytes) -> bytes:
    """nonce || ciphertext || tag, random 12-byte nonce (kms.go:188)."""
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM
    nonce = os.urandom(_GCM_NONCE_LEN)
    return nonce + AESGCM(key).encrypt(nonce, plaintext, None)


def _aesgcm_open(key: bytes, ciphertext: bytes) -> bytes:
    from cryptography.exceptions import InvalidTag
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM
    if len(ciphertext) < _GCM_NONCE_LEN:
        raise CiphertextTooShortError(
            f"need at least {_GCM_NONCE_LEN} bytes for the AES-GCM nonce, "
            f"got {len(ciphertext)}")
    nonce, body = ciphertext[:_GCM_NONCE_LEN], ciphertext[_GCM_NONCE_LEN:]
    try:
        return AESGCM(key).decrypt(nonce, body, None)
    except InvalidTag as e:
        raise AuthenticationFailedError(str(e)) from e


# ---------------------------------------------------------------------------
# registry (kms_registry.go)

KMS_TYPE_KEY = "kms-type"

_registry: Dict[str, Callable[[Dict[str, str]], KeyManagementClient]] = {}
_registry_mu = threading.Lock()


def register_kms(name: str,
                 factory: Callable[[Dict[str, str]], KeyManagementClient]
                 ) -> None:
    if factory is None:
        raise ValueError("register_kms factory is None")
    with _registry_mu:
        if name in _registry:
            raise ValueError(f"register_kms called twice for name {name!r}")
        _registry[name] = factory


def unregister_kms(name: str) -> None:
    with _registry_mu:
        _registry.pop(name, None)


def registered_kms_names() -> List[str]:
    with _registry_mu:
        return list(_registry)


def load_key_management_client(props: Dict[str, str]) -> KeyManagementClient:
    name = props.get(KMS_TYPE_KEY, "")
    if not name:
        raise KMSTypeNotFoundError(f"{KMS_TYPE_KEY!r} is not set")
    with _registry_mu:
        factory = _registry.get(name)
    if factory is None:
        raise KMSTypeNotFoundError(repr(name))
    return factory(props)


def _memory_kms_factory(props: Dict[str, str]) -> "InMemoryKMS":
    """Built-in test KMS; the optional ``encryption.kms.memory.keys``
    property ("keyid:base64kek,...") seeds KEKs so an executor-side
    reconstruction (Python DataSource read) holds the same keys as the
    driver.  Plaintext keys in table properties are TEST-ONLY by
    definition — a real deployment registers a KMS type whose factory
    reaches an external service instead."""
    kms = InMemoryKMS()
    for pair in filter(None, props.get(MEMORY_KMS_KEYS_KEY, "").split(",")):
        kid, b64 = pair.split(":", 1)
        kms.add_key(kid, base64.b64decode(b64))
    return kms


MEMORY_KMS_KEYS_KEY = "encryption.kms.memory.keys"

register_kms("memory", _memory_kms_factory)


# ---------------------------------------------------------------------------
# metadata entries (table/encryption.go, v3 `encryption-keys`)


@dataclass(frozen=True)
class EncryptionKey:
    """One entry of table metadata's v3 ``encryption-keys`` list."""
    key_id: str
    encrypted_key_metadata: str  # base64
    encrypted_by_id: Optional[str] = None
    properties: Dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        if not self.key_id or self.key_id != self.key_id.strip():
            raise ValueError("encryption key-id must be non-empty with no "
                             "surrounding whitespace")
        try:
            decoded = base64.b64decode(self.encrypted_key_metadata,
                                       validate=True)
        except Exception as e:
            raise ValueError(
                f"encrypted key metadata must be valid base64: {e}") from e
        if not decoded:
            raise ValueError("encrypted key metadata must be non-empty")

    def to_json_dict(self) -> Dict[str, object]:
        d: Dict[str, object] = {
            "key-id": self.key_id,
            "encrypted-key-metadata": self.encrypted_key_metadata,
        }
        if self.encrypted_by_id is not None:
            d["encrypted-by-id"] = self.encrypted_by_id
        if self.properties:
            d["properties"] = dict(self.properties)
        return d

    @classmethod
    def from_json_dict(cls, d: Dict[str, object]) -> "EncryptionKey":
        return cls(key_id=str(d["key-id"]),
                   encrypted_key_metadata=str(d["encrypted-key-metadata"]),
                   encrypted_by_id=d.get("encrypted-by-id"),
                   properties=dict(d.get("properties") or {}))


# ---------------------------------------------------------------------------
# file-level DEK envelopes + Spark Parquet Modular Encryption wiring
#
# Table properties:
#   encryption.table-key-id    master key id in the table's KMS
#   kms-type                   KMS registry name (load_key_management_client)
#   encryption.parquet.kms-client-class
#                              JVM KmsClient impl for live Parquet Modular
#                              Encryption (parquet-hadoop ships only the
#                              interface; a concrete class must be on the
#                              Spark classpath)
#   encryption.parquet.column-keys
#                              PME column-keys spec "keyId:colA,colB;..."

TABLE_KEY_ID_KEY = "encryption.table-key-id"
PARQUET_KMS_CLIENT_CLASS_KEY = "encryption.parquet.kms-client-class"
PARQUET_COLUMN_KEYS_KEY = "encryption.parquet.column-keys"
DEK_LENGTH = 16


def table_encryption_enabled(properties: Dict[str, str]) -> bool:
    return bool(properties.get(TABLE_KEY_ID_KEY))


def generate_file_key(kms: KeyManagementClient, key_id: str
                      ) -> Tuple[bytes, bytes]:
    """Generate one per-file data-encryption key: returns (plaintext DEK,
    key_metadata bytes). The key_metadata envelope — JSON
    {"key-id", "wrapped-dek" b64} — is what lands in
    DataFile.key_metadata; only the KMS holding key-id can unwrap it."""
    import json
    if kms.supports_key_generation():
        dek, wrapped = kms.generate_key(key_id, DEK_LENGTH)
    else:
        dek = os.urandom(DEK_LENGTH)
        wrapped = kms.wrap_key(key_id, dek)
    meta = json.dumps({
        "key-id": key_id,
        "wrapped-dek": base64.b64encode(wrapped).decode("ascii"),
    }).encode("utf-8")
    return dek, meta


def unwrap_file_key(kms: KeyManagementClient, key_metadata: bytes) -> bytes:
    """Recover a file's plaintext DEK from its key_metadata envelope."""
    import json
    try:
        d = json.loads(key_metadata.decode("utf-8"))
        key_id, wrapped = d["key-id"], base64.b64decode(d["wrapped-dek"])
    except (ValueError, KeyError, UnicodeDecodeError) as e:
        raise EncryptionError(f"malformed key_metadata envelope: {e}") from e
    return kms.unwrap_key(key_id, wrapped)


def attach_file_keys(data_files, properties: Dict[str, str]) -> None:
    """Stamp a fresh wrapped DEK envelope onto every DataFile of a write
    (in place). One DEK per file: compromising one file's key exposes one
    file. No-op when the table has no encryption key configured."""
    key_id = properties.get(TABLE_KEY_ID_KEY)
    if not key_id:
        return
    kms = load_key_management_client(properties)
    for df in data_files:
        _dek, meta = generate_file_key(kms, key_id)
        df.key_metadata = meta


def spark_parquet_encryption_confs(properties: Dict[str, str]
                                   ) -> Dict[str, str]:
    """Hadoop confs enabling Spark's native Parquet Modular Encryption
    for a table's writes/reads (PropertiesDrivenCryptoFactory + a
    KmsClient). parquet-hadoop in this Spark ships only the KmsClient
    INTERFACE, so live PME requires the table property
    ``encryption.parquet.kms-client-class`` naming a concrete class on
    the JVM classpath; without it this raises KMSTypeNotFoundError —
    callers treat that as "metadata-plane only" (DEK envelopes in
    manifests, plaintext parquet)."""
    key_id = properties.get(TABLE_KEY_ID_KEY)
    if not key_id:
        return {}
    kms_class = properties.get(PARQUET_KMS_CLIENT_CLASS_KEY)
    if not kms_class:
        raise KMSTypeNotFoundError(
            f"{PARQUET_KMS_CLIENT_CLASS_KEY!r} is not set: no JVM KmsClient "
            "for live Parquet Modular Encryption")
    confs = {
        "parquet.crypto.factory.class":
            "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
        "parquet.encryption.kms.client.class": kms_class,
        "parquet.encryption.footer.key": key_id,
    }
    col_keys = properties.get(PARQUET_COLUMN_KEYS_KEY)
    if col_keys:
        confs["parquet.encryption.column.keys"] = col_keys
    # the in-memory KMS's KEKs ride into the JVM client the same way
    # they reach executor-side pyarrow readers: through configuration
    # (jvm/MemoryAesGcmKmsClient reads this conf in initialize();
    # plaintext KEKs in conf are TEST-ONLY by definition)
    mem_keys = properties.get(MEMORY_KMS_KEYS_KEY)
    if mem_keys and properties.get(KMS_TYPE_KEY, "memory") == "memory":
        confs[JVM_MEMORY_KMS_KEYS_CONF] = mem_keys
    return confs


JVM_KMS_CLIENT_CLASS = "iceberg_go_spark.jvm.MemoryAesGcmKmsClient"
JVM_MEMORY_KMS_KEYS_CONF = "parquet.encryption.memory.kms.keys"


def jvm_kms_classpath() -> Optional[str]:
    """Compile (once) and return the classes dir for the bundled JVM
    KmsClient (jvm/MemoryAesGcmKmsClient.java) — the concrete class
    live Parquet Modular Encryption needs on the Spark classpath
    (reference scaffolding: encryption/kms.go:92-226).  Returns None
    when javac or the parquet jars are unavailable; callers env-gate.
    The classes dir must be on ``spark.driver.extraClassPath`` /
    ``spark.executor.extraClassPath`` AT JVM LAUNCH — an already-
    running session cannot add it."""
    import glob as _glob
    import shutil
    import subprocess
    here = os.path.dirname(os.path.abspath(__file__))
    src = os.path.join(here, "jvm", "MemoryAesGcmKmsClient.java")
    classes = os.path.join(here, "jvm", "classes")
    out = os.path.join(classes, "iceberg_go_spark", "jvm",
                       "MemoryAesGcmKmsClient.class")
    if os.path.exists(out) and \
            os.path.getmtime(out) >= os.path.getmtime(src):
        return classes
    if shutil.which("javac") is None:
        return None
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = []
    for pat in ("parquet-hadoop-*.jar", "parquet-common-*.jar",
                "parquet-column-*.jar", "parquet-format-structures-*.jar",
                "hadoop-client-api-*.jar"):
        jars += _glob.glob(os.path.join(spark_home, "jars", pat))
    if not jars:
        return None
    os.makedirs(classes, exist_ok=True)
    r = subprocess.run(
        ["javac", "-cp", os.pathsep.join(jars), "-d", classes, src],
        capture_output=True, text=True)
    if r.returncode != 0:
        raise EncryptionError(f"javac failed for JVM KmsClient: "
                              f"{r.stderr[:500]}")
    return classes


def unapply_parquet_encryption(spark) -> None:
    """Clear the session-global PME hadoop confs set by
    apply_parquet_encryption — with the crypto factory conf set, EVERY
    subsequent parquet write in the session is encrypted under the
    footer key, so per-table use on a shared session must unset after."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k in ("parquet.crypto.factory.class",
              "parquet.encryption.kms.client.class",
              "parquet.encryption.footer.key",
              "parquet.encryption.column.keys",
              JVM_MEMORY_KMS_KEYS_CONF):
        hconf.unset(k)


def apply_parquet_encryption(spark, properties: Dict[str, str]) -> bool:
    """Set the PME hadoop confs on the session if the table is fully
    configured for live encryption; returns whether they were applied."""
    try:
        confs = spark_parquet_encryption_confs(properties)
    except KMSTypeNotFoundError:
        return False
    if not confs:
        return False
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in confs.items():
        hconf.set(k, v)
    return True


# ---------------------------------------------------------------------------
# pyarrow Parquet Modular Encryption (no JVM KmsClient needed)
#
# Spark's JVM PME path needs a KmsClient class on the classpath (absent
# in this container), but pyarrow ships full PME: the Python DataSource
# read path and a pyarrow write helper close the loop, so encrypted
# parquet DATA (not just the metadata-plane DEK envelopes) round-trips
# end-to-end.  Reference executes its envelope path natively
# (table/encryption.go:76, encryption/kms.go:92-226).


def _pyarrow_kms_adapter(props: Dict[str, str]):
    """pyarrow KmsClient bridging to this module's KeyManagementClient:
    pyarrow hands us (key bytes, master key id); wrapping delegates to
    the registered KMS (AES-GCM for the in-memory one)."""
    import pyarrow.parquet.encryption as pe

    kms = load_key_management_client(props)

    class _Adapter(pe.KmsClient):
        def __init__(self, *_a):
            pe.KmsClient.__init__(self)

        def wrap_key(self, key_bytes, master_key_identifier):
            return base64.b64encode(
                kms.wrap_key(master_key_identifier,
                             bytes(key_bytes))).decode("ascii")

        def unwrap_key(self, wrapped_key, master_key_identifier):
            if isinstance(wrapped_key, str):
                wrapped_key = wrapped_key.encode("ascii")
            return kms.unwrap_key(master_key_identifier,
                                  base64.b64decode(wrapped_key))

    return _Adapter


def pyarrow_encryption_properties(properties: Dict[str, str],
                                  column_names: List[str]):
    """(crypto_factory, FileEncryptionProperties) for writing one
    encrypted parquet file under the table's ``encryption.table-key-id``
    (every column plus the footer under the table key — this pyarrow
    exposes no uniform_encryption flag, so the column list is explicit).
    Keep the factory referenced while the properties are in use."""
    import pyarrow.parquet.encryption as pe
    key_id = properties.get(TABLE_KEY_ID_KEY)
    if not key_id:
        raise EncryptionError(f"{TABLE_KEY_ID_KEY!r} is not set")
    adapter = _pyarrow_kms_adapter(properties)
    factory = pe.CryptoFactory(lambda _cfg: adapter())
    conf = pe.KmsConnectionConfig()
    enc = pe.EncryptionConfiguration(
        footer_key=key_id, column_keys={key_id: list(column_names)})
    return factory, factory.file_encryption_properties(conf, enc)


def pyarrow_decryption_properties(properties: Dict[str, str]):
    """(crypto_factory, FileDecryptionProperties) for reading parquet
    files written via pyarrow_encryption_properties."""
    import pyarrow.parquet.encryption as pe
    adapter = _pyarrow_kms_adapter(properties)
    factory = pe.CryptoFactory(lambda _cfg: adapter())
    conf = pe.KmsConnectionConfig()
    return factory, factory.file_decryption_properties(conf)


def write_encrypted_parquet(arrow_table, path: str,
                            properties: Dict[str, str]) -> None:
    """Write one AES-GCM-encrypted parquet file (footer + all columns
    under the table key's envelope; pyarrow generates and wraps the
    per-file DEKs, key material stored in-file)."""
    import pyarrow.parquet as pq
    factory, enc = pyarrow_encryption_properties(
        properties, list(arrow_table.schema.names))
    pq.write_table(arrow_table, path, encryption_properties=enc)


def append_encrypted(table, spark, df) -> None:
    """Append a Spark DataFrame as ONE pyarrow-PME-encrypted data file.

    Spark's JVM writer can't encrypt without a JVM KmsClient, so the
    rows funnel through the driver here — this is the container-bound
    demonstration path, not the 100 TB path (which configures
    spark_parquet_encryption_confs on a cluster whose classpath has a
    KmsClient and keeps writes distributed).  The file carries the
    table's field ids and enters the table through a normal transaction,
    its stats harvested from the decrypted footer."""
    import os as _os
    import uuid as _uuid

    from .table.write import harvest_data_files, stamp_field_ids

    props = table.metadata.properties
    schema = table.metadata.schema()
    atable = df.toArrow()
    atable = atable.cast(stamp_field_ids(atable.schema, schema))
    data_dir = _os.path.join(table.metadata.location, "data")
    _os.makedirs(data_dir, exist_ok=True)
    path = _os.path.join(data_dir, f"enc-{_uuid.uuid4().hex}.parquet")
    write_encrypted_parquet(atable, path, props)
    files = harvest_data_files(spark, [(path, {})], schema, props,
                               encrypted=True)
    attach_file_keys(files, props)
    table.new_transaction().append_files(files).commit()
