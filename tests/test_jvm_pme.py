"""Live JVM Parquet Modular Encryption end-to-end.

Closes the last environment-bound encryption gap: Spark's OWN JVM
parquet writer/reader encrypting and decrypting through a concrete
classpath KmsClient (jvm/MemoryAesGcmKmsClient, compiled on demand),
plus cross-engine interop with the pyarrow PME path — both engines
speak the parquet key-tools spec, and the KEK wrap format
(base64(nonce || AES-GCM)) matches the Python InMemoryKMS bit-for-bit.

Runs in a SUBPROCESS: extraClassPath must be on the JVM command line,
so the shared test session (whose classpath is fixed) cannot host it.
"""

import base64
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = r"""
import base64, glob, os, sys, tempfile
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
from iceberg_go_spark import encryption as ENC

spark = (SparkSession.builder.master("local[4]").appName("jvm-pme")
         .config("spark.driver.extraClassPath", %(classes)r)
         .config("spark.executor.extraClassPath", %(classes)r)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

kek_b64 = %(kek)r
props = {
    ENC.TABLE_KEY_ID_KEY: "k1",
    ENC.KMS_TYPE_KEY: "memory",
    ENC.MEMORY_KMS_KEYS_KEY: "k1:" + kek_b64,
    ENC.PARQUET_KMS_CLIENT_CLASS_KEY: ENC.JVM_KMS_CLIENT_CLASS,
    ENC.PARQUET_COLUMN_KEYS_KEY: "k1:n_name",
}
assert ENC.apply_parquet_encryption(spark, props)

out = tempfile.mkdtemp(prefix="jvmpme_") + "/enc"
df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
df.coalesce(1).write.mode("overwrite").parquet(out)
back = spark.read.parquet(out)
assert back.count() == df.count()
assert sorted(r.n_name for r in back.collect()) == \
    sorted(r.n_name for r in df.collect())
print("JVM-WRITE-READ-OK")

f = glob.glob(out + "/*.parquet")[0]
import pyarrow.parquet as pq
try:
    pq.ParquetFile(f)
    print("BAD-PLAINTEXT-READ")
except Exception:
    print("PLAINTEXT-REJECTED-OK")

# pyarrow reads the JVM-encrypted file through the engine KMS
# (ParquetFile path — the same one the Python DataSource read uses;
# read_table's dataset layer does not forward decryption properties)
fac, dec = ENC.pyarrow_decryption_properties(props)
t = pq.ParquetFile(f, decryption_properties=dec).read()
assert t.num_rows == df.count()
print("PYARROW-CROSS-READ-OK")

# reverse: pyarrow-PME write, Spark JVM read
pa_dir = tempfile.mkdtemp(prefix="jvmpme_pa_")
ENC.write_encrypted_parquet(df.toArrow(),
                            os.path.join(pa_dir, "pa.parquet"), props)
got = spark.read.parquet(pa_dir)
assert got.count() == df.count()
print("SPARK-CROSS-READ-OK")

# a VARIANT table appended under JVM PME: pyarrow cannot open the
# VARIANT footer, so the harvest reads it through parquet-java, which
# decrypts it with the session's crypto factory
from iceberg_go_spark import types as T
from iceberg_go_spark.catalog import FilesystemCatalog
from iceberg_go_spark.schema import Schema
vprops = dict(props, **{"format-version": "3",
                        ENC.PARQUET_COLUMN_KEYS_KEY: "k1:id"})
cat = FilesystemCatalog(tempfile.mkdtemp(prefix="jvmpme_wh_"))
vt = cat.create_table("db.v", Schema([T.NestedField(1, "id", T.LongType()),
                                      T.NestedField(2, "v", T.VariantType())]),
                      properties=vprops)
vt.append(spark.sql("select id, parse_json('{\"a\":' || id || '}') as v "
                    "from range(50)").coalesce(1))
(task,) = cat.load_table("db.v").scan().plan_files()
d = task.data_file
assert d.record_count == 50, d
assert d.split_offsets, d
assert 1 in d.lower_bounds and 1 in d.upper_bounds, d
assert 2 in d.column_sizes, d
print("VARIANT-PME-HARVEST-OK")

# unapply: the next write in the SAME session must be plaintext again
ENC.unapply_parquet_encryption(spark)
plain = tempfile.mkdtemp(prefix="jvmpme_plain_") + "/p"
df.coalesce(1).write.mode("overwrite").parquet(plain)
pq.ParquetFile(glob.glob(plain + "/*.parquet")[0])  # opens fine
print("UNAPPLY-OK")
print("ALL-JVM-PME-OK")
"""


@pytest.mark.skipif(shutil.which("javac") is None,
                    reason="no javac in this environment")
def test_jvm_pme_end_to_end(tmp_path):
    from iceberg_go_spark.encryption import jvm_kms_classpath
    classes = jvm_kms_classpath()
    if classes is None:
        pytest.skip("parquet jars not found for KmsClient compile")
    kek = base64.b64encode(os.urandom(16)).decode()
    script = tmp_path / "drive.py"
    script.write_text(DRIVER % {"repo": REPO, "classes": classes,
                                "kek": kek})
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    r = subprocess.run([sys.executable, str(script)],
                       capture_output=True, text=True, timeout=420,
                       env=env)
    sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
    assert "ALL-JVM-PME-OK" in r.stdout, r.stdout + r.stderr
    for sentinel in ("JVM-WRITE-READ-OK", "PLAINTEXT-REJECTED-OK",
                     "PYARROW-CROSS-READ-OK", "SPARK-CROSS-READ-OK",
                     "VARIANT-PME-HARVEST-OK", "UNAPPLY-OK"):
        assert sentinel in r.stdout
    assert "BAD-PLAINTEXT-READ" not in r.stdout
