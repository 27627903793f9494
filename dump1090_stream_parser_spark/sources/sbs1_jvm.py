"""JVM-native ``sbs1-jvm`` streaming source: packaging + session glue.

The source itself is ~500 lines of Java (``java/src/sbs1/
Sbs1JvmSource.java``) implementing Spark's DataSource V2 streaming API
for many receivers (drain thread per receiver, blob-granularity replay
buffer with recv backpressure, per-receiver line-count offsets,
bounded data-bearing partitions), with framing BELOW Python:

- drain + framing run on plain JVM threads -- no GIL, so N receivers
  genuinely parallelize (a Python reader's drain threads measured a
  ~300k rows/s one-box ceiling, all serialized by the driver GIL,
  BASELINE.md round-11 row);
- partitions carry a handful of large ``byte[]`` blobs through Java
  serialization -- size-proportional, no per-row cost. This is why the
  builtin ``socket`` source union is NOT the answer: its per-row task
  payloads measure ~56k rows/s of addBatch serialization
  (BASELINE.md round-12 row);
- executor tasks split blobs into lines and emit rows as
  ``UTF8String`` slices pointing into the blob (no per-line copy).

The jar must be on the session's classpath AT JVM LAUNCH
(``spark.jars``): DataSource V2 lookup happens in the driver's
classloader, which ``addJar`` cannot extend after the fact. Use
:func:`jvm_source_conf` when building the session:

    spark = get_spark(..., extra_conf=jvm_source_conf())
    bronze = bronze_from_sbs1_jvm(spark, [("h1", 30003), ...])

The jar is committed; :func:`jvm_source_jar` rebuilds it from source
(``java/build.sh``, needs a JDK) only when it is missing or its
embedded input hash no longer matches the source.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import zipfile

_JAVA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "java",
)
_JAR_NAME = "sbs1-jvm-source.jar"
#: Build inputs, in the order ``java/build.sh`` hashes them.
_INPUTS = (
    "src/sbs1/Sbs1JvmSource.java",
    "src/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister",
    "build.sh",
)
#: Jar entry holding the sha256 of the inputs it was built from.
_HASH_ENTRY = "META-INF/sbs1-jvm-source.sha256"


def source_hash(java_dir: str = _JAVA_DIR) -> str:
    """sha256 of the build inputs, computed exactly as ``build.sh``
    does (``sha256sum <inputs> | sha256sum``)."""
    listing = ""
    for rel in _INPUTS:
        with open(os.path.join(java_dir, rel), "rb") as f:
            listing += f"{hashlib.sha256(f.read()).hexdigest()}  {rel}\n"
    return hashlib.sha256(listing.encode()).hexdigest()


def _embedded_hash(jar: str) -> str | None:
    try:
        with zipfile.ZipFile(jar) as zf:
            return zf.read(_HASH_ENTRY).decode().strip()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def jvm_source_jar(java_dir: str = _JAVA_DIR) -> str:
    """Path to the source jar, rebuilt from the committed Java source
    only when absent or built from different inputs (requires javac;
    the jar itself is committed, so this is normally a no-op).

    Staleness is the input hash embedded in the jar, not file mtimes:
    a fresh checkout can order mtimes "source after jar" and must not
    rewrite the committed binary, while an edit to the Java source
    must never leave the old class bytes in service."""
    jar = os.path.join(java_dir, _JAR_NAME)
    if _embedded_hash(jar) != source_hash(java_dir):
        subprocess.run(
            ["sh", os.path.join(java_dir, "build.sh")],
            check=True,
            capture_output=True,
        )
    return jar


def jvm_source_conf() -> dict[str, str]:
    """``extra_conf`` entries that put the source on the session
    classpath. Merge with any other spark.jars entries yourself if the
    deployment already ships jars."""
    return {"spark.jars": jvm_source_jar()}


def jvm_source_available(spark) -> bool:
    """True when the driver JVM can load the source class -- i.e. the
    session was launched with :func:`jvm_source_conf`."""
    try:
        spark._jvm.java.lang.Class.forName(
            "sbs1.Sbs1JvmSource",
            False,
            spark._jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader(),
        )
        return True
    except Exception:
        return False
