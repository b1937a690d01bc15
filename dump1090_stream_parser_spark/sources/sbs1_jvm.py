"""JVM-native ``sbs1-jvm`` streaming source: packaging + session glue.

The source itself is ~500 lines of Java (``java/src/sbs1/
Sbs1JvmSource.java``) implementing Spark's DataSource V2 streaming API
-- the same multi-receiver design as the Python partitioned reader in
:mod:`.sbs1_source` (drain thread per receiver, blob-granularity
replay buffer with recv backpressure, per-receiver line-count offsets,
bounded data-bearing partitions), with framing moved BELOW Python
(VERDICT r11 ask #1):

- drain + framing run on plain JVM threads -- no GIL, so N receivers
  genuinely parallelize (the Python source's measured one-box ceiling
  was ~300k rows/s with ALL drain threads serialized by the driver
  GIL, BASELINE.md round-11 row);
- partitions carry a handful of large ``byte[]`` blobs through Java
  serialization -- size-proportional, no per-row cost. This is why the
  builtin ``socket`` source union is NOT the answer: its per-row task
  payloads measure ~56k rows/s of addBatch serialization
  (BASELINE.md round-12 row), 5x WORSE than the Python source;
- executor tasks split blobs into lines and emit rows as
  ``UTF8String`` slices pointing into the blob (no per-line copy).

The jar must be on the session's classpath AT JVM LAUNCH
(``spark.jars``): DataSource V2 lookup happens in the driver's
classloader, which ``addJar`` cannot extend after the fact. Use
:func:`jvm_source_conf` when building the session:

    spark = get_spark(..., extra_conf=jvm_source_conf())
    bronze = bronze_from_sbs1_jvm(spark, [("h1", 30003), ...])

The jar is committed with a sha256 of its build inputs beside it;
:func:`jvm_source_jar` rebuilds it from source (``java/build.sh``, needs
a JDK) when it is missing or that hash no longer matches.
"""

from __future__ import annotations

import hashlib
import os
import subprocess

_JAVA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "java",
)

#: The jar's build inputs, relative to ``java/``: a change to any of
#: them makes the committed jar stale.
_BUILD_INPUTS = (
    "src/sbs1/Sbs1JvmSource.java",
    "src/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister",
    "build.sh",
)


def _build_inputs_sha256(java_dir: str) -> str:
    digest = hashlib.sha256()
    for rel in _BUILD_INPUTS:
        digest.update(rel.encode() + b"\0")
        with open(os.path.join(java_dir, rel), "rb") as f:
            digest.update(f.read())
    return digest.hexdigest()


def jvm_source_jar() -> str:
    """Path to the source jar, building it from the committed Java
    source if absent OR STALE (requires javac; the jar itself is
    committed, so this is normally a no-op).

    Staleness is decided by content, not mtime: the sha256 of the build
    inputs is stored beside the jar (``sbs1-jvm-source.jar.sha256``)
    and the jar is rebuilt only when that hash no longer matches. An
    edit to Sbs1JvmSource.java therefore never leaves the committed jar
    serving the old class bytes (ADVICE r12), while a fresh checkout --
    whose files all carry new mtimes -- does not rewrite it."""
    jar = os.path.join(_JAVA_DIR, "sbs1-jvm-source.jar")
    stamp = jar + ".sha256"
    want = _build_inputs_sha256(_JAVA_DIR)
    try:
        with open(stamp) as f:
            have = f.read().strip()
    except FileNotFoundError:
        have = None
    if have != want or not os.path.exists(jar):
        subprocess.run(
            ["sh", os.path.join(_JAVA_DIR, "build.sh")],
            check=True,
            capture_output=True,
        )
        with open(stamp, "w") as f:
            f.write(want + "\n")
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
