"""Rebuild the engine's JVM jar from its Java source.

    python -m golang_mapreduce_spark.tools.build_jvm

Compiles ``golang_mapreduce_spark/jvm/PosixLocalFileSystem.java`` with
``javac --release 17`` against the jars of the Spark that pyspark
launches (``$SPARK_HOME``, else the pyspark package) and writes the jar that
``session.get_session`` puts on the driver and executor class paths.  The
jar is committed, so nothing compiles at run time; its manifest records
the SHA-256 of the Java source, so a test can tell a stale jar from a
current one.  Needs a JDK (``javac`` and ``jar``) on ``PATH``.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import tempfile
import zipfile

from pyspark.find_spark_home import _find_spark_home

from golang_mapreduce_spark.session import JVM_JAR

SOURCE = os.path.join(os.path.dirname(JVM_JAR), "PosixLocalFileSystem.java")
DIGEST_ATTRIBUTE = "Source-SHA-256"
#: A fixed entry time, so one source and one compiler give one jar.
JAR_DATE = "2000-01-01T00:00:00Z"


def source_digest(path: str = SOURCE) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def manifest_digest(jar: str = JVM_JAR) -> str | None:
    """The source digest recorded in ``jar``'s manifest, or None."""
    with zipfile.ZipFile(jar) as z:
        text = z.read("META-INF/MANIFEST.MF").decode()
    # Manifest lines wrap at 72 bytes; a leading space continues a line.
    for line in text.replace("\r\n", "\n").replace("\n ", "").splitlines():
        key, _, value = line.partition(": ")
        if key == DIGEST_ATTRIBUTE:
            return value
    return None


def build(jar: str = JVM_JAR) -> None:
    classpath = os.path.join(_find_spark_home(), "jars", "*")
    with tempfile.TemporaryDirectory() as tmp:
        classes = os.path.join(tmp, "classes")
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes, SOURCE],
            check=True,
        )
        manifest = os.path.join(tmp, "MANIFEST.MF")
        with open(manifest, "w") as f:
            f.write(f"{DIGEST_ATTRIBUTE}: {source_digest()}\n")
        subprocess.run(
            ["jar", "--create", "--file", jar, f"--date={JAR_DATE}",
             "--manifest", manifest, "-C", classes, "."],
            check=True,
        )


def main() -> None:
    build()
    print(f"{JVM_JAR}: {DIGEST_ATTRIBUTE} {manifest_digest()}")


if __name__ == "__main__":
    main()
