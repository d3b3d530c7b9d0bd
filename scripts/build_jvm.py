#!/usr/bin/env python
"""Build the engine's JVM component, ``adventureworkslakehousepoc_spark/jvm/
nio-local-fs.jar``, from the Java sources under ``jvm/src`` and print the
sources' digest.

``javac --release 17`` compiles against PySpark's bundled Hadoop client jars;
``jar`` packs the classes in path order with a fixed entry date and writes
the digest into the manifest as ``Source-SHA256``, so the same sources give
the same jar byte for byte and a test can tell a stale jar from a fresh one.
The jar is committed: sessions load it as it is and need no JDK.

Usage: python scripts/build_jvm.py   (needs javac and jar on PATH)
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
from pathlib import Path

import pyspark

JVM = Path(__file__).resolve().parent.parent / "adventureworkslakehousepoc_spark" / "jvm"
SRC = JVM / "src"
JAR = JVM / "nio-local-fs.jar"
BUILD = JVM / "build"  # scratch, not committed
DIGEST_KEY = "Source-SHA256"
HADOOP_JARS = ("hadoop-client-api-*.jar", "hadoop-client-runtime-*.jar")


def sources() -> list[Path]:
    return sorted(SRC.rglob("*.java"))


def source_digest() -> str:
    """sha256 over every source file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for p in sources():
        h.update(p.relative_to(SRC).as_posix().encode() + b"\n")
        h.update(p.read_bytes())
    return h.hexdigest()


def hadoop_classpath() -> str:
    jars = Path(pyspark.__file__).parent / "jars"
    return os.pathsep.join(str(p) for pattern in HADOOP_JARS for p in sorted(jars.glob(pattern)))


def build() -> str:
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = BUILD / "classes"
    classes.mkdir(parents=True)
    subprocess.run(
        ["javac", "--release", "17", "-encoding", "UTF-8", "-cp", hadoop_classpath(),
         "-d", str(classes), *map(str, sources())],
        check=True,
    )
    digest = source_digest()
    manifest = BUILD / "MANIFEST.MF"
    manifest.write_text(f"{DIGEST_KEY}: {digest}\n")
    entries = []
    for p in sorted(classes.rglob("*.class")):
        entries += ["-C", str(classes), p.relative_to(classes).as_posix()]
    JAR.unlink(missing_ok=True)
    subprocess.run(
        ["jar", "--create", "--file", str(JAR), "--manifest", str(manifest),
         "--date", "2000-01-01T00:00:00Z", *entries],
        check=True,
    )
    shutil.rmtree(BUILD)
    return digest


if __name__ == "__main__":
    digest = build()
    print(f"{JAR.relative_to(JVM.parent.parent)} {DIGEST_KEY}={digest}")
