"""The engine's local file system (``adventureworkslakehousepoc_spark/jvm``):
``get_spark`` binds the ``file`` scheme of both Hadoop APIs to it, it leaves
the modes, ``.crc`` files and link statuses Hadoop's own ``LocalFileSystem``
leaves, it forks no ``chmod`` or ``readlink``, and the committed jar is built
from the committed sources."""

from __future__ import annotations

import importlib.util
import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest

from adventureworkslakehousepoc_spark import session

ROOT = Path(__file__).resolve().parent.parent


def _hadoop(spark):
    jvm = spark._jvm
    return jvm, jvm.org.apache.hadoop.fs, spark._jsc.hadoopConfiguration()


def _stock_fs(spark):
    """Hadoop's own checksummed local file system, a fresh uncached instance."""
    jvm, hfs, conf = _hadoop(spark)
    stock = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    return hfs.FileSystem.newInstance(jvm.java.net.URI("file:///"), stock)


def test_file_scheme_resolves_to_engine_classes(spark):
    jvm, hfs, conf = _hadoop(spark)
    fs = hfs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == session.FS_IMPL
    assert fs.getRawFileSystem().getClass().getName() == "adventureworkslakehousepoc.fs.NioRawLocalFileSystem"
    fc = hfs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
    afs = fc.getDefaultFileSystem()
    assert afs.getClass().getName() == session.ABSTRACT_FS_IMPL
    # what org.apache.hadoop.fs.local.RawLocalFs reports
    assert afs.getUriDefaultPort() == -1 and afs.supportsSymlinks()


@pytest.mark.parametrize("mode", [0o600, 0o750, 0o1750])
def test_create_mkdirs_and_chmod_set_exact_modes(spark, tmp_path, mode):
    """chmod(2) through java.nio sets the mode Hadoop asks for on a new file,
    its .crc, a new directory and a setPermission target: exactly the modes
    Hadoop's own file system leaves. create and mkdirs pass the mode
    through the umask first, which keeps only the rwx bits, so the sticky
    bit shows on setPermission alone."""
    jvm, hfs, conf = _hadoop(spark)
    fs = hfs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    perm = hfs.permission.FsPermission(mode)
    assert perm.toShort() == mode

    def made_by(fs, sub):
        base = tmp_path / sub
        f = hfs.Path(str(base / "f.bin"))
        out = fs.create(f, perm, True, 4096, 1, 1 << 20, None)
        out.write(b"x" * 10)
        out.close()
        fs.mkdirs(hfs.Path(str(base / "d")), perm)
        (base / "s").mkdir()
        fs.setPermission(hfs.Path(str(base / "s")), perm)
        return {p: stat.S_IMODE(os.stat(base / p).st_mode) for p in ("f.bin", ".f.bin.crc", "d", "s")}

    engine, stock = made_by(fs, "engine"), made_by(_stock_fs(spark), "stock")
    assert engine == stock
    assert engine == {"f.bin": mode & 0o777, ".f.bin.crc": mode & 0o777, "d": mode & 0o777, "s": mode}


def test_parquet_write_keeps_one_crc_per_file(spark, tmp_path):
    out = tmp_path / "t"
    spark.range(200).selectExpr("id % 7 AS k", "id").write.partitionBy("k").parquet(str(out))
    data, crcs = set(), set()
    for root, _, files in os.walk(out):
        for f in files:
            (crcs if f.endswith(".crc") else data).add(os.path.join(root, f))
    assert len(data) > 7
    assert crcs == {os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc") for p in data}
    for p in data | crcs:
        assert stat.S_IMODE(os.stat(p).st_mode) == 0o644
    for root, dirs, _ in os.walk(out):
        for d in dirs:
            assert stat.S_IMODE(os.stat(os.path.join(root, d)).st_mode) == 0o755


def test_file_link_status_matches_readlink_and_hadoop(spark, tmp_path):
    """A live link reports its target's status with the link's target and
    path, a dangling link Hadoop's placeholder status, a plain file its own
    status — field for field what Hadoop's forking implementation returns."""
    jvm, hfs, conf = _hadoop(spark)
    raw = hfs.FileSystem.get(jvm.java.net.URI("file:///"), conf).getRawFileSystem()
    stock = _stock_fs(spark).getRawFileSystem()
    (tmp_path / "target.txt").write_text("abc")
    os.symlink(tmp_path / "target.txt", tmp_path / "live")
    os.symlink(tmp_path / "missing.txt", tmp_path / "dangling")

    def fields(st):
        return (
            st.getPath().toString(), st.isSymlink(), st.isDirectory(), st.getLen(),
            st.getSymlink().toString() if st.isSymlink() else None,
            st.getPermission().toShort(), st.getOwner(), st.getGroup(),
            st.getModificationTime(),
        )

    for name in ("live", "dangling", "target.txt"):
        p = hfs.Path(str(tmp_path / name))
        got = raw.getFileLinkStatus(p)
        assert fields(got) == fields(stock.getFileLinkStatus(p)), name
        if name == "target.txt":
            assert not got.isSymlink()
        else:
            assert got.isSymlink()
            assert got.getSymlink().toUri().getPath() == os.readlink(tmp_path / name)
            assert raw.getLinkTarget(p).toString() == os.readlink(tmp_path / name)
    dangling = raw.getFileLinkStatus(hfs.Path(str(tmp_path / "dangling")))
    assert dangling.getLen() == 0 and dangling.getOwner() == "" and dangling.getGroup() == ""
    with pytest.raises(Exception, match="FileNotFoundException"):
        raw.getFileLinkStatus(hfs.Path(str(tmp_path / "absent")))


_SHIM = """#!/bin/sh
echo "{name} $*" >> {log}
exec {real} "$@"
"""

_NO_FORK_SESSION = textwrap.dedent("""
    import sys
    sys.path.insert(0, {root!r})
    from adventureworkslakehousepoc_spark.session import FS_JAR, get_spark
    from adventureworkslakehousepoc_spark.streaming.runner import run_available_now

    spark = get_spark(
        app_name="no-fork", cpus=2, shuffle_partitions=2, driver_memory="1g",
        extra_conf={{"spark.driver.extraClassPath": {out!r}}},
    )
    # a caller's class path is kept, the engine's jar appended
    assert spark.sparkContext.getConf().get("spark.driver.extraClassPath") == {out!r} + ":" + FS_JAR
    spark.range(1000).selectExpr("id % 50 AS k", "id").repartition(2, "k") \\
        .write.partitionBy("k").parquet({out!r} + "/partitioned")
    spark.range(100).write.parquet({out!r} + "/src")
    stream = spark.readStream.schema("id bigint").parquet({out!r} + "/src")
    assert run_available_now(stream, name="no-fork").count() == 100
    spark.stop()
""")


def test_session_forks_no_chmod_or_readlink(tmp_path):
    """A session from get_spark (its caller's class path kept) with logging
    chmod/readlink shims first on PATH: a partitioned write of 50 values and one AvailableNow stream (a
    checkpoint renamed per batch) call neither. Hadoop's stock local file
    system runs chmod for every file and directory it creates and readlink
    twice per checkpoint rename, hundreds of lines here."""
    shims, log = tmp_path / "shims", tmp_path / "forks.log"
    shims.mkdir()
    for name in ("chmod", "readlink"):
        real = shutil.which(name)
        assert real, f"{name} not on PATH"
        shim = shims / name
        shim.write_text(_SHIM.format(name=name, log=log, real=real))
        shim.chmod(0o755)
    env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}")
    (tmp_path / "out").mkdir()
    script = _NO_FORK_SESSION.format(root=str(ROOT), out=str(tmp_path / "out"))
    run = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=600
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert (tmp_path / "out" / "partitioned" / "k=49").is_dir()
    forks = log.read_text().splitlines() if log.exists() else []
    assert forks == [], f"{len(forks)} forks, first: {forks[:5]}"


def test_committed_jar_is_built_from_committed_sources():
    """The jar's manifest records the sha256 of the sources it was built
    from; a source edit without ``python scripts/build_jvm.py`` fails here."""
    spec = importlib.util.spec_from_file_location("build_jvm", ROOT / "scripts" / "build_jvm.py")
    build_jvm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build_jvm)
    assert Path(session.FS_JAR) == build_jvm.JAR
    with zipfile.ZipFile(build_jvm.JAR) as jar:
        # manifest lines wrap at 72 bytes; a continuation starts with a space
        manifest = jar.read("META-INF/MANIFEST.MF").decode().replace("\r\n", "\n").replace("\n ", "")
    attrs = dict(line.split(": ", 1) for line in manifest.splitlines() if ": " in line)
    assert attrs[build_jvm.DIGEST_KEY] == build_jvm.source_digest()
