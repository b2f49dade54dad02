"""The ``file:`` FileSystem ``get_spark`` installs (``jvm/NioLocalFileSystem``):
Hadoop's checksummed local FS with modes set through NIO instead of a forked
``chmod``. It must leave the modes ``chmod`` leaves, keep Hive's no-overwrite
``rename`` guard, and its committed jar must be built from its source."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess

import pytest

from kafka_streams_rosetta_demo_spark import session

JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(session.__file__)), "jvm")


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


@pytest.fixture
def hadoop(spark):
    """(jvm, the session's Hadoop conf, its local FileSystem, Path ctor)."""
    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    return jvm, conf, fs, lambda p: jvm.org.apache.hadoop.fs.Path("file://" + str(p))


def _crc(path):
    return path.parent / f".{path.name}.crc"


def test_get_local_returns_the_nio_fs(hadoop):
    jvm, conf, fs, path = hadoop
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    assert path("/x").getFileSystem(conf).getClass().getName() == session.LOCAL_FS_CLASS


def test_default_modes_match_hadoops(hadoop, tmp_path):
    """Hadoop's default umask 022: directories 0755, files 0644, and each
    ``.crc`` takes its file's mode."""
    jvm, conf, fs, path = hadoop
    d, f = tmp_path / "a" / "b", tmp_path / "a" / "b" / "f"
    assert fs.mkdirs(path(d))
    fs.create(path(f)).close()
    assert (_mode(d.parent), _mode(d), _mode(f), _mode(_crc(f))) == (0o755, 0o755, 0o644, 0o644)


def test_set_permission_yields_what_chmod_sets(hadoop, tmp_path):
    """0640 on a file (and its ``.crc``) through NIO; a sticky 01777 on a
    directory, which NIO cannot express, through ``chmod`` itself."""
    jvm, conf, fs, path = hadoop
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    f = tmp_path / "f"
    fs.create(path(f)).close()
    fs.setPermission(path(f), FsPermission(0o640))
    d, twin = tmp_path / "d", tmp_path / "twin"
    d.mkdir()
    twin.mkdir()
    fs.setPermission(path(d), FsPermission(0o1777))
    subprocess.run(["chmod", "1777", str(twin)], check=True)
    assert (_mode(f), _mode(_crc(f))) == (0o640, 0o640)
    assert _mode(d) == _mode(twin) == 0o1777


def test_configured_umask_applies(hadoop, tmp_path):
    jvm, conf, fs, path = hadoop
    strict = jvm.org.apache.hadoop.conf.Configuration(conf)
    strict.set("fs.permissions.umask-mode", "077")
    own = jvm.org.apache.hadoop.fs.FileSystem.newInstance(path(tmp_path).toUri(), strict)
    try:
        assert own.getClass().getName() == session.LOCAL_FS_CLASS
        d, f = tmp_path / "d", tmp_path / "d" / "f"
        assert own.mkdirs(path(d))
        own.create(path(f)).close()
        assert (_mode(d), _mode(f), _mode(_crc(f))) == (0o700, 0o600, 0o600)
    finally:
        own.close()


def test_rename_never_replaces_a_file(hadoop, tmp_path):
    """Hive's ``ProxyLocalFileSystem`` guard, kept: a rename onto an existing
    file fails and leaves both; onto a missing path it moves the file."""
    jvm, conf, fs, path = hadoop
    src, dst, free = tmp_path / "src", tmp_path / "dst", tmp_path / "free"
    src.write_text("src")
    dst.write_text("dst")
    assert not fs.rename(path(src), path(dst))
    assert (src.read_text(), dst.read_text()) == ("src", "dst")
    assert fs.rename(path(src), path(free))
    assert not src.exists() and free.read_text() == "src"


def _javap(classes_dir) -> str:
    classes = sorted(str(p) for p in classes_dir.rglob("*.class"))
    assert classes
    return subprocess.run(
        ["javap", "-c", "-p", *classes], capture_output=True, text=True, check=True
    ).stdout


@pytest.mark.skipif(
    not all(shutil.which(t) for t in ("javac", "javap")),
    reason="needs JDK tools (javac, javap) to rebuild the jar from its source",
)
def test_committed_jar_matches_its_source(tmp_path):
    import zipfile

    import pyspark

    built, committed = tmp_path / "built", tmp_path / "committed"
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run(
        ["javac", "--release", "17", "-cp", jars, "-d", str(built),
         os.path.join(JVM_DIR, "NioLocalFileSystem.java")],
        check=True,
        capture_output=True,
    )
    with zipfile.ZipFile(os.path.join(JVM_DIR, "nio-local-fs.jar")) as jar:
        jar.extractall(committed)
    assert _javap(built) == _javap(committed)
