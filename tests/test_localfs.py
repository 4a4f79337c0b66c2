"""The session's Hadoop local file system: no child process per file, and the
same permissions and link statuses as Hadoop's own."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from kafka_exercise_spark import localfs

pytestmark = pytest.mark.skipif(
    localfs.classpath() is None, reason="no javac: the session keeps stock Hadoop"
)


def _jvm_child_ticks(spark) -> int:
    """CPU ticks (user + system) of the JVM's reaped child processes."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])  # cutime, cstime


def _hadoop(spark):
    jvm = spark.sparkContext._jvm
    return jvm, spark.sparkContext._jsc.hadoopConfiguration()


def test_file_creates_and_checkpoint_rename_fork_nothing(spark, tmp_path):
    jvm, conf = _hadoop(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
    new_array = spark.sparkContext._gateway.new_array
    no_create_opts = new_array(getattr(jvm.org.apache.hadoop.fs, "Options$CreateOpts"), 0)
    no_rename_opts = new_array(getattr(jvm.org.apache.hadoop.fs, "Options$Rename"), 0)

    def path(name):
        return jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}/{name}")

    fs.create(path("warm")).close()  # class loading stays out of the window
    before = _jvm_child_ticks(spark)
    for i in range(40):
        fs.create(path(f"f{i}")).close()
    create = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
    out = fc.create(path("tmp-commit"), create, no_create_opts)
    out.write(b"v1")
    out.close()
    fc.rename(path("tmp-commit"), path("commit"), no_rename_opts)
    assert _jvm_child_ticks(spark) - before == 0
    assert (tmp_path / "commit").read_bytes() == b"v1"
    assert (tmp_path / ".commit.crc").exists() and (tmp_path / ".f39.crc").exists()


def test_permissions_and_link_status_match_stock_hadoop(spark, tmp_path):
    jvm, conf = _hadoop(spark)
    hfs = jvm.org.apache.hadoop.fs
    ours = hfs.FileSystem.get(jvm.java.net.URI("file:///"), conf).getRawFileSystem()
    assert ours.getClass().getName() == "sparkgraft.fs.NioRawLocalFileSystem"
    stock = hfs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)

    def mode(p) -> int:
        return os.lstat(p).st_mode & 0o7777

    for fsys, side in ((stock, "stock"), (ours, "ours")):
        root = tmp_path / side
        root.mkdir()
        for m in (0o644, 0o600, 0o755, 0o750, 0o444, 0o000, 0o777):
            perm = hfs.permission.FsPermission(m)
            f = root / f"set{m:o}"
            f.touch()
            fsys.setPermission(hfs.Path(str(f)), perm)
            fsys.create(
                hfs.Path(str(root / f"new{m:o}")), perm, False, 4096, 1, 1 << 25, None
            ).close()
            fsys.mkdirs(hfs.Path(str(root / f"dir{m:o}")), perm)
        fsys.mkdirs(hfs.Path(str(root / "sticky")), hfs.permission.FsPermission(0o1777))
    names = sorted(os.listdir(tmp_path / "stock"))
    assert names == sorted(os.listdir(tmp_path / "ours"))
    assert [mode(tmp_path / "ours" / n) for n in names] == [
        mode(tmp_path / "stock" / n) for n in names
    ]

    d = tmp_path / "links"
    (d / "dir").mkdir(parents=True)
    (d / "file").write_text("abc")
    os.symlink("file", d / "link")
    os.symlink(str(d / "dir"), d / "dirlink")
    os.symlink("gone", d / "dangling")

    def status(fsys, p):
        try:
            s = fsys.getFileLinkStatus(p)
        except Py4JJavaError as e:
            return e.java_exception.getClass().getName()
        link = s.getSymlink().toString() if s.isSymlink() else None
        return (s.isFile(), s.isDirectory(), s.isSymlink(), link,
                s.getPath().toString(), s.getLen())

    for name in ("file", "dir", "link", "dirlink", "dangling", "missing"):
        for spelling in (str(d / name), f"file:{d / name}"):
            p = hfs.Path(spelling)
            assert status(ours, p) == status(stock, p), spelling
            if name in ("link", "dirlink", "dangling") and ":" not in spelling:
                assert ours.getLinkTarget(p).toString() == stock.getLinkTarget(p).toString()
    assert status(ours, hfs.Path(str(d / "missing"))) == "java.io.FileNotFoundException"
    assert status(ours, hfs.Path(str(d / "link")))[2] is True
