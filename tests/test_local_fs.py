"""The fork-free ``file://`` filesystem that ``get_session`` wires into a
local-master JVM (``echem_dft_etl_spark/jvm/NioLocalFileSystem.java``):
it spawns no process, and it creates, checksums and resolves files the
way Hadoop's own local filesystem does."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from echem_dft_etl_spark.session import _NIO_FS_CLASS
from echem_dft_etl_spark.streaming.windows import _as_stream_dir
from tests.conftest import REPO, SF_SMOKE

#: Commands Hadoop's local filesystem runs without libhadoop.
SHIMMED = ("chmod", "readlink", "ls", "stat")

#: A partitioned parquet write, a stateful availableNow stream with the
#: default (FileContext) checkpoint manager, and a FileContext rename.
CHILD = textwrap.dedent(
    """
    import os, sys, tempfile
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import functions as F
    from echem_dft_etl_spark.session import get_session

    spark = get_session(app_name="no-spawn", master="local[2]",
                        shuffle_partitions=2)
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    print("fs.file.impl", hconf.get("fs.file.impl"))
    d = tempfile.mkdtemp()
    (spark.range(100).withColumn("k", F.col("id") % 4)
     .write.partitionBy("k").parquet(f"{d}/parts"))
    q = (spark.readStream.schema("id long, k long").parquet(f"{d}/parts")
         .groupBy("k").count().writeStream.outputMode("complete")
         .format("memory").queryName("counts")
         .option("checkpointLocation", f"{d}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("counts").count() == 4
    fs = jvm.org.apache.hadoop.fs
    fc = fs.FileContext.getFileContext(hconf)
    create = gw.new_array(fs.Options.CreateOpts, 0)
    out = fc.create(fs.Path(f"{d}/a"),
                    jvm.java.util.EnumSet.of(fs.CreateFlag.CREATE), create)
    out.write(bytearray(b"abc"))
    out.close()
    rename = gw.new_array(fs.Options.Rename, 1)
    rename[0] = fs.Options.Rename.OVERWRITE
    fc.rename(fs.Path(f"{d}/a"), fs.Path(f"{d}/b"), rename)
    assert sorted(os.listdir(d)) == [".b.crc", "b", "ckpt", "parts"]
    spark.stop()
    print("child ok")
    """
)


def test_file_scheme_io_spawns_no_process(tmp_path):
    """With logging shims for chmod/readlink/ls/stat first on PATH, the
    JVM of a fresh local session runs none of them. Hadoop's default
    local filesystem ran about 150 here: a chmod per file and directory,
    two readlinks per checkpoint file."""
    shims, log = tmp_path / "shims", tmp_path / "spawned.log"
    shims.mkdir()
    for cmd in SHIMMED:
        shim = shims / cmd
        shim.write_text(
            f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\n'
            f'exec {shutil.which(cmd)} "$@"\n'
        )
        shim.chmod(0o755)
    env = {
        **os.environ,
        "PATH": f"{shims}{os.pathsep}{os.environ['PATH']}",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "TMPDIR": str(tmp_path),
    }
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, str(REPO)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"fs.file.impl {_NIO_FS_CLASS}" in proc.stdout
    assert "child ok" in proc.stdout
    spawned = log.read_text().splitlines() if log.exists() else []
    assert spawned == []


# ------------------------------------------------------------ semantics


def _fs_pair(spark):
    """(session filesystem, the filesystem Hadoop binds to ``file://``
    from a default conf), the second one uncached. With Spark's Hive
    jars present the default is Hive's ProxyLocalFileSystem."""
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs
    uri = jvm.java.net.URI("file:///")
    ours = fs.FileSystem.get(uri, spark.sparkContext._jsc.hadoopConfiguration())
    hadoop = fs.FileSystem.newInstance(uri, jvm.org.apache.hadoop.conf.Configuration())
    return ours, hadoop


def _fc_pair(spark):
    """(session FileContext, FileContext over Hadoop's default LocalFs)."""
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs
    ours = fs.FileContext.getFileContext(spark.sparkContext._jsc.hadoopConfiguration())
    hadoop = fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///"), jvm.org.apache.hadoop.conf.Configuration()
    )
    return ours, hadoop


def _mode(path) -> int:
    return os.stat(path).st_mode & 0o7777


def test_session_binds_the_nio_filesystem(spark):
    ours, hadoop = _fs_pair(spark)
    assert ours.getClass().getName() == _NIO_FS_CLASS
    local_fs = spark.sparkContext._jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.LocalFileSystem"
    )
    assert local_fs.isInstance(ours) and local_fs.isInstance(hadoop)
    assert hadoop.getClass().getName() != _NIO_FS_CLASS
    fc, _ = _fc_pair(spark)
    assert fc.getDefaultFileSystem().getClass().getName() == f"{_NIO_FS_CLASS}$Fs"


def test_created_files_and_dirs_get_hadoops_mode_bits(spark, tmp_path):
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs
    gw = spark.sparkContext._gateway
    (ours, hadoop), (fc_ours, fc_hadoop) = _fs_pair(spark), _fc_pair(spark)
    modes = {}
    for name, f, fc in (("ours", ours, fc_ours), ("hadoop", hadoop, fc_hadoop)):
        base = tmp_path / name
        assert f.mkdirs(fs.Path(str(base / "d1" / "d2")))
        f.create(fs.Path(str(base / "d1" / "f"))).close()
        fc.mkdir(fs.Path(str(base / "c1")), fs.permission.FsPermission.getDirDefault(), True)
        fc.create(
            fs.Path(str(base / "c1" / "f")),
            jvm.java.util.EnumSet.of(fs.CreateFlag.CREATE),
            gw.new_array(fs.Options.CreateOpts, 0),
        ).close()
        modes[name] = {
            str(p.relative_to(base)): _mode(p) for p in sorted(base.rglob("*"))
        }
    assert modes["ours"] == modes["hadoop"]
    # umask 022 (fs.permissions.umask-mode): 0755 directories, 0644 files
    # and .crc files
    assert modes["ours"] == {
        "c1": 0o755, "c1/.f.crc": 0o644, "c1/f": 0o644,
        "d1": 0o755, "d1/.f.crc": 0o644, "d1/d2": 0o755, "d1/f": 0o644,
    }
    # an explicit mode, and a sticky one (kept on Hadoop's own path)
    for bits in (0o700, 0o1777):
        ours.setPermission(
            fs.Path(str(tmp_path / "ours" / "d1" / "d2")),
            fs.permission.FsPermission(jvm.java.lang.Short(bits)),
        )
        assert _mode(tmp_path / "ours" / "d1" / "d2") == bits


def test_rename_matches_the_default_filesystem(spark, tmp_path):
    """A file is never renamed over an existing file; a directory
    target takes the source inside it."""
    fs = spark.sparkContext._jvm.org.apache.hadoop.fs
    results = {}
    for name, f in zip(("ours", "hadoop"), _fs_pair(spark)):
        base = tmp_path / name
        (base / "dir").mkdir(parents=True)
        for leaf in ("a", "b", "c"):
            f.create(fs.Path(str(base / leaf))).close()
        steps = [
            f.rename(fs.Path(str(base / "a")), fs.Path(str(base / "b"))),
            f.rename(fs.Path(str(base / "a")), fs.Path(str(base / "x"))),
            f.rename(fs.Path(str(base / "c")), fs.Path(str(base / "dir"))),
        ]
        files = sorted(str(p.relative_to(base)) for p in base.rglob("*"))
        results[name] = (steps, files)
    assert results["ours"] == results["hadoop"]
    assert results["ours"][0] == [False, True, True]


def test_crc_written_and_verified(spark, tmp_path):
    fs = spark.sparkContext._jvm.org.apache.hadoop.fs
    io = spark.sparkContext._jvm.org.apache.hadoop.io.IOUtils
    ours, hadoop = _fs_pair(spark)
    path = tmp_path / "data.bin"
    out = ours.create(fs.Path(str(path)))
    out.write(bytearray(b"0123456789" * 100))
    out.close()
    assert (tmp_path / ".data.bin.crc").stat().st_size > 0
    for f in (ours, hadoop):  # either reads and verifies the other's files
        assert bytes(io.readFullyToByteArray(f.open(fs.Path(str(path))))) == (
            b"0123456789" * 100
        )
    with open(path, "r+b") as fh:  # same length, one byte changed
        fh.seek(500)
        fh.write(b"X")
    with pytest.raises(Exception, match="ChecksumException"):
        io.readFullyToByteArray(ours.open(fs.Path(str(path))))


def test_file_context_link_status_on_the_stream_source(spark, tmp_path):
    """The file stream source is a directory of symlinks: FileContext
    still reports the link and its target, and answers every lookup
    as Hadoop's LocalFs does."""
    fs = spark.sparkContext._jvm.org.apache.hadoop.fs
    ours, hadoop = _fc_pair(spark)
    link = os.path.join(_as_stream_dir(SF_SMOKE, "events"), "events.parquet")
    st = ours.getFileLinkStatus(fs.Path(link))
    assert st.isSymlink()
    assert st.getSymlink().toUri().getPath() == os.readlink(link)
    plain = tmp_path / "plain"
    plain.write_bytes(b"x")
    for p in (link, f"file:{link}", str(plain), f"file:{plain}"):
        a = ours.getFileLinkStatus(fs.Path(p))
        b = hadoop.getFileLinkStatus(fs.Path(p))
        assert (a.isSymlink(), a.getLen(), a.isDirectory()) == (
            b.isSymlink(), b.getLen(), b.isDirectory()
        ), p
        if a.isSymlink():
            assert a.getSymlink().toString() == b.getSymlink().toString()
    for fc in (ours, hadoop):
        with pytest.raises(Exception, match="FileNotFoundException"):
            fc.getFileLinkStatus(fs.Path(str(tmp_path / "missing")))
