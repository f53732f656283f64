"""get_spark's local file system sets permissions inside the JVM.

Hadoop's default local file system (no native library) runs `chmod` in a
child process for every file and directory a write creates; each child
starts as a copy of the JVM's address space. The session swaps in
vectordbfaiss.NioLocalFileSystem, which must give the same modes.
"""

from __future__ import annotations

import os
import stat


def _local_fs(spark):
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_session_uses_in_process_local_fs(spark):
    assert _local_fs(spark).getClass().getName() == "vectordbfaiss.NioLocalFileSystem"


def test_write_gives_hadoop_default_modes(spark, tmp_path):
    out = tmp_path / "t"
    spark.range(100).repartition(3).write.parquet(str(out))
    assert spark.read.parquet(str(out)).count() == 100
    files = os.listdir(out)
    assert sum(f.endswith(".parquet") for f in files) == 3
    # fs.permissions.umask-mode 022 over 0666 files / 0777 directories
    assert {_mode(out / f) for f in files} == {0o644}
    assert _mode(out) == 0o755


def test_set_permission_matches_chmod(spark, tmp_path):
    jvm = spark._jvm
    fs = _local_fs(spark)
    target = tmp_path / "f"
    target.write_text("x")
    path = jvm.org.apache.hadoop.fs.Path(str(target))
    for mode in (0o640, 0o604, 0o751, 0o000, 0o777, 0o1777):
        fs.setPermission(path, jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:03o}"))
        # the sticky bit takes Hadoop's own path; every mode must land exactly
        assert stat.S_IMODE(os.stat(target).st_mode) == mode, oct(mode)
