"""The session's ``file://`` file system (singer_tap_spark/jvm/LocalFileSystem.java):
both Hadoop entry points resolve to it, it writes the modes and ``.crc``
sidecars stock Hadoop writes, and it starts no ``chmod`` process per written
file; plus its jar builder and conf helper."""

import logging
import os
import threading
import zipfile

import pytest
from pyspark.sql import functions as F

from singer_tap_spark import session

FS_CLASS = "singer_tap_spark.jvm.LocalFileSystem"


def _hadoop(spark):
    return spark._jvm, spark._jsc.hadoopConfiguration()


def _mode(path):
    return os.stat(path).st_mode & 0o7777


def _last_pid():
    with open("/proc/loadavg") as f:
        return int(f.read().split()[-1])


def _pids_used(before, after):
    with open("/proc/sys/kernel/pid_max") as f:
        pid_max = int(f.read())
    return (after - before) % pid_max  # the counter wraps at pid_max


def test_file_scheme_resolves_to_repo_fs(spark):
    jvm, conf = _hadoop(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == FS_CLASS
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == FS_CLASS + "$Fs"


def test_bucketed_append_keeps_stock_modes_and_crc_without_forking(spark, tmp_path):
    if not os.path.exists("/proc/loadavg"):
        pytest.skip("no /proc/loadavg to read the last pid from")
    jvm, conf = _hadoop(spark)
    # the modes stock Hadoop gives a created file and directory here
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    stock.create(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "stock" / "f"))).close()
    stock.mkdirs(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "stock" / "d")))
    file_mode, dir_mode = _mode(tmp_path / "stock" / "f"), _mode(tmp_path / "stock" / "d")

    df = (spark.range(2500).withColumn("bucket", F.col("id") % 32)
          .repartition(32, "bucket").cache())
    df.count()
    out = str(tmp_path / "t")
    df.write.mode("append").partitionBy("bucket").parquet(out)  # warm-up

    # JVM threads take pids too, so a rare new pool thread can land inside
    # one window: keep the smaller of two appends (stock Hadoop: ~200 each)
    used = []
    for _ in range(2):
        before = _last_pid()
        df.write.mode("append").partitionBy("bucket").parquet(out)
        used.append(_pids_used(before, _last_pid()))
    assert min(used) <= 20, used
    df.unpersist()

    dirs = [d for d in os.listdir(out) if d.startswith("bucket=")]
    assert len(dirs) == 32
    parts = 0
    for d in dirs:
        assert _mode(os.path.join(out, d)) == dir_mode
        names = set(os.listdir(os.path.join(out, d)))
        for name in names:
            assert _mode(os.path.join(out, d, name)) == file_mode, name
            if name.endswith(".parquet"):
                parts += 1
                assert f".{name}.crc" in names
    assert parts >= 3 * 32


def test_set_permission_special_bits_and_plain_modes(spark, tmp_path):
    jvm, conf = _hadoop(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    (tmp_path / "d").mkdir()
    (tmp_path / "f").write_text("x")
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "d")), perm("1755"))
    assert _mode(tmp_path / "d") == 0o1755
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "f")), perm("640"))
    assert _mode(tmp_path / "f") == 0o640


def test_streaming_checkpoint_keeps_crc_sidecars(spark, tmp_path):
    src = tmp_path / "src"
    spark.range(10).write.parquet(str(src))
    ckpt = tmp_path / "ckpt"
    q = (spark.readStream.schema("id long").parquet(str(src)).writeStream
         .format("parquet").option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start(str(tmp_path / "out")))
    q.awaitTermination()
    for log in ("offsets", "commits"):
        names = set(os.listdir(ckpt / log))
        assert {"0", ".0.crc"} <= names, (log, names)


def test_concurrent_first_builds_publish_one_jar(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    jars = []
    threads = [threading.Thread(target=lambda: jars.append(session._local_fs_jar()))
               for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    cache = tmp_path / "singer_tap_spark"
    assert len(set(jars)) == 1 and jars[0] is not None
    assert os.listdir(cache) == [os.path.basename(jars[0])]
    with zipfile.ZipFile(jars[0]) as z:
        assert z.testzip() is None
        assert sorted(z.namelist()) == [
            f"singer_tap_spark/jvm/LocalFileSystem{s}.class"
            for s in ("$Fs", "$Raw", "$RawFs", "")]


def test_no_javac_keeps_stock_fs_with_one_warning(tmp_path, monkeypatch, caplog):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(session.shutil, "which", lambda _: None)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        conf = session._local_fs_conf("local[2]", {})
    assert not [k for k in conf if k.startswith("spark.hadoop.fs.")]
    assert len(caplog.records) == 1


def test_caller_extra_classpath_kept_and_cluster_master_untouched(spark):
    own = "/opt/caller/extra.jar"
    conf = session._local_fs_conf("local[2]", {"spark.driver.extraClassPath": own})
    jar = session._local_fs_jar()
    assert conf["spark.driver.extraClassPath"] == own + os.pathsep + jar
    assert conf["spark.hadoop.fs.file.impl"] == FS_CLASS
    assert session._local_fs_conf("spark://host:7077", {}) == {}
    assert session._local_fs_conf("local-cluster[2,1,1024]", {}) == {}
