"""SparkSession factory tuned for the CDC workload.

Defaults chosen for correctness-vs-DuckDB comparisons (UTC session TZ) and
reference parity (ANSI explicitly OFF — Spark 4 defaults it on — so casts
null-coerce like the reference's lenient Convert, value_converter.go:47-57),
plus scale settings (AQE on, Arrow on for the vectorized decode path) and,
on local masters, a ``file://`` file system that does not fork ``chmod``.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

_FS_SOURCE = os.path.join(os.path.dirname(__file__), "jvm", "LocalFileSystem.java")
_FS_CLASS = "singer_tap_spark.jvm.LocalFileSystem"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _local_fs_jar() -> str | None:
    """The compiled ``LocalFileSystem`` jar, built on first use; None (with
    one warning) when it cannot be built, which keeps Hadoop's stock file
    system.  Named by the source's SHA-256 and published with tmp +
    ``os.replace``, so concurrent first builds leave one valid jar."""
    with open(_FS_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "singer_tap_spark")
    jar = os.path.join(cache, f"localfs-{digest}.jar")
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    api = sorted(glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not api:
        log.warning("javac or pyspark's hadoop-client-api jar not found: keeping "
                    "Hadoop's stock local file system (one chmod process per "
                    "written file)")
        return None
    try:
        os.makedirs(cache, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=cache) as tmp:
            subprocess.run(
                [javac, "--release", "17", "-cp", api[-1], "-d", tmp, _FS_SOURCE],
                check=True, capture_output=True, text=True)
            out = os.path.join(tmp, "localfs.jar")
            with zipfile.ZipFile(out, "w") as z:
                for root, _, files in os.walk(tmp):
                    for name in sorted(files):
                        if name.endswith(".class"):
                            path = os.path.join(root, name)
                            z.write(path, os.path.relpath(path, tmp))
            os.replace(out, jar)
    except (OSError, subprocess.CalledProcessError) as e:
        log.warning("building %s failed, keeping Hadoop's stock local file "
                    "system: %s", jar, getattr(e, "stderr", None) or e)
        return None
    return jar


def _local_fs_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """Conf that makes ``file://`` (FileSystem and FileContext) resolve to
    ``jvm/LocalFileSystem.java``, with the jar appended to any caller
    ``spark.driver.extraClassPath``.  Empty on a cluster master (the
    executors' classpath is not ours to set), when the jar cannot be built,
    or when this process already runs a JVM launched without the jar."""
    if not _LOCAL_MASTER.fullmatch(master):
        return {}
    jar = _local_fs_jar()
    if jar is None:
        return {}
    jvm = SparkContext._jvm
    if jvm is not None and jar not in jvm.java.lang.System.getProperty(
            "java.class.path").split(os.pathsep):
        return {}
    cp = extra_conf.get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": f"{cp}{os.pathsep}{jar}" if cp else jar,
        "spark.hadoop.fs.file.impl": _FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_FS_CLASS}$Fs",
    }


def get_spark(
    app_name: str = "singer-tap-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale the caller sets it to ~2-3x total executor cores instead.

    On a ``local[...]`` master, ``file://`` resolves to
    ``jvm/LocalFileSystem.java``: Hadoop's ``LocalFileSystem`` (``.crc``
    sidecars and all) except that file modes are set through java.nio
    instead of one forked ``chmod`` per created file and directory.  Its jar
    is compiled once per source version into ``$XDG_CACHE_HOME`` or
    ``~/.cache``, under ``singer_tap_spark/``, and appended to
    ``extra_conf``'s ``spark.driver.extraClassPath``, never replacing it.
    Without ``javac`` it logs one warning and keeps Hadoop's stock file
    system.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic oracle comparisons: DuckDB timestamps are UTC-naive
        .config("spark.sql.session.timeZone", "UTC")
        # modern parquet timestamps (micros) instead of legacy INT96:
        # INT96 columns carry NO row-group min/max statistics, which kills
        # both predicate pushdown on ts and the driver-side footer reads
        # (tombstone-GC horizon, lake._max_ts_from_footers)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # EXPLICITLY lenient (Spark 4 defaults ANSI on): malformed casts
        # null-coerce instead of raising, matching the reference's Convert
        # semantics (value_converter.go:11-57 never errors, it coerces).
        # decode.normalize additionally uses try_cast so its semantics hold
        # even under a foreign ANSI-on session.
        .config("spark.sql.ansi.enabled", "false")
        # runtime re-planning: coalesce tiny shuffle partitions, split skewed ones
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for every pandas UDF (the only Python in the hot path)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the changelog is many smallish files; don't let one task starve
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # MERGE rewrites only the touched bucket partitions of the target
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    extra_conf = extra_conf or {}
    for k, v in {**extra_conf, **_local_fs_conf(master, extra_conf)}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
