"""SparkSession factory with scale-aware defaults.

Local-mode knobs are tuned for the driver's ``local[$SPARK_GRAFT_CPUS]``
harness; the same config block is what we would ship to a 1000-executor
cluster minus the ``master``/``driver.memory`` lines (those come from the
cluster manager there).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

from vectordbfaiss_spark import artifacts

# numpy >= 1.22 madvises MADV_HUGEPAGE for every allocation past ~4 MB.
# On this container's VM a transparent-huge-page fault costs ~300 ms per
# 2 MB (measured: a fresh 200 MB numpy buffer takes 35 s to first-touch
# with the madvise, 0.16 s without — plain 4 KB anon faults are fast),
# which silently taxed every large-matrix kernel 10-100x and read as
# unexplained cross-round "host drift" in rounds 6-8. Kill it at the
# single session chokepoint: env for every process we fork (the JVM
# inherits it, pyspark daemons/workers inherit it from the JVM) plus the
# runtime switch for THIS process, whose numpy may already be imported.
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")


def _disable_numpy_hugepage_madvise() -> None:
    try:
        from numpy._core import multiarray as _ma  # numpy >= 2
    except ImportError:  # pragma: no cover - numpy 1.x layout
        try:
            from numpy.core import multiarray as _ma  # type: ignore
        except ImportError:
            return
    set_madvise = getattr(_ma, "_set_madvise_hugepage", None)
    if set_madvise is not None:
        set_madvise(False)


_disable_numpy_hugepage_madvise()

# Local-mode file system whose setPermission stays in the JVM. Hadoop's
# default (no native library) spawns `chmod` for every file and directory
# a DataFrame write creates: dozens of process spawns per index build,
# each briefly mirroring the JVM's whole resident set. The class is
# compiled once per source hash next to its source; without javac the
# session keeps Hadoop's default.
_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCAL_FS_CLASS = "vectordbfaiss.NioLocalFileSystem"


def _local_fs_classes() -> str | None:
    """Directory holding the compiled local file system, or None."""
    src = os.path.join(_JVM_DIR, "NioLocalFileSystem.java")
    with open(src, "rb") as fh:
        digest = hashlib.sha1(fh.read()).hexdigest()[:12]
    out = os.path.join(_JVM_DIR, "build", digest)
    if os.path.isdir(out):
        return out
    java_home = os.environ.get("JAVA_HOME")
    javac = os.path.join(java_home, "bin", "javac") if java_home else shutil.which("javac")
    if not javac or not os.path.exists(javac):
        return None
    from pyspark.find_spark_home import _find_spark_home

    cp = os.path.join(_find_spark_home(), "jars", "*")
    tmp = None
    try:
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.dirname(out))
        cmd = [javac, "--release", "8", "-Xlint:-options", "-cp", cp, "-d", tmp, src]
        if subprocess.run(cmd, capture_output=True, timeout=300).returncode == 0:
            os.rename(tmp, out)  # atomic; a concurrent build may win the race
    except (OSError, subprocess.TimeoutExpired):
        pass
    if tmp is not None:
        shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isdir(out) else None


def _local_fs_config(builder, master: str):
    """Put the local file system on the builder when the JVM can load it:
    this call launches the JVM (class path set here) or the running JVM
    already has the class."""
    if not master.startswith("local"):
        return builder
    jvm = SparkContext._jvm
    if jvm is None:
        classes = _local_fs_classes()
        if classes is None:
            return builder
        builder = builder.config("spark.driver.extraClassPath", classes)
    elif not jvm.org.apache.spark.util.Utils.classIsLoadable(_LOCAL_FS_CLASS):
        return builder
    return builder.config("spark.hadoop.fs.file.impl", _LOCAL_FS_CLASS)


def get_spark(
    app_name: str = "vectordbfaiss_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults:
    - ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``) in this container.
    - AQE on: runtime partition coalescing + skew-join splitting means the
      static ``shuffle.partitions`` only needs to be an upper bound.
    - Arrow on: every pandas_udf crosses JVM<->Python in columnar batches.
    - UTC session timezone so timestamp semantics match the DuckDB oracle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); Spark's reader has no nanos
        # type — read as long and convert in load_table (DuckDB-compatible
        # truncation to microseconds).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Always use the single-file-per-map-task shuffle writers, never
        # the bypass-merge writer: bypass creates one FILE per (map task,
        # reduce partition) pair — M x R creates/opens/closes per shuffle
        # (guide §2.2's block-growth overhead, measured here as ~0.5 s of
        # wall per small shuffle at R=32, halving to ~0.22 s with the
        # sort/serialized writer). At scale R > 200 disables bypass
        # anyway, so this makes small-R shuffles take the exact code path
        # big shuffles already take; the bypass writer's only advantage
        # (skipping the partition-id sort) is irrelevant at both ends.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    builder = _local_fs_config(builder, master)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs every query depends on, set defensively because the
    grading driver passes its OWN SparkSession (built without our
    ``get_spark`` defaults):

    - ``nanosAsLong``: events.parquet stores TIMESTAMP(NANOS); a vanilla
      session CRASHES on it (PARQUET_TYPE_ILLEGAL).
    - UTC session timezone: timestamp formatting/literals must match the
      (naive/UTC) DuckDB oracle regardless of the host timezone.
    Both are runtime-settable SQL confs; setting them per load is idempotent
    and free.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Inferred table schemas by artifacts.corpus_fingerprint of the file:
# inference is a Spark job (~100-170 ms at sf0.001-0.1), a read with a
# schema runs none, and a file rewritten in place gets a new key.
_SCHEMAS: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver fixture table (TESTDATA.md load pattern).

    The schema is inferred once per file version (:data:`_SCHEMAS`).
    ``events.ts`` is TIMESTAMP(NANOS) in parquet, surfaced as nanos-long via
    ``spark.sql.legacy.parquet.nanosAsLong``; convert to a microsecond
    timestamp (truncating, exactly what DuckDB does reading the same file).
    """
    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = artifacts.corpus_fingerprint(path)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) parquet surfaced as nanos-long via the
            # nanosAsLong conf: truncate to micros (what DuckDB does)
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet reads as NTZ;
            # with the UTC session timezone the cast is value-identical and
            # restores TIMESTAMP semantics (unix_micros etc. reject NTZ)
            df = df.withColumn("ts", df["ts"].cast("timestamp"))
    return df


def materialize_concurrently(*dfs):
    """Eagerly localCheckpoint several INDEPENDENT frames, overlapped.

    Sequential ``localCheckpoint(eager=True)`` calls serialize their jobs,
    so a query that pins two independent subtrees pays sum-of-walls while
    most of the cluster idles in each job's tail. Submitting the
    materializing actions from a small thread pool lets the scheduler
    back-fill (Spark runs concurrent jobs FIFO, the later job using slots
    the earlier one leaves free), so the wall cost is ~max instead of sum.
    Returns the checkpointed frames in input order. The frames MUST be
    independent (no shared uncheckpointed lineage with a common expensive
    subtree — that work would run once per frame concurrently).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    ckpts = [df.localCheckpoint(eager=False) for df in dfs]

    def _mat(df):
        # full-scan action: computes (and thereby persists) every
        # partition of the lazily-checkpointed RDD
        df.count()
        return df

    if len(ckpts) == 1:
        return [_mat(ckpts[0])]
    with ThreadPoolExecutor(max_workers=len(ckpts)) as pool:
        return list(pool.map(inheritable_thread_target(_mat), ckpts))


def fan_out(df):
    """Spread an under-partitioned frame across the session's cores before a
    fan-out-heavy stage (shingle/token explode, per-batch Python kernels).

    The driver fixtures are single-file single-row-group parquet, which
    Spark CANNOT split — without this, every downstream explode would run
    as one task. The condition never fires on properly-split inputs (real
    lakehouse tables at scale), and explicit-N repartition is exempt from
    AQE coalescing, so the parallelism sticks. Cost: one shuffle of the
    small pre-explosion rows — orders of magnitude less data than what the
    explode produces.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df
