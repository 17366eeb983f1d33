"""SparkSession factory tuned for the pipeline.

Configs mirror what the job would ship with on a real multi-executor
cluster (AQE, skew-join handling, Arrow for toPandas); shuffle
partition count is sized for local[N] testing and overridable.  On a
1000-executor / 100 TB run the same builder is used from spark-submit
with cluster-appropriate ``spark.sql.shuffle.partitions`` (rule of
thumb: total-input / 128 MB) — nothing else changes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# The package root must reach the Python UDF workers, which inherit
# PYTHONPATH from the JVM, not the driver's sys.path.  On a cluster this
# is `spark-submit --py-files skewer_spark.zip`; in local mode we export
# PYTHONPATH before the JVM spawns.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_pythonpath() -> None:
    cur = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in cur.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{cur}" if cur else _PKG_ROOT
        )


def ensure_parallelism(df, min_parts: int | None = None):
    """Round-robin repartition a DataFrame whose scan yields fewer
    partitions than the cluster can use.

    Single-file single-row-group parquet (the test fixtures) cannot be
    split by Spark — every downstream stage runs as ONE task no matter
    the core count.  When the scan's partition count is below the
    default parallelism, a repartition (a few-MB shuffle for such
    inputs, trivially cheap next to per-row parse/encode compute) buys
    full-width execution.  On real multi-file tables the guard makes
    this a NO-OP — the scan already yields ≥ cores partitions and no
    exchange is added, so plans stay shuffle-free at 100 TB."""
    spark = df.sparkSession
    want = min_parts or spark.sparkContext.defaultParallelism
    return df.repartition(want) if df.rdd.getNumPartitions() < want else df


# sql confs applied to every session (runtime-settable, so they work
# both from the local builder and under spark-submit)
_SQL_TUNING = {
    # AQE: runtime coalescing + skew-join splitting — the scale story
    # for hot-conversation skew (SURVEY.md §4.2).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas / createDataFrame(pandas): write_outputs'
    # grouping-sets toPandas.  (The pandas UDFs of sinks/wire.py and
    # functions/crypto.py always move Arrow batches.)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Dictionary dims are tiny; make sure they broadcast even if stats
    # are missing.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.sql.session.timeZone": "UTC",
    # zstd parquet at its default level 3: on flat_store (seed 1, v1
    # pages, one JVM, 6 alternating runs per codec) it wrote the
    # smallest store (3.66 MB; zstd-1 3.82, snappy 6.33, lz4_raw 6.41)
    # at no CPU cost (median cpu_s 5.37 s; zstd-1 5.50, snappy 5.48,
    # lz4_raw 5.83).  No codec is a CPU lever, and at 100 TB the
    # write/read floor is bytes through the NIC and disks.
    "spark.sql.parquet.compression.codec": "zstd",
    # INT64 micros, not the deprecated INT96: lossless (Spark timestamps
    # are µs), smaller, and the type Iceberg's timestamptz requires.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def submit_session(app_name: str = "skewer-job") -> SparkSession:
    """Session for ``spark-submit`` launches (north-rule deploy shape).

    Master, deploy mode, memory and ``--py-files`` distribution all come
    from the launcher — this builder adds ONLY the pipeline's sql tuning,
    and only for keys the operator did not already pass via ``--conf``
    (builder configs would otherwise silently override the submit
    command line).  Shuffle partitions default to the cluster's
    ``defaultParallelism`` (rule of thumb for a real run:
    total-input-bytes / 128 MB — pass ``--conf
    spark.sql.shuffle.partitions=N``).
    """
    spark = SparkSession.builder.appName(app_name).getOrCreate()
    submitted = spark.sparkContext.getConf()
    for k, v in _SQL_TUNING.items():
        if not submitted.contains(k):
            spark.conf.set(k, v)
    if not submitted.contains("spark.sql.shuffle.partitions"):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(spark.sparkContext.defaultParallelism, 8)),
        )
    return spark


def _half_physical_memory() -> str:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2 // 2**30)}g"


def build_session(
    app_name: str = "skewer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Local-mode session sized from the host: ``SPARK_GRAFT_CPUS``
    (default: the CPUs this process may run on), ``SKEWER_DRIVER_MEM``
    (default: half of physical memory) and ``SKEWER_LOCAL_DIR`` (default:
    ``spark-local`` under the system temp dir).  ``extra_conf`` overrides
    any conf."""
    _ensure_pythonpath()
    n_cpus = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(n_cpus))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # 1x cores: measured best on local mode — over-partitioning
        # multiplies python-worker/task overhead and small files
        # (ablation: 4x cores was ~1.5x slower end-to-end)
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else n_cpus, 8)

    conf = {
        **_SQL_TUNING,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # local mode: every task shares the one JVM heap — size it for
        # max-cores concurrency or wide sorts spill
        "spark.driver.memory": os.environ.get(
            "SKEWER_DRIVER_MEM", _half_physical_memory()),
        "spark.local.dir": os.environ.get(
            "SKEWER_LOCAL_DIR",
            os.path.join(tempfile.gettempdir(), "spark-local")),
        "spark.ui.enabled": "false",
        "spark.scheduler.mode": "FAIR",
        **(extra_conf or {}),
    }
    return (SparkSession.builder.appName(app_name).master(master)
            .config(map=conf).getOrCreate())
