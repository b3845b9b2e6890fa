"""SparkSession factory.

Local-mode testing defaults; the same builder config is what we'd ship in
``spark-submit --py-files`` on a real cluster (only master/memory differ).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tdr-validator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the validation engine.

    - AQE on (runtime re-plan, skew-join splitting, partition coalescing).
    - Arrow on (pandas UDF fast path for the audio decode stage).
    - ``spark.sql.shuffle.partitions`` sized to cores for local mode; a real
      cluster run would set this to ~2-3x total executor cores.
    - Arrow batch size capped so binary audio payloads don't blow the
      executor heap inside a pandas UDF batch (clips can be ~1MB each).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    cores = _core_count(master)
    shuffle_partitions = shuffle_partitions or cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r7 note: parallelismFirst=false (coalesce by advisory size
        # alone) was measured both ways: it wins on scheduling-bound
        # iterative lanes but LOSES 20-30% on compute-dense small-byte
        # stages (pair verify, simhash aggregation, PQ encode), where
        # bytes underestimate work and coalescing to one partition
        # serializes real compute. The iterative CC loops get their
        # partition count explicitly (dedup._cc_round_conf, derived
        # from edge count); everything else keeps Spark's default.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size is the decode stage's throughput lever: the
        # Python-worker protocol has large per-batch overhead (measured on
        # the 60k x 48KB clip join+decode: 1024 -> 187s, 4096 -> 75s,
        # 8192 -> 18s). Size it as targetBatchBytes / avgPayloadBytes and
        # tune DOWN for multi-MB clips via SPARK_GRAFT_ARROW_BATCH.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "8192"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: driver IS the executor; big Arrow batches of binary
        # payloads need headroom (cluster deployments size executors instead)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Local-mode shuffle spills otherwise share the ONE data disk with
        # the table scans and serialize every payload-heavy job (~18s wall
        # regardless of cores for a 6GB shuffle). tmpfs restores the
        # separation a real cluster has (dedicated NVMe / network shuffle).
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prewarm_python_workers(spark, cores)
    return spark


_WARMED_APPS: set[str] = set()


def _prewarm_python_workers(spark: SparkSession, cores: int) -> None:
    """Pre-fork the Arrow/Python worker pool (one worker per core) at
    session build — the long-running-service startup pattern — so the
    first REAL Arrow stage doesn't pay python-worker spawn + interpreter
    import inside its own wall (~1-2 s at local[32] on this host).
    Touches no data (an identity pass over ``cores`` synthetic rows);
    workers are reused afterwards (spark.python.worker.reuse default).
    Once per application; opt out with SPARK_GRAFT_PREWARM_WORKERS=0."""
    if os.environ.get("SPARK_GRAFT_PREWARM_WORKERS", "1") == "0":
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED_APPS:
        return
    _WARMED_APPS.add(app_id)

    def _ident(batches):
        yield from batches

    try:
        spark.range(cores, numPartitions=cores).mapInPandas(
            _ident, "id long"
        ).count()
    except Exception as exc:  # never let a warmup failure break session build
        print(f"warning: Python worker pre-warm failed, the first Arrow stage "
              f"pays worker start-up instead: {exc!r}", file=sys.stderr)


def _core_count(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local["):-1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
