"""Checkpoint / resume (north_rule "resumable from Iceberg-snapshot
checkpoints with per-partition lineage + metrics rows").

The reference lambda is stateless (its only idempotence is the S3
download skip, S3Files.scala:20-22); at 10^12 rows a run MUST be
resumable. Design:

- Unit of progress = the **logical partition** (plans/metrics.py):
  ``pmod(xxhash64(clip_id), P)`` — stable across cluster sizes and reads.
- After a run (or each sub-run over a partition subset), the engine
  records the per-partition metrics rows in a **lineage manifest**: ONE
  small parquet file under ``{checkpoint}/lineage/`` holding one row per
  ``partition_id`` (<= P rows). Each record rewrites the whole file: the
  old rows of partitions absent from the new set are kept, the rest are
  replaced, so a retry overwrites only its own partitions' rows and
  lineage rows stay exactly-once per (run, partition). The new file is
  written to ``lineage.staging/`` and swapped in with Hadoop-FS renames
  (``lineage`` -> ``lineage.previous``, ``lineage.staging`` -> ``lineage``);
  a crash at any step leaves either the previous or the new manifest
  readable, and the next record finishes the cleanup. Readers use an
  explicit schema, so no schema-inference or listing job runs; a manifest
  in the older ``partition_id=N/`` directory layout reads the same way and
  becomes one file on its next record.
- Resume = read the manifest, take partitions whose latest verdict for
  the run is ``pass = true`` (failed partitions are re-validated, not
  skipped), and filter the work list: the input is pruned to
  ``logical_partition NOT IN completed`` with a codegen'd literal-set
  probe (P ids, never a shuffle of the input). Prior ``pass = false``
  rows still in the manifest are folded into the final run verdict by
  the CLI, so resuming cannot launder a failure into success.
- Lineage granularity = one record_partitions call per sub-run
  (``--sub-runs K`` splits a run into K chunks, each recording lineage
  as it finishes); a crash loses at most the in-flight sub-run.
- ``snapshot_id`` pins the table version. With real Iceberg jars the
  reader uses ``option("snapshot-id", ...)``; sources/iceberg.py stubs
  that behind an import-try in this image.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .metrics import logical_partition

MANIFEST_SUBDIR = "lineage"

# FIXTURES.md §3 per-partition metrics row
LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType()),
    StructField("partition_id", IntegerType()),
    StructField("snapshot_id", LongType()),
    StructField("pass", BooleanType()),
    StructField("n_rows", LongType()),
    StructField("n_violations", LongType()),
    StructField("wall_ms", LongType()),
])


def manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, MANIFEST_SUBDIR)


def _paths(spark: SparkSession, checkpoint_dir: str):
    """(fs, live, staging, previous) Hadoop paths of the manifest. The FS
    is resolved from the checkpoint path, so non-default schemes work."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    live = manifest_path(checkpoint_dir)
    fs = hpath(live).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath(live), hpath(live + ".staging"), hpath(live + ".previous")


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"lineage manifest swap failed: cannot rename {src} to {dst}")


def _swap_in(spark: SparkSession, checkpoint_dir: str) -> None:
    """Publish ``lineage.staging`` as ``lineage``. The current manifest is
    ``lineage`` when it exists, else ``lineage.previous`` (see
    :func:`_manifest`). Each step keeps one of them in place, so a crash
    anywhere leaves the previous or the new state readable; leftovers of
    a crashed swap are removed by the next one."""
    fs, live, staging, previous = _paths(spark, checkpoint_dir)
    if fs.exists(live):
        fs.delete(previous, True)
        _rename(fs, live, previous)
    _rename(fs, staging, live)
    fs.delete(previous, True)


def _manifest(spark: SparkSession, checkpoint_dir: str) -> list[Row]:
    """All manifest rows (<= P, one per partition_id), in LINEAGE_SCHEMA
    column order; ``[]`` only when no manifest exists."""
    fs, live, _, previous = _paths(spark, checkpoint_dir)
    path = next((p for p in (live, previous) if fs.exists(p)), None)
    if path is None:
        return []
    try:
        return (
            spark.read.schema(LINEAGE_SCHEMA).parquet(path.toString())
            .select(*LINEAGE_SCHEMA.fieldNames())
            .collect()
        )
    except (PySparkException, Py4JJavaError) as exc:
        raise RuntimeError(
            f"lineage manifest {path.toString()} is unreadable: {exc}\n"
            f"Restore {manifest_path(checkpoint_dir)} from a backup, or delete "
            f"it so the next run re-validates every partition."
        ) from exc


def record_partitions(metrics: DataFrame, checkpoint_dir: str) -> None:
    """Record lineage rows idempotently: the new rows replace the old rows
    of the same partition_id, and the whole manifest is rewritten as one
    file and swapped in (module docstring)."""
    spark = metrics.sparkSession
    new = metrics.select(*LINEAGE_SCHEMA.fieldNames()).collect()
    ids = {r.partition_id for r in new}
    kept = [r for r in _manifest(spark, checkpoint_dir) if r.partition_id not in ids]
    _, _, staging, _ = _paths(spark, checkpoint_dir)
    (
        spark.createDataFrame(kept + new, LINEAGE_SCHEMA)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(staging.toString())
    )
    _swap_in(spark, checkpoint_dir)


def _partitions(spark: SparkSession, checkpoint_dir: str, run_id: str, passed: bool) -> list[int]:
    return sorted({
        r.partition_id for r in _manifest(spark, checkpoint_dir)
        if r.run_id == run_id and r["pass"] is passed
    })


def completed_partitions(spark: SparkSession, checkpoint_dir: str, run_id: str) -> list[int]:
    """Partition ids whose recorded verdict for this run is PASS (small:
    <= P rows collected). pass=false partitions are deliberately NOT
    'completed': a resume re-validates them (their lineage row is then
    replaced by the next record), so a resumed run converges on an
    all-pass manifest or keeps reporting failure — it never silently
    skips known-bad work."""
    return _partitions(spark, checkpoint_dir, run_id, True)


def failed_partitions(spark: SparkSession, checkpoint_dir: str, run_id: str) -> list[int]:
    """Partition ids whose LATEST recorded verdict for this run is FAIL —
    folded into the final run verdict/exit code so a resumed run cannot
    report success while the manifest still carries failures."""
    return _partitions(spark, checkpoint_dir, run_id, False)


def filter_resume(
    clips: DataFrame,
    completed: list[int],
    n_logical_partitions: int,
    key: str = "clip_id",
) -> DataFrame:
    """Work-list filter: keep only rows of partitions without a verdict.

    ``isin`` over a literal list of ints compiles to a codegen'd hash-set
    probe per row — no join, no shuffle, fully pushed into the scan stage.
    """
    if not completed:
        return clips
    lp = logical_partition(F.col(key), n_logical_partitions)
    return clips.where(~lp.isin(completed))


def filter_to_partitions(
    df: DataFrame,
    parts: list[int],
    n_logical_partitions: int,
    key: str = "clip_id",
) -> DataFrame:
    """Keep ONLY rows of the given logical partitions (sub-run work list —
    the inverse of :func:`filter_resume`). Same codegen'd hash-set probe,
    pushed into the scan; no join, no shuffle."""
    lp = logical_partition(F.col(key), n_logical_partitions)
    return df.where(lp.isin(parts))


def resume_run(
    spark: SparkSession,
    clips: DataFrame,
    checkpoint_dir: str,
    run_id: str,
    n_logical_partitions: int = 64,
    key: str = "clip_id",
) -> tuple[DataFrame, list[int]]:
    done = completed_partitions(spark, checkpoint_dir, run_id)
    return filter_resume(clips, done, n_logical_partitions, key), done
