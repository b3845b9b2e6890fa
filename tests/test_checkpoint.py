import numpy as np
import pytest

from pyspark.sql import functions as F

from tdr_draft_metadata_validator_spark import datagen
from tdr_draft_metadata_validator_spark.models import ValidationParameters
from tdr_draft_metadata_validator_spark.plans import checkpoint as ckpt_mod
from tdr_draft_metadata_validator_spark.plans.checkpoint import (
    LINEAGE_SCHEMA,
    completed_partitions,
    failed_partitions,
    filter_resume,
    record_partitions,
    resume_run,
)
from tdr_draft_metadata_validator_spark.plans.engine import validate
from tdr_draft_metadata_validator_spark.plans.metrics import logical_partition

CID = "f82af3bf-b742-454c-9771-bfd6c5eae749"


def test_record_resume_cycle(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    clips = datagen.clips_df(spark, datagen.clips_batch(np.arange(40)))
    ref = datagen.ref_df(spark, datagen.ref_batch(np.arange(40)))
    params = ValidationParameters(consignment_id=CID, run_id="r1")
    result = validate(spark, clips, ref, params, n_logical_partitions=8)
    record_partitions(result.metrics, ckpt)

    done = completed_partitions(spark, ckpt, "r1")
    assert done  # some partitions recorded
    remaining = filter_resume(clips, done, 8)
    # every remaining row is in a not-done partition
    lp = logical_partition(F.col("clip_id"), 8)
    assert remaining.where(lp.isin(done)).count() == 0
    # all partitions done -> nothing remains
    all_done = list(range(8))
    assert filter_resume(clips, all_done, 8).count() == 0


def test_record_is_idempotent_per_partition(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    clips = datagen.clips_df(spark, datagen.clips_batch(np.arange(20)))
    ref = datagen.ref_df(spark, datagen.ref_batch(np.arange(20)))
    params = ValidationParameters(consignment_id=CID, run_id="r2")
    result = validate(spark, clips, ref, params, n_logical_partitions=4)
    record_partitions(result.metrics, ckpt)
    n1 = len(completed_partitions(spark, ckpt, "r2"))
    # retry writes the same partitions -> dynamic overwrite, no dup rows
    record_partitions(result.metrics, ckpt)
    m = spark.read.parquet(str(tmp_path / "ckpt2" / "lineage"))
    assert m.groupBy("partition_id").count().where("count > 1").count() == 0
    assert len(completed_partitions(spark, ckpt, "r2")) == n1


def test_resume_run_empty_checkpoint(spark, tmp_path):
    clips = datagen.clips_df(spark, datagen.clips_batch(np.arange(10)))
    remaining, done = resume_run(spark, clips, str(tmp_path / "nope"), "rX", 8)
    assert done == []
    assert remaining.count() == 10


# ---- one-file manifest: layout, crash safety, old layout, job count ------


def _metrics(spark, run_id, verdicts, n_rows=5):
    """A metrics frame in the lineage schema: {partition_id: pass}."""
    return spark.createDataFrame(
        [(run_id, p, None, ok, n_rows, 0 if ok else 1, 10) for p, ok in verdicts.items()],
        LINEAGE_SCHEMA,
    )


def _data_files(path):
    return sorted(p.name for p in path.rglob("part-*"))


def _state(spark, ckpt, run_id):
    return (completed_partitions(spark, ckpt, run_id),
            failed_partitions(spark, ckpt, run_id))


def test_record_writes_one_file(spark, tmp_path):
    record_partitions(_metrics(spark, "r", {p: p % 3 != 0 for p in range(40)}),
                      str(tmp_path / "ck"))
    assert len(_data_files(tmp_path / "ck" / "lineage")) == 1
    assert sorted((tmp_path / "ck").iterdir()) == [tmp_path / "ck" / "lineage"]


@pytest.mark.parametrize("call,when,expect", [
    (1, "before", "old"),  # nothing moved yet
    (1, "after", "old"),   # old manifest moved aside, new one not published
    (2, "after", "new"),   # new manifest published, old one not deleted
])
def test_crash_during_swap_keeps_a_readable_manifest(spark, tmp_path, monkeypatch,
                                                     call, when, expect):
    ck = str(tmp_path / "ck")
    record_partitions(_metrics(spark, "r", {0: True, 1: True, 2: True, 3: True}), ck)
    old = _state(spark, ck, "r")

    real, calls = ckpt_mod._rename, []

    def crashing_rename(fs, src, dst):
        calls.append(src)
        if len(calls) == call and when == "before":
            raise OSError("injected crash")
        real(fs, src, dst)
        if len(calls) == call and when == "after":
            raise OSError("injected crash")

    monkeypatch.setattr(ckpt_mod, "_rename", crashing_rename)
    with pytest.raises(OSError, match="injected"):
        record_partitions(_metrics(spark, "r", {2: False, 3: False, 4: True}), ck)
    monkeypatch.setattr(ckpt_mod, "_rename", real)

    new = ([0, 1, 4], [2, 3])
    assert old == ([0, 1, 2, 3], [])
    assert _state(spark, ck, "r") == (old if expect == "old" else new)

    # the next record needs no manual cleanup and leaves nothing behind
    record_partitions(_metrics(spark, "r", {5: True}), ck)
    base = old if expect == "old" else new
    assert _state(spark, ck, "r") == (sorted(base[0] + [5]), base[1])
    assert sorted(p.name for p in (tmp_path / "ck").iterdir()) == ["lineage"]
    assert len(_data_files(tmp_path / "ck" / "lineage")) == 1


def test_old_partitioned_layout_reads_and_migrates(spark, tmp_path):
    ck = tmp_path / "ck"
    old = _metrics(spark, "r", {p: p != 2 for p in range(6)}, n_rows=7)
    old.write.partitionBy("partition_id").parquet(str(ck / "lineage"))
    assert _state(spark, str(ck), "r") == ([0, 1, 3, 4, 5], [2])

    record_partitions(_metrics(spark, "r", {2: True, 6: False}, n_rows=9), str(ck))
    assert _state(spark, str(ck), "r") == ([0, 1, 2, 3, 4, 5], [6])
    assert len(_data_files(ck / "lineage")) == 1
    assert not list((ck / "lineage").glob("partition_id=*"))
    rows = {r.partition_id: r.n_rows
            for r in spark.read.parquet(str(ck / "lineage")).collect()}
    assert rows == {0: 7, 1: 7, 2: 9, 3: 7, 4: 7, 5: 7, 6: 9}


def test_record_and_failed_round_trip_job_count(spark, tmp_path):
    """record = metrics collect + manifest scan + one-file write;
    failed_partitions = one manifest scan. A schema-inference or
    partition-listing job would raise the count."""
    ck = str(tmp_path / "ck")
    record_partitions(_metrics(spark, "r", {p: True for p in range(64)}), ck)
    metrics = _metrics(spark, "r", {p: p % 2 == 0 for p in range(64)})
    sc = spark.sparkContext
    sc.setJobGroup("lineage-round-trip", "lineage round trip")
    try:
        record_partitions(metrics, ck)
        failed = failed_partitions(spark, ck, "r")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert failed == list(range(1, 64, 2))
    assert len(sc.statusTracker().getJobIdsForGroup("lineage-round-trip")) == 4


def test_unreadable_manifest_is_refused(spark, tmp_path):
    lineage = tmp_path / "ck" / "lineage"
    lineage.mkdir(parents=True)
    (lineage / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(RuntimeError, match="unreadable") as err:
        completed_partitions(spark, str(tmp_path / "ck"), "r")
    assert str(lineage) in str(err.value) and "delete" in str(err.value)
