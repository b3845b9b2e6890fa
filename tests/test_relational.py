import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from tdr_draft_metadata_validator_spark import datagen
from tdr_draft_metadata_validator_spark.operators import relational as R


def test_missing_and_unknown(spark):
    clips = datagen.clips_df(spark, datagen.clips_batch(np.array([0, 1, 2, 99])))
    ref = datagen.ref_df(spark, datagen.ref_batch(np.array([0, 1, 2, 3])))
    missing = R.missing_rows(clips, ref)
    assert [r["asset_id"] for r in missing.collect()] == [datagen.clip_id_of(3)]
    unknown = R.unknown_rows(clips, ref)
    assert [r["asset_id"] for r in unknown.collect()] == [datagen.clip_id_of(99)]


def test_duplicates_salted_matches_naive_on_skew(spark):
    # skewed: one hot key repeated 500x + uniques (FIXTURES.md clips_skew)
    ids = ["hot"] * 500 + [f"u{i}" for i in range(200)] + ["warm"] * 2
    df = spark.createDataFrame(pd.DataFrame({"clip_id": ids}))
    salted = R.duplicate_rows(df, "clip_id")
    got = sorted(r["asset_id"] for r in salted.collect())
    naive = (
        df.groupBy("clip_id").count().where(F.col("count") > 1)
        .select("clip_id").collect()
    )
    assert got == sorted(r["clip_id"] for r in naive) == ["hot", "warm"]


def test_protected_fields(spark):
    pdf = datagen.clips_batch(np.array([0, 1, 2]))
    pdf.loc[1, "sr_hz"] = 12345
    pdf.loc[2, "dur_ms"] = int(pdf.loc[2, "dur_ms"]) + 7
    clips = datagen.clips_df(spark, pdf)
    ref = datagen.ref_df(spark, datagen.ref_batch(np.array([0, 1, 2])))
    v = R.protected_fields(clips, ref).collect()
    by_asset = {(r["asset_id"], r["property"]) for r in v}
    assert by_asset == {
        (datagen.clip_id_of(1), "sr_hz"),
        (datagen.clip_id_of(2), "dur_ms"),
    }
    assert all(r["error_key"] == "PROTECTED_FIELD" for r in v)
    # data payload echoes the offending submitted value
    row = [r for r in v if r["property"] == "sr_hz"][0]
    assert row["data"][0]["value"] == "12345"


def _broadcast_hinted(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


def _parquet_ref_keys(spark, tmp_path):
    path = str(tmp_path / "ref_keys")
    datagen.ref_df(spark, datagen.ref_batch(np.arange(8))).select("clip_id") \
        .write.parquet(path)
    return spark.read.parquet(path)


def test_choose_join_side_small_frame_is_left_to_the_planner(spark, tmp_path, jobs_in_group):
    """A table scan carries its size in the plan statistics: the decision
    costs no job, and below AQE_TRUST_BYTES the frame comes back unhinted."""
    ref = _parquet_ref_keys(spark, tmp_path)
    out, jobs = jobs_in_group("cjs-small", lambda: R.choose_join_side(ref))
    assert jobs == 0
    assert out is ref and not _broadcast_hinted(out)


def test_choose_join_side_hints_broadcast_in_the_band(spark, tmp_path, monkeypatch,
                                                     jobs_in_group):
    """Between AQE_TRUST_BYTES and the broadcast limit the planner would
    refuse to broadcast on its own, so the hint is forced — still from the
    plan statistics, with no job; above the limit the frame is left alone."""
    ref = _parquet_ref_keys(spark, tmp_path)
    monkeypatch.setattr(R, "AQE_TRUST_BYTES", 1)
    out, jobs = jobs_in_group("cjs-band", lambda: R.choose_join_side(ref))
    assert jobs == 0
    assert _broadcast_hinted(out)
    out, jobs = jobs_in_group(
        "cjs-over", lambda: R.choose_join_side(ref, limit_bytes=2))
    assert jobs == 0
    assert out is ref
