"""The validation engine: gate lifecycle + row checks + merge + verdict.

Reproduces the reference's query lifecycle (Lambda.scala:105-128 —
doValidation's fail-fast IO chain) Spark-first:

    metadata gates (driver-only, zero cluster work)
      -> decode gate (a count observed on the single audio decode pass)
      -> row checks:   compiled rule pass            (one scan, codegen)
                       duplicate detection           (salted two-phase agg)
                       missing / unknown             (key-pruned anti-joins)
                       protected fields              (key+field inner join)
                       audio invariants              (one Arrow decode pass)
      -> union + semigroup merge (one hash-agg)
      -> verdict + per-partition metrics

First failing gate wins and later stages never run (Lambda.scala:107-115
semantics).

DELIBERATE contract difference vs the reference's gate ORDER: the
reference runs the UTF-8 gate first (Lambda.scala doValidation) because
its CSV parser cannot even read a non-UTF-8 file; our decode gate (the
UTF-8 analog) is a full cluster pass over the payload column, while the
header gates are free driver-side metadata checks — so we run the cheap
metadata gates first. Consequence: an input failing BOTH a header gate
and decodability reports the header error (ADDITIONAL_HEADER /
SCHEMA_REQUIRED), not UTF_8. First-gate-wins semantics are preserved;
only the precedence among *which* gate fires differs, and only on
multiply-broken inputs. (For CSV ingest mode, where the byte-level UTF-8
gate IS cheap — one binaryFile read of the raw file — sources/tables.py
``load_clips_csv`` runs it before parsing, matching reference order.)

All row checks are lazy DataFrames; nothing executes until the
verdict/sink actions.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..models import (
    ErrorFileData,
    FileError,
    ValidationParameters,
)
from ..operators import gates as G
from ..operators import relational as R
from ..operators.audio import audio_invariants
from ..operators.audio import has_undecodable  # noqa: F401 (perfbench/layers.py wraps it here)
from ..operators.merge import (
    collect_error_file,
    merge_violations,
    union_checks,
)
from ..operators.rules import Rule, clips_base_rules, compile_rules
from .metrics import partition_metrics


@dataclass
class ValidationResult:
    """Outcome of a run: verdict + lazy frames for the scale sinks."""

    params: ValidationParameters
    file_error: FileError
    gate_error_file: ErrorFileData | None = None  # set when a gate tripped
    merged: DataFrame | None = None               # per-asset violations
    metrics: DataFrame | None = None              # per-partition verdicts
    wall_ms: int = 0
    extra: dict = dc_field(default_factory=dict)

    @property
    def passed(self) -> bool:
        return self.file_error == FileError.NONE

    def error_file(self, date: str | None = None) -> ErrorFileData:
        """Assemble the single-document verdict (always written, even on
        success — Lambda.scala:81, golden empty-error-file.json)."""
        if self.gate_error_file is not None:
            if date is not None:
                self.gate_error_file.date = date
            return self.gate_error_file
        ef = collect_error_file(
            self.merged,
            self.params.consignment_id,
            self.file_error,
            date=date,
        )
        return ef


def drop_empty_rows(clips: DataFrame) -> DataFrame:
    """G5 (CSVHandler.scala:34): drop rows where every value is empty.
    Typed analog: every column null (strings also count '' as empty).

    Binary payload columns are EXCLUDED from the predicate: including
    them would force every downstream check's scan to read the multi-KB
    payload column just to evaluate this filter (measured 100s+ of extra
    scan time at 60k clips; catastrophic at 100 TB). A row whose metadata
    is entirely empty is the all-empty-row analog even if a payload blob
    is attached — it cannot be keyed, validated or joined anyway.
    """
    conds = []
    for f in clips.schema.fields:
        if f.dataType.simpleString() == "binary":
            continue
        c = F.col(f.name)
        if f.dataType.simpleString() == "string":
            conds.append(c.isNotNull() & (c != ""))
        else:
            conds.append(c.isNotNull())
    keep = conds[0]
    for c in conds[1:]:
        keep = keep | c
    return clips.where(keep)


def validate(
    spark: SparkSession,
    clips: DataFrame,
    ref: DataFrame | None,
    params: ValidationParameters,
    rules: list[Rule] | None = None,
    raw_headers: list[str] | None = None,
    with_audio: bool = True,
    with_metrics: bool = True,
    n_logical_partitions: int = 64,
    ref_fingerprints: DataFrame | None = None,
    strict_snr: bool = False,
    with_drift: bool = False,
    drift_profile: DataFrame | None = None,
    drift_columns: tuple[tuple[str, str], ...] | None = None,
    snapshot_id: int | None = None,
) -> ValidationResult:
    import os as _os
    import sys as _sys

    _dbg = _os.environ.get("SPARK_GRAFT_DEBUG_TIMING") == "1"
    _last = [time.monotonic()]

    def _mark(stage: str) -> None:
        if _dbg:
            now = time.monotonic()
            print(f"[engine] {stage}: {now - _last[0]:.1f}s", file=_sys.stderr, flush=True)
            _last[0] = now

    t0 = time.monotonic()
    cid = params.consignment_id
    key = params.unique_asset_id_key

    # ---- file-level gates (fail-fast; driver metadata only) --------------
    expected = params.expected_columns or G.EXPECTED_COLUMNS
    required = params.required_columns or G.REQUIRED_COLUMNS
    for gate in (
        (lambda: G.duplicate_headers_gate(raw_headers, cid)) if raw_headers else (lambda: None),
        lambda: G.required_columns_gate(clips, cid, required=required, key_col=key),
        lambda: G.additional_columns_gate(clips, cid, allowed=expected),
    ):
        failure = gate()
        if failure is not None:
            return ValidationResult(
                params, failure.file_error, gate_error_file=failure.error_file,
                wall_ms=int((time.monotonic() - t0) * 1000),
            )

    clips = drop_empty_rows(clips)

    # ---- decode gate (UTF-8 analog) — ONE decode pass, reused ------------
    checks: list[DataFrame] = []
    if with_audio:
        audio_v = audio_invariants(
            clips, ref, key=key, snr_threshold_db=params.snr_threshold_db,
            fingerprints=ref_fingerprints, strict_snr=strict_snr,
        )
        # localCheckpoint materializes the (tiny) violation rows AND cuts
        # the lineage to the payload join — downstream consumers (union,
        # merge, metrics) can never re-trigger the decode. Plain persist()
        # proved fragile here: cache substitution into the union plan
        # missed intermittently and re-ran the 6GB join. The decode gate
        # rides the same action: an Observation counts the undecodable
        # rows while the checkpoint is written, so the gate needs no job
        # of its own.
        decode_gate = Observation()
        audio_v = audio_v.observe(
            decode_gate,
            F.count_if(F.col("error_key") == "undecodable").alias("undecodable"),
        ).localCheckpoint(eager=True)
        _mark("audio decode pass")
        if decode_gate.get["undecodable"]:
            failure = G.decode_gate_failure(cid)
            return ValidationResult(
                params, failure.file_error, gate_error_file=failure.error_file,
                wall_ms=int((time.monotonic() - t0) * 1000),
            )
        checks.append(audio_v)

    # ---- row-level checks (all run, results merged; Lambda.scala:215-229)
    checks.append(compile_rules(clips, rules if rules is not None else clips_base_rules(), key))
    checks.append(R.duplicate_rows(clips, key))
    if ref is not None:
        checks.append(R.missing_rows(clips, ref, key))  # always runs (trap list)
        if params.check_against_uploaded_records:
            checks.append(R.unknown_rows(clips, ref, key))
            checks.append(R.protected_fields(clips, ref, params.protected_fields, key))

    if with_drift and (ref is not None or drift_profile is not None):
        from ..operators.stats import drift_violations

        checks.append(
            drift_violations(spark, clips, ref, cid, columns=drift_columns,
                             profile_df=drift_profile)
        )

    violations = union_checks(checks)
    merged = merge_violations(violations, key_name=key).persist()
    n_violation_assets = merged.count()  # one materialization, reused below
    _mark("row checks + merge")

    file_error = FileError.SCHEMA_VALIDATION if n_violation_assets else FileError.NONE

    metrics = None
    if with_metrics:
        # wall_ms here is REAL: the merge above already materialized
        # (merged.count()), so elapsed-since-t0 covers the actual decode +
        # row-check + merge work, not plan-construction microseconds.
        # RUN-LEVEL violation rows (asset_id = consignment id, e.g. drift)
        # are excluded from lineage attribution — hashing them onto an
        # arbitrary data partition would mark that partition failed and
        # make resume re-validate innocent clips forever.
        metrics = partition_metrics(
            clips, merged.where(~F.col("asset_id").eqNullSafe(F.lit(cid))), params,
            n_logical_partitions=n_logical_partitions, key=key,
            snapshot_id=snapshot_id,
            wall_ms=int((time.monotonic() - t0) * 1000),
        )
        _mark("metrics plan built")

    return ValidationResult(
        params,
        file_error,
        merged=merged,
        metrics=metrics,
        wall_ms=int((time.monotonic() - t0) * 1000),
        extra={"n_violation_assets": n_violation_assets},
    )
