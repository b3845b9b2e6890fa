"""Relational checks: anti-joins (J1/J2), salted duplicate detection (A1),
protected-field equality (J3).

Reference: RowValidator.scala:8-36 (missing/unknown/duplicate as Set ops)
and Lambda.scala:257-281 (protected fields). Spark-first: anti-joins with
a stats-driven broadcast decision, and an explicitly salted two-phase
aggregate for uniqueness so a hot clip_id cannot pin one reducer at
10^12-row scale (north_rule).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import DataFrame, functions as F

from ..messages import resolve
from ..models import (
    PROCESS_PROTECTED,
    PROCESS_ROW_VALIDATION,
)

# Broadcast the reference side when its estimated size is below this.
# The estimate is the optimizer's own plan statistics (file sizes for a
# table scan, Iceberg statistics on a real cluster); a row count times an
# est-row-bytes figure stands in only when the plan has no usable size
# (SURVEY.md §4 join strategy).
BROADCAST_LIMIT_BYTES = 256 * 1024 * 1024

# Below this size Catalyst/AQE reach the same broadcast decision on their
# own (spark.sql.autoBroadcastJoinThreshold is 64 MB in session.py, and
# AQE also converts sort-merge to broadcast from RUNTIME sizes), so an
# explicit F.broadcast() hint there only REMOVES adaptivity and forces an
# eager driver-side relation build. The hint earns its keep only in the
# band where the estimate says "broadcast" but the planner's threshold
# would refuse (AQE_TRUST..BROADCAST_LIMIT). Join-derived frames whose
# plan estimate is a selectivity guess are sized by their callers from an
# observed count instead (operators/audio.py, the SNR residue).
AQE_TRUST_BYTES = 64 * 1024 * 1024


def _violation(asset_col, error_key: str, process: str = PROCESS_ROW_VALIDATION,
               prop: str = "", message: str | None = None, data=None):
    msg = message if message is not None else resolve(process, prop or "*", error_key)
    cols = [
        asset_col.cast("string").alias("asset_id"),
        F.lit(process).alias("validation_process"),
        F.lit(prop).alias("property"),
        F.lit(error_key).alias("error_key"),
        F.lit(msg).alias("message"),
    ]
    if data is None:
        data = F.array().cast("array<struct<name:string,value:string>>")
    cols.append(data.alias("data"))
    return cols


def choose_join_side(ref: DataFrame, est_row_bytes: int = 64,
                     limit_bytes: int = BROADCAST_LIMIT_BYTES) -> DataFrame:
    """Stats-driven broadcast decision for the expected-keys side.

    Returns ``broadcast(ref)`` when the estimate fits, else ``ref``
    untouched (Catalyst/AQE then picks sort-merge, with skew-join
    splitting enabled). The estimate is the optimizer's plan statistics,
    which cost no Spark job; only a plan without a usable size (unknown,
    or the Long.MaxValue sentinel) is sized by ``count() * est_row_bytes``.
    """
    try:
        # py4j hands the Scala BigInt back as a Python int
        est = int(ref._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (Py4JError, PySparkException):
        est = 0
    if 0 < est <= AQE_TRUST_BYTES:
        # the planner sees the SAME stats and will broadcast on its own
        # (statically under autoBroadcastJoinThreshold, or at runtime via
        # AQE's join rewrite) — forcing it here only costs adaptivity
        return ref
    if not 0 < est <= (1 << 62):  # unknown, or the Long.MaxValue sentinel
        try:
            est = ref.count() * est_row_bytes
        except AnalysisException:
            # a streaming frame cannot be counted; leave it to the planner
            return ref
    return F.broadcast(ref) if est <= limit_bytes else ref


def missing_rows(clips: DataFrame, ref: DataFrame, key: str = "clip_id") -> DataFrame:
    """J1 (RowValidator.scala:8-16): expected - actual -> 'missing'.

    Right-anti expressed as ref.join(clips, left_anti). NOTE the big side
    here is ``clips`` — we never broadcast it; if ``ref`` is small the
    anti-join is still a shuffle of clip_id ONLY (both sides pruned to the
    key column before the join, so the shuffle moves ~20 bytes/row, not
    audio payloads).
    """
    missing = ref.select(F.col(key)).join(
        clips.select(F.col(key)), on=key, how="left_anti"
    )
    return missing.select(*_violation(F.col(key), "missing"))


def unknown_rows(clips: DataFrame, ref: DataFrame, key: str = "clip_id") -> DataFrame:
    """J2 (RowValidator.scala:18-26): actual - expected -> 'unknown'.
    Ref side broadcast when small (stats-driven)."""
    ref_keys = choose_join_side(ref.select(F.col(key)))
    unknown = clips.select(F.col(key)).join(ref_keys, on=key, how="left_anti")
    return unknown.select(*_violation(F.col(key), "unknown"))


def duplicate_rows(clips: DataFrame, key: str = "clip_id",
                   salt_buckets: int = 0) -> DataFrame:
    """A1 (RowValidator.scala:28-36): clip_id uniqueness via a two-phase
    aggregate (north_rule) — partial map-side counts, then one exchange
    of (key, partial_count).

    r7: the two phases come from Spark's own HashAggregate split
    (partial_count before the exchange, final merge after — visible in
    the plan as ``HashAggregate(keys=[key], functions=[partial_count]) ->
    Exchange -> HashAggregate(count)``), which is EXACTLY the salted
    shape this operator used to build by hand with
    ``spark_partition_id()``: a hot key contributes at most one partial
    row per input partition to the shuffle either way. The hand-rolled
    version paid a second Exchange for the re-group by bare key; this
    one doesn't (guide §2.3 "aggregate before you shuffle" / §2.4).
    Pass ``salt_buckets`` > 0 to force the explicit salted form (kept
    for aggregates where the partial state itself could be pathological;
    for count it never is).

    The reference's multiset-diff leaves one entry per EXTRA occurrence
    but the Semigroup merge dedups per asset (trap list, SURVEY.md §7), so
    the observable output is one 'duplicate' violation per duplicated key
    — exactly what count>1 emits.
    """
    if salt_buckets:
        salt = F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
        partial = (
            clips.select(F.col(key), salt.alias("__salt"))
            .groupBy(key, "__salt")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        total = partial.groupBy(key).agg(F.sum("__c").alias("__n"))
    else:
        total = clips.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    total = total.where(F.col("__n") > 1)
    return total.select(*_violation(F.col(key), "duplicate"))


def protected_fields(
    clips: DataFrame,
    ref: DataFrame,
    fields: tuple[str, ...] = ("sr_hz", "dur_ms"),
    key: str = "clip_id",
) -> DataFrame:
    """J3 (Lambda.scala:257-281): intrinsic fields must equal the reference
    values. Inner equi-join on the key + one inequality predicate per
    protected field, all evaluated in a single pass over the join output.

    Emits one PROTECTED_FIELD violation per differing field per asset,
    echoing the offending value in the data payload (golden
    error-file-protected-fields.json carries the submitted values).

    Only ``key + fields`` are projected from either side before the join —
    the audio payload never rides this shuffle.
    """
    fields = tuple(f for f in fields if f in clips.columns)
    ref_sel = ref.select(F.col(key), *[F.col(f"ref_{f}") for f in fields])
    ref_sel = choose_join_side(ref_sel)
    joined = clips.select(F.col(key), *[F.col(f) for f in fields]).join(
        ref_sel, on=key, how="inner"
    )
    msg = resolve(PROCESS_PROTECTED, "*", "PROTECTED_FIELD")
    elems = [
        F.when(
            ~F.col(f).eqNullSafe(F.col(f"ref_{f}")),
            F.struct(
                F.lit(PROCESS_PROTECTED).alias("validation_process"),
                F.lit(f).alias("property"),
                F.lit("PROTECTED_FIELD").alias("error_key"),
                F.lit(msg).alias("message"),
                F.array(
                    F.struct(F.lit(f).alias("name"), F.col(f).cast("string").alias("value"))
                ).alias("data"),
            ),
        )
        for f in fields
    ]
    packed = F.array_compact(F.array(*elems))
    return (
        joined.select(F.col(key).cast("string").alias("asset_id"), packed.alias("__v"))
        .where(F.size("__v") > 0)
        .select("asset_id", F.explode("__v").alias("v"))
        .select(
            "asset_id",
            "v.validation_process",
            "v.property",
            "v.error_key",
            "v.message",
            "v.data",
        )
    )
