"""Audio decode + PCM-allclose invariant (U3, north_rule).

Per-row invariant vs the reference table: decoded PCM must match the
reference PCM with SNR >= 30 dB, and the transcript must equal the
reference transcript (the analog of the reference validator's
protected-field equality, Lambda.scala:257-281; decode failure doubles
as the UTF-8 gate analog, Lambda.scala:130-153).

Scale design — the payload NEVER rides a shuffle in the common case:

1. **Decode + fingerprint pass** (one ``mapInPandas`` over the clips
   scan, zero shuffle): decode ``bytes`` under ``codec``; emit
   (clip_id, decode_ok, sha1(decoded PCM)). Payload bytes go JVM->Arrow->
   numpy once and are dropped immediately.
2. **Fingerprint join** (shuffles ~50 B/row): sha1(ref_pcm) is computed
   where the reference rows already live; the hash-only frames join on
   clip_id. Identical PCM <=> identical sha1 <=> SNR = +inf >= threshold,
   so hash-equal rows PASS with no further work.
3. **SNR fallback join** (payloads move, but ONLY for the residue):
   hash-mismatched clips — lossy codecs, corrupted-but-decodable rows —
   are semi-joined back against both payload tables and compared
   sample-by-sample (10*log10(sig/noise) >= threshold). On a clean or
   lossless corpus the residue is empty; on an adversarial corpus this
   degrades gracefully to the full join, never worse than the naive plan.
4. **Transcript equality** is a plain Column predicate on a narrow join
   (JVM-side codegen, no UDF).

Measured effect at 60k x 48KB clips on slow disk: removes ~12 GB of
shuffle disk I/O per run vs the naive payload-join plan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Observation, functions as F, types as T

from ..functions.audio_codec import decode, snr_db, to_mono
from ..functions.flac_codec import crc16_verify_batch
from ..messages import resolve
from ..models import PROCESS_AUDIO
from .relational import BROADCAST_LIMIT_BYTES, choose_join_side

_FP_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decode_err", T.StringType(), True),
        # r7: fingerprint family switched md5 -> sha1. Same contract
        # (hash equality <=> bit-identical PCM; collision odds lower,
        # not higher), same JVM builtin on the manifest side (F.sha1),
        # but this host hashes sha1 at 1.4 GB/s vs md5's 0.55 — and at
        # 240k clips the PCM hashing was ~17 CPU-s of the decode pass.
        T.StructField("pcm_sha1", T.StringType(), True),
        # payload truth for the metadata-consistency check (r6): the
        # sample rate the container/frames declare and the decoded
        # per-channel frame count — compared against the table's
        # sr_hz/dur_ms columns JVM-side (pure Column predicates).
        # decoded_sr/sr_hz are Int64: WAV fmt and OpusHead carry u32
        # rates, so a structurally-valid payload can declare a rate
        # above int32 max — an Int32 column would crash the worker
        # ('cannot safely cast') instead of emitting a violation row.
        T.StructField("decoded_sr", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("sr_hz", T.LongType(), True),
        T.StructField("dur_ms", T.LongType(), True),
    ]
)

_SNR_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("error_key", T.StringType(), False),
        T.StructField("detail", T.StringType(), True),
    ]
)

_EMPTY_DATA = "array<struct<name:string,value:string>>"


def _decode_fingerprint(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stage-1 worker: decode + sha1 of the decoded little-endian PCM16,
    plus the payload's decoded sample rate / frame count (metadata-
    consistency inputs; declared sr_hz/dur_ms pass through untouched).

    FLAC frame CRC-16s are DEFERRED per batch (decode collects them in
    a sink; one crc16_verify_batch pass verifies every frame of every
    clip in the batch) — same check, numpy call overhead amortized
    across clips instead of paid per clip. A clip whose batch CRC entry
    fails is flipped to an undecodable row, exactly as the inline check
    would have produced."""
    for pdf in batches:
        # gate each metadata column independently: a table can carry
        # sr_hz without dur_ms (or vice versa) — reading the absent one
        # unconditionally would KeyError in the executor
        has_sr = "sr_hz" in pdf.columns
        has_dur = "dur_ms" in pdf.columns
        n = len(pdf)
        in_ids = pdf["clip_id"].tolist()
        in_bytes = pdf["bytes"].tolist()
        in_codec = pdf["codec"].tolist()
        ids, oks, errs, fps, srs, frames = [], [], [], [], [], []
        crc_sink: list = []
        crc_rows: list[int] = []  # row index per sink entry
        for row in range(n):
            ids.append(in_ids[row])
            try:
                sink_len = len(crc_sink)
                sr, samples = decode(in_bytes[row], in_codec[row],
                                     flac_crc_sink=crc_sink)
                if len(crc_sink) > sink_len:
                    crc_rows.append(row)
            except ValueError as exc:
                oks.append(False)
                errs.append(str(exc))
                fps.append(None)
                srs.append(None)
                frames.append(None)
                continue
            oks.append(True)
            errs.append(None)
            srs.append(sr)
            frames.append(int(samples.shape[0]))  # per-channel frames
            # multichannel clips (r6): the reference stores mono ref_pcm,
            # so the invariant hashes/compares the deterministic mono
            # downmix — a valid stereo FLAC passes the decode gate and
            # its invariant is its downmix vs the reference
            samples = to_mono(samples)
            fps.append(hashlib.sha1(np.ascontiguousarray(samples, dtype="<i2").tobytes()).hexdigest())
        if crc_sink:
            ok_crc = crc16_verify_batch(crc_sink)
            for k, row in enumerate(crc_rows):
                if not ok_crc[k]:
                    oks[row] = False
                    errs[row] = "frame CRC-16 mismatch"
                    fps[row] = None
                    srs[row] = None
                    frames[row] = None
        yield pd.DataFrame(
            {
                "clip_id": ids,
                "decode_ok": oks,
                "decode_err": errs,
                "pcm_sha1": fps,
                "decoded_sr": pd.array(srs, dtype="Int64"),
                "n_frames": pd.array(frames, dtype="Int64"),
                "sr_hz": (pdf["sr_hz"].astype("Int64").values
                          if has_sr else pd.array([None] * n, dtype="Int64")),
                "dur_ms": (pdf["dur_ms"].astype("Int64").values
                           if has_dur else pd.array([None] * n, dtype="Int64")),
            }
        )


def _snr_check(threshold_db: float, duration_tolerance_ms: int | None = None):
    """Stage-3 worker: exact SNR compare for hash-mismatched clips.
    With ``duration_tolerance_ms`` set (strict audit mode, where this is
    the ONLY decode pass), also emits the metadata-consistency rows the
    fingerprint pass would otherwise produce."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # gate each metadata column independently (a table can carry
            # one of sr_hz/dur_ms without the other)
            check_sr = (duration_tolerance_ms is not None
                        and "sr_hz" in pdf.columns)
            check_dur = (duration_tolerance_ms is not None
                         and "dur_ms" in pdf.columns)
            ids, keys, details = [], [], []
            for row in range(len(pdf)):
                try:
                    sr, samples = decode(pdf["bytes"].iat[row], pdf["codec"].iat[row])
                except ValueError as exc:  # pragma: no cover (screened in stage 1)
                    ids.append(pdf["clip_id"].iat[row])
                    keys.append("undecodable")
                    details.append(str(exc))
                    continue
                if check_sr:
                    declared_sr = pdf["sr_hz"].iat[row]
                    if declared_sr is not None and int(declared_sr) != sr:
                        ids.append(pdf["clip_id"].iat[row])
                        keys.append("sampleRateMismatch")
                        details.append(f"decoded_sr={sr} declared={declared_sr}")
                if check_dur:
                    declared_ms = pdf["dur_ms"].iat[row]
                    # floor(x+0.5) = Spark F.round's HALF_UP on the
                    # positive values here — one rounding convention in
                    # both modes (Python round() is half-to-even and can
                    # disagree at exact .5 ms boundaries)
                    decoded_ms = int(np.floor(samples.shape[0] * 1000.0 / sr + 0.5))
                    if (declared_ms is not None
                            and abs(decoded_ms - int(declared_ms))
                            > duration_tolerance_ms):
                        ids.append(pdf["clip_id"].iat[row])
                        keys.append("durationMismatch")
                        details.append(
                            f"decoded_ms={decoded_ms} declared={declared_ms}")
                ref_raw = pdf["ref_pcm"].iat[row]
                if ref_raw is None:
                    continue
                snr = snr_db(np.frombuffer(ref_raw, dtype="<i2"), to_mono(samples))
                if snr < threshold_db:
                    ids.append(pdf["clip_id"].iat[row])
                    keys.append("snrBelowThreshold")
                    details.append(f"snr_db={snr:.2f}")
            yield pd.DataFrame({"asset_id": ids, "error_key": keys, "detail": details})

    return run


def _violation_rows(df: DataFrame, prop: str, error_key_col, message_col,
                    data_col=None) -> DataFrame:
    data = data_col if data_col is not None else F.array().cast(_EMPTY_DATA)
    return df.select(
        F.col("asset_id"),
        F.lit(PROCESS_AUDIO).alias("validation_process"),
        F.lit(prop).alias("property"),
        error_key_col.alias("error_key"),
        message_col.alias("message"),
        data.alias("data"),
    )


def ref_fingerprints(ref: DataFrame, key: str = "clip_id") -> DataFrame:
    """Derive the reference fingerprint manifest: (clip_id, ref_sha1).

    This is a pure function of the reference table — at scale it is
    MATERIALIZED once per table snapshot (a ~45 B/row side table) so
    validation runs never re-scan the multi-TB ``ref_pcm`` column.
    Rebuild on snapshot change; pass to ``audio_invariants``/``validate``.

    r7: the fingerprint family is sha1 (was md5) — the hash-screen
    contract (equality <=> bit-identical PCM) is unchanged, the JVM
    builtin exists on this side (``F.sha1``), and sha1 hashes ~2.5x
    faster in the Python decode worker, where PCM hashing was a top
    CPU item at 240k clips. Manifests built with the md5 family must
    be rebuilt (audio_invariants refuses them with a clear message —
    a silent family mismatch would SNR-join every row).
    """
    return ref.select(
        F.col(key).alias("clip_id"), F.sha1(F.col("ref_pcm")).alias("ref_sha1")
    )


def audio_invariants(
    clips: DataFrame,
    ref: DataFrame | None,
    key: str = "clip_id",
    snr_threshold_db: float = 30.0,
    fingerprints: DataFrame | None = None,
    strict_snr: bool = False,
    duration_tolerance_ms: int = 1,
) -> DataFrame:
    """Decode + SNR + transcript checks -> violation rows (common schema).

    ``ref=None`` -> decodability only (the standalone UTF-8 gate analog).
    ``fingerprints`` -> precomputed :func:`ref_fingerprints` manifest;
    omitted, it is derived inline (one extra ref_pcm scan).
    ``strict_snr`` -> audit mode: run the sample-level SNR compare on
    EVERY decodable row instead of only the hash-mismatch residue
    (guards against the astronomically-unlikely md5 collision; also the
    compute-heaviest configuration, used by the scaling bench).

    Metadata consistency (r6): the declared ``sr_hz``/``dur_ms`` columns
    must agree with the decoded payload — ``sampleRateMismatch`` when
    the container's rate differs, ``durationMismatch`` when
    ``round(n_frames*1000/decoded_sr)`` is off by more than
    ``duration_tolerance_ms`` (1 ms default: every decoder here returns
    exact frame counts — IMA ADPCM trims to the fact chunk — so the only
    slack needed is integer-ms rounding). The payload truth rides the
    SAME single decode pass (two extra ints per row in the Arrow
    transfer); the comparison itself is pure Column predicates, no
    second decode, no join. Tables without sr_hz/dur_ms columns skip
    the check (nulls never flag).
    """
    meta_cols = [c for c in ("sr_hz", "dur_ms") if c in clips.columns]
    src = clips.select(F.col(key).alias("clip_id"), "bytes", "codec", *meta_cols)

    if ref is not None and strict_snr:
        # Audit mode: single decode inside the payload join, SNR for every
        # matched row (no fingerprint screen — it would be pure overhead
        # when everything falls through to the SNR stage anyway).
        # Decodability of rows absent from the reference is the default
        # mode's job; here they are already flagged 'unknown' by J2.
        snr_fail = src.join(
            ref.select(F.col(key).alias("clip_id"), "ref_pcm"),
            on="clip_id", how="inner",
        ).mapInPandas(
            _snr_check(snr_threshold_db,
                       duration_tolerance_ms=duration_tolerance_ms),
            _SNR_SCHEMA,
        )
        # error_key -> (property, message): the audit worker emits the
        # metadata-consistency keys alongside the PCM ones
        prop = (
            F.when(F.col("error_key") == "sampleRateMismatch", F.lit("sr_hz"))
            .when(F.col("error_key") == "durationMismatch", F.lit("dur_ms"))
            .otherwise(F.lit("bytes"))
        )
        msg = (
            F.when(
                F.col("error_key") == "undecodable",
                F.lit(resolve(PROCESS_AUDIO, "bytes", "undecodable")),
            )
            .when(
                F.col("error_key") == "sampleRateMismatch",
                F.lit(resolve(PROCESS_AUDIO, "sr_hz", "sampleRateMismatch")),
            )
            .when(
                F.col("error_key") == "durationMismatch",
                F.lit(resolve(PROCESS_AUDIO, "dur_ms", "durationMismatch")),
            )
            .otherwise(F.lit(resolve(PROCESS_AUDIO, "bytes", "snrBelowThreshold")))
        )
        snr_violations = snr_fail.select(
            F.col("asset_id"),
            F.lit(PROCESS_AUDIO).alias("validation_process"),
            prop.alias("property"),
            F.col("error_key").alias("error_key"),
            msg.alias("message"),
            F.array().cast(_EMPTY_DATA).alias("data"),
        )
        return snr_violations.unionByName(_transcript_check(clips, ref, key))

    fp = src.mapInPandas(_decode_fingerprint, _FP_SCHEMA)

    # Materialize the fingerprint frame ONCE (eager local checkpoint): it
    # ALWAYS feeds multiple consumers — with ref: undecodable branch,
    # hash join, residue semi-joins; without ref: undecodable branch plus
    # the two metadata-consistency branches — whose lineage would
    # otherwise each re-run the whole decode (a 3x decode regression in
    # decodability-only mode). Storage is O(keys) — ~60 B/row vs
    # ~50 KB/row of input (0.1%), distributed across executors, never
    # the driver.
    fp = fp.localCheckpoint(eager=True)

    undecodable = _violation_rows(
        fp.where(~F.col("decode_ok")).select(F.col("clip_id").alias("asset_id")),
        "bytes",
        F.lit("undecodable"),
        F.lit(resolve(PROCESS_AUDIO, "bytes", "undecodable")),
    )

    meta_violations = _metadata_consistency(fp, duration_tolerance_ms)

    if ref is None:
        return undecodable.unionByName(meta_violations)

    # ---- stage 2: hash-only comparison (no payloads in the shuffle) -----
    if fingerprints is not None and "ref_sha1" not in fingerprints.columns:
        # refuse a manifest from the old md5 family LOUDLY: silently
        # treating it as all-mismatched would SNR-join every payload row
        raise ValueError(
            "ref fingerprint manifest has no 'ref_sha1' column "
            f"(columns: {fingerprints.columns}); the fingerprint family "
            "is sha1 as of r7 — rebuild the manifest with "
            "operators.audio.ref_fingerprints"
        )
    ref_fp = fingerprints if fingerprints is not None else ref_fingerprints(ref, key)
    joined_fp = fp.where(F.col("decode_ok")).join(
        choose_join_side(ref_fp), on="clip_id", how="inner"
    )
    # eager checkpoint: the residue key set feeds both payload semi-joins,
    # which would otherwise each re-run the fp-vs-ref_fp join. O(residue
    # keys) storage, ~20 B/row. The checkpoint's own action also counts
    # the residue (an Observation), which sizes the broadcast below.
    residue = Observation()
    mismatched = (
        joined_fp.where(F.col("pcm_sha1") != F.col("ref_sha1"))
        .select("clip_id")
        .observe(residue, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    # NOTE on md5(ref_pcm) semantics: the reference stores raw
    # little-endian PCM16, and stage 1 hashes the decoded samples in the
    # same layout, so hash equality <=> bit-identical audio <=> SNR=inf.

    # ---- stage 3: exact SNR only for the residue -------------------------
    # Broadcast of the residue key set, sized from the observed count
    # (~48 B/key) rather than from the plan: ``mismatched`` is
    # join-derived, so its Catalyst size estimate is a selectivity guess.
    # Broadcast keeps the multi-TB payload sides UNSHUFFLED through the
    # semi-joins — the whole point of the fingerprint screen (a shuffle
    # semi-join would move every payload byte; measured +2x wall at 240k
    # clips). With real lossy decoders the residue is ~every lossy row:
    # then the estimate exceeds the broadcast limit and we fall back to a
    # shuffle semi-join instead of OOMing the driver.
    cand = (F.broadcast(mismatched)
            if residue.get["n"] * 48 <= BROADCAST_LIMIT_BYTES else mismatched)
    cand_clips = clips.select(F.col(key).alias("clip_id"), "bytes", "codec").join(
        cand, on="clip_id", how="left_semi"
    )
    cand_ref = ref.select(F.col(key).alias("clip_id"), "ref_pcm").join(
        cand, on="clip_id", how="left_semi"
    )
    snr_fail = cand_clips.join(cand_ref, on="clip_id", how="inner").mapInPandas(
        _snr_check(snr_threshold_db), _SNR_SCHEMA
    )
    snr_violations = _violation_rows(
        snr_fail.select(F.col("asset_id"), F.col("error_key")),
        "bytes",
        F.col("error_key"),
        F.when(
            F.col("error_key") == "undecodable",
            F.lit(resolve(PROCESS_AUDIO, "bytes", "undecodable")),
        ).otherwise(F.lit(resolve(PROCESS_AUDIO, "bytes", "snrBelowThreshold"))),
    )

    return (
        undecodable.unionByName(meta_violations)
        .unionByName(snr_violations)
        .unionByName(_transcript_check(clips, ref, key))
    )


def _metadata_consistency(fp: DataFrame, tolerance_ms: int) -> DataFrame:
    """Declared sr_hz/dur_ms vs the decoded payload (pure Column logic
    over the fingerprint frame — the decode already happened). Null
    declared values (tables without the columns) never flag."""
    ok = fp.where(F.col("decode_ok"))
    sr_bad = ok.where(
        F.col("sr_hz").isNotNull() & (F.col("decoded_sr") != F.col("sr_hz"))
    )
    decoded_ms = F.round(F.col("n_frames") * 1000.0 / F.col("decoded_sr"))
    dur_bad = ok.where(
        F.col("dur_ms").isNotNull()
        & (F.abs(decoded_ms - F.col("dur_ms")) > tolerance_ms)
    )
    sr_v = _violation_rows(
        sr_bad.select(F.col("clip_id").alias("asset_id"), "decoded_sr", "sr_hz"),
        "sr_hz",
        F.lit("sampleRateMismatch"),
        F.lit(resolve(PROCESS_AUDIO, "sr_hz", "sampleRateMismatch")),
        data_col=F.array(
            F.struct(F.lit("decoded_sr").alias("name"),
                     F.col("decoded_sr").cast("string").alias("value")),
            F.struct(F.lit("sr_hz").alias("name"),
                     F.col("sr_hz").cast("string").alias("value")),
        ),
    )
    dur_v = _violation_rows(
        dur_bad.select(F.col("clip_id").alias("asset_id"),
                       decoded_ms.cast("long").alias("decoded_ms"), "dur_ms"),
        "dur_ms",
        F.lit("durationMismatch"),
        F.lit(resolve(PROCESS_AUDIO, "dur_ms", "durationMismatch")),
        data_col=F.array(
            F.struct(F.lit("decoded_ms").alias("name"),
                     F.col("decoded_ms").cast("string").alias("value")),
            F.struct(F.lit("dur_ms").alias("name"),
                     F.col("dur_ms").cast("string").alias("value")),
        ),
    )
    return sr_v.unionByName(dur_v)


def _transcript_check(clips: DataFrame, ref: DataFrame, key: str) -> DataFrame:
    """Transcript equality: narrow join, pure Column predicate (no UDF)."""
    ref_tr = choose_join_side(
        ref.select(F.col(key).alias("clip_id"), "ref_transcript")
    )
    tr = clips.select(F.col(key).alias("clip_id"), "transcript").join(
        ref_tr, on="clip_id", how="inner"
    )
    return tr.where(
        ~F.col("transcript").eqNullSafe(F.col("ref_transcript"))
    ).select(
        F.col("clip_id").alias("asset_id"),
        F.lit(PROCESS_AUDIO).alias("validation_process"),
        F.lit("transcript").alias("property"),
        F.lit("transcriptMismatch").alias("error_key"),
        F.lit(resolve(PROCESS_AUDIO, "transcript", "transcriptMismatch")).alias("message"),
        F.array(
            F.struct(
                F.lit("transcript").alias("name"),
                F.col("transcript").cast("string").alias("value"),
            )
        ).alias("data"),
    )


def has_undecodable(violations: DataFrame) -> bool:
    """Gate decision (UTF-8 analog) on already-materialized violation
    rows — never a second scan of ``bytes``. One job; ``plans.engine``
    observes the same count on its checkpoint action instead."""
    return not violations.where(F.col("error_key") == "undecodable").isEmpty()
