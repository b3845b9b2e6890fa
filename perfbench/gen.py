"""Seeded inputs and expected verdicts for the workloads.

Every table is built with ``datagen``'s public batch builders and written
with pyarrow, so generating inputs starts no Spark job and the first
validation of a run meets a cold session. Each input set is stored under
``.perfbench_cache/<workload>/<key>/`` with an ``expected.json`` holding the
exact verdict the CLI must return for it; a cached set is reused when the
same (workload, seed, size) comes back.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tdr_draft_metadata_validator_spark import datagen

CLIPS_ARROW = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
])
REF_ARROW = pa.schema([
    ("clip_id", pa.string()), ("file_id", pa.string()), ("ref_pcm", pa.binary()),
    ("ref_transcript", pa.string()), ("ref_sr_hz", pa.int32()),
    ("ref_dur_ms", pa.int32()),
])
FP_ARROW = pa.schema([("clip_id", pa.string()), ("ref_sha1", pa.string())])

# the cache keeps whole input sets; past this size the least recently used
# sets of other keys are dropped before a new one is written
CACHE_LIMIT_BYTES = 4 << 30

# row groups small enough that a table splits over every core, as a table
# written by several tasks would
ROW_GROUP = 250

# audio_bulk lossy share: every 10th clip is mu-law and every 20th (offset
# by one) cycles through alaw / ima_adpcm / pcm_s24le / pcm_f32le
BULK_ULAW_EVERY = 10
BULK_EXTENDED_EVERY = 20

SR_OUT_OF_DOMAIN = 11025


class InputSet:
    """Paths of one generated input set plus its expected verdict."""

    def __init__(self, root: str):
        self.clips = os.path.join(root, "clips.parquet")
        self.ref = os.path.join(root, "ref.parquet")
        self.ref_fp = os.path.join(root, "ref_fp.parquet")
        with open(os.path.join(root, "expected.json")) as fh:
            self.expected = json.load(fh)


def _table(rows, schema):
    return pa.Table.from_pandas(rows, schema=schema, preserve_index=False)


def _write(rows, schema, path):
    pq.write_table(_table(rows, schema), path, row_group_size=ROW_GROUP)


def ref_fingerprint_rows(ref):
    """The manifest ``operators.audio.ref_fingerprints`` derives:
    (clip_id, hex sha1 of ref_pcm). Computed here without Spark; the
    self-test pins it to the engine's own function."""
    return ref[["clip_id"]].assign(
        ref_sha1=[hashlib.sha1(b).hexdigest() for b in ref["ref_pcm"]]
    )


def _cache_entries(cache_root: str) -> list[tuple[float, int, str]]:
    entries = []
    for wl in os.listdir(cache_root):
        wdir = os.path.join(cache_root, wl)
        for key in os.listdir(wdir):
            d = os.path.join(wdir, key)
            size = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
            entries.append((os.path.getmtime(d), size, d))
    return entries


def _evict(cache_root: str, keep: str) -> None:
    entries = sorted(_cache_entries(cache_root))
    total = sum(e[1] for e in entries)
    for _, size, d in entries:
        if total <= CACHE_LIMIT_BYTES:
            break
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
            total -= size


def cached(cache_root: str, workload: str, key: str, build) -> tuple[InputSet, float]:
    """Return the input set for ``key``, building it with ``build(tmpdir)``
    on a miss. The second value is the generation time (0 on a hit)."""
    d = os.path.join(cache_root, workload, key)
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(d, "expected.json")):
        os.makedirs(os.path.dirname(d), exist_ok=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        expected = build(tmp)
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(expected, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        _evict(cache_root, keep=d)
    os.utime(d)
    return InputSet(d), time.perf_counter() - t0


def _verdict(violations: dict[str, list[str]]) -> dict:
    return {
        "exit_code": 1 if violations else 0,
        "fileError": "SCHEMA_VALIDATION" if violations else "None",
        "status": "failure" if violations else "success",
        "violation_assets": len(violations),
    }


# Synthesising and encoding a clip costs milliseconds in the pure-Python
# encoders, more than a run can spend on each new seed. Each workload
# therefore encodes one pool of clips once per checkout, and a seed draws
# its tables from the pool: which clips, in what order, and where the
# violations go.
POOL_SEED = 42


def _pool(cache_root: str, name: str, n: int, **lossy):
    """(clips, ref) frames of the ``n``-clip pool ``name``."""
    def build(out):
        idx = np.arange(n)
        _write(datagen.clips_batch(idx, POOL_SEED, **lossy), CLIPS_ARROW,
               os.path.join(out, "clips.parquet"))
        _write(datagen.ref_batch(idx, POOL_SEED, **lossy), REF_ARROW,
               os.path.join(out, "ref.parquet"))
        return {"rows": n}

    pool, _ = cached(cache_root, "pool", f"{name}-n{n}", build)
    return pq.read_table(pool.clips).to_pandas(), pq.read_table(pool.ref).to_pandas()


def _draw(cache_root, pool_name, pool_n, rng, n, **lossy):
    clips, ref = _pool(cache_root, pool_name, pool_n, **lossy)
    pick = rng.permutation(pool_n)[:n]
    return clips.iloc[pick].reset_index(drop=True), ref.iloc[pick].reset_index(drop=True)


def _write_set(out, clips, ref):
    _write(clips, CLIPS_ARROW, os.path.join(out, "clips.parquet"))
    _write(ref, REF_ARROW, os.path.join(out, "ref.parquet"))
    _write(ref_fingerprint_rows(ref), FP_ARROW, os.path.join(out, "ref_fp.parquet"))


# -- consignment_small --------------------------------------------------------

def consignment(cache_root: str, seed: int, k: int, n: int):
    """The k-th consignment of a run: ``n`` lossless clips (pcm/flac/opus)
    drawn from a pool of ``4 n``, with its reference and fingerprint
    manifest. Odd ``k`` carries four seeded violations (protected field,
    sr_hz enum, transcript mismatch, duplicate key) and even ``k`` is clean,
    so the cold operation is clean, the first warm one is dirty and both
    verdict branches run."""
    def build(out):
        rng = np.random.default_rng([seed, k])
        clips, ref = _draw(cache_root, "lossless", 4 * n, rng, n)
        violations: dict[str, list[str]] = {}
        if k % 2 == 1:
            a, b, c, d = (int(x) for x in rng.choice(n, size=4, replace=False))
            ref.loc[a, "ref_dur_ms"] += 7
            violations[clips.at[a, "clip_id"]] = ["PROTECTED_FIELD"]
            # declared on both sides so the protected-field check stays
            # quiet; the payload still decodes at its true rate
            clips.loc[b, "sr_hz"] = SR_OUT_OF_DOMAIN
            ref.loc[b, "ref_sr_hz"] = SR_OUT_OF_DOMAIN
            violations[clips.at[b, "clip_id"]] = ["enum", "sampleRateMismatch"]
            ref.loc[c, "ref_transcript"] = ref.at[c, "ref_transcript"] + " edited"
            violations[clips.at[c, "clip_id"]] = ["transcriptMismatch"]
            clips = clips.iloc[list(range(n)) + [d]].reset_index(drop=True)
            violations[clips.at[d, "clip_id"]] = ["duplicate"]
        _write_set(out, clips, ref)
        return {**_verdict(violations), "rows": len(clips),
                "violations": {a: sorted(v) for a, v in violations.items()}}

    return cached(cache_root, "consignment_small", f"s{seed}-n{n}-k{k}", build)


# -- audio_bulk ---------------------------------------------------------------

def audio_bulk(cache_root: str, seed: int, n: int):
    """One clean table of ``n`` clips drawn from a pool of ``2 n`` with a
    lossy share that takes the hash-mismatch -> SNR residue path and
    passes it."""
    def build(out):
        clips, ref = _draw(cache_root, "lossy", 2 * n, np.random.default_rng(seed), n,
                              ulaw_every=BULK_ULAW_EVERY,
                              extended_every=BULK_EXTENDED_EVERY)
        _write_set(out, clips, ref)
        return {**_verdict({}), "rows": n, "violations": {}}

    return cached(cache_root, "audio_bulk", f"s{seed}-n{n}", build)
