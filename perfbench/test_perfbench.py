"""Self-test of the benchmark at tiny sizes (under three minutes at local[4]).

    python3 -m pytest perfbench -q

Runs every workload once untraced and once traced at a few percent of its
size and checks that each run is correct and reports every metric named in
BENCHMARK.json with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from layers import LAYER_UNITS  # noqa: E402
from run import END_TO_END_UNITS, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_spec_names_match_the_runner():
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == LAYER_UNITS


def test_fingerprints_match_the_engine(tmp_path):
    """gen.py writes the fingerprint manifest without Spark; it must equal
    what operators.audio.ref_fingerprints derives."""
    script = f"""
import sys; sys.path[:0] = {[HERE, ROOT]!r}
import numpy as np
from tdr_draft_metadata_validator_spark import datagen
from tdr_draft_metadata_validator_spark.operators.audio import ref_fingerprints
from tdr_draft_metadata_validator_spark.session import get_spark
from envinfo import stop_session
import gen
ref = datagen.ref_batch(np.arange(12), 3, ulaw_every=10, extended_every=10)
mine = dict(gen.ref_fingerprint_rows(ref).itertuples(index=False))
spark = get_spark(master="local[1]")
try:
    theirs = {{r[0]: r[1] for r in ref_fingerprints(datagen.ref_df(spark, ref)).collect()}}
finally:
    stop_session(spark)
assert mine == theirs, (mine, theirs)
"""
    env = {**os.environ, "SPARK_GRAFT_LOCAL_DIR": str(tmp_path),
           "SPARK_GRAFT_DRIVER_MEM": "1g", "TMPDIR": str(tmp_path)}
    subprocess.run([sys.executable, "-c", script], check=True, env=env,
                   timeout=180, capture_output=True)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_reports_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--scale", "0.01"],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, out.stdout[-2000:]
    want = LAYER_UNITS if trace else END_TO_END_UNITS
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k


def test_refuses_without_the_engine(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "audio_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=60, cwd=tmp_path,
    )
    assert out.returncode != 0
    assert out.stdout == ""
