"""Validation benchmark: one client drives the production CLI in a closed loop.

    python3 perfbench/run.py --workload consignment_small --seed 1 --seconds 10 --trace 0

Each operation is one ``validate.main([...])`` call, in-process, on a warm
session from ``session.get_spark(master="local[<nproc>]")``; the next one
starts only after the previous one returned and its outputs were checked.
Inputs come from ``gen.py`` (seeded, cached) and every operation writes to
fresh output and checkpoint directories, removed outside the timed region.

Workloads (see ``WORKLOADS``):

- ``consignment_small``: one ~1,000-clip consignment per operation, half of
  them carrying four seeded violations. The per-run floor dominates.
- ``audio_bulk``: one clean table with a lossy share, so the decode and
  fingerprint pass and the SNR residue join do the work.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of ``layers.py``. The last stdout line is the result JSON; the line
before it holds the environment record and diagnostics, and every metric
is also listed on stderr as ``name value unit``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_cache")

CONSIGNMENT_ID = "f1b8a3e6-2c4d-4f7a-9b5e-0d6c8e2a7f31"
HEAP = "2g"
MIN_WARM_OPS = 2
TRACED_OPS = 2

# clips per operation
WORKLOADS = {"consignment_small": 1000, "audio_bulk": 2000}

# peak_rss_mb is the peak proportional resident memory (PSS) of the Spark
# JVM and its Python workers while operations run
END_TO_END_UNITS = {
    "setup_s": "s", "first_run_s": "s", "run_s_p50": "s",
    "clips_per_s": "rows/s", "peak_rss_mb": "MB",
}

# inherited settings that would change what is measured
_SCRUB_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_ARROW_BATCH",
              "SPARK_GRAFT_PREWARM_WORKERS", "SPARK_GRAFT_DEBUG_TIMING",
              "PYSPARK_SUBMIT_ARGS")


def _engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "validate.py"))
            and os.path.isdir(os.path.join(ROOT, "tdr_draft_metadata_validator_spark")))


def _configure_env(nproc: int) -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in _SCRUB_ENV:
        os.environ.pop(k, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
    })
    sys.path[:0] = [ROOT]
    return {
        # a fixed-size heap: the peak RSS then follows what the engine
        # touches, not when the collector decides to grow the heap
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


class Bench:
    def __init__(self, args):
        self.args = args
        self.rows = max(8, int(WORKLOADS[args.workload] * args.scale))
        self.gen_s = 0.0
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.opdir = os.path.join(WORK, "ops", str(os.getpid()))

    def inputs(self, k: int):
        import gen

        if self.args.workload == "consignment_small":
            inp, t = gen.consignment(CACHE, self.args.seed, k, self.rows)
        else:
            inp, t = gen.audio_bulk(CACHE, self.args.seed, self.rows)
        self.gen_s += t
        return inp

    def run_op(self, cli, k: int, mem, tracer=None, force=False) -> tuple[float, int]:
        """One checked operation; returns (wall seconds, rows validated)."""
        from check import check_op

        inp = self.inputs(k)
        out = os.path.join(self.opdir, f"op{k}", "out")
        ckpt = os.path.join(self.opdir, f"op{k}", "ckpt")
        argv = ["--table", inp.clips, "--ref", inp.ref, "--output", out,
                "--checkpoint", ckpt, "--run-id", f"op{k}",
                "--consignment-id", CONSIGNMENT_ID, "--ref-fingerprints", inp.ref_fp]
        buf = io.StringIO()
        self.attempted += 1
        span = None
        mem.active.set()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf):
                if tracer is not None:
                    tracer.op = k
                    tracer.enabled = True
                    span = tracer.open("cli.main")
                try:
                    rc = cli.main(argv)
                finally:
                    if span is not None:
                        tracer.close(span)
                        tracer.enabled = False
        except Exception as exc:  # an operation that raises is a failed op
            rc = f"raised {exc!r}"
        wall = time.perf_counter() - t0
        mem.active.clear()
        problems = check_op(inp.expected, out, rc, buf.getvalue())
        if span is not None:
            span.attrs.update(_output_stats(out, ckpt))
            if force:
                tracer.enabled = True
                tracer.force_lazy(k)
                tracer.enabled = False
            tracer.op = None
        if problems:
            self.failed += 1
            self.problems.append(f"op{k}: " + "; ".join(problems))
        shutil.rmtree(os.path.join(self.opdir, f"op{k}"), ignore_errors=True)
        return wall, inp.expected["rows"]


def _output_stats(out: str, ckpt: str) -> dict:
    def parts(path):
        files = [os.path.join(d, f) for d, _, fs in os.walk(path)
                 for f in fs if f.startswith("part-")]
        return len(files), sum(os.path.getsize(f) for f in files)

    n_v, b_v = parts(os.path.join(out, "violations"))
    n_l, _ = parts(os.path.join(ckpt, "lineage"))
    return {"merge.files_written": n_v, "merge.bytes_written": b_v,
            "checkpoint.files_written": n_l}


def _tail(samples: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(samples)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return {"percentile": p, "samples": n,
                    "value_s": sorted(samples)[min(n - 1, int(n * p / 100))]}
    return {"percentile": None, "samples": n}


def codec_microbench(inp, seed: int, per_codec: int = 24) -> dict:
    """Single-threaded decode and SNR cost per clip over a seeded sample of
    the workload's own payloads, in this process. A codec label the workload
    does not carry reports 0."""
    import numpy as np
    import pyarrow.parquet as pq

    from layers import CODECS
    from tdr_draft_metadata_validator_spark.functions.audio_codec import (
        decode, snr_db, to_mono,
    )

    out = {f"codec.decode_ms_per_clip.{c}": 0.0 for c in CODECS}
    out["codec.snr_ms_per_clip"] = 0.0
    clips = pq.read_table(inp.clips, columns=["clip_id", "bytes", "codec"]).to_pandas()
    ref = pq.read_table(inp.ref, columns=["clip_id", "ref_pcm"]).to_pandas()
    ref_pcm = dict(zip(ref["clip_id"], ref["ref_pcm"]))
    rng = np.random.default_rng(seed)
    snr_t, snr_n = 0.0, 0
    for codec, rows in clips.groupby("codec"):
        pick = rows.iloc[rng.choice(len(rows), size=min(per_codec, len(rows)), replace=False)]
        t_dec = 0.0
        for cid, payload in zip(pick["clip_id"], pick["bytes"]):
            t0 = time.perf_counter()
            _, samples = decode(payload, codec)
            t_dec += time.perf_counter() - t0
            mono = to_mono(samples)
            reference = np.frombuffer(ref_pcm[cid], dtype=np.int16)
            t0 = time.perf_counter()
            snr_db(reference, mono)
            snr_t += time.perf_counter() - t0
            snr_n += 1
        out[f"codec.decode_ms_per_clip.{codec}"] = 1000 * t_dec / len(pick)
    out["codec.snr_ms_per_clip"] = 1000 * snr_t / snr_n
    return out


def layer_metrics(bench, tracer, traced, prewarm_jobs, untraced_p50, codec) -> dict:
    from layers import OpView, forced_metrics, median_of, op_metrics

    stats = tracer.job_stats()
    setup = tracer.spans[0]
    views = [OpView(tracer, k, stats) for k, _ in traced]
    per_op = []
    for v in views:
        m = op_metrics(v, bench.rows)
        m.update({k: val for k, val in v.named("cli.main")[0].attrs.items()
                  if "." in k})
        per_op.append(m)
    # counts come from the first traced op (a fixed input for a given
    # seed), times are medians over the traced ops
    first = per_op[0]
    med = median_of(per_op)
    metrics = {k: (first[k] if not k.endswith("_s") else med[k]) for k in first}
    metrics.update(forced_metrics(views[0]))
    metrics.update(codec)
    metrics["session.get_spark_s"] = setup.dur()
    metrics["session.prewarm_jobs"] = prewarm_jobs
    metrics["trace.overhead_s"] = statistics.median(w for _, w in traced) - untraced_p50
    return metrics


def main(argv=None) -> int:
    t_main = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply the workload's row count (self-test)")
    args = p.parse_args(argv)

    if not _engine_present():
        print(f"error: validate.py and the engine package are not in {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    from envinfo import (
        MemorySampler, machine_calibration, process_age_s, spark_jvms, stop_session,
    )

    leftover = spark_jvms()
    if leftover:
        print(f"error: Spark JVMs already running (pids {leftover}); they skew "
              "timings. Stop them (pkill -f org.apache.spark) and retry.",
              file=sys.stderr)
        return 3

    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    extra_conf = _configure_env(nproc)
    bench = Bench(args)

    tracer = None
    if args.trace:
        from layers import LAYER_UNITS, Tracer

        tracer = Tracer()
        tracer.install()
        tracer.enabled = True
    from tdr_draft_metadata_validator_spark import session

    spark = session.get_spark(master=master, extra_conf=extra_conf)
    # one set-up per run: another would cost a JVM launch and worker
    # pre-warm (8-12 s at local[4]) on top of the run
    setup_s = process_age_s()
    traced: list[tuple[int, float]] = []
    warm: list[tuple[float, int]] = []
    try:
        prewarm_jobs = 0
        if tracer is not None:
            tracer.enabled = False
            tracer.sc = spark.sparkContext
            prewarm_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        import validate as cli
        from pyspark import SparkContext

        with MemorySampler(SparkContext._gateway.proc.pid) as mem:
            k = 0
            first_run_s, _ = bench.run_op(cli, k, mem)
            if tracer is not None:
                for i in range(TRACED_OPS):
                    k += 1
                    traced.append((k, bench.run_op(cli, k, mem, tracer, force=(i == 0))[0]))
            measured = 0.0
            while measured < args.seconds or len(warm) < MIN_WARM_OPS:
                k += 1
                wall, rows = bench.run_op(cli, k, mem)
                warm.append((wall, rows))
                measured += wall
            peak_mem = mem.peak

        run_p50 = statistics.median(w for w, _ in warm)
        rows_p50 = statistics.median(r for _, r in warm)
        if tracer is not None:
            codec = codec_microbench(bench.inputs(k), args.seed)
            metrics = layer_metrics(bench, tracer, traced, prewarm_jobs, run_p50, codec)
            tracer.drop_frames()
            units = LAYER_UNITS
    finally:
        stop_session(spark)
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "first_run_s": first_run_s,
            "run_s_p50": run_p50,
            "clips_per_s": rows_p50 / run_p50,
            "peak_rss_mb": peak_mem / (1 << 20),
        }
        units = END_TO_END_UNITS
    shutil.rmtree(bench.opdir, ignore_errors=True)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "rows_per_op": bench.rows,
        "env": {"nproc": nproc, "master": master, "jvm_heap": HEAP,
                "python": sys.version.split()[0],
                "calibration": machine_calibration()},
        "setup_s": setup_s,
        "gen_s": bench.gen_s,
        "first_run_s": first_run_s,
        "warm_s": [w for w, _ in warm],
        "tail": _tail([w for w, _ in warm]),
        "failed_ops_ratio": bench.failed / bench.attempted,
        "problems": bench.problems,
        "wall_s": time.perf_counter() - t_main,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    if tracer is not None:
        detail["traced_s"] = [w for _, w in traced]
        tracer.write(os.path.join(WORK, "results", f"{tag}-spans.json"), detail)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1)
    for k, u in units.items():
        print(f"{k} {metrics[k]:.6g} {u}", file=sys.stderr)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
