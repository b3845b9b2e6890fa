"""Traced-run harness: spans around the engine's public functions.

The program is not edited. Each layer function is wrapped by replacing the
module attribute that the CLI (``validate._run`` imports at call time) or
the engine (``plans.engine`` imports by name) looks up. A wrapper records a
span (name, start, end, parent, operation id) and runs the call under its
own Spark job group, so the JVM status store can attribute every job,
stage, task, shuffle byte and spilled byte to the innermost span.

Several row checks only build lazy frames; their work runs inside the
engine's one ``merged.count()``. For those the wrapper keeps the returned
frame, and ``force_lazy`` later runs each one alone through the ``noop``
sink, timing it and counting its rows with an ``Observation``.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import time

# (module, attribute, span name). Order matters only for readability.
WRAPPED = (
    ("tdr_draft_metadata_validator_spark.session", "get_spark", "session.get_spark"),
    ("tdr_draft_metadata_validator_spark.sources.tables", "read_clips", "sources.read_clips"),
    ("tdr_draft_metadata_validator_spark.sources.tables", "read_ref_clips", "sources.read_ref_clips"),
    ("tdr_draft_metadata_validator_spark.plans.engine", "validate", "engine.validate"),
    ("tdr_draft_metadata_validator_spark.plans.engine", "audio_invariants", "audio.audio_invariants"),
    ("tdr_draft_metadata_validator_spark.plans.engine", "has_undecodable", "audio.has_undecodable"),
    ("tdr_draft_metadata_validator_spark.plans.engine", "compile_rules", "rules.compile_rules"),
    ("tdr_draft_metadata_validator_spark.plans.engine", "union_checks", "merge.union_checks"),
    ("tdr_draft_metadata_validator_spark.plans.engine", "merge_violations", "merge.merge_violations"),
    ("tdr_draft_metadata_validator_spark.plans.engine", "partition_metrics", "metrics.partition_metrics"),
    ("tdr_draft_metadata_validator_spark.operators.relational", "duplicate_rows", "relational.duplicate_rows"),
    ("tdr_draft_metadata_validator_spark.operators.relational", "missing_rows", "relational.missing_rows"),
    ("tdr_draft_metadata_validator_spark.operators.relational", "unknown_rows", "relational.unknown_rows"),
    ("tdr_draft_metadata_validator_spark.operators.relational", "protected_fields", "relational.protected_fields"),
    ("tdr_draft_metadata_validator_spark.operators.relational", "choose_join_side", "relational.choose_join_side"),
    ("tdr_draft_metadata_validator_spark.operators.audio", "choose_join_side", "relational.choose_join_side"),
    ("tdr_draft_metadata_validator_spark.operators.merge", "write_violations_json", "merge.write_violations_json"),
    ("tdr_draft_metadata_validator_spark.operators.merge", "collect_error_file", "merge.collect_error_file"),
    ("tdr_draft_metadata_validator_spark.plans.checkpoint", "record_partitions", "checkpoint.record_partitions"),
    ("tdr_draft_metadata_validator_spark.plans.checkpoint", "failed_partitions", "checkpoint.failed_partitions"),
)

# lazy frames forced alone through the noop sink, by the span that built them
LAZY = {
    "rules.compile_rules": "rules.compile_rules_s",
    "relational.duplicate_rows": "relational.duplicate_rows_s",
    "relational.missing_rows": "relational.missing_rows_s",
    "relational.unknown_rows": "relational.unknown_rows_s",
    "relational.protected_fields": "relational.protected_fields_s",
    "metrics.partition_metrics": "metrics.partition_metrics_s",
    "merge.union_checks": None,
    "merge.merge_violations": None,
}

CODECS = ("pcm_s16le", "pcm_s24le", "pcm_f32le", "ulaw", "alaw", "ima_adpcm",
          "flac", "opus")

# every per-layer metric with its unit; the traced run reports all of them
LAYER_UNITS = {
    "session.get_spark_s": "s", "session.prewarm_jobs": "count",
    "sources.read_s": "s", "sources.read_jobs": "count",
    "engine.validate_s": "s", "engine.jobs": "count", "engine.stages": "count",
    "engine.tasks": "count", "engine.local_checkpoints": "count",
    "cli.after_validate_s": "s", "cli.jobs": "count",
    **{f"codec.decode_ms_per_clip.{c}": "ms" for c in CODECS},
    "codec.snr_ms_per_clip": "ms",
    "audio.invariants_s": "s", "audio.invariants_tasks": "count",
    "audio.residue_clips": "count", "audio.residue_ratio": "ratio",
    "audio.snr_pass_s": "s", "audio.has_undecodable_s": "s",
    "audio.shuffle_write_bytes": "bytes",
    "rules.compile_rules_s": "s", "rules.rows_out": "count",
    "relational.duplicate_rows_s": "s", "relational.missing_rows_s": "s",
    "relational.unknown_rows_s": "s", "relational.protected_fields_s": "s",
    "relational.shuffle_write_bytes": "bytes",
    "relational.choose_join_side_jobs": "count",
    "merge.merge_violations_s": "s", "merge.rows_in": "count",
    "merge.assets_out": "count", "merge.spill_bytes": "bytes",
    "merge.write_violations_json_s": "s", "merge.bytes_written": "bytes",
    "merge.files_written": "count", "merge.collect_error_file_s": "s",
    "metrics.partition_metrics_s": "s",
    "checkpoint.record_partitions_s": "s", "checkpoint.failed_partitions_s": "s",
    "checkpoint.files_written": "count",
    "trace.overhead_s": "s",
}


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "attrs")

    def __init__(self, sid, name, parent, op):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start = self.end = 0.0
        self.attrs = {}

    def dur(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "op": self.op, "start": self.start, "end": self.end,
                "attrs": {k: v for k, v in self.attrs.items() if k != "frame"}}


class Tracer:
    """Holds the spans of one traced run in memory."""

    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.enabled = False
        self.op = None
        self.sc = None
        self._ids = itertools.count(1)

    # -- spans -----------------------------------------------------------
    def open(self, name: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        s = Span(next(self._ids), name, parent, self.op)
        s.attrs["prev_group"] = self._group()
        self.spans.append(s)
        self.stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"pb-{s.id}", name)
        s.start = time.perf_counter()
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self.stack.pop()
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", s.attrs.pop("prev_group"))
        else:
            s.attrs.pop("prev_group")

    def _group(self):
        return self.sc.getLocalProperty("spark.jobGroup.id") if self.sc else None

    # -- wrappers --------------------------------------------------------
    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            s = self.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.close(s)
            if "prefer_count" in kwargs:
                s.attrs["prefer_count"] = kwargs["prefer_count"]
            if name in LAZY:
                s.attrs["frame"] = out
            return out
        return traced

    def install(self) -> None:
        import importlib

        # the frames a local session hands out are of the classic subclass,
        # which defines its own count and localCheckpoint
        from pyspark.sql.classic.dataframe import DataFrame

        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), name))
        tracer = self

        orig_ckpt = DataFrame.localCheckpoint
        orig_count = DataFrame.count

        def local_checkpoint(df, *a, **kw):
            if not tracer.enabled:
                return orig_ckpt(df, *a, **kw)
            s = tracer.open("df.localCheckpoint")
            try:
                return orig_ckpt(df, *a, **kw)
            finally:
                tracer.close(s)

        def count(df):
            if not tracer.enabled:
                return orig_count(df)
            s = tracer.open("df.count")
            try:
                n = orig_count(df)
                s.attrs["rows"] = n
                return n
            finally:
                tracer.close(s)

        DataFrame.localCheckpoint = local_checkpoint
        DataFrame.count = count

    # -- lazy checks -----------------------------------------------------
    def force_lazy(self, op) -> None:
        """Run each lazy frame the operation built through the noop sink,
        alone, as spans named ``force.<layer>`` under operation ``op``."""
        from pyspark.sql import Observation, functions as F

        self.op = op
        for s in [s for s in self.spans if s.op == op and "frame" in s.attrs]:
            frame = s.attrs.pop("frame")
            obs = Observation()
            observed = frame.observe(obs, F.count(F.lit(1)).alias("n"))
            f = self.open(f"force.{s.name}")
            try:
                observed.write.format("noop").mode("overwrite").save()
            finally:
                self.close(f)
            f.attrs["rows"] = obs.get["n"]

    def drop_frames(self) -> None:
        for s in self.spans:
            s.attrs.pop("frame", None)

    # -- status store ----------------------------------------------------
    def job_stats(self) -> dict:
        """{span id: [jobs, stages, tasks, shuffle write bytes, spill bytes]}
        for the jobs run directly under each span (self, not children)."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # private API; fall back to a short settle
            time.sleep(1.0)
        store = jsc.statusStore()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        by_stage = {}
        for st in _seq(store.stageList(None, False, False, no_quantiles,
                                       jvm.java.util.ArrayList())):
            if str(st.status()) == "COMPLETE":
                by_stage.setdefault(st.stageId(), []).append(st)
        out = {}
        # a stage reused by a later job is listed by both; it ran in the
        # first, so it is counted there only
        jobs = sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId())
        for job in jobs:
            group = job.jobGroup()
            gid = group.get() if group.isDefined() else None
            if not gid or not str(gid).startswith("pb-"):
                continue
            sid = int(str(gid)[3:])
            acc = out.setdefault(sid, [0, 0, 0, 0, 0])
            acc[0] += 1
            for stage_id in _seq(job.stageIds()):
                for st in by_stage.pop(int(stage_id), []):
                    acc[1] += 1
                    acc[2] += st.numCompleteTasks()
                    acc[3] += st.shuffleWriteBytes()
                    acc[4] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [s.to_dict() for s in self.spans]}, fh)


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class OpView:
    """Span tree of one operation with inclusive job statistics."""

    def __init__(self, tracer: Tracer, op, stats: dict):
        self.spans = [s for s in tracer.spans if s.op == op]
        self.kids: dict = {}
        for s in self.spans:
            self.kids.setdefault(s.parent, []).append(s)
        self.stats = stats

    def named(self, name, under=None):
        pool = self.subtree(under) if under is not None else self.spans
        return [s for s in pool if s.name == name]

    def subtree(self, root: Span) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.kids.get(s.id, []))
        return out

    def incl(self, roots, field: int) -> int:
        seen = set()
        total = 0
        for r in roots:
            for s in self.subtree(r):
                if s.id not in seen:
                    seen.add(s.id)
                    total += self.stats.get(s.id, [0] * 5)[field]
        return total

    def dur(self, name) -> float:
        return sum(s.dur() for s in self.named(name))


JOBS, STAGES, TASKS, SHUFFLE_W, SPILL = range(5)


def op_metrics(v: OpView, decoded_clips: int) -> dict:
    """Per-layer metrics of one traced operation (not the forced passes)."""
    root = v.named("cli.main")[0]
    eng = v.named("engine.validate")
    ai = v.named("audio.audio_invariants")
    # the audio violation frame is checkpointed by the engine right after
    # audio_invariants returns; that action runs the SNR residue join
    snr = [s for s in v.named("df.localCheckpoint")
           if eng and s.parent == eng[0].id]
    # the residue is the frame audio_invariants sizes by counting it
    residue = 0
    for cjs in v.named("relational.choose_join_side", ai[0]) if ai else []:
        if cjs.attrs.get("prefer_count"):
            residue += sum(c.attrs.get("rows", 0) for c in v.named("df.count", cjs))
    return {
        "sources.read_s": v.dur("sources.read_clips") + v.dur("sources.read_ref_clips"),
        "sources.read_jobs": v.incl(v.named("sources.read_clips")
                                    + v.named("sources.read_ref_clips"), JOBS),
        "engine.validate_s": sum(s.dur() for s in eng),
        "engine.jobs": v.incl(eng, JOBS),
        "engine.stages": v.incl(eng, STAGES),
        "engine.tasks": v.incl(eng, TASKS),
        "engine.local_checkpoints": len([s for e in eng for s in
                                         v.named("df.localCheckpoint", e)]),
        "cli.after_validate_s": root.end - max((s.end for s in eng), default=root.end),
        "cli.jobs": v.incl([root], JOBS),
        "audio.invariants_s": sum(s.dur() for s in ai),
        "audio.invariants_tasks": v.incl(ai, TASKS),
        "audio.residue_clips": residue,
        "audio.residue_ratio": residue / decoded_clips if decoded_clips else 0.0,
        "audio.snr_pass_s": sum(s.dur() for s in snr),
        "audio.has_undecodable_s": v.dur("audio.has_undecodable"),
        "audio.shuffle_write_bytes": v.incl(ai + snr, SHUFFLE_W),
        "relational.choose_join_side_jobs": v.incl(
            v.named("relational.choose_join_side"), JOBS),
        "merge.assets_out": sum(c.attrs.get("rows", 0) for e in eng
                                for c in v.named("df.count", e)
                                if c.parent == e.id),
        "merge.spill_bytes": v.incl(eng, SPILL),
        "merge.write_violations_json_s": v.dur("merge.write_violations_json"),
        "merge.collect_error_file_s": v.dur("merge.collect_error_file"),
        "checkpoint.record_partitions_s": v.dur("checkpoint.record_partitions"),
        "checkpoint.failed_partitions_s": v.dur("checkpoint.failed_partitions"),
    }


def forced_metrics(v: OpView) -> dict:
    """Per-layer metrics from the noop-forced lazy frames of one op."""
    def forced(name):
        return v.named(f"force.{name}")

    def t(name):
        return sum(s.dur() for s in forced(name))

    def rows(name):
        return sum(s.attrs.get("rows", 0) for s in forced(name))

    out = {metric: t(name) for name, metric in LAZY.items() if metric}
    rel = [s for n in ("duplicate_rows", "missing_rows", "unknown_rows",
                       "protected_fields") for s in forced(f"relational.{n}")]
    out.update({
        "rules.rows_out": rows("rules.compile_rules"),
        "relational.shuffle_write_bytes": v.incl(rel, SHUFFLE_W),
        # self time of the merge: the merged frame minus its own input
        "merge.merge_violations_s": max(
            0.0, t("merge.merge_violations") - t("merge.union_checks")),
        "merge.rows_in": rows("merge.union_checks"),
    })
    return out


def median_of(dicts: list[dict]) -> dict:
    keys = dicts[0].keys() if dicts else []
    return {k: statistics.median(d[k] for d in dicts) for k in keys}
