"""Traced run: spans around the dx layer boundaries, and attribution of
Spark jobs, stages and task time to those spans.

Spans are recorded from outside the program. :meth:`Tracer.install`
wraps the layer-boundary methods listed in ``BOUNDARIES``. Each wrapper
keeps ``(id, name, path, start, end, parent, batch)`` in memory and,
while it runs, sets the Spark local property ``dx.span`` to the span's
path (``engine.run/engine.batch/lake.merge/lake.write``). Every job
Spark submits from inside the span carries it in the event log, which
otherwise names a PySpark job only by its action
(``isEmpty at NativeMethodAccessorImpl.java:0``).

Local properties are per thread. The engine computes lineage on a pool
thread, so the wrapper around ``_collect_lineage`` sets the property on
that thread itself; its span is parented to the batch that submitted it.

Task totals come from ``tools/profile_scaling.parse_evlog``. Job and
stage attribution reads the job and stage events that parser skips.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time

# (module, class, method, span name). A method a later version of the
# program no longer has is skipped, and the metrics built on it read 0.
BOUNDARIES = [
    ("dx.engine", "ReplayEngine", "run", "engine.run"),
    ("dx.engine", "ReplayEngine", "_apply_segment", "engine.batch"),
    ("dx.engine", "ReplayEngine", "_collect_lineage", "engine.lineage"),
    ("dx.engine", "ReplayEngine", "_prepare_changes_bucketed", "dedup.bucketed"),
    ("dx.engine", "ReplayEngine", "_prepare_changes", "dedup.join"),
    ("dx.lake", "LakeTable", "merge", "lake.merge"),
    ("dx.lake", "LakeTable", "_write_buckets", "lake.write"),
    ("dx.lake", "LakeTable", "_collect_file_stats", "lake.file_stats"),
    ("dx.lake", "LakeTable", "_write_snapshot", "lake.commit"),
    ("dx.lake", "LakeTable", "compact", "lake.compact"),
    ("dx.lake", "LakeTable", "_bucket_of", "lake.bucket_of"),
]
# LakeTable.read, read_point and changes only plan; their jobs run in the
# caller's action, which the benchmark wraps in op.scan, op.point and
# op.changes spans.

# Per-layer metric -> unit. Everything that grows with the amount of
# work is normalised, so a faster program that fits more replays or
# reads into the window does not read worse: ingest-side numbers are per
# applied batch (``/batch``), read-side numbers per read operation or
# sampled key (``/op``). The rest describe the final table or the JVM.
UNITS = {
    "engine.batch_wall_s": "s/batch", "engine.self_s": "s/batch",
    "engine.probe_s": "s/batch", "engine.winners_s": "s/batch",
    "engine.lineage_s": "s/batch", "engine.lineage_wait_s": "s/batch",
    "engine.jobs_per_batch": "count/batch", "engine.stages_per_batch": "count/batch",
    "engine.empty_batches": "count/batch", "engine.unattributed_s": "s/batch",
    "dedup.bucketed_batches": "count/batch", "dedup.join_batches": "count/batch",
    "lake.write_s": "s/batch", "lake.write_task_cpu_s": "s/batch",
    "lake.write_gc_s": "s/batch", "lake.shuffle_write_bytes": "B/batch",
    "lake.output_bytes": "B/batch", "lake.files_written": "count/batch",
    "lake.file_stats_s": "s/batch", "lake.commit_s": "s/batch",
    "lake.snapshot_bytes": "B", "lake.meta_file_reads": "count/batch",
    "lake.compact_s": "s/batch", "lake.compact_runs": "count/batch",
    "lake.compact_bytes_rewritten": "B/batch", "lake.delta_depth_max": "count",
    "lake.bucket_of_s": "s/op", "lake.point_files_opened": "count/op",
    "lake.point_files_total": "count/op", "lake.read_jobs_per_op": "count/op",
    "lake.changes_dirty_buckets": "count",
    "spark.task_run_s": "s/batch", "spark.task_cpu_s": "s/batch",
    "spark.gc_s": "s/batch", "spark.covered_s": "s/batch",
    "spark.driver_only_s": "s/batch", "spark.avg_concurrency": "count",
    "spark.jobs": "count/batch", "spark.tasks": "count/batch",
    "spark.jvm_rss_peak_mb": "MB",
    "trace.batch_s_p50": "s", "trace.events_per_s": "ev/s",
}

ACTIONS = ("isEmpty", "count")

SPAN_PROP = "dx.span"


class Tracer:
    """In-memory span recorder. One per traced run; the benchmark's
    single caller runs on the main thread."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self._batch: dict | None = None

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_prop(self, sp: dict | None) -> None:
        self.sc.setLocalProperty(SPAN_PROP, sp["path"] if sp else None)

    def open(self, name: str) -> dict:
        stack = self._stack()
        # a pool thread's first span belongs to the batch that submitted it
        parent = stack[-1] if stack else (
            self._batch if threading.get_ident() != self._main else None)
        sp = {
            "id": next(self._ids), "name": name,
            "path": f"{parent['path']}/{name}" if parent else name,
            "parent": parent["id"] if parent else None,
            "batch": self._batch["id"] if self._batch else None,
            "start": time.time(), "end": None,
        }
        if name == "engine.batch":
            self._batch = sp
            sp["batch"] = sp["id"]
        stack.append(sp)
        self._set_prop(sp)
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = time.time()
        stack = self._stack()
        stack.pop()
        if sp is self._batch:
            self._batch = None
        self._set_prop(stack[-1] if stack else None)
        with self._lock:
            self.spans.append(sp)

    def install(self) -> None:
        import importlib

        for module, cls_name, meth, name in BOUNDARIES:
            cls = getattr(importlib.import_module(module), cls_name)
            if hasattr(cls, meth):
                setattr(cls, meth, self._wrap(getattr(cls, meth), name))
        # The engine's probe and winner count are DataFrame actions called
        # from _apply_segment; their spans tell them apart, which the
        # event log cannot (an AQE action runs as several anonymous jobs).
        frame = type(self.spark.range(0))
        for meth in ACTIONS:
            setattr(frame, meth, self._wrap(getattr(frame, meth), f"action.{meth}"))

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
                if name == "engine.batch":
                    sp["events"] = getattr(out, "events", None)
                    sp["skipped"] = bool(getattr(out, "skipped", False))
                elif name == "lake.write" and isinstance(out, dict):
                    sp["files"] = sum(len(v) for v in out.values())
                return out
            finally:
                tracer.close(sp)

        return wrapper


# ---------------------------------------------------------------- event log
def read_jobs(ev_dir: str) -> list[dict]:
    """Jobs from the event log: span path, submission time (ms) and the
    task metrics of the job's completed stages."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in glob.glob(os.path.join(ev_dir, "*")):
        with open(path, errors="replace") as f:
            for line in f:
                if "JobStart" not in line and "StageCompleted" not in line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "span": props.get(SPAN_PROP) or "",
                        "start": ev.get("Submission Time", 0),
                        "stage_ids": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info", {})
                    acc = {a.get("Name"): a.get("Value")
                           for a in info.get("Accumulables", [])}
                    stages[info.get("Stage ID")] = {
                        "cpu_s": int(acc.get("internal.metrics.executorCpuTime", 0)) / 1e9,
                        "gc_s": int(acc.get("internal.metrics.jvmGCTime", 0)) / 1e3,
                        "shuffle_write_bytes": int(
                            acc.get("internal.metrics.shuffle.write.bytesWritten", 0)),
                        "output_bytes": int(
                            acc.get("internal.metrics.output.bytesWritten", 0)),
                    }
    for j in jobs.values():
        j["stages"] = [stages[s] for s in j.pop("stage_ids") if s in stages]
    return list(jobs.values())


def _sum(jobs: list[dict], key: str) -> float:
    return sum(s[key] for j in jobs for s in j["stages"])


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            total += cur[1] - cur[0] if cur else 0.0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def layer_metrics(spans: list[dict], jobs: list[dict], run: dict) -> dict:
    """Per-layer numbers of one traced run, normalised as ``UNITS`` says.

    ``run`` carries what the benchmark measured itself: the measured
    window and each loop's window (epoch seconds), loop walls, read-op
    count and the lake-side counters it read from the tables. Ingest and
    reads interleave in the window, so spans and jobs are told apart by
    their span path (``engine.run/...`` or ``op.*``), and the ``spark.*``
    numbers cover the loops' windows only; the read side has
    ``lake.read_jobs_per_op``.
    """
    from tools.profile_scaling import parse_evlog

    w0, w1 = run["window"]
    measured = [s for s in spans if w0 <= s["start"] and s["end"] <= w1]
    ingest = [s for s in measured if s["path"].startswith("engine.run")]
    reads = [s for s in measured if s["path"].startswith("op.")]
    batches = [s for s in ingest if s["name"] == "engine.batch"
               and not s.get("skipped") and (s.get("events") or 0) > 0]
    n_b = max(1, len(batches))
    in_window = [j for j in jobs if w0 * 1e3 <= j["start"] <= w1 * 1e3]
    in_loops = [j for j in in_window if any(
        a * 1e3 <= j["start"] <= b * 1e3 for a, b in run["loop_windows"])]
    engine_jobs = [j for j in in_window if "engine.run" in j["span"]]
    read_jobs = [j for j in in_window if j["span"].startswith("op.")]

    def named(pool, name, in_compact=False):
        return [s for s in pool if s["name"] == name
                and ("lake.compact/" in s["path"]) == in_compact]

    def leaf_jobs(pool, name, in_compact=False):
        return [j for j in pool if j["span"].rsplit("/", 1)[-1] == name
                and ("lake.compact/" in j["span"]) == in_compact]

    def per_batch(x: float) -> float:
        return x / n_b

    def total_s(pool) -> float:
        return sum(_dur(s) for s in pool)

    batch_ids = {s["id"] for s in batches}
    self_s = 0.0
    for b in batches:
        lake_children = [(s["start"], s["end"]) for s in ingest
                         if s["parent"] == b["id"] and s["name"].startswith("lake.")]
        self_s += _dur(b) - _covered(lake_children)
    lineage = [s for s in named(ingest, "engine.lineage") if s["batch"] in batch_ids]
    writes = {s["batch"]: s for s in named(ingest, "lake.write")}
    wait = sum(max(0.0, s["end"] - writes[s["batch"]]["end"])
               for s in lineage if s["batch"] in writes)

    def batch_actions(name):
        return [s for s in ingest if s["name"] == name and s["parent"] in batch_ids]

    write_jobs = leaf_jobs(engine_jobs, "lake.write")
    compact = named(ingest, "lake.compact")
    loop_wall = sum(run["loop_walls"])
    unattributed = loop_wall - _covered(
        [(s["start"], s["end"]) for s in ingest
         if s["name"] in ("engine.batch", "lake.compact")])
    n_reads = max(1, run["read_ops"])
    bucket_of = [s for s in reads if s["name"] == "lake.bucket_of"
                 and s["path"].startswith("op.point")]
    spark = {"task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
             "covered_s": 0.0, "n_tasks": 0}
    for a, b in run["loop_windows"]:
        for k, v in parse_evlog(run["evlog"], a * 1e3, b * 1e3).items():
            spark[k] += v
    walls = sorted(run["loop_walls"])
    return {
        "engine.batch_wall_s": per_batch(total_s(batches)),
        "engine.self_s": per_batch(self_s),
        "engine.probe_s": per_batch(total_s(batch_actions("action.isEmpty"))),
        "engine.winners_s": per_batch(total_s(batch_actions("action.count"))),
        "engine.lineage_s": per_batch(total_s(lineage)),
        "engine.lineage_wait_s": per_batch(wait),
        "engine.jobs_per_batch": per_batch(len(engine_jobs)),
        "engine.stages_per_batch": per_batch(sum(len(j["stages"]) for j in engine_jobs)),
        "engine.empty_batches": per_batch(sum(
            1 for s in ingest if s["name"] == "engine.batch"
            and not s.get("skipped") and s.get("events") == 0)),
        "engine.unattributed_s": per_batch(max(0.0, unattributed)),
        "dedup.bucketed_batches": per_batch(len(named(ingest, "dedup.bucketed"))),
        "dedup.join_batches": per_batch(len(named(ingest, "dedup.join"))),
        "lake.write_s": per_batch(total_s(named(ingest, "lake.write"))),
        "lake.write_task_cpu_s": per_batch(_sum(write_jobs, "cpu_s")),
        "lake.write_gc_s": per_batch(_sum(write_jobs, "gc_s")),
        "lake.shuffle_write_bytes": per_batch(_sum(write_jobs, "shuffle_write_bytes")),
        "lake.output_bytes": per_batch(_sum(write_jobs, "output_bytes")),
        "lake.files_written": per_batch(sum(s.get("files", 0)
                                            for s in named(ingest, "lake.write"))),
        "lake.file_stats_s": per_batch(total_s(named(ingest, "lake.file_stats"))),
        "lake.commit_s": per_batch(total_s(named(ingest, "lake.commit"))),
        "lake.snapshot_bytes": run["snapshot_bytes"],
        "lake.meta_file_reads": per_batch(run["meta_file_reads"]),
        "lake.compact_s": per_batch(total_s(compact)),
        "lake.compact_runs": per_batch(len(compact)),
        "lake.compact_bytes_rewritten": per_batch(_sum(
            leaf_jobs(engine_jobs, "lake.write", in_compact=True), "output_bytes")),
        "lake.delta_depth_max": run["delta_depth_max"],
        "lake.bucket_of_s": (statistics.fmean(_dur(s) for s in bucket_of)
                             if bucket_of else 0.0),
        "lake.point_files_opened": run["point_files_opened"],
        "lake.point_files_total": run["point_files_total"],
        "lake.read_jobs_per_op": len(read_jobs) / n_reads,
        "lake.changes_dirty_buckets": run["changes_dirty_buckets"],
        "spark.task_run_s": per_batch(spark["task_run_s"]),
        "spark.task_cpu_s": per_batch(spark["task_cpu_s"]),
        "spark.gc_s": per_batch(spark["gc_s"]),
        "spark.covered_s": per_batch(spark["covered_s"]),
        "spark.driver_only_s": per_batch(max(0.0, loop_wall - spark["covered_s"])),
        "spark.avg_concurrency": (spark["task_run_s"] / spark["covered_s"]
                                  if spark["covered_s"] else 0.0),
        "spark.jobs": per_batch(len(in_loops)),
        "spark.tasks": per_batch(spark["n_tasks"]),
        "spark.jvm_rss_peak_mb": run["jvm_rss_peak_mb"],
        "trace.batch_s_p50": statistics.median(walls) if walls else 0.0,
        "trace.events_per_s": run["events"] / loop_wall if loop_wall else 0.0,
    }
