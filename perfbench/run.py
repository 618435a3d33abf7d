"""dx ingest benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload {bulk,steady} --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one client thread, a closed
loop: each call into the engine or the table waits for the previous one.
Spark runs at ``local[<usable cores>]``.

A run has three parts.

1. Set-up (``setup_s``): JVM start, changelog generation with
   ``dx.generator.gen_changelog_spark`` from ``--seed``, the first
   ``WARMUP_LOOPS`` loops of the first replay and one read cycle on the
   table they leave, so codegen and class loading of both the write and
   the read paths fall outside the timed window.
2. Measured window of ``--seconds``: whole replays of the changelog
   (``ReplayEngine.run(max_batches=1)`` loops) into fresh tables, each
   followed by a read cycle (a point read, ``changes()`` from the commit
   before, a full scan) on the table it left, until the window is over.
   The replay in progress always finishes. More read cycles on the last
   table follow until ``READ_CYCLES`` ran. Only calls into ``dx`` are
   timed.
3. Checks, outside the timer: every point read, every ``changes()``
   count and the final table are compared with a reference built from
   the changelog in pandas, without ``dx``: the per-key highest-LSN
   event, deletes dropped.

Progress goes to stderr. Stdout gets a ``{"config": ...}`` line with the
resolved runtime, then, last, the result line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The exit code is 0 only if the run passed its checks.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

DRIVER_HEAP = "4g"
N_REPOS = 50
MEAN_VERSIONS = 4
WARMUP_LOOPS = 1
READ_CYCLES = 4
POINT_READS_PER_CYCLE = 1
CHANGES_TAIL_COMMITS = 1
POINT_FILES_SAMPLE = 8

# n_keys sizes the changelog: about MEAN_VERSIONS events per key, with
# LSNs from n_keys + 1 up to ~8 * n_keys, times lsn_stride. ``batches``
# cuts that LSN range into equal batches. Each run replays the
# changelog into a fresh table again and again until the window ends.
WORKLOADS = {
    # A few huge batches, write-dominated: each replay is one batch whose
    # LSN width is above the engine's default broadcast_key_limit (2M),
    # so the engine picks the bucket-window dedup path, as in the
    # 32M-event scaling protocol. The generator's LSNs are dense; a
    # stride of 32 spaces them out, as WAL positions are in a real CDC
    # source, so ~80k events span ~4.5M LSNs. One batch per replay
    # keeps the loop walls unimodal: equal LSN widths hold unequal event
    # counts, because later version layers of the generator are sparser.
    "bulk": {"n_keys": 20_000, "batches": 1, "lsn_stride": 32, "tiny_keys": 2_000},
    # Micro-batches of 1-6k events (3.6k on average) into a MoR table
    # with the default compact_threshold (8): fixed per-batch cost and
    # one inline compaction dominate, and the reads meet the delta
    # layer written after it.
    "steady": {"n_keys": 8_000, "batches": 9, "lsn_stride": 1, "tiny_keys": 400},
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------- reference
def _sha(content: str) -> bytes:
    return hashlib.sha256(
        content.replace("\r\n", "\n").replace("\r", "\n").encode("utf-8")
    ).digest()


def read_changelog(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["lsn", "op", "repo", "path", "content"]).to_pandas()


class Reference:
    """Expected table states, from the changelog alone (no ``dx``)."""

    def __init__(self, changelog_pdf):
        ev = changelog_pdf[changelog_pdf["op"] != "DDL"].sort_values("lsn", kind="stable")
        self.ev = ev.assign(sha=[None if op == "D" else _sha(c)
                                 for op, c in zip(ev["op"], ev["content"])]
                            ).drop(columns="content")
        self._states: dict[int, tuple[dict, list]] = {}

    def state(self, watermark: int) -> tuple[dict, list]:
        """{(repo, path): (sha, lsn)} for keys live at ``watermark``,
        plus the sorted keys whose last event is a delete."""
        if watermark not in self._states:
            self._states[watermark] = self._state(watermark)
        return self._states[watermark]

    def _state(self, watermark: int) -> tuple[dict, list]:
        ev = self.ev[self.ev["lsn"] <= watermark]
        last = ev.drop_duplicates(["repo", "path"], keep="last")
        live, deleted = {}, []
        for repo, path, lsn, op, sha in last[
                ["repo", "path", "lsn", "op", "sha"]].itertuples(index=False):
            if op == "D":
                deleted.append((repo, path))
            else:
                live[(repo, path)] = (sha, int(lsn))
        return live, sorted(deleted)

    def changed_keys(self, lo: int, hi: int) -> int:
        """Keys whose state differs between watermarks ``lo`` and ``hi``:
        the row count of ``LakeTable.changes`` between two snapshots."""
        a, _ = self.state(lo)
        b, _ = self.state(hi)
        return sum(1 for k in a.keys() | b.keys() if a.get(k) != b.get(k))


def table_mismatches(table, ref: dict) -> int:
    """Rows of the table's current state that differ from ``ref``:
    wrong (_content_sha, _lsn), duplicated, unexpected or missing keys."""
    got = (table.read(include_system=True)
           .select("repo", "path", "_content_sha", "_lsn").toPandas())
    bad, seen = 0, set()
    for repo, path, sha, lsn in got.itertuples(index=False):
        key = (repo, path)
        if key in seen or ref.get(key) != (bytes(sha), int(lsn)):
            bad += 1
        seen.add(key)
    return bad + len(ref.keys() - seen)


def point_read_ok(rows, expected) -> bool:
    if expected is None:
        return not rows
    return (len(rows) == 1
            and (bytes(rows[0]["_content_sha"]), int(rows[0]["_lsn"])) == expected)


def sample_keys(live: dict, deleted: list, seed: int, n: int = 64) -> list:
    """Point-read keys drawn by seed: half live, a quarter deleted, a
    quarter never written (a path no generator emits, in a real repo),
    as of the changelog's head."""
    rng = random.Random(seed)
    live_keys = sorted(live)
    out = []
    for i in range(n):
        kind = i % 4
        if kind == 2 and deleted:
            out.append(rng.choice(deleted))
        elif kind == 3:
            repo = rng.choice(live_keys)[0]
            out.append((repo, f"src/absent/f{rng.randrange(1 << 30)}.py"))
        else:
            out.append(rng.choice(live_keys))
    return out


# ------------------------------------------------------------------ spark
def pin_environment(run_dir: str) -> None:
    """Keep every temp file inside the run directory, and leave the codec
    to ``get_spark``'s width rule (the one session default read from the
    environment that the arguments below do not override)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.pop("DX_WIDE_CODEC", None)


def start_spark(cores: int, run_dir: str, trace: bool):
    from dx.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        ev_dir = os.path.join(run_dir, "evlog")
        os.makedirs(ev_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{ev_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("dx-perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def runtime_config(spark, cores: int) -> dict:
    """The runtime as the live session resolved it."""
    import pyspark
    from dx import session

    sc = spark.sparkContext
    jvm = sc._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    conf = sc.getConf()
    wide = getattr(session, "_use_wide_codec", None)
    return {
        "master": sc.master,
        "cores": cores,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "io_codec": conf.get("spark.io.compression.codec", "lz4"),
        "parquet_codec": spark.conf.get("spark.sql.parquet.compression.codec"),
        "wide_codec_chosen": wide(sc.master) if wide else None,
        "gc": [beans.get(i).getName() for i in range(beans.size())],
        "driver_memory": conf.get("spark.driver.memory", ""),
        "heap_max_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory()) >> 20,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python": platform.python_version(),
    }


def rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -------------------------------------------------------------- benchmark
class Run:
    def __init__(self, spark, args, cores: int, run_dir: str, tracer=None):
        self.spark = spark
        self.args = args
        self.run_dir = run_dir
        self.tracer = tracer
        self.spec = WORKLOADS[args.workload]
        self.cores = cores
        self.n_keys = self.spec["tiny_keys"] if args.tiny else self.spec["n_keys"]
        self.attempted = 0
        self.failed = 0
        self.loop_walls: list[float] = []
        self.events = 0
        self.table = None
        self.meta_file_reads = 0
        self.depths: list[int] = []
        self.loop_windows: list[tuple[float, float]] = []
        self.reads: dict[str, list[float]] = {"point": [], "changes": [], "scan": []}

    @contextmanager
    def op(self, name: str):
        sp = self.tracer.open(f"op.{name}") if self.tracer else None
        try:
            yield
        finally:
            if sp is not None:
                self.tracer.close(sp)

    def fail(self, msg: str) -> None:
        self.failed += 1
        log(msg)

    # set-up -------------------------------------------------------------
    def setup(self) -> None:
        import numpy as np
        from pyspark.sql import functions as F

        from dx.generator import gen_changelog_spark

        t0 = time.monotonic()
        self.changelog_path = os.path.join(self.run_dir, "changelog.parquet")
        (gen_changelog_spark(self.spark, n_keys=self.n_keys,
                             mean_versions=MEAN_VERSIONS, seed=self.args.seed,
                             n_repos=N_REPOS, partitions=self.cores)
         .withColumn("lsn", F.col("lsn") * self.spec["lsn_stride"])
         .repartitionByRange(self.cores, "lsn").sortWithinPartitions("lsn")
         .write.parquet(self.changelog_path))
        self.changelog = self.spark.read.parquet(self.changelog_path)
        self.ref = Reference(read_changelog(self.changelog_path))
        self.lsns = self.ref.ev["lsn"].to_numpy()
        self.start = int(self.lsns[0]) - 1
        self.head = int(self.lsns[-1])
        self.delta = -(-(self.head - self.start) // self.spec["batches"])
        assert np.all(np.diff(self.lsns) > 0), "changelog LSNs are not unique"
        self.keys = itertools.cycle(sample_keys(*self.ref.state(self.head), self.args.seed))
        log(f"changelog: {len(self.lsns)} events, lsn ({self.start}, {self.head}], "
            f"delta {self.delta}, {time.monotonic() - t0:.2f}s")
        # warm-up: the first loops of the first replay, then one read
        # cycle on the table they leave, run untimed
        t0 = time.monotonic()
        self.engine = self.new_engine("lake0")
        for _ in range(WARMUP_LOOPS):
            self.engine.run(max_batches=1)
        t1 = time.monotonic()
        self.prepare_reads()
        self.read_cycle(timed=False)
        log(f"warm-up: loops {t1 - t0:.2f}s, reads {time.monotonic() - t1:.2f}s")

    def new_engine(self, name: str):
        """A fresh table, replacing the previous one, and an engine on it."""
        from dx.engine import ReplayEngine
        from dx.lake import LakeTable

        if self.table is not None:
            shutil.rmtree(self.table.root, ignore_errors=True)
        self.table = LakeTable.create(self.spark, os.path.join(self.run_dir, name),
                                      n_buckets=self.cores)
        # the table starts just below the first event, as a consumer
        # starts at its source's offset, so no batch is empty
        self.table.checkpoint_watermark("start", self.start)
        return ReplayEngine(self.spark, self.table, self.changelog, delta=self.delta)

    def events_between(self, lo: int, hi: int) -> int:
        import numpy as np

        return int(np.searchsorted(self.lsns, hi, "right")
                   - np.searchsorted(self.lsns, lo, "right"))

    # measured window --------------------------------------------------
    def window(self, seconds: float) -> None:
        """Finishes the replay set-up began, then whole replays until the
        window is over, each followed by a read cycle; then read cycles
        on the last table until READ_CYCLES ran. A bulk run interleaves
        batches and reads, so a short slowdown of the host hits both
        alike. The replay in progress always finishes, so the reads meet
        the same table on every run."""
        deadline = time.monotonic() + seconds
        engine, rep = self.engine, 0
        while True:
            if self.table.watermark() >= self.head:
                rep += 1
                engine = self.new_engine(f"lake{rep}")
            while self.table.watermark() < self.head:
                w0 = self.table.watermark()
                reads0 = self.table.meta_file_reads
                self.attempted += 1
                e0, t0 = time.time(), time.monotonic()
                try:
                    engine.run(max_batches=1)
                except Exception:
                    self.fail("batch failed:\n" + traceback.format_exc())
                    break
                self.loop_walls.append(time.monotonic() - t0)
                self.loop_windows.append((e0, time.time()))
                self.meta_file_reads += self.table.meta_file_reads - reads0
                w1 = self.table.watermark()
                if w1 <= w0:
                    self.fail(f"batch made no progress at watermark {w0}")
                    break
                self.events += self.events_between(w0, w1)
            self.prepare_reads()
            self.read_cycle()
            if self.failed or time.monotonic() >= deadline:
                break
        for _ in range(READ_CYCLES - len(self.reads["scan"])):
            self.read_cycle()

    # reads --------------------------------------------------------------
    def prepare_reads(self) -> None:
        """Untimed: reference at the table's watermark, the snapshot a
        consumer tailing the last commits reads from, and the number of
        rows ``changes()`` must return from it."""
        watermark = self.table.watermark()
        self.live, _ = self.ref.state(watermark)
        chain = self.table.snapshot_chain()
        old = chain[min(CHANGES_TAIL_COMMITS, len(chain) - 1)]
        self.from_snapshot = old["snapshot_id"]
        self.changes_expected = self.ref.changed_keys(int(old["watermark"]), watermark)
        self.depths.append(max(self.table.delta_depth().values(), default=0))

    def timed(self, name: str, action, timed: bool):
        """Runs one read, recording its wall; None if it raised."""
        self.attempted += 1
        try:
            with self.op(name):
                t0 = time.monotonic()
                out = action()
                wall = time.monotonic() - t0
        except Exception:
            self.fail(f"{name} read failed:\n" + traceback.format_exc())
            return None
        if timed:
            self.reads[name].append(wall)
        return out

    def read_cycle(self, timed: bool = True) -> None:
        table = self.table
        for _ in range(POINT_READS_PER_CYCLE):
            key = next(self.keys)
            rows = self.timed("point", lambda: table.read_point(
                *key, include_system=True).collect(), timed)
            if rows is not None and not point_read_ok(rows, self.live.get(key)):
                self.fail(f"point read {key} returned {rows}, "
                          f"expected {self.live.get(key)}")
        n = self.timed("changes", lambda: table.changes(self.from_snapshot).count(), timed)
        if n is not None and n != self.changes_expected:
            self.fail(f"changes() returned {n} rows, expected {self.changes_expected}")
        self.timed("scan", lambda: table.read().write.format("noop")
                   .mode("overwrite").save(), timed)

    # checks and metrics ---------------------------------------------------
    def final_check(self) -> int:
        self.attempted += 1
        self.live, _ = self.ref.state(self.table.watermark())
        bad = table_mismatches(self.table, self.live)
        if bad:
            self.fail(f"final table: {bad} rows differ from the reference")
        return bad

    def head_file_bytes(self) -> int:
        meta = self.table.meta()
        files = [f for group in ("files", "deltas")
                 for fl in meta.get(group, {}).values() for f in fl]
        return sum(os.path.getsize(f) for f in files)

    def end_to_end(self, setup_s: float) -> dict:
        def med(xs):  # a run that failed early may lack samples
            return statistics.median(xs) if xs else 0.0

        return {
            "setup_s": (setup_s, "s"),
            "events_per_s": (self.events / max(1e-9, sum(self.loop_walls)), "ev/s"),
            "batch_s_p50": (med(self.loop_walls), "s"),
            "point_read_s_p50": (med(self.reads["point"]), "s"),
            "changes_s_p50": (med(self.reads["changes"]), "s"),
            "scan_s_p50": (med(self.reads["scan"]), "s"),
            "lake_bytes_per_row": (self.head_file_bytes() / max(1, len(self.live)), "B/row"),
        }

    def trace_inputs(self) -> dict:
        """Untimed lake-side observations the traced run reports."""
        meta = self.table.meta()
        old = self.table.snapshot_meta(self.from_snapshot)

        def layout(m, b):
            return (m.get("files", {}).get(b, []), m.get("deltas", {}).get(b, []))

        buckets = (set(meta.get("files", {})) | set(meta.get("deltas", {}))
                   | set(old.get("files", {})) | set(old.get("deltas", {})))
        opened = total = 0
        sample = [next(self.keys) for _ in range(POINT_FILES_SAMPLE)]
        for key in sample:
            pf = self.table.point_files(*key)
            opened += len(pf["base_pruned"]) + len(pf["deltas_pruned"])
            total += len(pf["base"]) + len(pf["deltas"])
        return {
            "events": self.events,
            "loop_walls": self.loop_walls,
            "read_ops": sum(len(v) for v in self.reads.values()),
            "snapshot_bytes": len(json.dumps(meta)),
            "meta_file_reads": self.meta_file_reads,
            "delta_depth_max": max(self.depths[1:], default=0),
            "point_files_opened": opened / len(sample),
            "point_files_total": total / len(sample),
            "changes_dirty_buckets": sum(1 for b in buckets
                                         if layout(old, b) != layout(meta, b)),
            "jvm_rss_peak_mb": rss_peak_mb(jvm_pid(self.spark)),
        }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="small changelog, for the self-test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_setup = time.monotonic()
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        pin_environment(run_dir)
        cores = usable_cores()
        spark = start_spark(cores, run_dir, bool(args.trace))
        log(f"spark up {time.monotonic() - t_setup:.2f}s")
        try:
            return measure(spark, args, cores, run_dir, t_setup)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(spark, args, cores: int, run_dir: str, t_setup: float) -> int:
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
        tracer.install()
    config = runtime_config(spark, cores)
    print(json.dumps({"config": {**config, "workload": args.workload,
                                 "seed": args.seed, "seconds": args.seconds,
                                 "trace": args.trace, "tiny": args.tiny}}), flush=True)
    log(f"config: {json.dumps(config)}")
    run = Run(spark, args, cores, run_dir, tracer)
    run.setup()
    setup_s = time.monotonic() - t_setup
    log(f"setup {setup_s:.2f}s")

    w0 = time.time()
    run.window(args.seconds)
    w1 = time.time()
    log(f"ingest: {len(run.loop_walls)} loops, {run.events} events, "
        f"{sum(run.loop_walls):.2f}s; delta depths read {run.depths[1:]}")
    log("reads: " + ", ".join(f"{k} {len(v)} (p50 {statistics.median(v):.3f}s)"
                              for k, v in run.reads.items() if v))
    mismatches = run.final_check()
    correct = run.failed == 0 and mismatches == 0

    if not args.trace:
        metrics = run.end_to_end(setup_s)
    else:
        inputs = run.trace_inputs()
        inputs.update(window=(w0, w1), loop_windows=run.loop_windows,
                      evlog=os.path.join(run_dir, "evlog"))
        spark.stop()  # flushes the event log
        from perfbench.trace import UNITS, layer_metrics, read_jobs

        values = layer_metrics(tracer.spans, read_jobs(inputs["evlog"]), inputs)
        metrics = {name: (values[name], unit) for name, unit in UNITS.items()}
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
