"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

1. A tiny run of each workload in BENCHMARK.json, untraced and traced,
   passes its correctness gate and emits exactly the metric names and
   units BENCHMARK.json declares.
2. The correctness gate trips on a corrupted copy of a replayed table
   (one row's ``_content_sha`` replaced) and on a wrong point-read row,
   and the reference's ``changes()`` count matches the table's.
3. A run against a copy of the program whose point reads return no rows
   prints ``"correct": false`` and exits non-zero.
4. Without the program beside it, the benchmark exits non-zero and
   prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=180)


def test_metric_names(spec: dict) -> None:
    for wl in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            p = bench(["--workload", wl["name"], "--seed", "3", "--seconds", "3",
                       "--trace", str(trace), "--tiny"], ROOT)
            expect(p.returncode == 0, f"{wl['name']} trace {trace}: exit "
                   f"{p.returncode}\n{p.stderr[-3000:]}")
            result = json.loads(p.stdout.strip().splitlines()[-1])
            expect(set(result) == {"correct", "attempted", "failed", "metrics"},
                   f"result keys {sorted(result)}")
            expect(result["correct"] is True and result["failed"] == 0,
                   f"{wl['name']} trace {trace}: not correct: {result}")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == want, f"{wl['name']} trace {trace}: metrics differ: "
                   f"missing {sorted(want.keys() - got.keys())}, "
                   f"extra {sorted(got.keys() - want.keys())}, "
                   f"units {[(k, got[k], want[k]) for k in want.keys() & got.keys() if got[k] != want[k]]}")
            for k, v in result["metrics"].items():
                expect(isinstance(v["value"], (int, float)), f"{k} is not a number")
            print(f"ok  {wl['name']} trace {trace}: {len(got)} metrics", flush=True)


def test_gate() -> None:
    from pyspark.sql import functions as F

    from dx.engine import ReplayEngine
    from dx.generator import gen_changelog_spark
    from dx.lake import LakeTable

    run_dir = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run.pin_environment(run_dir)
        cores = run.usable_cores()
        spark = run.start_spark(cores, run_dir, trace=False)
        try:
            path = os.path.join(run_dir, "changelog.parquet")
            gen_changelog_spark(spark, n_keys=300, seed=5, partitions=cores).write.parquet(path)
            table = LakeTable.create(spark, os.path.join(run_dir, "lake"), n_buckets=cores)
            ReplayEngine(spark, table, spark.read.parquet(path), delta=400).run()
            ref = run.Reference(run.read_changelog(path))
            live, _ = ref.state(table.watermark())
            expect(run.table_mismatches(table, live) == 0, "replayed table fails the gate")
            chain = table.snapshot_chain()
            for back in (1, 3):
                old = chain[min(back, len(chain) - 1)]
                got = table.changes(old["snapshot_id"]).count()
                want = ref.changed_keys(int(old["watermark"]), table.watermark())
                expect(got == want, f"changes() {back} commits back: {got} rows, "
                       f"reference {want}")

            repo, key_path = sorted(live)[0]
            hit = (F.col("repo") == repo) & (F.col("path") == key_path)
            corrupted = table.read(include_system=True).withColumn(
                "_content_sha",
                F.when(hit, F.unhex(F.sha2(F.lit("corrupt"), 256)))
                .otherwise(F.col("_content_sha")))
            copy = LakeTable.create(spark, os.path.join(run_dir, "copy"), n_buckets=cores)
            copy.seed(corrupted)
            expect(run.table_mismatches(copy, live) == 1,
                   "gate missed a flipped _content_sha")
            rows = copy.read_point(repo, key_path, include_system=True).collect()
            expect(not run.point_read_ok(rows, live[(repo, key_path)]),
                   "point-read check accepted a corrupted row")
            rows = table.read_point(repo, key_path, include_system=True).collect()
            expect(run.point_read_ok(rows, live[(repo, key_path)]),
                   "point-read check rejected a correct row")
            expect(not run.point_read_ok(rows, None),
                   "point-read check accepted a row for an absent key")
            print("ok  correctness gate trips on a corrupted table copy", flush=True)
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def copy_program(dest: str) -> None:
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    for d in ("perfbench", "dx"):
        shutil.copytree(os.path.join(ROOT, d), os.path.join(dest, d),
                        ignore=shutil.ignore_patterns("__pycache__"))


def test_fails_on_wrong_output() -> None:
    broken = os.path.join(run.WORK, f"broken-{os.getpid()}")
    copy_program(broken)
    try:
        with open(os.path.join(broken, "dx", "lake.py"), "a") as f:
            f.write("\n\n_read_point = LakeTable.read_point\n"
                    "LakeTable.read_point = lambda self, *a, **k: "
                    "_read_point(self, *a, **k).limit(0)\n")
        p = bench(["--workload", "steady", "--seed", "1", "--seconds", "1",
                   "--trace", "0", "--tiny"], broken)
        expect(p.returncode != 0, "benchmark exited 0 on wrong point reads")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        expect(result["correct"] is False and result["failed"] > 0,
               f"wrong point reads not reported: {result}")
        print("ok  wrong point reads: correct false, non-zero exit", flush=True)
    finally:
        shutil.rmtree(broken, ignore_errors=True)


def test_needs_program() -> None:
    bare = os.path.join(run.WORK, f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench(["--workload", "steady", "--seed", "1", "--seconds", "1",
                   "--trace", "0"], bare)
        expect(p.returncode != 0, "benchmark succeeded without the program")
        expect('"correct"' not in p.stdout, "benchmark printed a result without the program")
        print("ok  exits non-zero without the program", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    t0 = time.monotonic()
    spec = load_spec()
    test_needs_program()
    test_gate()
    test_fails_on_wrong_output()
    test_metric_names(spec)
    print(f"all self-tests passed in {time.monotonic() - t0:.0f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
