#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at a small data scale, untraced and traced, and
asserts that each run exits 0, that its last stdout line has exactly the
result keys, that every output check passed, and that every metric named
in BENCHMARK.json is emitted with its unit. Traced runs must also cover at
least 90% of op wall time with top-level spans and report nonzero numbers
for the layers the workload enters. Finally it checks that the benchmark
refuses to run, without printing a result, in a directory that holds only
BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.05"
# Long enough for one full op cycle of each workload at this scale, with
# room for a host slowed by other tenants.
SECONDS = {"ingest_cdc": 25, "scan_mix": 15, "corpus_dedup": 6}
ENTERED = {
    "ingest_cdc": ["delta.write.ms", "streaming.trigger.ms", "streaming.trigger.self_ms",
                   "plans.merge.ms", "plans.merge.tasks", "delta.snapshot.ms", "delta.compact.ms",
                   "delta.write.bytes", "delta.merge.files_rewritten", "delta.merge.bytes_rewritten",
                   "delta.log.bytes", "streaming.batches", "streaming.rows", "write_amp", "space_amp"],
    "scan_mix": ["delta.prune.ms", "plans.plan.ms", "sources.exec.ms", "sources.exec.tasks",
                 "query.build.ms", "sources.bytes_read", "sources.rows_read",
                 "sources.rows_read_per_match"],
    "corpus_dedup": ["functions.quality.ms", "functions.dedup.ms", "functions.dedup.cpu_ms",
                     "functions.dedup.tasks", "functions.dedup.removed", "delta.write.ms",
                     "delta.write.bytes"],
}


def run(workload, trace, seed=7):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS[workload]), "--trace", str(trace),
           "--scale", SCALE]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(workload, trace, spec):
    res = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    named = spec["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in named}, \
        set(res["metrics"]) ^ {m["name"] for m in named}
    for m in named:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
        if not trace:
            assert got["value"] > 0, (m["name"], got)
    if trace:
        met = {k: v["value"] for k, v in res["metrics"].items()}
        assert met["trace.coverage"] >= 0.9, met["trace.coverage"]
        zero = [k for k in ENTERED[workload] if not met[k] > 0]
        assert not zero, f"{workload}: layers entered but reported 0: {zero}"
        print(f"  {workload}: traced ops={met['trace.ops']:.0f} coverage={met['trace.coverage']:.3f} "
              f"overhead_ms={met['trace.overhead_ms']:.1f}")
    print(f"ok {workload} trace={trace} attempted={res['attempted']}")


def check_bare():
    """Only BENCHMARK.json and perfbench/: must fail fast with no result."""
    bare = os.path.join(HERE, "target", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "scan_mix",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    print("ok bare checkout refused")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            check(w, trace, spec)
    check_bare()


if __name__ == "__main__":
    main()
