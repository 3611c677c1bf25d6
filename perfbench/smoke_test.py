"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py [workload ...]

Runs each workload at the tiny input size, untraced and then traced,
and checks that the summary line parses, that every end-to-end (or,
traced, per-layer) metric of BENCHMARK.json is in it with its unit,
that each is also printed as a ``metric``/``layer`` line, and that the
traced run reports its tracing overhead. Last, it copies only
BENCHMARK.json and the benchmark's directory into an empty directory
and checks that the command fails there without printing a summary.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("reference_batch", "curation_batch", "alert_stream")


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "0",
           "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(spec: dict, workload: str, trace: int) -> None:
    proc = run(ROOT, workload, trace)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    summary = json.loads(lines[-1])
    assert set(summary) == {"correct", "attempted", "failed", "metrics"}, summary.keys()
    assert summary["correct"] is True, lines
    assert summary["attempted"] >= 1 and summary["failed"] == 0, summary
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(summary["metrics"]) == {m["name"] for m in wanted}, (
        sorted(set(summary["metrics"]) ^ {m["name"] for m in wanted}))
    prefix = "layer" if trace else "metric"
    printed = {ln.split()[-3]: ln.split()[-1] for ln in lines if ln.startswith(prefix + " ")
               and len(ln.split()) >= 3}
    for m in wanted:
        got = summary["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m, got)
        assert printed.get(m["name"]) == m["unit"], (m["name"], printed.get(m["name"]))
    assert any(ln.startswith("loadavg start") for ln in lines)
    if trace:
        overhead = [ln for ln in lines if ln.startswith("tracing overhead")]
        assert overhead and "n/a" not in overhead[0], overhead
    if workload == "alert_stream":
        assert any(ln.startswith("known defect order_timeout_stateful") for ln in lines), lines
    print(f"ok {workload} trace={trace}: {summary['attempted']} ops, "
          f"{len(summary['metrics'])} metrics")


def check_without_program() -> None:
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, "reference_batch", 0)
        assert proc.returncode != 0, proc.stdout
        assert not proc.stdout.strip(), proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok: fails without the program")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in sys.argv[1:] or WORKLOADS:
        for trace in (0, 1):
            check_run(spec, workload, trace)
    check_without_program()


if __name__ == "__main__":
    main()
