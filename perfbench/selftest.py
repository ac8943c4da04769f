"""Smoke self-test of the benchmark.

    python3 perfbench/selftest.py

Runs the fewest timed passes (--seconds 0) of every workload, untraced and
traced, and asserts that the last stdout line carries exactly the
metrics BENCHMARK.json lists for that mode, each with its unit and a
finite value, and that every output check passed. Then checks that the
benchmark refuses to run, with a non-zero exit and no result line, in a
directory that holds only BENCHMARK.json and the benchmark's files.
Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(spec: dict, workload: str, trace: int, proc: subprocess.CompletedProcess) -> None:
    where = f"{workload} --trace {trace}"
    assert proc.returncode == 0, f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
    assert result["correct"] is True and result["failed"] == 0, f"{where}: {result}"
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, where
    listed = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    assert set(got) == set(listed), f"{where}: metrics {sorted(set(got) ^ set(listed))}"
    for name, m in got.items():
        assert m["unit"] == listed[name], f"{where}: {name} unit {m['unit']}"
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), f"{where}: {name}"
    if not trace:
        assert all(m["value"] > 0 for m in got.values()), f"{where}: {got}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(spec, w["name"], trace, run(ROOT, w["name"], trace))
            print(f"ok {w['name']} --trace {trace}", flush=True)
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, spec["workloads"][0]["name"], 0)
        assert proc.returncode != 0, "ran without the package"
        assert '"metrics"' not in proc.stdout, "printed a result without the package"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok refuses to run without the package")
    return 0


if __name__ == "__main__":
    sys.exit(main())
