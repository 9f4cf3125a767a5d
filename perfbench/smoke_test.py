"""Smoke test of the benchmark itself, at tiny input size.

    python3 perfbench/smoke_test.py [WORKLOAD ...]

Run from the repository root (about 8 minutes on 4 cores).  For each
workload it checks that

* an untraced run is correct and emits exactly the ``end_to_end`` metrics of
  ``BENCHMARK.json``, each with its unit and a value above 0;
* a traced run whose result was tampered with (``--corrupt``) emits exactly
  the ``per_layer`` metrics with their units, and reports ``correct: false``
  with ``failed > 0``;

and that the runner exits non-zero without printing a result when started in
a directory holding only ``BENCHMARK.json`` and the benchmark's files.
Exits 1 on the first failed expectation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def run(args, cwd=ROOT):
    return subprocess.run(
        ["python3", "perfbench/run.py", *args], capture_output=True, text=True, cwd=cwd, timeout=300
    )


def result_of(proc):
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"exit {proc.returncode}; stderr tail:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def expect(cond, msg):
    if not cond:
        print(f"FAIL: {msg}")
        sys.exit(1)


def check_metrics(res, spec, what):
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    expect(got == want, f"{what}: metric names/units differ: {sorted(set(got) ^ set(want))}")
    expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{what}: result keys {sorted(res)}")
    expect(res["attempted"] >= 1, f"{what}: nothing attempted")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    common = ["--seed", "1", "--seconds", "1", "--scale", "0.2"]
    for w in names:
        res = result_of(run(["--workload", w, *common, "--trace", "0"]))
        check_metrics(res, bench["end_to_end"], f"{w} trace 0")
        expect(res["correct"] and res["failed"] == 0, f"{w}: untraced run not correct: {res}")
        zero = [k for k, v in res["metrics"].items() if not v["value"] > 0]
        expect(not zero, f"{w}: end-to-end metrics not above 0: {zero}")

        res = result_of(run(["--workload", w, *common, "--trace", "1", "--corrupt"]))
        check_metrics(res, bench["per_layer"], f"{w} trace 1")
        expect(not res["correct"] and res["failed"] > 0, f"{w}: corrupted result passed the checks")
        print(f"ok: {w}")

    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = run(["--workload", names[0], "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(proc.returncode != 0, "runner succeeded without the program present")
    expect(not proc.stdout.strip(), "runner printed a result without the program present")
    print("ok: refuses to run without the program")
    return 0


if __name__ == "__main__":
    sys.exit(main())
