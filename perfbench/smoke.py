#!/usr/bin/env python3
"""Smoke self-check of the benchmark at tiny input size.

    python3 perfbench/smoke.py [workload ...]

From the root of a checkout, runs every workload (or the ones named) at
``--size tiny`` once untraced and once traced, and checks that:

* the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``;
* every end-to-end (untraced) or per-layer (traced) metric named in
  ``BENCHMARK.json`` is printed, with its unit and nothing else;
* ``correct`` is true, ``wrong_verdicts`` = 0 and ``failed_frac`` = 0;
* in a directory holding only ``BENCHMARK.json`` and the benchmark's
  files, the runner exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args: list[str], cwd: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_result(lines: list[str], spec: list[dict]) -> list[str]:
    if not lines:
        return ["no output"]
    res = json.loads(lines[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True:
        errors.append("correct is not true")
    if res.get("failed") != 0 or not res.get("attempted", 0) >= 1:
        errors.append(f"attempted={res.get('attempted')} failed={res.get('failed')}")
    metrics = res.get("metrics", {})
    want = {m["name"]: m["unit"] for m in spec}
    if set(metrics) != set(want):
        errors.append(f"metric names differ: missing {sorted(set(want) - set(metrics))}, "
                      f"extra {sorted(set(metrics) - set(want))}")
    for name, unit in want.items():
        m = metrics.get(name)
        if m is not None and (m.get("unit") != unit or not isinstance(m.get("value"), (int, float))):
            errors.append(f"{name}: {m}")
    for name in ("wrong_verdicts", "failed_frac"):
        if name in metrics and metrics[name]["value"] != 0:
            errors.append(f"{name} = {metrics[name]['value']}")
    return errors


def main(argv: list[str]) -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = argv or [w["name"] for w in bench["workloads"]]
    failures = 0
    for wl in workloads:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            code, lines = run(["--workload", wl, "--seed", "1", "--seconds", "1",
                               "--trace", str(trace), "--size", "tiny"], root)
            errors = ([f"exit code {code}"] if code else []) + check_result(lines, spec)
            failures += bool(errors)
            print(f"{wl} trace={trace}: {'ok' if not errors else '; '.join(errors)}")

    # a directory with only the benchmark's own files must be refused
    bare = os.path.join(root, ".perfbench", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = run(["--workload", workloads[0], "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    bare_ok = code != 0 and not lines
    failures += not bare_ok
    print(f"bare directory: {'ok' if bare_ok else f'exit {code}, output {lines[-1:]}'}")
    shutil.rmtree(bare, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
