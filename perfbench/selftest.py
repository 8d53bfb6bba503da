"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload in BENCHMARK.json it
runs ``run.py --tiny`` untraced, traced, and with its outputs damaged
before the checks, and asserts that

- the last line is the result object, every end-to-end (untraced) or
  per-layer (traced) metric of BENCHMARK.json is printed with its unit,
  and the outputs pass their checks;
- a damaged output trips its check (``correct`` false, ``failed`` > 0);
- in a directory holding only BENCHMARK.json and the benchmark's files,
  the benchmark exits non-zero without printing a result.

Exits 0 when all of these hold.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT = 300


def run_bench(cwd: str, workload: str, *flags: str, trace: int = 0):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), *flags]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is not None and "correct" not in result:
        result = None
    return p.returncode, result, p.stderr


def check_metrics(result: dict, expected: list[dict], label: str) -> list[str]:
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{label}: result keys {sorted(result)}")
    got = result.get("metrics", {})
    for m in expected:
        if m["name"] not in got:
            errs.append(f"{label}: metric {m['name']} missing")
        elif got[m["name"]].get("unit") != m["unit"]:
            errs.append(f"{label}: {m['name']} unit {got[m['name']].get('unit')} != {m['unit']}")
        elif not isinstance(got[m["name"]].get("value"), (int, float)):
            errs.append(f"{label}: {m['name']} value not a number")
    extra = set(got) - {m["name"] for m in expected}
    if extra:
        errs.append(f"{label}: unexpected metrics {sorted(extra)}")
    return errs


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs: list[str] = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{wl} trace={trace}"
            code, res, err = run_bench(root, wl, "--tiny", trace=trace)
            if code != 0 or res is None:
                errs.append(f"{label}: exit {code}, no result\n{err[-2000:]}")
                continue
            errs += check_metrics(res, metrics, label)
            if not res["correct"] or res["failed"]:
                errs.append(f"{label}: outputs failed their checks\n{err[-2000:]}")
            print(f"ok   {label}: attempted {res['attempted']}", flush=True)
        code, res, err = run_bench(root, wl, "--tiny", "--corrupt")
        if code != 0 or res is None:
            errs.append(f"{wl} corrupt: exit {code}, no result\n{err[-2000:]}")
        elif res["correct"] or not res["failed"]:
            errs.append(f"{wl} corrupt: damaged outputs passed the checks")
        else:
            print(f"ok   {wl} corrupt: {res['failed']} checks tripped", flush=True)

    # a directory with only BENCHMARK.json and the benchmark's own files
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(root, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
    wl = spec["workloads"][0]["name"]
    code, res, _ = run_bench(bare, wl)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        errs.append(f"bare directory: exit {code}, result {res}")
    else:
        print(f"ok   bare directory: exit {code}, no result", flush=True)

    for e in errs:
        print("FAIL", e)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
