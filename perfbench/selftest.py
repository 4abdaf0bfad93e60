"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload at smoke size, untraced and traced, and checks that
each prints exactly the metrics named in ``BENCHMARK.json`` with their
units and no failed op; that every per-layer metric is measured by at
least one workload; that a falsified expected answer is counted as a
failure; and that the benchmark refuses, with a non-zero exit and no
result, to run in a directory holding only itself.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from run import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
KEYS = {"correct", "attempted", "failed", "metrics"}


def bench(*args, cwd=ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--seconds", "2", "--seed", "7", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(p: subprocess.CompletedProcess) -> dict:
    if p.returncode != 0:
        raise AssertionError(f"exit {p.returncode}: {p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if set(out) != KEYS:
        raise AssertionError(f"result keys {sorted(out)}")
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        print("FAIL: BENCHMARK.json workloads differ from run.py's")
        return 1
    problems, measured = [], set()

    for w in WORKLOADS:
        for trace in (0, 1):
            try:
                p = bench("--workload", w, "--trace", str(trace), "--smoke")
                out = result(p)
            except (AssertionError, ValueError) as e:
                problems.append(f"{w} trace {trace}: {e}")
                continue
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace {trace}: metrics {got}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{w} trace {trace}: {out['failed']} of "
                                f"{out['attempted']} ops failed")
            for line in p.stdout.splitlines():
                if line.strip().startswith("layers measured:"):
                    measured.update(line.split(":", 1)[1].split())
            print(f"ok  {w} trace {trace}: {len(got)} metrics, "
                  f"{out['attempted']} ops", flush=True)
    missing = set(want[1]) - measured
    if missing:
        problems.append(f"per-layer metrics no workload measures: {sorted(missing)}")

    for w in WORKLOADS:
        try:
            out = result(bench("--workload", w, "--smoke", "--corrupt"))
        except (AssertionError, ValueError) as e:
            problems.append(f"{w} --corrupt: {e}")
            continue
        if out["correct"] or out["failed"] < 1:
            problems.append(f"{w} --corrupt: a wrong expected answer was not "
                            f"counted ({out['failed']} failed)")
        else:
            print(f"ok  {w} --corrupt: fail_ratio "
                  f"{out['failed'] / out['attempted']:.3g}", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = bench("--workload", "footer_lookup", cwd=bare)
        if p.returncode == 0 or p.stdout.strip():
            problems.append("ran without the engine: exit "
                            f"{p.returncode}, stdout {p.stdout[-200:]!r}")
        else:
            print(f"ok  bare directory refused with exit {p.returncode}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for msg in problems:
        print("FAIL: " + msg)
    print("selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
