"""Benchmark entry point.

    python3 perfbench/run.py --workload footer_lookup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run makes its inputs from
``--seed``, measures for ``--seconds`` of op time, checks every answer
and prints a report followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` the per-layer
ones, from spans around each call into a layer.  Every file the run
writes lives under ``.perfbench_work/`` (removed at exit) and, for traced
runs, the span dump under ``.perfbench_out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

from harness import (Context, Tracer, become_subreaper, cpu_times, host_record,
                     reap_children)

WORKLOADS = ("footer_lookup", "indexed_lookup")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="falsify the expected answers, for the self-test")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "palletjack_spark", "__init__.py")):
        print(f"perfbench: no palletjack_spark package under {root}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import the engine from the checkout, and
    # every temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (the Spark launcher and driver, and
    # `java -version`): no perf-data file in /tmp, temp files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    sys.path.insert(0, root)

    nproc = len(os.sched_getaffinity(0))
    cpu0 = cpu_times()
    ctx = Context(work=work, seed=args.seed,
                  seconds=args.seconds, trace=bool(args.trace),
                  smoke=args.smoke, corrupt=args.corrupt, nproc=nproc,
                  tracer=Tracer(enabled=False))
    # every process the run starts, and every one those leave behind,
    # has ended before the result is printed
    become_subreaper()
    try:
        res = importlib.import_module(args.workload).run(ctx)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    host = host_record(nproc, cpu0)

    attempted = sum(log.attempted for log in res["logs"])
    failed = sum(log.failed for log in res["logs"])
    e2e = res["e2e"]
    print(f"workload {args.workload}  seed {args.seed}  "
          f"trace {args.trace}  local[{nproc}]  one client, closed loop")
    for m in spec["end_to_end"]:
        print(f"  {m['name']:<16} {e2e[m['name']]:.6g} {m['unit']}")
    print("  setup_s parts " + ", ".join(
        f"{k} {v:.3f} s" for k, v in res["setup_parts"].items()))
    print("  rss_peak_mb parts " + ", ".join(
        f"{k} {v:.1f} MB" for k, v in res["rss_parts"].items()))
    print(f"  op_tail_ms is p{res['tail_pct']:.1f} of {res['tail_n']} ops")
    print(f"  fail_ratio       {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} ops raised or were wrong)")
    print("  host " + json.dumps(host))

    if args.trace:
        layers = res["layers"]
        layers["trace.spans"] = len(ctx.tracer.spans)
        if "jvm" in res["rss_parts"]:
            layers["spark.jvm_rss_peak_mb"] = res["rss_parts"]["jvm"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for name, v in metrics.items():
            print(f"  {name:<36} {v['value']:.6g} {v['unit']}")
        # the rest read 0: their layer does not run in this workload
        print("  layers measured: " + " ".join(n for n in metrics if n in layers))
        out = os.path.join(root, ".perfbench_out",
                           f"trace-{args.workload}-{args.seed}.json")
        ctx.tracer.write(out, {"workload": args.workload, "seed": args.seed,
                               "host": host, "layers": layers,
                               "explain": res.get("explain")})
        print(f"  spans written to {os.path.relpath(out, root)}")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """``--workload all``: every workload in turn, each in its own process,
    then one line with every result keyed by workload."""
    common = ["--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace)]
    common += ["--smoke"] * args.smoke + ["--corrupt"] * args.corrupt
    results = {}
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--workload", w, *common],
                           stdout=subprocess.PIPE, text=True)
        print(p.stdout, end="", flush=True)
        if p.returncode != 0:
            print(f"perfbench: {w} exited {p.returncode}", file=sys.stderr)
            return p.returncode
        results[w] = json.loads(p.stdout.strip().splitlines()[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {w: r["metrics"] for w, r in results.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
