"""Run one perfbench workload and print its result.

    python3 perfbench/run.py --workload backfill_mor --seed 1 --seconds 14 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(every end-to-end metric listed in ``BENCHMARK.json`` with
``--trace 0``, every per-layer metric with ``--trace 1``).  The lines
before it list each metric with its unit and sample count, and the
run's diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _listed_metrics() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)["end_to_end"]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "chomper_spark")):
        print(f"perfbench: no chomper_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import Run
    from perfbench.tracing import Tracer
    from perfbench.workloads import PER_LAYER, WORKLOADS, per_layer

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # Everything the run writes stays in the checkout; timestamps compare
    # in UTC on both sides of the gate; Spark's Python workers import
    # the engine from this checkout.
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, work)
    tr = Tracer(run.trace)
    try:
        ctx = WORKLOADS[args.workload](run, tr)
        run.finish_diagnostics()
        run.stop_session()
        if run.trace:
            layer = per_layer(run, tr, ctx)
            e2e = dict(run.metrics)
            run.metrics = {name: (layer[name], unit) for name, unit in PER_LAYER}
        else:
            # the result line carries the end-to-end metrics BENCHMARK.json
            # lists; the lines before it print every one the run measured
            e2e = dict(run.metrics)
            run.metrics = {n: e2e[n] for n in _listed_metrics() if n in e2e}
    finally:
        run.stop_session()
        run.cleanup()

    for name, (value, unit) in e2e.items():
        n = run.samples.get(name)
        print(f"{name:26s} {value:14.4f} {unit:9s}" + (f" n={n}" if n is not None else ""))
    print(f"{'failed_ops_frac':26s} {run.failed / max(1, run.attempted):14.4f} ratio     n={run.attempted}")
    for f in run.failures:
        print(f"GATE FAILURE: {f}")
    print("diagnostics " + json.dumps(run.diag, default=str, sort_keys=True))
    sys.stdout.flush()
    print(json.dumps(run.result(), separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
