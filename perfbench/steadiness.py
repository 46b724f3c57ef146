"""Steadiness record: run every listed workload over two independent sets
of seeds and report, per (workload, end-to-end metric), each set's
median and spread (interquartile range ÷ median) against the metric's
bound in BENCHMARK.json, plus the traced-run overhead.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/STEADINESS.md

Runs are sequential (never two Spark runs at once) and alternate between
workloads.  Raw results go to the ``.json`` beside ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the pairs the previous attempt at this benchmark could not repeat
NOISY_BEFORE = {
    ("backfill_mor", "apply_events_per_s"),
    ("backfill_mor", "setup_s"),
    ("backfill_mor", "lookup_ms_p50"),
    ("tail_cow", "scan_s"),
}
# end-to-end metrics the runs measured that BENCHMARK.json no longer
# lists because they did not repeat within their bound
DROPPED = {
    "freshness_s_p50": {
        "bound": 0.25, "better": "lower",
        "why": "on tail_cow the trigger loop is always busy (back-to-back "
        "triggers), so freshness grows faster than linearly with host "
        "slowdown: in an earlier record of the same tail, two runs at 10% "
        "and 24% CPU steal took a set to 0.28.  tail_cow's batch_apply_s_p50 "
        "(the foreachBatch body) carries the per-trigger cost instead.",
    },
    "freshness_s_p90": {
        "bound": 0.25, "better": "lower",
        "why": "as freshness_s_p50, and more so (0.32 in that set).",
    },
    "peak_rss_mb": {
        "bound": 0.25, "better": "lower",
        "why": "the JVM's peak RSS follows its heap-growth ergonomics more "
        "than the work: tail_cow spread 0.27 on a quiet host (steal 0.5%) "
        "in the earlier record. proc.jvm_rss_mb stays a per-layer metric.",
    },
}


def one_run(cmd: list[str], workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    lines = proc.stdout.splitlines()
    diag = next((json.loads(x[len("diagnostics "):]) for x in lines if x.startswith("diagnostics ")), {})
    out = json.loads(lines[-1])
    # the metric lines before the result also carry the metrics that
    # BENCHMARK.json does not list (DROPPED): "name value unit [n=k]"
    printed = {}
    for x in lines[:-1]:
        f = x.split()
        if len(f) >= 3 and f[0] in DROPPED:
            printed[f[0]] = float(f[1])
    out.update(workload=workload, seed=seed, trace=trace, wall_s=round(wall, 2), diag=diag, printed=printed)
    return out


def value(r: dict, name: str) -> float:
    if name in r["metrics"]:
        return r["metrics"][name]["value"]
    return r["printed"][name]


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR ÷ median) with the quartiles ``statistics.quantiles`` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(ROOT, "perfbench", "STEADINESS.md"))
    ap.add_argument("--workloads", nargs="*", help="default: the workloads in BENCHMARK.json")
    ap.add_argument("--render-only", action="store_true", help="rewrite --out from the saved .json")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    metrics.update({n: dict(d, name=n) for n, d in DROPPED.items()})
    raw = os.path.splitext(args.out)[0] + ".json"
    if args.render_only:
        with open(raw) as fh:
            results = json.load(fh)
        with open(args.out, "w") as fh:
            fh.write(render(results, workloads, metrics, args))
        return 0

    def save() -> None:
        with open(raw, "w") as fh:
            json.dump(results, fh, indent=1, default=str)

    results: list[dict] = []
    for s in range(args.sets):
        for i in range(args.runs):
            for w in workloads:
                seed = 1000 * (s + 1) + i
                r = one_run(bench["command"], w, seed, bench["run_seconds"], 0)
                r["set"] = s
                results.append(r)
                save()
                print(f"set {s} {w} seed {seed}: correct={r['correct']} wall={r['wall_s']}s", flush=True)
    for w in workloads:  # traced-run overhead on a seed also run untraced
        r = one_run(bench["command"], w, 1000, bench["run_seconds"], 1)
        r["set"] = "traced"
        results.append(r)
        save()
        print(f"traced {w}: correct={r['correct']} wall={r['wall_s']}s", flush=True)

    with open(args.out, "w") as fh:
        fh.write(render(results, workloads, metrics, args))
    return 0


def render(results, workloads, metrics, args) -> str:
    out = [
        "# Steadiness record",
        "",
        f"Made by `python3 perfbench/steadiness.py --runs {args.runs} --sets {args.sets}` "
        f"on a 4-vCPU host shared with other tenants (CPU steal shown per set).",
        "Spread = (Q3 − Q1) ÷ median over the set's runs, quartiles from "
        "`statistics.quantiles(values, n=4)`.  `shift` = set 2 median ÷ set 1 "
        "median − 1, signed so that positive is worse.  A pair repeats when "
        "both spreads and the worse-direction shift stay within the bound "
        "(`setup_s` included, although the acceptance rule exempts its "
        "spread); `≤⅓` marks spreads under a third of it.",
        "",
    ]
    for w in workloads:
        runs = [r for r in results if r["workload"] == w and r["set"] != "traced"]
        sets = sorted({r["set"] for r in runs})
        steal = [[r["diag"].get("cpu_steal_share", 0) for r in runs if r["set"] == s] for s in sets]
        ok = sum(1 for r in runs if r["correct"])
        out += [
            f"## {w}",
            "",
            f"{len(runs)} runs, {ok} correct; CPU steal per set, median (max): "
            + ", ".join(f"{statistics.median(x):.3f} ({max(x):.3f})" for x in steal)
            + f"; median run wall {statistics.median(r['wall_s'] for r in runs):.1f} s, "
            + f"total {sum(r['wall_s'] for r in runs):.0f} s.",
            "",
            "| metric | bound | " + " | ".join(f"set {s + 1} median | spread" for s in sets) + " | shift | repeats |",
            "|---|---|" + "---|---|" * len(sets) + "---|---|",
        ]
        for name, m in metrics.items():
            cells, meds, ok_all = [], [], True
            for s in sets:
                vals = [value(r, name) for r in runs if r["set"] == s]
                med, sp = spread(vals)
                meds.append(med)
                third = "≤⅓" if sp <= m["bound"] / 3 else ""
                cells.append(f"{med:.4g} | {sp:.3f} {third}")
                if sp > m["bound"]:
                    ok_all = False
            shift = meds[-1] / meds[0] - 1 if len(meds) > 1 and meds[0] else 0.0
            worse = shift if m["better"] == "lower" else -shift
            ok_all = ok_all and worse <= m["bound"]
            flag = " (noisy before)" if (w, name) in NOISY_BEFORE else ""
            flag += " (dropped)" if name in DROPPED else ""
            out.append(
                f"| `{name}`{flag} | {m['bound']} | " + " | ".join(cells)
                + f" | {worse:+.3f} | {'yes' if ok_all else 'NO'} |"
            )
        out.append("")
    tenth = []
    for w in workloads:
        runs = [r for r in results if r["workload"] == w and r["set"] != "traced"]
        for name in metrics:
            worst = max(
                spread([value(r, name) for r in runs if r["set"] == s])[1]
                for s in {r["set"] for r in runs}
            )
            if worst > 0.1:
                tenth.append(f"`{w}/{name}` ({worst:.2f})")
    out += [
        "## Pairs that did not repeat within a tenth",
        "",
        "Worst spread of either set: " + (", ".join(tenth) if tenth else "none") + ".",
        "",
    ]
    out += [f"* Dropped from BENCHMARK.json: `{n}`: {d['why']}" for n, d in DROPPED.items()]
    out += [""] if DROPPED else []
    out += ["## Tracing overhead", "", "| workload | untraced timed wall s | traced timed wall s | overhead | bookkeeping s | phase sum share |", "|---|---|---|---|---|---|"]
    for w in workloads:
        tr = next((r for r in results if r["workload"] == w and r["set"] == "traced"), None)
        un = next((r for r in results if r["workload"] == w and r["set"] == 0 and r["seed"] == 1000), None)
        if not tr or not un:
            continue
        t_wall = tr["metrics"]["trace.timed_wall_s"]["value"]
        u_wall = un["diag"].get("timed_wall_s", 0.0)
        out.append(
            f"| {w} | {u_wall:.2f} | {t_wall:.2f} | {t_wall / u_wall - 1:+.3f} | "
            f"{tr['metrics']['trace.overhead_s']['value']:.3f} | {tr['metrics']['trace.phase_sum_share']['value']:.3f} |"
        )
    out.append("")
    return "\n".join(out)


if __name__ == "__main__":
    sys.exit(main())
