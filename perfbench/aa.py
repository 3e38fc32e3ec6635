"""Same-code self-check (A/A): run the benchmark in two sets of runs and
compare them against the bounds in BENCHMARK.json.

    python3 perfbench/aa.py --runs 10 --sets 2 --traced 2
    python3 perfbench/aa.py --workloads live_udp --runs 5 --sets 1

Per workload and end-to-end metric it prints each set's median and
quartiles, the spread (interquartile range / median, as
statistics.quantiles(values, n=4) gives the quartiles) and the shift of
the second set's median against the first, each against the metric's
bound. Traced runs report which per-query job/stage/task counts repeat
exactly across runs and across warm passes, the tracing overhead and the
live-feed backlog. Sets use disjoint seeds. The full record goes to
.bench_work/aa-report.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"seed": seed, "wall_s": wall, "rc": proc.returncode,
                "stderr_tail": proc.stderr[-2000:]}
    context = next(
        (json.loads(ln[len("context "):]) for ln in lines if ln.startswith("context ")), {}
    )
    return {"seed": seed, "wall_s": wall, "rc": 0, "result": json.loads(lines[-1]),
            "context": context}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def summarize(bench: dict, runs: dict) -> dict:
    out = {}
    for wl, sets in runs.items():
        rows = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = []
            for s in sets:
                vals = [r["result"]["metrics"][name]["value"] for r in s if r.get("result")]
                stats.append(spread(vals) if len(vals) >= 2 else None)
            row = {"bound": bound, "sets": stats}
            if len(stats) == 2 and all(stats):
                worse = stats[1][0] - stats[0][0]
                if m["better"] == "higher":
                    worse = -worse
                row["shift"] = worse / stats[0][0]
            rows[name] = row
        ok = [r for s in sets for r in s if r.get("result")]
        out[wl] = {
            "metrics": rows,
            "runs": sum(len(s) for s in sets),
            "failed_runs": sum(1 for s in sets for r in s if r.get("rc")),
            "incorrect": sum(1 for r in ok if not r["result"]["correct"]),
            "ops_failed": sum(r["result"]["failed"] for r in ok),
            "wall_s_median": statistics.median([r["wall_s"] for s in sets for r in s]),
        }
    return out


def traced_summary(traced: dict) -> dict:
    out = {}
    for wl, runs in traced.items():
        ok = [r for r in runs if r.get("result")]
        if not ok:
            out[wl] = {"failed_runs": len(runs)}
            continue
        metrics = [r["result"]["metrics"] for r in ok]
        counts = {}
        for name in metrics[0]:
            if name.endswith((".jobs", ".stages", ".tasks", ".runner.batches")):
                vals = [m[name]["value"] for m in metrics]
                counts[name] = {"values": vals, "repeats": len(set(vals)) == 1}
        out[wl] = {
            "counts_across_runs": counts,
            "counts_across_passes": [r["context"].get("counts_repeat") for r in ok],
            "trace_overhead_s": [m["trace.overhead_s"]["value"] for m in metrics],
            "backlog": [r["context"].get("backlog") for r in ok],
            "calibration": [r["context"].get("calibration") for r in ok],
            "wall_s": [r["wall_s"] for r in runs],
        }
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    runs: dict = {}
    traced: dict = {}
    for wl in args.workloads.split(","):
        runs[wl] = []
        for k in range(args.sets):
            base = args.first_seed + 1000 * k
            runs[wl].append(
                [one_run(wl, base + i, args.seconds, 0) for i in range(args.runs)]
            )
        traced[wl] = [
            one_run(wl, args.first_seed + 500 + i, args.seconds, 1)
            for i in range(args.traced)
        ]
    report = {"summary": summarize(bench, runs), "traced": traced_summary(traced),
              "runs": runs, "traced_runs": traced}
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_work", "aa-report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    for wl, s in report["summary"].items():
        print(f"== {wl}: runs {s['runs']}, failed runs {s['failed_runs']}, "
              f"incorrect {s['incorrect']}, failed ops {s['ops_failed']}, "
              f"median wall {s['wall_s_median']:.1f} s")
        for name, row in s["metrics"].items():
            parts = []
            for st in row["sets"]:
                if st:
                    med, q1, q3, sp = st
                    parts.append(f"med {med:.4g} [{q1:.4g}, {q3:.4g}] spread {sp:.3f}")
            shift = f" shift {row['shift']:+.3f}" if "shift" in row else ""
            print(f"  {name:16s} bound {row['bound']:.2f} | " + " | ".join(parts) + shift)
    if args.traced:
        print(json.dumps(report["traced"], indent=1, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
