"""Steadiness report: two sets of runs of one commit, compared.

    python3 perfbench/steadiness.py [--runs 10] [--workloads serve maintain]
                                    [--report perfbench/STEADINESS.md]

Runs ``perfbench/run.py`` (untraced, ``run_seconds`` from BENCHMARK.json)
``--runs`` times per workload in each of two sets, each run on its own seed
(set A seeds 1..N, set B seeds 101..100+N), interleaving workloads and
alternating which set goes first so host speed phases fall on both sets.
For every end-to-end metric it reports each set's median and quartiles, the
quartile spread as a share of the median (``statistics.quantiles(n=4)``),
and the between-set median difference, each against the metric's bound. A
metric FAILS when either set's spread or the size of the difference, in
either direction, exceeds the bound; it is "steady" when both stay below a
third of the bound, and "within bound" otherwise.
Per run it also lists the host probe and steal figures the run recorded,
so a slow host phase can be told apart from program variance.

Raw results go to ``.perfbench/steadiness-<time>.jsonl`` as they arrive.
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


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "wall_s": wall,
                "error": proc.stderr[-2000:]}
    detail = json.loads(lines[-2])["detail"]
    result = json.loads(lines[-1])
    return {
        "workload": workload, "seed": seed, "wall_s": wall,
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "probe_ms": statistics.median(detail["host_probe_ms"]),
        "steal_pct": statistics.fmean(detail["host_steal_pct"]),
        "stationary": not detail["stationarity"]["flagged"],
        "drift": detail["stationarity"]["drift"],
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def report(spec: dict, rows: list[dict]) -> str:
    out = ["# Steadiness report", ""]
    walls = [r["wall_s"] for r in rows]
    out.append(
        f"{len(rows)} runs, mean wall {statistics.fmean(walls):.1f} s per run "
        f"(set-up, timed passes, checks and teardown)."
    )
    out.append("")
    for wl in [w["name"] for w in spec["workloads"]]:
        sets = {s: [r for r in rows if r["workload"] == wl and r["set"] == s
                    and "metrics" in r] for s in ("A", "B")}
        bad = [r for r in rows if r["workload"] == wl and "metrics" not in r]
        failed = sum(r["failed"] for s in sets.values() for r in s)
        attempted = sum(r["attempted"] for s in sets.values() for r in s)
        out += [f"## {wl}", "",
                f"runs A={len(sets['A'])} B={len(sets['B'])}, crashed={len(bad)}, "
                f"failed/attempted ops={failed}/{attempted}, non-stationary runs="
                f"{sum(not r['stationary'] for s in sets.values() for r in s)}", "",
                "| metric | bound | A median [q1, q3] | A spread | B median [q1, q3] "
                "| B spread | B vs A | verdict |",
                "|---|---|---|---|---|---|---|---|"]
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats, spreads = {}, {}
            for s, rs in sets.items():
                vals = [r["metrics"][name] for r in rs]
                if len(vals) >= 2:
                    q1, med, q3 = quartiles(vals)
                    stats[s] = (med, q1, q3)
                    spreads[s] = (q3 - q1) / med
            if len(stats) < 2:
                continue
            diff = stats["B"][0] / stats["A"][0] - 1.0
            spread = max(spreads.values())
            if abs(diff) > bound or spread > bound:
                verdict = "FAILS"
            elif spread < bound / 3 and abs(diff) < bound / 3:
                verdict = "steady"
            else:
                verdict = "within bound"
            out.append(
                f"| {name} | {bound:.2f} | {stats['A'][0]:.4g} [{stats['A'][1]:.4g}, "
                f"{stats['A'][2]:.4g}] | {spreads['A']:.3f} | {stats['B'][0]:.4g} "
                f"[{stats['B'][1]:.4g}, {stats['B'][2]:.4g}] | {spreads['B']:.3f} | "
                f"{diff:+.3f} | {verdict} |"
            )
        out += ["", "Per run (host probe = median of the fixed Python loop between "
                "passes; steal = mean steal share):", "",
                "| set | seed | wall s | probe ms | steal % | drift | "
                + " | ".join(m["name"] for m in spec["end_to_end"]) + " |",
                "|---|---|---|---|---|---|" + "---|" * len(spec["end_to_end"])]
        for s in ("A", "B"):
            for r in sets[s]:
                out.append(
                    f"| {s} | {r['seed']} | {r['wall_s']:.1f} | {r['probe_ms']:.2f} | "
                    f"{r['steal_pct']:.2f} | {r['drift']:+.3f} | "
                    + " | ".join(f"{r['metrics'][m['name']]:.4g}" for m in spec["end_to_end"])
                    + " |"
                )
        out.append("")
    return "\n".join(out) + "\n"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--report", default=os.path.join(".perfbench", "STEADINESS.md"))
    args = ap.parse_args()
    spec["workloads"] = [w for w in spec["workloads"] if w["name"] in args.workloads]

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    raw = os.path.join(ROOT, ".perfbench", f"steadiness-{int(time.time())}.jsonl")
    rows = []
    for i in range(args.runs):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        for s in order:
            for wl in args.workloads:
                seed = (1 if s == "A" else 101) + i
                row = one_run(wl, seed, spec["run_seconds"])
                row["set"] = s
                rows.append(row)
                with open(raw, "a") as f:
                    f.write(json.dumps(row) + "\n")
                print(json.dumps(row), flush=True)
    text = report(spec, rows)
    with open(os.path.join(ROOT, args.report), "w") as f:
        f.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
