#!/usr/bin/env python3
"""Steadiness report: run workloads over several seeds, each run in a
fresh process, and give per end-to-end metric the median, the quartiles
and IQR/median, next to the bound ``BENCHMARK.json`` fixes for it.

    python3 perfbench/steady.py --workloads stream_live,query_serve --seeds 1-10
    python3 perfbench/steady.py --workloads query_serve --seeds 1-5 --trace-overhead

Run from the root of a checkout.  With ``--trace-overhead`` every seed is
also run traced, and the report adds the tracing overhead per metric: the
traced runs' median against the untraced runs' median.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

import stats


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}: {p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    e2e = next((json.loads(x[4:]) for x in lines if x.startswith("e2e ")), {})
    return {"result": result, "e2e": e2e, "wall_s": wall}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True, help="comma-separated names")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args(argv)

    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = parse_seeds(args.seeds)
    report: dict = {}
    for wl in args.workloads.split(","):
        runs = [run_once(bench, wl, s, 0) for s in seeds]
        rows = {}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            sp = stats.spread(vals)
            sp["bound"] = bound
            # setup_s only has to keep its median; every other spread
            # should stay under a third of its bound.
            sp["steady"] = name == "setup_s" or sp["iqr_over_median"] < bound / 3
            rows[name] = sp
        walls = [r["wall_s"] for r in runs]
        entry = {
            "runs": len(runs),
            "correct": all(r["result"]["correct"] for r in runs),
            "wall_s_median": stats.spread(walls)["median"],
            "wall_s_max": max(walls),
            "metrics": rows,
        }
        if args.trace_overhead:
            traced = [run_once(bench, wl, s, 1) for s in seeds]
            entry["trace_overhead"] = {}
            for name in bounds:
                off = stats.spread([r["e2e"][name] for r in runs])["median"]
                on = stats.spread([r["e2e"][name] for r in traced])["median"]
                entry["trace_overhead"][name] = (on - off) / off
        report[wl] = entry
        print(
            f"{wl}: {len(runs)} runs, correct={entry['correct']}, "
            f"wall per run median {entry['wall_s_median']:.1f} s, max {entry['wall_s_max']:.1f} s"
        )
        for name, sp in rows.items():
            print(
                f"  {name:<18} median {sp['median']:12.4f}  q1 {sp['q1']:12.4f}  "
                f"q3 {sp['q3']:12.4f}  iqr/median {sp['iqr_over_median']:.4f}  "
                f"bound {sp['bound']}  {'ok' if sp['steady'] else 'WIDE'}"
            )
        for name, v in entry.get("trace_overhead", {}).items():
            print(f"  trace overhead {name:<18} {v:+.4f}")
        sys.stdout.flush()
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
