#!/usr/bin/env python
"""Interleaved A/B of one perfbench workload between two checkouts.

    python sweeps/r20/ab.py --base PARENT_CHECKOUT --repo CHANGE_CHECKOUT \
        --workload batch_pipeline --seeds 71-80 --out sweeps/r20/ab_batch_pipeline.jsonl

Pair i runs both checkouts on seed i, alternating which side runs first
(odd pairs: base first). Each line of `--out` is one run: pair, seed,
side, exit code and the last JSON line `perfbench/run.py` printed.
Prints each side's median and quartiles per end-to-end metric, and the
pairs the change won on `query_mean_s`.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

E2E = ("setup_s", "ok_ratio", "peak_rss_mb", "query_mean_s", "query_p90_s")


def run(checkout: str, workload: str, seed: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "5"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    return p.returncode, json.loads(lines[-1]) if lines else {}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--repo", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    lo, hi = map(int, args.seeds.split("-"))
    rows = []
    with open(args.out, "w") as f:
        for pair, seed in enumerate(range(lo, hi + 1), 1):
            sides = ("base", "repo") if pair % 2 else ("repo", "base")
            for side in sides:
                rc, result = run(getattr(args, side), args.workload, seed)
                row = {"pair": pair, "seed": seed, "side": side, "rc": rc, "result": result}
                f.write(json.dumps(row) + "\n")
                f.flush()
                rows.append(row)
                print(pair, seed, side, rc,
                      result.get("metrics", {}).get("query_mean_s", {}).get("value"), flush=True)

    def values(side: str, metric: str) -> list[float]:
        return [r["result"]["metrics"][metric]["value"] for r in rows if r["side"] == side]

    for m in E2E:
        b, c = values("base", m), values("repo", m)
        print(f"{m}: base q1/med/q3 {quartiles(b)}  change {quartiles(c)}")
    b, c = values("base", "query_mean_s"), values("repo", "query_mean_s")
    print(f"query_mean_s: change better in {sum(x < y for x, y in zip(c, b))}/{len(b)} pairs; "
          f"all runs correct: {all(r['result'].get('correct') for r in rows)}")


if __name__ == "__main__":
    main()
