"""Interleaved A/B of perfbench/run.py between two checkouts.

usage: python sweeps/r23/ab.py <workload> <pairs> <base_dir> <change_dir> <out.jsonl>
Pair i runs seed $AB_SEED0+i (default 100+i); odd pairs run base first, even
pairs change first.
"""
import json
import os
import statistics
import subprocess
import sys
import time

wl, pairs, base, change, out = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4], sys.argv[5]
E2E = ("setup_s", "ok_ratio", "peak_rss_mb", "query_mean_s", "query_p90_s")
rows = []
with open(out, "w") as fh:
    for i in range(1, pairs + 1):
        seed = int(os.environ.get("AB_SEED0", "100")) + i
        order = [("base", base), ("repo", change)] if i % 2 else [("repo", change), ("base", base)]
        for side, d in order:
            t0 = time.time()
            p = subprocess.run(["python3", "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                                "--seconds", "5"], cwd=d, capture_output=True, text=True, timeout=900)
            res = None
            for line in p.stdout.splitlines()[::-1]:
                if line.startswith("{"):
                    res = json.loads(line)
                    break
            rec = {"pair": i, "seed": seed, "side": side, "rc": p.returncode,
                   "wall": time.time() - t0, "res": res}
            if res is None:
                rec["stderr"] = p.stderr[-2000:]
            rows.append(rec)
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            m = (res or {}).get("metrics", {})
            print(i, seed, side, p.returncode, (res or {}).get("correct"),
                  " ".join(f"{k}={m[k]['value']:.4g}" for k in E2E if k in m), flush=True)


def q(xs):
    xs = sorted(xs)
    qs = statistics.quantiles(xs, n=4, method="inclusive")
    return qs[0], statistics.median(xs), qs[2]


for k in E2E:
    b = [r["res"]["metrics"][k]["value"] for r in rows if r["side"] == "base" and r["res"]]
    c = [r["res"]["metrics"][k]["value"] for r in rows if r["side"] == "repo" and r["res"]]
    qb, qc = q(b), q(c)
    rel = (qc[1] / qb[1] - 1) if qb[1] else 0.0
    print(f"{k}: base q1/med/q3 {tuple(round(x, 4) for x in qb)}  change "
          f"{tuple(round(x, 4) for x in qc)}  change-vs-base median {rel:+.1%}")
print("all runs correct:", all(r["res"] and r["res"]["correct"] for r in rows),
      "rc all 0:", all(r["rc"] == 0 for r in rows))
