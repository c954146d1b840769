"""Hash selected registry entries' Spark results and every oracle's SQL text.

usage: python sweeps/r23/entry_hashes.py <checkout_dir> <out.json> <sf_dir>

Runs each entry whose name matches KEYS on local[4] over the parquet
tables in <sf_dir> (sf0.01 here) and records
(row count, md5 of the sorted row reprs), one JSON line per entry after a
header line whose `oracle_text_md5` digests every entry's oracle SQL.
Diff the output of two checkouts to show a change keeps results and
oracle text.
"""
import hashlib
import json
import os
import sys

repo, out, sf = sys.argv[1], sys.argv[2], sys.argv[3]
os.chdir(repo)
sys.path.insert(0, repo)

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.driver.memory", "3g")
    .getOrCreate()
)
import __spark_entry__ as E  # noqa: E402

Q = E.queries()
O = E.oracle_sql()
KEYS = ("kmeans", "pq", "matryoshka", "coreset", "semantic", "ivf", "hybrid",
        "decontamination_retrieval", "mmr", "rp_", "embedding", "cluster")
names = [n for n in Q if any(k in n for k in KEYS)]
res = {"n_entries": len(Q), "n_oracles": sum(o is not None for o in O.values()),
       "oracle_text": {n: hashlib.md5((O.get(n) or "").encode()).hexdigest() for n in Q},
       "rows": {}}
for n in names:
    try:
        rows = sorted(repr(tuple(r)) for r in Q[n](spark, sf).collect())
        res["rows"][n] = [len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()]
    except Exception as e:  # record, keep going
        res["rows"][n] = ["err", repr(e)[:200]]
    print(n, res["rows"][n], flush=True)
texts = res.pop("oracle_text")
res["oracle_text_md5"] = hashlib.md5(
    "\n".join(f"{n}:{texts[n]}" for n in sorted(texts)).encode()
).hexdigest()
with open(out, "w") as fh:
    fh.write(json.dumps({k: v for k, v in res.items() if k != "rows"}, sort_keys=True) + "\n")
    for n in sorted(res["rows"]):
        fh.write(json.dumps({n: res["rows"][n]}) + "\n")
spark.stop()
