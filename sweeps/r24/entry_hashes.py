"""Hash the PQ-family registry entries' Spark results and each oracle's SQL text.

usage: python sweeps/r24/entry_hashes.py <checkout_dir> <out.json> <sf_dir>

sweeps/r23/entry_hashes.py with two changes: `recall_at_k` joins KEYS
(`ann_recall_at_k` carries an IVF-PQ method), and the header records
the md5 of EVERY entry's oracle SQL (`oracle_md5`) instead of one
digest over all of them, so two checkouts with different entry sets
still compare entry by entry. Runs each entry whose name matches KEYS
on local[4] over the parquet tables in <sf_dir> and records (row count,
md5 of the sorted row reprs), one JSON line per entry after the header.
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
        "decontamination_retrieval", "mmr", "rp_", "embedding", "cluster",
        "recall_at_k")
names = [n for n in Q if any(k in n for k in KEYS)]
header = {
    "n_entries": len(Q),
    "n_oracles": sum(o is not None for o in O.values()),
    "oracle_md5": {n: hashlib.md5((O.get(n) or "").encode()).hexdigest()
                   for n in sorted(Q)},
}
rows = {}
for n in names:
    try:
        got = sorted(repr(tuple(r)) for r in Q[n](spark, sf).collect())
        rows[n] = [len(got), hashlib.md5("\n".join(got).encode()).hexdigest()]
    except Exception as e:  # record, keep going
        rows[n] = ["err", repr(e)[:200]]
    print(n, rows[n], flush=True)
with open(out, "w") as fh:
    fh.write(json.dumps(header, sort_keys=True) + "\n")
    for n in sorted(rows):
        fh.write(json.dumps({n: rows[n]}) + "\n")
spark.stop()
