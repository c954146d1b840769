#!/usr/bin/env python
"""Concurrent-reader soak for the r13 atomic PQ-index publish.

The r12 ADVICE scenario, measured instead of argued: the OLD in-place
`write_pq_index` overwrote books, then codes, then swapped/removed the
geometry sidecar — a reader landing between any two of those steps
paired artifacts from two different builds. The r13 writer lands
everything in a fresh `gen-<token>/` and publishes with ONE
CURRENT-pointer swap, so a reader that resolves the pointer once and
then reads books+codes+geometry from the resolved dir must see a
SELF-CONSISTENT triple, whatever the republish rate.

Method: books/codes here are synthetic tables that carry a `gen_tag`
column and the geometry sidecar carries the same tag — a mixed
pairing is then directly observable as a tag mismatch, no content
hashing needed. One writer republishes R generations as fast as the
parquet writes allow; N reader threads hammer resolve->read in a loop
and tally (consistent, stale-but-consistent, mixed, errors). A
half-written UNPUBLISHED generation dir (the crash case) is also
planted and must never be resolved.

Pass = mixed == 0 and errors == 0 across every read.

Writes sweeps/latest/pq_publish_soak.json.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

N_PUBLISHES = 25
N_READERS = 4


def main() -> None:
    import tempfile

    from pyspark.sql import SparkSession

    from khronus_spark.operators.pq import (
        read_pq_index,
        read_pq_index_geometry,
        write_pq_index,
    )
    from khronus_spark.sources.generations import resolve_generation_dir

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("pq-publish-soak")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    path = tempfile.mkdtemp(prefix="pq_publish_soak_")

    def tagged(tag: int):
        books = spark.range(32).selectExpr(
            "CAST(id % 4 AS INT) AS s",
            "CAST(id div 4 AS INT) AS cid",
            f"CAST({tag} AS LONG) AS gen_tag",
        )
        codes = spark.range(200).selectExpr(
            "id AS vec_id",
            "CAST(id * 7 AS LONG) AS pq_code",
            f"CAST({tag} AS LONG) AS gen_tag",
        )
        return books, codes

    # generation 0 up front so readers never race an empty root
    b0, c0 = tagged(0)
    write_pq_index(b0, c0, path, geometry={"gen_tag": 0})

    # the crash case: a half-written generation that never published —
    # a books dir with no codes and no pointer update. resolve() must
    # keep returning complete generations only.
    orphan = os.path.join(path, "gen-orphan-halfwrite")
    b0.write.mode("overwrite").parquet(os.path.join(orphan, "books"))

    stop = threading.Event()
    tallies = {
        i: {
            "reads": 0,
            "current": 0,
            "stale": 0,
            "mixed": 0,
            "errors": 0,
            "orphan_resolved": 0,
        }
        for i in range(N_READERS)
    }
    published = [0]  # newest tag the writer has COMMITTED (post-swap)
    mixed_examples: list[dict] = []

    def reader(idx: int) -> None:
        t = tallies[idx]
        while not stop.is_set():
            try:
                # resolve ONCE per read, like a real query
                root = resolve_generation_dir(path)
                if root.endswith("gen-orphan-halfwrite"):
                    # its own counter: resolving an UNPUBLISHED dir is
                    # the specific pointer regression, not a read error
                    t["orphan_resolved"] += 1
                    continue
                g = read_pq_index_geometry(root)  # root is already flat
                books = spark.read.parquet(f"{root}/books")
                codes = spark.read.parquet(f"{root}/codes")
                btags = [r[0] for r in books.select("gen_tag").distinct().collect()]
                ctags = [r[0] for r in codes.select("gen_tag").distinct().collect()]
                t["reads"] += 1
                if len(btags) != 1 or len(ctags) != 1 or g is None:
                    t["mixed"] += 1
                    continue
                bt, ct, gt = btags[0], ctags[0], g["gen_tag"]
                if bt == ct == gt:
                    # >= because CURRENT swaps inside write_pq_index,
                    # BEFORE the writer loop updates published[0]: a
                    # reader can legitimately be one generation AHEAD
                    # of the writer's bookkeeping — that is a current
                    # read, not a stale one
                    if bt >= published[0]:
                        t["current"] += 1
                    else:
                        t["stale"] += 1  # consistent view of an older gen
                else:
                    t["mixed"] += 1
                    if len(mixed_examples) < 5:
                        mixed_examples.append(
                            {"books": bt, "codes": ct, "geometry": gt}
                        )
            except Exception:
                # FileNotFound on a pruned gen would land here; inside
                # the soak window nothing is pruned, so any exception
                # is a real consistency failure
                t["errors"] += 1

    threads = [
        threading.Thread(target=reader, args=(i,), daemon=True)
        for i in range(N_READERS)
    ]
    for th in threads:
        th.start()

    t0 = time.time()
    for tag in range(1, N_PUBLISHES + 1):
        b, c = tagged(tag)
        write_pq_index(b, c, path, geometry={"gen_tag": tag})
        published[0] = tag
    wall = time.time() - t0
    # let readers observe the final generation, then stop
    time.sleep(2.0)
    stop.set()
    for th in threads:
        th.join(timeout=10)

    # post-soak: the committed view reads end-to-end via the public API
    books, codes = read_pq_index(spark, path)
    final_ok = (
        books.select("gen_tag").distinct().collect()[0][0] == N_PUBLISHES
        and codes.select("gen_tag").distinct().collect()[0][0] == N_PUBLISHES
        and read_pq_index_geometry(path) == {"gen_tag": N_PUBLISHES}
    )

    total = {
        k: sum(t[k] for t in tallies.values())
        for k in (
            "reads",
            "current",
            "stale",
            "mixed",
            "errors",
            "orphan_resolved",
        )
    }
    out = {
        "metric": "pq index atomic-publish soak",
        "publishes": N_PUBLISHES,
        "readers": N_READERS,
        "wall_sec_publish_loop": round(wall, 3),
        "reads": total["reads"],
        "consistent_current": total["current"],
        "consistent_stale": total["stale"],
        "mixed_pairings": total["mixed"],
        "errors": total["errors"],
        "mixed_examples": mixed_examples,
        "orphan_resolutions": total["orphan_resolved"],
        "orphan_never_resolved": total["orphan_resolved"] == 0,
        "final_generation_reads_ok": bool(final_ok),
        "pass": total["mixed"] == 0
        and total["errors"] == 0
        and total["orphan_resolved"] == 0
        and bool(final_ok),
    }
    dest = Path(_REPO) / "sweeps" / "latest"
    dest.mkdir(parents=True, exist_ok=True)
    (dest / "pq_publish_soak.json").write_text(json.dumps(out, indent=2))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
