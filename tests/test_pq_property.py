"""Hypothesis property battery for the PQ oracle at RANDOM geometries
(round 11 — the dims parameterization's deep check, following the
WordPiece/Unigram/HW battery discipline): the unrolled per-subspace
DuckDB CTE chain must agree value-for-value with an INDEPENDENT
pure-Python PQ (integer k-means per subspace, floor-quantization,
ties-to-smaller-cid, floor means over surviving clusters, code =
Σ cid_s·k^s, ADC = probe-subvector-to-assigned-centroid distances
summed over subspaces) across random corpora, dims, sub, k, and
iters. Spark == oracle is covered entry-by-entry in
tests/test_oracle_parity.py; THIS battery pins that the oracle text
itself implements the spec at geometries no registry entry uses."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from khronus_spark.operators.pq import pq_codes_sql, pq_topk_sql

# (dims, sub) pairs spanning subdim 1..4 and sub 1..4
_GEOMETRIES = [(4, 1), (4, 2), (4, 4), (6, 2), (6, 3), (8, 2), (8, 4), (12, 3)]


def _quant(v):
    return [math.floor((x + 1.0) * 1_000_000.0) for x in v]


def _d2(a, b):
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _py_pq_state(vecs, sub, k, iters, dims):
    """Per subspace: (final centroids dict, final assignment dict) —
    the independent restatement of clustering._kmeans_state + _assign
    on the subspace slice."""
    subdim = dims // sub
    q = {vid: _quant(v) for vid, v in vecs}
    state = []
    for s in range(sub):
        sv = {vid: v[s * subdim : (s + 1) * subdim] for vid, v in q.items()}
        cents = {vid: sv[vid][:] for vid in sv if vid < k}
        for _ in range(iters):
            assign = {
                vid: min(cents, key=lambda c: (_d2(e, cents[c]), c))
                for vid, e in sv.items()
            }
            cents = {
                cid: [
                    sum(col) // n
                    for col in zip(
                        *(sv[v] for v in assign if assign[v] == cid)
                    )
                ]
                for cid in set(assign.values())
                for n in [sum(1 for v in assign if assign[v] == cid)]
            }
        final = {
            vid: min(cents, key=lambda c: (_d2(e, cents[c]), c))
            for vid, e in sv.items()
        }
        state.append((cents, final, sv))
    return state


def _py_codes(vecs, sub, k, iters, dims):
    state = _py_pq_state(vecs, sub, k, iters, dims)
    out = {vid: 0 for vid, _ in vecs}
    for s, (_, final, _) in enumerate(state):
        for vid, cid in final.items():
            out[vid] += cid * (k**s)
    return out


def _py_adc_topk(vecs, probe_ids, n_neighbors, sub, k, iters, dims):
    state = _py_pq_state(vecs, sub, k, iters, dims)
    ids = [vid for vid, _ in vecs]
    rows = []
    for p in probe_ids:
        scored = []
        for nb in ids:
            if nb == p:
                continue
            d = sum(
                _d2(sv[p], cents[final[nb]])
                for cents, final, sv in state
            )
            scored.append((d, nb))
        scored.sort()
        rows.extend((p, nb, d) for d, nb in scored[:n_neighbors])
    return sorted(rows)


@st.composite
def _corpus(draw):
    dims, sub = draw(st.sampled_from(_GEOMETRIES))
    k = draw(st.integers(2, 4))
    iters = draw(st.integers(1, 2))
    n = draw(st.integers(max(k, 6), 20))
    vals = draw(
        st.lists(
            st.lists(
                st.integers(-1000, 1000).map(lambda i: i / 1000.0),
                min_size=dims,
                max_size=dims,
            ),
            min_size=n,
            max_size=n,
        )
    )
    return dims, sub, k, iters, [(i, v) for i, v in enumerate(vals)]


def _con(vecs):
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": [i for i, _ in vecs], "embedding": [v for _, v in vecs]}
        ),
    )
    return con


@settings(max_examples=25, deadline=None)
@given(_corpus())
def test_pq_codes_oracle_matches_python_reference(case):
    dims, sub, k, iters, vecs = case
    got = dict(
        _con(vecs)
        .execute(pq_codes_sql(sub=sub, k=k, iters=iters, dims=dims))
        .fetchall()
    )
    assert got == _py_codes(vecs, sub, k, iters, dims)


@settings(max_examples=15, deadline=None)
@given(_corpus())
def test_pq_topk_oracle_matches_python_reference(case):
    dims, sub, k, iters, vecs = case
    probes = [i for i, _ in vecs][:3]
    got = sorted(
        map(
            tuple,
            _con(vecs)
            .execute(
                pq_topk_sql(probes, 3, sub=sub, k=k, iters=iters, dims=dims)
            )
            .fetchall(),
        )
    )
    assert got == _py_adc_topk(vecs, probes, 3, sub, k, iters, dims)
