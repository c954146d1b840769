"""Self-tests of the benchmark's own generator and statistics.

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py
"""

from __future__ import annotations

import math
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


def _wire(seed: int) -> list[bytes]:
    bodies = [gen.encode_post(b, False)[0] for b in gen.dashboard_batches(seed)]
    bodies += [gen.encode_post(b, z)[0] for b, z in gen.ingest_batches(seed, 40)]
    return bodies


def test_same_seed_same_request_bytes():
    assert _wire(7) == _wire(7)


def test_other_seed_other_request_bytes():
    a, b = _wire(7), _wire(8)
    assert len(a) == len(b)
    assert all(x != y for x, y in zip(a, b))


def test_ingest_stream_is_half_gzip_and_time_ordered():
    posts = gen.ingest_batches(3, 200)
    assert 60 <= sum(z for _, z in posts) <= 140
    lo = [min(m["ts"] for s in b["metrics"] for m in s["measurements"]) for b, _ in posts]
    hi = [max(m["ts"] for s in b["metrics"] for m in s["measurements"]) for b, _ in posts]
    assert all(h < nxt for h, nxt in zip(hi, lo[1:]))
    assert all(900 <= gen.acked_values(b) <= 1100 for b, _ in posts)


def test_batch_tables_are_seeded():
    import pyarrow.parquet as papq

    with tempfile.TemporaryDirectory() as d:
        one = gen.write_batch_tables(5, os.path.join(d, "a"))
        two = gen.write_batch_tables(5, os.path.join(d, "b"))
        other = gen.write_batch_tables(6, os.path.join(d, "c"))
        for name in one:
            ta, tb = papq.read_table(one[name]), papq.read_table(two[name])
            assert ta.equals(tb), name
            assert not ta.equals(papq.read_table(other[name])), name


def test_tail_is_highest_percentile_with_ten_beyond():
    assert stats.tail_percentile(list(range(1000)))[0] == 99.0
    assert stats.tail_percentile(list(range(200)))[0] == 95.0
    assert stats.tail_percentile(list(range(100)))[0] == 90.0
    assert stats.tail_percentile(list(range(40)))[0] == 75.0
    assert stats.tail_percentile(list(range(20))) == (50.0, 9)
    assert stats.tail_percentile(list(range(19))) == (None, None)
    p, value = stats.tail_percentile([float(x) for x in range(1, 101)])
    assert (p, value) == (90.0, 90.0)
    assert sum(1 for x in range(1, 101) if x > value) == 10


def test_open_loop_latency_counts_from_due_time():
    # the first request stalls for 1 s; the second was due at 0.1 s but
    # could only be sent at 1.0 s: its latency includes that wait
    reqs = [
        {"due": 0.0, "sent": 0.0, "done": 1.0, "ok": True},
        {"due": 0.1, "sent": 1.0, "done": 1.05, "ok": True},
    ]
    lat, late = stats.open_loop_timings(reqs)
    assert math.isclose(lat[1], 0.95)
    assert math.isclose(late[1], 0.9)
    assert late[0] == 0.0


def test_failed_request_misses_every_limit():
    reqs = [
        {"due": 0.0, "sent": 0.0, "done": 0.01, "ok": True},
        {"due": 0.1, "sent": 0.1, "done": 0.101, "ok": False},
        {"due": 0.2, "sent": 0.2, "done": 0.202, "ok": False},
    ]
    lat, _ = stats.open_loop_timings(reqs)
    assert lat[1] == lat[2] == stats.FAILED
    assert stats.share_within(lat, 1e9) == 1 / 3
    assert stats.percentile(lat, 50) == stats.FAILED
    assert stats.percentile(lat, 1) == lat[0]


if __name__ == "__main__":
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for name, fn in tests:
        fn()
        print(f"ok  {name}")
    print(f"{len(tests)} passed")
