"""Tests of the benchmark's own logic (no Spark session is started).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIXED = WORKLOADS["mixed_traffic"]
# the benchmark's workloads and the parts mixed_traffic runs
ALL = {**WORKLOADS, **{p.name: p for p in MIXED.parts}}


# ------------------------------------------------------------ tail percentile

def test_tail_leaves_exactly_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct, beyond = stats.tail_latency(values)
    assert beyond == 10
    assert value == 90
    assert pct == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_is_order_independent():
    values = [0.5, 3.0, 1.0, 2.0] * 10
    assert stats.tail_latency(values) == stats.tail_latency(sorted(values))


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct, beyond = stats.tail_latency([float(i) for i in range(11)])
    assert (value, beyond) == (0.0, 10)
    assert pct == pytest.approx(100.0 / 11)


def test_tail_with_too_few_samples_reports_max_and_zero_beyond():
    value, pct, beyond = stats.tail_latency([3.0, 1.0, 2.0])
    assert (value, pct, beyond) == (3.0, 100.0, 0)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail_latency([])


# --------------------------------------------------------------- failed ratio

def test_failed_ratio_counts_against_attempted():
    assert stats.failed_ratio(10, 1) == 0.1
    assert stats.failed_ratio(7, 0) == 0.0
    assert stats.failed_ratio(4, 4) == 1.0


@pytest.mark.parametrize("attempted,failed", [(0, 0), (3, 4), (3, -1)])
def test_failed_ratio_rejects_impossible_counts(attempted, failed):
    with pytest.raises(ValueError):
        stats.failed_ratio(attempted, failed)


# ----------------------------------------------------------- span self time

def _span(sid, start, end, parent=None, name="x"):
    return (sid, name, start, end, parent, 0)


def test_self_time_subtracts_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1), _span(3, 5.0, 6.0, 1)]
    assert stats.self_times(spans) == {1: 7.0, 2: 2.0, 3: 1.0}


def test_self_time_counts_overlapping_children_once():
    # concurrent children (two threads) covering 2..6 overlap on 3..5
    spans = [_span(1, 0.0, 10.0), _span(2, 2.0, 5.0, 1), _span(3, 3.0, 6.0, 1)]
    assert stats.self_times(spans)[1] == pytest.approx(6.0)


def test_self_time_ignores_grandchildren_and_clips():
    spans = [_span(1, 0.0, 4.0), _span(2, 1.0, 3.0, 1),
             _span(3, 1.5, 2.5, 2), _span(4, 3.5, 5.0, 1)]
    selfs = stats.self_times(spans)
    assert selfs[1] == pytest.approx(4.0 - 2.0 - 0.5)
    assert selfs[2] == pytest.approx(1.0)


def test_tracer_records_parent_and_op_per_thread():
    tracer = Tracer()
    outer = tracer.wrap("outer", lambda: inner())
    inner = tracer.wrap("inner", lambda: None)

    def client(op_id):
        tracer.set_op(op_id)
        outer()

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    by_id = {s[0]: s for s in tracer.spans}
    inners = [s for s in tracer.spans if s[1] == "inner"]
    assert len(inners) == 4
    for s in inners:
        parent = by_id[s[4]]
        assert parent[1] == "outer" and parent[5] == s[5]
        assert parent[2] <= s[2] <= s[3] <= parent[3]
    assert sorted(s[5] for s in inners) == [0, 1, 2, 3]


# ------------------------------------------------------- seed determinism

def _ops(name, seed, client=0, rounds=3):
    gen = ALL[name].sequence(seed, client)
    return [op for _ in range(rounds) for op in next(gen)]


@pytest.mark.parametrize("name", sorted(ALL))
def test_same_seed_same_sequence(name):
    assert _ops(name, 7) == _ops(name, 7)


@pytest.mark.parametrize("name", sorted(ALL))
def test_different_seeds_different_sequences(name):
    assert _ops(name, 7) != _ops(name, 8)


@pytest.mark.parametrize("name", sorted(ALL))
def test_every_round_holds_the_whole_mix(name):
    gen = ALL[name].sequence(3)
    first = sorted(op.kind for op in next(gen))
    for _ in range(3):
        assert sorted(op.kind for op in next(gen)) == first


def test_mixed_traffic_clients_run_their_parts():
    names = [MIXED._client(c)[0].name for c in range(MIXED.clients)]
    assert names == ["sql_interactive"] * 4 + ["dml_mixed", "llm_dedup"]
    assert MIXED.phases() == [[0, 1, 2, 3], [4], [5]]
    for c in range(MIXED.clients):
        part, local = MIXED._client(c)
        assert _ops("mixed_traffic", 9, c) == _ops(part.name, 9, local)
        for op in _ops("mixed_traffic", 9, c):
            assert MIXED._owner[op.kind] is part
            assert MIXED.inline(op) == part.inline_check
    assert {MIXED.access(op) for op in _ops("mixed_traffic", 9, 4)} == \
        {"write", "read"}
    assert MIXED.access(_ops("mixed_traffic", 9, 0)[0]) is None


def test_clients_draw_distinct_sequences():
    assert _ops("sql_interactive", 7, client=0) != \
        _ops("sql_interactive", 7, client=1)


def test_dml_round_runs_each_kind_once():
    from workloads import READ_KINDS, WRITE_KINDS

    kinds = [op.kind for op in next(ALL["dml_mixed"].sequence(5))]
    assert sorted(kinds) == sorted(WRITE_KINDS + READ_KINDS)
    assert len(set(kinds)) == len(kinds)


# ------------------------------------------------------------ row checks

def test_mismatch_ignores_row_and_column_order_unless_ordered():
    import pandas as pd
    from oracle import mismatch

    got = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
    want = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert mismatch(got, want) is None
    assert mismatch(got, want, ordered=True) is not None
    assert mismatch(got[::-1], want, ordered=True) is None


def test_mismatch_is_exact_on_floats_and_signed_zero():
    import pandas as pd
    from oracle import mismatch

    want = pd.DataFrame({"v": [0.0, -1253027.21]})
    assert mismatch(pd.DataFrame({"v": [0.0, -1253027.22]}), want)
    assert mismatch(pd.DataFrame({"v": [-0.0, -1253027.21]}), want)
    assert "row count" in mismatch(pd.DataFrame({"v": [0.0]}), want)
    assert "columns" in mismatch(pd.DataFrame({"w": [0.0, 1.0]}), want)


def test_oracle_process_round_trip():
    from oracle import Oracle

    oracle = Oracle()
    try:
        oracle.connect("t")
        oracle.execute("t", "CREATE TABLE x AS SELECT range AS i FROM range(5)")
        assert oracle.execute("t", "SELECT sum(i) FROM x", "one") == 10
        got = oracle.execute("t", "SELECT i FROM x WHERE i < 2", "df")
        assert oracle.check(got, con="t", sql="SELECT i FROM x WHERE i < 2") \
            is None
        oracle.expect("k", "t", "SELECT i FROM x WHERE i > 2")
        assert oracle.check(got, key="k") is not None
        oracle.expect("bad", "t", "SELECT * FROM no_such_table")
        assert oracle.check(got, key="bad").startswith("oracle failed")
        with pytest.raises(RuntimeError):
            oracle.execute("t", "SELECT * FROM no_such_table")
        assert oracle.execute("t", "SELECT count(*) FROM x", "one") == 5
    finally:
        oracle.close()
    assert oracle.proc.returncode == 0
