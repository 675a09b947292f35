"""Tests for the benchmark's own helpers (no Spark).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import statistics

import pytest

from perfbench import inputs
from perfbench.stats import median, open_loop_latencies, percentile, self_times


def test_damage_plan_same_seed_same_plan():
    a = inputs.damage_plan(7, 1_000_000, 1_001_999, 100)
    b = inputs.damage_plan(7, 1_000_000, 1_001_999, 100)
    assert a == b
    assert a.expected_reasons == b.expected_reasons


def test_damage_plan_seed_moves_damage():
    plans = {inputs.damage_plan(s, 1_000_000, 1_001_999, 100) for s in range(5)}
    assert len(plans) > 1


def test_damage_plan_groups_distinct_and_inside_scope():
    p = inputs.damage_plan(3, 2_000_000, 2_001_999, 100)
    groups = [*p.gaps, *(g for g, _ in p.partial), *(b.group for b in p.broken)]
    groups += [ov.start - ov.start % 100 for ov in p.overlaps]
    assert len(groups) == len(set(groups))
    assert all(2_000_000 <= g <= 2_001_900 and g % 100 == 0 for g in groups)
    for ov in p.overlaps:
        host = ov.start - ov.start % 100
        assert host < ov.start <= ov.end < host + 99
    assert all(1 <= b.index < 100 for b in p.broken)
    assert sum(p.expected_reasons.values()) == len(p.partial) + len(p.overlaps) + len(p.broken)


def test_missing_after_verify_merges_adjacent_groups():
    p = inputs.DamagePlan(0, 999, 100, ("blocks",), gaps=(100,), partial=((200, "blocks"),),
                          overlaps=(), broken=(inputs.Broken(500, 3),))
    assert p.missing_after_verify() == [(100, 299), (500, 599)]


def test_head_schedule_is_seeded_and_increasing():
    a = inputs.HeadSchedule.make(1, 5_000, 100, 5.0)
    assert a == inputs.HeadSchedule.make(1, 5_000, 100, 5.0)
    assert a != inputs.HeadSchedule.make(2, 5_000, 100, 5.0)
    s = a.started(10.0)
    dues = [s.due(h) for h in range(5_000, 5_100)]
    assert all(x < y for x, y in zip(dues, dues[1:]))
    assert s.head_at(9.99) is None
    assert s.head_at(s.due(5_000)) == 5_000
    assert s.head_at(s.due(5_042)) == 5_042
    assert s.head_at(s.due(5_042) - 1e-9) == 5_041
    assert s.head_at(1e9) == 5_099


def test_open_loop_latency_counts_from_due_time_not_batch_start():
    due = {10: 0.0, 11: 0.2, 12: 0.4}.__getitem__
    # the batch read the head at 1.0 and its files were durable at 1.5
    latency, wait = open_loop_latencies([(1.0, 1.5, [10, 11, 12])], due)
    assert latency == {10: 1.5, 11: 1.3, 12: pytest.approx(1.1)}
    assert wait == {10: 1.0, 11: 0.8, 12: pytest.approx(0.6)}


def test_open_loop_latency_charges_queueing_behind_a_slow_batch():
    due = lambda h: float(h)  # noqa: E731
    batches = [(0.0, 5.0, [0]), (5.0, 5.5, [1, 2, 3, 4, 5])]
    latency, _ = open_loop_latencies(batches, due)
    assert latency[0] == 5.0
    assert latency[1] == 4.5  # waited for batch one although due at 1.0
    assert latency[5] == 0.5


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0 == median(xs)
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 90) == 7.0
    ys = [float(i) for i in range(1, 101)]
    inclusive = statistics.quantiles(ys, n=10, method="inclusive")
    assert percentile(ys, 90) == pytest.approx(inclusive[8])


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps span 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past its parent
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},  # grandchild
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.0)


def test_expected_rows_counts_odd_height_extra_tx():
    assert inputs.expected_rows(10, 13) == {"blocks": 4, "transactions": 10, "traces": 10}


class _Acc:
    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def test_counting_chain_counts_outermost_provider_calls_only():
    from dshackle_archive_spark.sources.mock_chain import MockChain

    from perfbench.chain import CountingChain

    acc = _Acc()
    chain = CountingChain(head_height=100, calls=acc)
    assert chain.block_json(5) == MockChain(head_height=100).block_json(5)
    assert acc.value == 1  # block_json's own call to block is not a second call
    chain.block(5)
    chain.uncles(5)
    chain.tx_details(5, "TX5-0")
    chain.block_hash(5)  # not a fetch call
    assert acc.value == 4


def test_counting_chain_methods_pickle_for_executors():
    from pyspark import cloudpickle

    from perfbench.chain import CountingChain

    chain = CountingChain(head_height=100)
    assert cloudpickle.loads(cloudpickle.dumps(chain.block))(5) == chain.block(5)
