"""Tests for the benchmark's own pieces: seeded inputs and op order, the
tail-percentile rule and the event-log parser. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import datagen, eventlog, stats  # noqa: E402
from perfbench.workloads import WORKLOADS, commit_plan, op_sequence, rounds  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _batches(seed: int, tmp_path, tag: str) -> list[bytes]:
    w = WORKLOADS["olap_adhoc"]
    sizes, rejected = commit_plan(w, seed, 2)
    out = []
    for i, docs in enumerate(datagen.order_batches(seed, sizes, rejected)):
        p = tmp_path / f"{tag}-{i}.json"
        datagen.write_batch(str(p), docs)
        out.append(p.read_bytes())
    return out


def test_same_seed_gives_identical_documents_and_op_order(tmp_path):
    assert _batches(7, tmp_path, "a") == _batches(7, tmp_path, "b")
    for w in WORKLOADS.values():
        assert op_sequence(w, 7, 15) == op_sequence(w, 7, 15)
        assert commit_plan(w, 7, 2) == commit_plan(w, 7, 2)


def test_tables_are_byte_identical_across_runs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    datagen.write_tables(str(a), 0.001, 50, 20)
    datagen.write_tables(str(b), 0.001, 50, 20)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors


def test_different_seeds_give_the_same_op_multiset():
    for w in WORKLOADS.values():
        first = op_sequence(w, 1, 15)
        assert any(op_sequence(w, s, 15) != first for s in range(2, 6))
        for s in range(2, 6):
            assert collections.Counter(op_sequence(w, s, 15)) == collections.Counter(first)
            sizes, rejected = commit_plan(w, s, rounds(w, 15))
            base = commit_plan(w, 1, rounds(w, 15))
            assert sorted(zip(sizes, rejected)) == sorted(zip(*base))


def test_rejected_batches_hold_one_negative_amount_and_drift_is_present():
    batches = datagen.order_batches(3, [400, 400], [False, True])
    assert all(d["total_amount"] >= 0 for d in batches[0])
    assert sum(d["total_amount"] < 0 for d in batches[1]) == 1
    drift = sum("discount" in d for b in batches for d in b)
    assert 40 <= drift <= 120  # ~10% of 800


@pytest.mark.parametrize("n,p", [(1, 0), (10, 0), (11, 9), (20, 50), (30, 66), (100, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_value_sits_at_its_percentile():
    values = [float(v) for v in range(40)]
    value, p = stats.tail(values)
    assert p == 75
    assert 28.0 < value < 30.0  # rank 0.75 * 41 = 30.75 -> value ~29.75
    assert sum(v > value for v in values) >= 10


def test_quantile_is_a_smooth_median():
    assert stats.quantile([2.0] * 9, 0.5) == pytest.approx(2.0)
    assert stats.quantile([1.0, 2.0, 3.0], 0.5) == pytest.approx(2.0)
    # one far outlier among twenty barely moves it
    vals = [float(v) for v in range(1, 20)] + [1000.0]
    assert 10.0 < stats.quantile(vals, 0.5) < 11.0
    # swapping two near-median values changes nothing; nudging one moves it a little
    a = stats.quantile([1.0, 2.0, 2.9, 3.1, 5.0], 0.5)
    b = stats.quantile([1.0, 2.0, 3.1, 3.1, 5.0], 0.5)
    assert 0 < b - a < 0.2


def test_eventlog_parser_on_a_recorded_log():
    groups = eventlog.parse_dir(DATA)
    build, run = groups["t:q#0:build"], groups["t:q#0:run"]
    udf, again = groups["t:udf#1:run"], groups["t:again#2:run"]
    # a count() during construction: one job, partial + final agg stages
    assert (build["jobs"], build["stages"], build["tasks"], build["single_task_stages"]) == (1, 2, 3, 1)
    assert (run["jobs"], run["stages"], run["tasks"]) == (1, 2, 4)
    assert run["shuffle_write_b"] == run["shuffle_read_b"] == 364
    # only the pandas UDF's stage counts as Python time
    assert run["python_ms"] == 0 and build["python_ms"] == 0
    assert udf["python_ms"] == udf["run_ms"] > 0
    # the second action over one shuffle skips its map stage
    assert (again["jobs"], again["stages"], again["skipped_stages"]) == (2, 3, 1)
    assert all(g["failed_tasks"] == 0 and g["spill_b"] == 0 for g in groups.values())
    assert build["plan_ms"] > 0 and run["plan_ms"] > 0
