"""Self-tests of the benchmark's pure helpers (no JVM needed):

    python3 -m pytest jobbench/test_harness.py -q
"""

from __future__ import annotations

import pytest

from harness import (
    bytes_written,
    cpu_delta,
    percentile,
    self_time,
    tail_percentile,
)


def test_cpu_delta_sums_the_tree_and_absorbs_reaped_workers():
    before = {1: 10.0, 2: 5.0, 3: 2.0}
    # pid 3 exited and was reaped by pid 1: its 2.5 CPU-s moved into
    # pid 1's children counters
    after = {1: 13.5, 2: 6.0}
    assert cpu_delta(before, after) == pytest.approx(2.5)


def test_cpu_delta_floors_an_orphaned_worker_at_zero():
    assert cpu_delta({1: 10.0, 9: 50.0}, {1: 11.0}) == 0.0


def test_self_time_without_children_is_the_duration():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_counts_overlapping_children_once_and_clips_them():
    children = [(2.0, 5.0), (4.0, 6.0), (9.0, 12.0), (20.0, 30.0)]
    # covered inside [0, 10]: [2, 6] and [9, 10] -> 5 s
    assert self_time(0.0, 10.0, children) == pytest.approx(5.0)


def test_self_time_of_fully_covered_span_is_zero():
    assert self_time(0.0, 2.0, [(0.0, 1.0), (1.0, 2.0)]) == pytest.approx(0.0)


def test_bytes_written_counts_new_and_changed_files_only():
    before = {"a": 10, "b": 20, "c": 30}
    after = {"a": 10, "b": 25, "d": 7}
    assert bytes_written(before, after) == 25 + 7


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile(9) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(199) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 90) == 5.0
    assert percentile(values, 1) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_ledger_errors_checks_the_attrition_arithmetic():
    from workloads import ledger_errors

    good = [(10, 2, 8), (8, 0, 8), (8, 3, 5)]
    assert ledger_errors(good, 10) == 0
    assert ledger_errors(good, 11) == 1  # docs_in[0] is not the corpus size
    assert ledger_errors([(10, 2, 8), (7, 0, 7)], 10) == 1  # docs_in[1] != 10 - 2
    assert ledger_errors([(10, 2, 9)], 10) == 1  # kept != in - dropped
