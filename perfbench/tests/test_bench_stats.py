"""Metric-string parsing, the tail-percentile rule, interval unions."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sparkstats  # noqa: E402
from layers import union_length  # noqa: E402

HEADER = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize("text,want", [
    ("0.0 B", 0.0),
    ("619.0 B", 619.0),
    ("580.6 KiB", 580.6 * 1024),
    ("64.2 MiB", 64.2 * 1024**2),
    ("1.5 GiB", 1.5 * 1024**3),
    ("2.0 TiB", 2.0 * 1024**4),
    ("4 ms", 0.004),
    ("11.7 s", 11.7),
    ("2.5 m", 150.0),
    ("1.25 h", 4500.0),
    ("25", 25.0),
    ("151,305", 151305.0),
    ("1,234,567", 1234567.0),
    ("", 0.0),
    (None, 0.0),
])
def test_single_value_forms(text, want):
    assert sparkstats.parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text,want", [
    (HEADER + "11.7 s (2.9 s, 3.0 s, 3.1 s (stage 4.0: task 12))", 11.7),
    (HEADER + "3.1 KiB (800.0 B, 800.0 B, 800.0 B (stage 3.0: task 2))", 3.1 * 1024),
    (HEADER + "8 ms (1 ms, 2 ms, 3 ms (stage 3.0: task 5))", 0.008),
    (HEADER + "1024.0 KiB (256.0 KiB, 256.0 KiB, 256.0 KiB (stage 3.0: task 2))", 2.0**20),
])
def test_per_task_form_takes_total(text, want):
    assert sparkstats.parse_metric(text) == pytest.approx(want)


def test_average_form_takes_median():
    text = "(min, med, max (stageId: taskId)):\n(1, 3, 7 (stage 7.0: task 16))"
    assert sparkstats.parse_metric(text) == 3.0


@pytest.mark.parametrize("text", ["n/a", "12 parsecs"])
def test_unknown_forms_raise(text):
    with pytest.raises(ValueError):
        sparkstats.parse_metric(text)


def test_tail_percentile_rule():
    # 100 samples: p90 leaves exactly 10 above it, p91 only 9
    assert sparkstats.tail_percentile(list(range(1, 101))) == (90, 90)
    # 36 samples: rank ceil(0.72 * 36) = 26 leaves 10; p73 -> rank 27 leaves 9
    assert sparkstats.tail_percentile([float(i) for i in range(36, 0, -1)]) == (72, 26.0)
    # 11 samples: only the lowest sample has ten beyond it
    assert sparkstats.tail_percentile(list(range(11))) == (9, 0)
    # ten or fewer samples: no percentile qualifies
    assert sparkstats.tail_percentile(list(range(10))) is None
    assert sparkstats.tail_percentile([]) is None


def test_tail_percentile_has_ten_beyond():
    for n in range(11, 300, 7):
        p, v = sparkstats.tail_percentile(list(range(n)))
        assert sum(x > v for x in range(n)) >= 10
        # one percentile higher would leave fewer than ten
        if p < 99:
            rank = -(-(p + 1) * n // 100)
            assert n - rank < 10


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert union_length([], 0, 10) == 0


def test_steal_share():
    before = [100, 0, 50, 800, 0, 0, 0, 50]
    after = [170, 0, 60, 900, 0, 0, 0, 70]
    assert sparkstats.steal_share(before, after) == 0.1
    assert sparkstats.steal_share(before, before) == 0.0


def test_pass_count_and_slots():
    from run import pass_count, task_slots

    assert pass_count(10, 6.0) == 2
    assert pass_count(10, 7.0) == 2  # never fewer than two
    assert pass_count(30, 6.0) == 5
    assert task_slots(4) == 2
    assert task_slots(1) == 1


def test_process_cpu_counts_this_process():
    before = sparkstats.process_cpu()
    sum(i * i for i in range(2_000_000))
    after = sparkstats.process_cpu()
    assert set(after) == {"driver_python", "jvm", "pyspark"}
    assert after["driver_python"] > before["driver_python"]
