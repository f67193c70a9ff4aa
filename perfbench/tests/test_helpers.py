"""Unit tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import decimal
import itertools
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402
from stats import (  # noqa: E402
    Span, attribute, median, mix_rates, paired_overhead, percentile, result_hash, self_times,
    tail_percentile,
)
from trace import attribute_stages  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(99) == 89
    assert tail_percentile(1000) == 99
    assert tail_percentile(20) == 50
    assert tail_percentile(11) is None
    for n in range(20, 400):
        q = tail_percentile(n)
        values = list(range(n))
        above = sum(1 for v in values if v > percentile(values, q))
        assert above >= 10
        if q < 99:
            assert sum(1 for v in values if v > percentile(values, q + 1)) < 10


def test_percentile_and_median():
    values = list(range(1, 101))
    assert percentile(values, 90) == 90
    assert percentile(values, 100) == 100
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5


def test_mix_rates_weigh_every_label_once():
    # a ran three times, b and c once: a plain median would be a's 1.0
    ops = [("a", 1.0), ("b", 2.0), ("a", 1.0), ("c", 4.0), ("a", 1.0)]
    p50, rate = mix_rates(ops)
    assert p50 == 2.0
    assert rate == 3 / (1.0 + 2.0 + 4.0)
    assert mix_rates([("x", 3.0), ("x", 5.0)]) == (4.0, 0.25)


def test_paired_overhead_compares_only_labels_run_both_ways():
    traced = [("a", 1.5), ("b", 2.5), ("slow", 9.0)]
    untraced = [("a", 1.0), ("b", 2.0), ("a", 1.0)]
    assert paired_overhead(traced, untraced) == (2.0, 1.5)
    with pytest.raises(ValueError):
        paired_overhead([("a", 1.0)], [("b", 1.0)])  # disjoint labels: nothing to compare


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0),
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 5.0, parent=0),  # overlaps a: union is [1, 5]
        Span(3, "c", 2.5, 4.0, parent=2),  # grandchild: not subtracted from op
        Span(4, "d", 9.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 4.0 - 1.0
    assert st[1] == 2.0
    assert st[2] == 3.0 - 1.5
    assert st[3] == 1.5
    assert st[4] == 3.0


def test_attribution_picks_innermost_open_span():
    spans = [
        Span(0, "op", 0.0, 10.0),
        Span(1, "build", 0.5, 2.0, parent=0),
        Span(2, "land", 1.0, 1.5, parent=1),
        Span(3, "exec", 2.0, 9.0, parent=0),
    ]
    assert attribute(spans, 1.2).sid == 2
    assert attribute(spans, 0.7).sid == 1
    assert attribute(spans, 9.5).sid == 0
    assert attribute(spans, 2.0).sid == 3  # boundary goes to the span just started
    assert attribute(spans, 11.0) is None

    stages = [{"submitted": 1.2}, {"submitted": 5.0}, {"submitted": 20.0}]
    attribute_stages(spans, stages)
    assert spans[2].attrs["stages"] == [stages[0]]
    assert spans[3].attrs["stages"] == [stages[1]]
    assert "stages" not in spans[0].attrs


def test_result_hash_ignores_row_and_column_order():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y"), (2, "y")]
    h = result_hash(cols, rows)
    for perm in itertools.permutations(rows):
        assert result_hash(cols, list(perm)) == h
    assert result_hash(["a", "b"], [(r[1], r[0]) for r in rows]) == h


def test_result_hash_detects_differences():
    h = result_hash(["a"], [(1,), (2,)])
    assert result_hash(["a"], [(1,), (3,)]) != h
    assert result_hash(["a"], [(1,), (2,), (2,)]) != h  # multiset, not set
    assert result_hash(["c"], [(1,), (2,)]) != h
    assert h.startswith("2:")


def test_result_hash_normalizes_engine_types():
    a = result_hash(["x", "d"], [(0.1 + 0.2, datetime.date(2024, 1, 2))])
    b = result_hash(["x", "d"], [(decimal.Decimal("0.3"), datetime.date(2024, 1, 2))])
    assert a == b
    assert result_hash(["x"], [(float("nan"),)]) == result_hash(["x"], [(float("nan"),)])
    assert result_hash(["x"], [([1.0, 2.0],)]) == result_hash(["x"], [((1.0, 2.0),)])


def test_generator_is_seeded_and_byte_identical(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5)
    gen.write_tables(str(tmp_path / "b"), 5)
    gen.write_tables(str(tmp_path / "c"), 6)
    names = sorted(os.listdir(tmp_path / "a"))
    assert "documents.parquet" in names and "lineitem.parquet" in names
    for name in names:
        a = (tmp_path / "a" / name).read_bytes()
        assert a == (tmp_path / "b" / name).read_bytes()
        if name not in ("region.parquet", "nation.parquet"):
            assert a != (tmp_path / "c" / name).read_bytes()


def test_corpus_near_duplicate_share():
    table, n_distinct = gen.documents_table(3, 4000)
    texts = table["text"].to_pylist()
    near = sum(t.endswith(" dup") for t in texts) / len(texts)
    assert abs(near - gen.NEAR_DUP_SHARE) < 0.015
    assert n_distinct == len(set(texts)) < len(texts)
