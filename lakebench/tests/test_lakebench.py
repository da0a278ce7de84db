"""Unit tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest lakebench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
from compare import rows_equal  # noqa: E402
from spans import Span, SpanTree  # noqa: E402
from stats import InsufficientSamples, min_samples, percentile  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# -- seeded inputs --------------------------------------------------------------


def test_tables_same_seed_byte_identical(tmp_path):
    datagen.write_tables(str(tmp_path / "a"), seed=7, n_customers=150)
    datagen.write_tables(str(tmp_path / "b"), seed=7, n_customers=150)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a and a == b


def test_tables_other_seed_differs(tmp_path):
    datagen.write_tables(str(tmp_path / "a"), seed=7, n_customers=150)
    datagen.write_tables(str(tmp_path / "b"), seed=8, n_customers=150)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    # fixed dimension tables are seed-independent; everything generated differs
    assert {k for k in a if a[k] != b[k]} >= {
        "customer.parquet", "orders.parquet", "lineitem.parquet", "events.parquet",
        "documents.parquet", "embeddings.parquet",
    }


def test_medallion_inputs_seeded(tmp_path):
    ia = datagen.medallion_inputs(str(tmp_path / "a"), seed=3, increment_days=2)
    ib = datagen.medallion_inputs(str(tmp_path / "b"), seed=3, increment_days=2)
    datagen.medallion_inputs(str(tmp_path / "c"), seed=4, increment_days=2)
    assert ia == ib
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c
    # one 24-row price drop per day, cycling the three layouts
    drops = sorted(k for k in a if k.endswith("prices.csv"))
    assert len(drops) == datagen.HISTORY_DAYS + 2
    heads = set()
    for k in drops:
        with open(tmp_path / "a" / k) as f:
            lines = f.read().splitlines()
        assert len(lines) == 25
        heads.add(lines[0])
    assert len(heads) == 3


def test_medallion_increment_resends_earlier_ids(tmp_path):
    import pyarrow.parquet as pq

    datagen.medallion_inputs(str(tmp_path), seed=5, increment_days=1)
    hist = pq.read_table(str(tmp_path / "events" / "day=00" / "part.parquet"))
    inc = pq.read_table(str(tmp_path / "events" / f"day={datagen.HISTORY_DAYS:02d}" / "part.parquet"))
    first_new = datagen.HISTORY_DAYS * 400
    ids = inc.column("event_id").to_pylist()
    resent = [i for i in ids if i < first_new]
    assert resent and len(resent) < len(ids) // 10
    assert min(inc.column("ts").to_pylist()) > max(hist.column("ts").to_pylist())


def test_sensor_events_seeded_and_bounded():
    a = datagen.sensor_events(datagen.rng(1, "sensor"), 0, 500, 0.0, 0.75, 30.0)
    b = datagen.sensor_events(datagen.rng(1, "sensor"), 0, 500, 0.0, 0.75, 30.0)
    c = datagen.sensor_events(datagen.rng(2, "sensor"), 0, 500, 0.0, 0.75, 30.0)
    assert a == b and a != c
    assert datagen.json_lines(a, 1.5) == datagen.json_lines(b, 1.5)
    anomalous = sum(e["ph"] < 6.6 for e in a) / len(a)
    assert 0.03 < anomalous < 0.15  # about 8% per metric


# -- percentile rule -----------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert min_samples(0.9) == 100
    assert min_samples(0.5) == 20
    xs = list(range(1, 101))
    assert percentile(xs, 0.9) == 90  # 10 samples (91..100) lie beyond
    with pytest.raises(InsufficientSamples):
        percentile(xs[:99], 0.9)
    assert percentile(list(range(20)), 0.5) == 9
    with pytest.raises(InsufficientSamples):
        percentile(list(range(19)), 0.5)


def test_percentile_rule_is_configurable_and_order_free():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 0.5, min_beyond=2) == 3
    with pytest.raises(InsufficientSamples):
        percentile(xs, 0.8, min_beyond=2)
    with pytest.raises(ValueError):
        percentile(xs, 1.0)


# -- span self time ------------------------------------------------------------


def _span(i, name, start, end, parent=None):
    return Span(id=str(i), name=name, start=start, end=end, parent=parent)


def test_self_time_subtracts_union_of_children():
    root = _span(0, "op.stage", 0.0, 10.0)
    kids = [
        _span(1, "catalog.write", 1.0, 3.0, "0"),
        _span(2, "state.read_increment", 2.0, 5.0, "0"),  # overlaps the first
        _span(3, "catalog.write", 8.0, 12.0, "0"),  # clipped at the parent's end
    ]
    grandchild = _span(4, "ops.relational.latest_by_key", 1.5, 2.5, "1")
    tree = SpanTree([root, *kids, grandchild])
    assert tree.self_seconds(root) == pytest.approx(10 - (4 + 2))
    assert tree.self_seconds(kids[0]) == pytest.approx(2 - 1)
    layers = tree.layer_self_seconds(lambda n: n.split(".")[0])
    assert layers["op"] == pytest.approx(4.0)
    assert layers["catalog"] == pytest.approx(1.0 + 4.0)
    assert layers["ops"] == pytest.approx(1.0)
    # self times add up to the wall time the spans cover (no double count)
    assert sum(layers.values()) == pytest.approx(10.0 + 2.0 + 1.0)


def test_inclusive_counts_outermost_spans_and_their_jobs():
    outer = _span(0, "ops.graph.pagerank", 0.0, 4.0)
    inner = _span(1, "ops.graph.pagerank", 1.0, 2.0, "0")
    other = _span(2, "ops.graph.pagerank", 5.0, 6.0)
    jobs = [
        {"jobGroup": "0", "_start": 0.5, "_end": 0.9},
        {"jobGroup": "1", "_start": 1.2, "_end": 1.8},
        {"jobGroup": "2", "_start": 5.1, "_end": 5.2},
        {"jobGroup": "elsewhere", "_start": 0.0, "_end": 9.0},
    ]
    tree = SpanTree([outer, inner, other], jobs)
    secs, n_jobs, calls = tree.inclusive("ops.graph.pagerank")
    assert secs == pytest.approx(5.0)
    assert n_jobs == 3
    assert calls == 3


def test_driver_gap_is_span_time_without_a_running_job():
    s = _span(0, "op.stage", 0.0, 10.0)
    c = _span(1, "catalog.write", 2.0, 6.0, "0")
    jobs = [
        {"jobGroup": "0", "_start": 1.0, "_end": 3.0},
        {"jobGroup": "1", "_start": 2.5, "_end": 4.0},  # overlaps the first
        {"jobGroup": "1", "_start": 9.0, "_end": 11.0},  # runs past the span
    ]
    tree = SpanTree([s, c], jobs)
    assert tree.driver_gap(s) == pytest.approx(10 - (3 + 1))


# -- result comparison -----------------------------------------------------------


def test_rows_equal_is_order_free_and_exact():
    from decimal import Decimal

    a = [{"k": 1, "v": Decimal("1.50")}, {"k": 2, "v": Decimal("2")}]
    b = [{"v": Decimal("2.000"), "k": 2}, {"v": Decimal("1.5"), "k": 1}]
    assert rows_equal(a, b) is None
    assert rows_equal(a, b[:1]) == "rowcount 2 vs oracle 1"
    assert "differ" in rows_equal([{"k": 1, "v": 0.1 + 0.2}], [{"k": 1, "v": 0.3}])
