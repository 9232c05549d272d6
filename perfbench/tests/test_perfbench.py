"""Tests of the benchmark itself: input determinism, metric names, and
the span arithmetic behind per-layer self times.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, self_time_by_op, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _files(root):
    return {os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
            for d, _, fs in os.walk(root) for f in fs}


def test_same_seed_same_bytes(tmp_path):
    paths = []
    for out in ("a", "b"):
        table = gen.make_events(5, 20_000, gen.ETL_DIRT)
        paths.append(gen.write_events(table, str(tmp_path / out), 3))
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert len(a) == 3 and a == b
    assert gen.input_hash(paths[:1]) == gen.input_hash(paths[1:])
    assert gen.make_interactions(5, 50, 4) == gen.make_interactions(5, 50, 4)


def test_other_seed_other_inputs():
    assert gen.make_interactions(5, 50, 4) != gen.make_interactions(6, 50, 4)
    a = gen.make_events(5, 1_000, gen.ETL_DIRT)
    b = gen.make_events(6, 1_000, gen.ETL_DIRT)
    assert not a.equals(b)


def test_injected_dirt_counts_are_exact():
    table = gen.make_events(9, 50_000, gen.ETL_DIRT)
    report = gen.expected_report(50_000, gen.ETL_DIRT)
    crit = [table[c].is_null() for c in gen.CRITICAL]
    any_null = pc.or_(pc.or_(crit[0], crit[1]), pc.or_(crit[2], crit[3]))
    assert pc.sum(any_null).as_py() == report["removed_nulls"] == gen.ETL_DIRT["nulls"]
    value = table["value"]
    assert pc.sum(pc.less_equal(value, 0)).as_py() == gen.ETL_DIRT["value_pos"]
    assert pc.sum(pc.greater(value, 500)).as_py() == gen.ETL_DIRT["value_cap"]
    year = pc.year(table["ts"])
    bad_ts = pc.or_(pc.less(year, 2000), pc.greater_equal(year, 2100))
    assert pc.sum(bad_ts).as_py() == gen.ETL_DIRT["ts_valid"]
    unmapped = pc.is_in(table["event_type"], value_set=gen.pa.array(gen.UNMAPPED_CODES))
    assert pc.sum(unmapped).as_py() == gen.ETL_DIRT["unmapped_type"]
    assert report["rows_kept"] == 50_000 - sum(
        gen.ETL_DIRT[k] for k in ("nulls", "value_pos", "value_cap", "ts_valid"))


def _filter(state):
    return [state[w] for w in gen.WIDGETS]


def test_interactions_are_sessions_from_the_default_state():
    seq = gen.make_interactions(3, 2_000, 4)
    default = _filter(gen.DEFAULT_STATE)
    for g in range(0, len(seq), 4):
        session = seq[g:g + 4]
        assert _filter(session[0]) == default and session[0]["widget"] == "default"
        assert session[0]["repeat"] == (g > 0)
        for before, s in zip(session, session[1:]):
            assert not s["repeat"]
            changed = [w for w in gen.WIDGETS if s[w] != before[w]]
            assert changed == [s["widget"]]
    fresh = [_filter(s) for s in seq if not s["repeat"]]
    assert len(fresh) == len({json.dumps(f) for f in fresh})
    assert all(s["type_labels"] for s in seq)


def _declared():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_emitted_names_are_declared():
    spec = _declared()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    emitted = {name: unit for name, unit, _ in run.per_layer_spec()}
    assert layers == emitted
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for name in [*e2e, *layers, *workloads.WORKLOADS]:
        assert NAME.fullmatch(name), name


def _span(name, start, end, parent, op="0"):
    return Span(name, start, end, parent, op)


def test_self_time_arithmetic():
    spans = [
        _span("root", 0.0, 10.0, None),        # children cover 1-4 and 5-9
        _span("a", 1.0, 4.0, 0),               # child covers 2-3
        _span("a.inner", 2.0, 3.0, 1),
        _span("b", 5.0, 9.0, 0),
        _span("b", 11.0, 12.0, None, op="1"),  # another op
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0, 1.0])
    by = self_time_by_op(spans)
    assert by["b"] == pytest.approx({"0": 4.0, "1": 1.0})
    assert by["root"] == pytest.approx({"0": 3.0})


def test_self_time_clips_overlapping_children():
    spans = [_span("p", 0.0, 4.0, None), _span("c", 1.0, 3.0, 0),
             _span("c", 2.0, 5.0, 0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_a_run_is_whole_blocks_that_fill_its_seconds(name):
    cls = workloads.WORKLOADS[name]
    wl = cls(1, "", None)
    for seconds in (1, 24, 60):
        n = wl.n_ops(seconds)
        assert n >= cls.BLOCK and n % cls.BLOCK == 0
        assert n * cls.OP_COST_S >= seconds > (n - cls.BLOCK) * cls.OP_COST_S
