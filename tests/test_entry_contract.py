"""Driver-contract invariants: the correctness window is exactly what we
think it is (the round-1 lesson: the driver checks only the FIRST 50 keys
of queries(), silently), and ``query_order`` implements the rotation
policy in ROTATION.md."""

from __future__ import annotations

import pytest

import __spark_entry__ as m

WINDOW = 50


def _row(green: bool = True, err: str | None = None) -> dict:
    return {"rows_match": True, "schema_match": True, "hash_match": green,
            "spark_rows": 1, "oracle_rows": 1, "err": err}


def test_driver_window_is_exactly_50():
    assert m.WINDOW == WINDOW
    assert list(m.queries())[:WINDOW] == m.DRIVER_WINDOW
    assert len(set(m.DRIVER_WINDOW)) == WINDOW


def test_unproven_queries_sit_inside_window():
    assert m.DRIVER_WINDOW[:len(m.MUST_PROVE)] == list(m.MUST_PROVE)


def test_window_fills_with_oldest_proofs_after_must_prove():
    records = m._correctness_records(m.Path(m.__file__).resolve().parent)
    oldest = [n for n in m.query_order(m._catalog(), records, ())
              if n not in m.MUST_PROVE]
    n = len(m.MUST_PROVE)
    assert list(m.queries())[n:WINDOW] == oldest[:WINDOW - n]


def test_headline_is_in_catalog():
    import bench

    assert set(bench.HEADLINE) <= set(m.queries())


def test_window_oracle_coverage():
    qs = list(m.queries())
    oracles = m.oracle_sql()
    rows_only = [k for k in qs[:WINDOW] if k not in oracles]
    # every query in the window is oracle-paired
    assert rows_only == [], rows_only


def test_order_never_proven_first_in_catalog_order():
    records = {3: {"b": _row()}}
    assert m.query_order(["x", "b", "a"], records, ()) == ["x", "a", "b"]


def test_order_red_latest_row_falls_back_to_older_green_round():
    records = {
        1: {"a": _row(), "c": _row()},
        2: {"b": _row()},
        3: {"a": _row(green=False)},
        4: {"c": _row(err="boom")},
    }
    # a and c keep their round-1 proofs; b was last proven in round 2
    assert m.query_order(["c", "b", "a"], records, ()) == ["a", "c", "b"]


def test_order_ties_break_by_position_within_round():
    records = {7: {"z": _row(), "y": _row(), "x": _row()}}
    assert m.query_order(["x", "y", "z"], records, ()) == ["z", "y", "x"]


def test_order_must_prove_comes_first():
    records = {1: {"a": _row()}, 2: {"b": _row(), "c": _row()}}
    assert m.query_order(["a", "b", "c", "d"], records, ("c", "a")) == [
        "c", "a", "d", "b"]


@pytest.mark.parametrize("must_prove", [
    ("a", "nope"),
    ("a", "a"),
    tuple(f"q{i}" for i in range(WINDOW + 1)),
])
def test_order_rejects_bad_must_prove(must_prove):
    names = ["a"] + [f"q{i}" for i in range(WINDOW + 1)]
    with pytest.raises(RuntimeError, match="MUST_PROVE"):
        m.query_order(names, {}, must_prove)
