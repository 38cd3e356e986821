"""The one Spark-vs-DuckDB verdict, ``gate.canon``/``gate.compare``,
checked on plain Python rows (no Spark, no DuckDB query)."""

from __future__ import annotations

from gate import canon, compare


def test_null_and_nan_compare_equal():
    assert compare(["a"], [(None,)], ["a"], [(float("nan"),)]) is None


def test_floats_compare_to_six_decimals():
    assert compare(["a"], [(0.1 + 0.2,)], ["a"], [(0.3,)]) is None
    assert compare(["a"], [(1.0000004,)], ["a"], [(1.0,)]) is None
    assert compare(["a"], [(1.000001,)], ["a"], [(1.0,)]) is not None


def test_bools_stay_distinct_from_ints():
    assert canon(["a"], [(True,)]) != canon(["a"], [(1,)])
    assert compare(["a"], [(False,)], ["a"], [(0,)]) is not None


def test_column_and_row_order_are_ignored():
    rows = [(1, "x"), (2, "y")]
    flipped = [("y", 2), ("x", 1)]
    assert compare(["n", "s"], rows, ["s", "n"], flipped) is None


def test_column_names_differ():
    why = compare(["a", "b"], [(1, 2)], ["a", "c"], [(1, 2)])
    assert why == "columns ['a', 'b'] != ['a', 'c']"


def test_row_counts_differ():
    why = compare(["a"], [(1,), (2,)], ["a"], [(1,)])
    assert why == "rowcount 2 != 1"


def test_first_differing_row_is_named():
    why = compare(["a", "b"], [(1, 2.0), (3, 4.0)], ["b", "a"], [(2.0, 1), (5.0, 3)])
    assert why == (
        "values differ at sorted row 1:\n"
        "    spark : ('3', '4.000000')\n    duckdb: ('3', '5.000000')"
    )
