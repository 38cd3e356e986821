"""Every defaulted package parameter has a call site that sets it, and
an entry point reaches every top-level package def and class
(``unset_params.scan``, which parses and imports nothing)."""

from __future__ import annotations

import ast

import pytest

import unset_params

#: ``ShingleUDTF.eval`` is the signature of the SQL table function
#: ``shingles(text [, n])``: its callers are SQL text, which the scan of
#: Python call sites cannot see.
SET_BY_SQL = {"functions/udtfs.py eval(n=)"}

#: ``sse_2d`` is the Lloyd objective that ``test_kmeans.py`` and
#: ``test_birch_parity.py`` check fits against: an oracle the engine
#: itself never needs to run.
TEST_ORACLES = {"operators/kmeans.py sse_2d"}


@pytest.fixture(scope="module")
def report():
    return unset_params.scan(unset_params.ROOT)


def _site(entry: str) -> str:
    """``"path:line name(param=)"`` without the line number."""
    path, rest = entry.split(" ", 1)
    return f"{path.rsplit(':', 1)[0]} {rest}"


def test_every_defaulted_parameter_has_a_caller_that_sets_it(report):
    _, unset, _ = report
    assert {_site(e) for e in unset} <= SET_BY_SQL, unset


def test_every_top_level_function_is_referenced(report):
    """By an entry point: a use from tests/ counts for nothing."""
    _, _, unreachable = report
    assert {_site(e) for e in unreachable} <= TEST_ORACLES, unreachable


def test_reachability_walk_on_a_synthetic_tree(tmp_path):
    files = {
        "kmeans_with_mapreduce_cuda_spark/__init__.py": (
            "from .ops import exported\n"
        ),
        "kmeans_with_mapreduce_cuda_spark/ops.py": (
            "from .registry import query\n"
            "def helper():\n"
            "    return deep()\n"
            "def deep():\n"
            "    return 1\n"
            "def tested_only():\n"
            "    return 2\n"
            "def exported():\n"
            "    return 3\n"
            "def in_docstring():\n"
            "    return 4\n"
            "@query('q')\n"
            "def q(spark, sf_dir):\n"
            '    """Unlike in_docstring(), this runs helper()."""\n'
            "    return helper()\n"
        ),
        "tests/test_ops.py": (
            "from kmeans_with_mapreduce_cuda_spark.ops import tested_only\n"
            "def test_it():\n"
            "    assert tested_only() == 2\n"
        ),
    }
    for rel, text in files.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(text)
    _, _, unreachable = unset_params.scan(tmp_path)
    assert sorted(_site(e) for e in unreachable) == [
        "ops.py exported",  # an __init__ re-export roots nothing
        "ops.py in_docstring",  # nor does a name in a docstring
        "ops.py tested_only",  # nor a call from tests/
    ]  # while q reaches helper, and helper reaches deep


def test_keyword_given_the_default_literal_does_not_set_it():
    calls = unset_params._Calls()
    calls.visit(ast.parse('f(a=1, b="1")\nf(a=1, c=n)\nf(d=True)\nf(g=1.0)'))
    one = ast.parse("1", mode="eval").body
    assert not calls.sets_keyword("f", "a", one)
    assert not calls.sets_keyword("f", "e", one)  # never passed
    # another literal, a name (it may hold anything), True and 1.0 all set it
    for param in "bcdg":
        assert calls.sets_keyword("f", param, one), param
