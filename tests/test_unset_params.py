"""Every defaulted package parameter has a call site that sets it, and
every top-level package function is referenced (``unset_params.scan``,
which parses and imports nothing)."""

from __future__ import annotations

import ast

import pytest

import unset_params

#: ``ShingleUDTF.eval`` is the signature of the SQL table function
#: ``shingles(text [, n])``: its callers are SQL text, which the scan of
#: Python call sites cannot see.
SET_BY_SQL = {"functions/udtfs.py eval(n=)"}


@pytest.fixture(scope="module")
def report():
    return unset_params.scan()


def _site(entry: str) -> str:
    """``"path:line name(param=)"`` without the line number."""
    path, rest = entry.split(" ", 1)
    return f"{path.rsplit(':', 1)[0]} {rest}"


def test_every_defaulted_parameter_has_a_caller_that_sets_it(report):
    _, unset, _ = report
    assert {_site(e) for e in unset} <= SET_BY_SQL, unset


def test_every_top_level_function_is_referenced(report):
    _, _, unreferenced = report
    assert unreferenced == []


def test_keyword_given_the_default_literal_does_not_set_it():
    calls = unset_params._Calls()
    calls.visit(ast.parse('f(a=1, b="1")\nf(a=1, c=n)\nf(d=True)\nf(g=1.0)'))
    one = ast.parse("1", mode="eval").body
    assert not calls.sets_keyword("f", "a", one)
    assert not calls.sets_keyword("f", "e", one)  # never passed
    # another literal, a name (it may hold anything), True and 1.0 all set it
    for param in "bcdg":
        assert calls.sets_keyword("f", param, one), param
