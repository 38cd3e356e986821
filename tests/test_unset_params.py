"""Every defaulted package parameter has a call site that sets it, and
every top-level package function is referenced (``unset_params.scan``,
which parses and imports nothing)."""

from __future__ import annotations

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
