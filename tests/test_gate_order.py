"""The driver's gate order (``plans._gate_order``): a pure function of
the registration order and the committed ``CORRECTNESS_r*.json`` rounds.
No Spark session."""

from __future__ import annotations

from kmeans_with_mapreduce_cuda_spark.plans import (
    REGISTRY,
    _ROOT,
    _gate_order,
    _rounds,
)

GREEN = {"rows_match": True, "hash_match": True, "err": None}


def test_no_rounds_is_registration_order():
    assert _gate_order(["c", "a", "b"], []) == ["c", "a", "b"]


def test_unverified_names_lead_in_registration_order():
    rounds = [{"d": GREEN, "a": GREEN}]
    assert _gate_order(["d", "c", "a", "b"], rounds) == ["c", "b", "d", "a"]


def test_least_recently_verified_first_then_file_position():
    rounds = [{"b": GREEN, "a": GREEN, "c": GREEN}, {"d": GREEN}]
    assert _gate_order(["a", "b", "c", "d"], rounds) == ["b", "a", "c", "d"]


def test_green_in_newer_round_moves_to_the_back():
    rounds = [{"a": GREEN, "b": GREEN}, {"a": GREEN}]
    assert _gate_order(["a", "b", "c"], rounds) == ["c", "b", "a"]


def test_only_hash_match_true_counts_as_verified():
    rounds = [{
        "a": {"rows_match": True, "hash_match": False, "err": None},
        "b": {"rows_match": None, "hash_match": None, "err": None},
        "c": {"rows_match": None, "hash_match": None, "err": "no_oracle"},
        "d": GREEN,
    }]
    assert _gate_order(["d", "a", "b", "c"], rounds) == ["a", "b", "c", "d"]


def test_a_later_red_row_does_not_forget_an_earlier_green():
    rounds = [{"a": GREEN, "b": GREEN}, {"b": {"hash_match": False}}]
    assert _gate_order(["a", "b"], rounds) == ["a", "b"]


def test_names_outside_the_registry_are_ignored():
    assert _gate_order(["a", "b"], [{"gone": GREEN, "a": GREEN}]) == ["b", "a"]


def test_newest_round_green_rows_close_the_registry():
    newest = _rounds(_ROOT)[-1]
    greens = [
        n for n, row in newest.items()
        if row.get("hash_match") is True and n in REGISTRY
    ]
    assert greens
    assert list(REGISTRY)[-len(greens):] == greens


def test_previous_rounds_reproduce_the_newest_rounds_prefix():
    # The order the committed rounds before the newest one imply must
    # lead with exactly the 50 names the newest round checked.
    rounds = _rounds(_ROOT)
    prefix = _gate_order(list(REGISTRY), rounds[:-1])[: len(rounds[-1])]
    assert set(prefix) == set(rounds[-1])
