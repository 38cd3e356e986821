"""session.pinned_confs: the one save/set/restore path for temporary
session confs; the per-process default warehouse."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

from kmeans_with_mapreduce_cuda_spark.session import pinned_confs

A = "kmeans.test.pinned.a"
B = "kmeans.test.pinned.b"


@pytest.fixture
def clean_keys(spark):
    """A and B start unset and are unset again afterwards, whatever a
    failing test left behind."""
    for key in (A, B):
        spark.conf.unset(key)
    yield
    for key in (A, B):
        spark.conf.unset(key)


def test_pinned_confs_restores_prior_value(spark, clean_keys):
    spark.conf.set(A, "before")
    with pinned_confs(spark, {A: "inside"}):
        assert spark.conf.get(A) == "inside"
    assert spark.conf.get(A) == "before"


def test_pinned_confs_unsets_key_that_was_absent(spark, clean_keys):
    with pinned_confs(spark, {A: "inside"}):
        assert spark.conf.get(A) == "inside"
    assert spark.conf.get(A, None) is None


def test_pinned_confs_restores_registered_sql_conf(spark):
    """A real SQL conf comes back to exactly what the session held,
    whether it was set explicitly or left at Spark's default."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.codegen.wholeStage")
    before = {k: spark.conf.get(k, None) for k in keys}
    with pinned_confs(spark, {keys[0]: "3", keys[1]: "false"}):
        assert spark.conf.get(keys[0]) == "3"
        assert spark.conf.get(keys[1]) == "false"
    assert {k: spark.conf.get(k, None) for k in keys} == before


def test_pinned_confs_nested_restore_lifo(spark, clean_keys):
    spark.conf.set(A, "before")
    with pinned_confs(spark, {A: "outer", B: "outer"}):
        with pinned_confs(spark, {B: "inner", A: "inner"}):
            assert (spark.conf.get(A), spark.conf.get(B)) == ("inner", "inner")
        assert (spark.conf.get(A), spark.conf.get(B)) == ("outer", "outer")
    assert spark.conf.get(A) == "before"
    assert spark.conf.get(B, None) is None


def test_pinned_confs_restores_on_exception(spark, clean_keys):
    spark.conf.set(A, "before")
    with pytest.raises(RuntimeError, match="boom"):
        with pinned_confs(spark, {A: "outer"}):
            with pinned_confs(spark, {A: "inner", B: "inner"}):
                raise RuntimeError("boom")
    assert spark.conf.get(A) == "before"
    assert spark.conf.get(B, None) is None


def test_default_warehouse_is_per_process():
    """Two processes get different default warehouse directories, each
    under the temp dir and removed when the process exits, so their
    saveAsTable files never collide."""
    code = (
        "from kmeans_with_mapreduce_cuda_spark.session import _default_warehouse; "
        "print(_default_warehouse())"
    )
    root = Path(__file__).resolve().parent.parent
    paths = [
        subprocess.run(
            [sys.executable, "-c", code], cwd=root, capture_output=True,
            text=True, check=True,
        ).stdout.strip()
        for _ in range(2)
    ]
    assert paths[0] != paths[1], paths
    for p in paths:
        assert os.path.dirname(p) == tempfile.gettempdir(), p
        assert not os.path.exists(p), p  # removed at exit
