"""sources.readers.fixture_memo, the session's one memo over fixture
content, without a Spark session: a fake session exposes only
``sparkContext.applicationId`` and the fixtures are plain files."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from kmeans_with_mapreduce_cuda_spark.sources import readers
from kmeans_with_mapreduce_cuda_spark.sources.readers import (
    fixture_memo,
    fixture_memo_drop,
)


def _session(app: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture(autouse=True)
def _own_store(monkeypatch):
    """A fresh store per test: the real one may hold a live session's
    entries, which a fake applicationId would evict."""
    monkeypatch.setattr(readers, "_FIXTURE_MEMO", {})


class _Counter:
    """``build`` returning a fresh object per call, and ``release``
    recording what it was handed."""

    def __init__(self) -> None:
        self.built: list[object] = []
        self.released: list[object] = []

    def build(self) -> object:
        self.built.append(object())
        return self.built[-1]

    def release(self, value: object) -> None:
        self.released.append(value)


def _memo(spark, sf_dir, c: _Counter, slot="s", tables=("t",)):
    return fixture_memo(spark, str(sf_dir), tables, slot, c.build, c.release)


def test_hit_returns_same_object_without_building(tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"x")
    spark, c = _session("app-1"), _Counter()
    a = _memo(spark, tmp_path, c)
    b = _memo(spark, tmp_path, c)
    assert a is b
    assert len(c.built) == 1
    assert c.released == []


def test_content_change_releases_old_value_once_and_rebuilds(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"x")
    os.utime(f, ns=(1_000_000_000, 1_000_000_000))
    spark, c = _session("app-1"), _Counter()
    a = _memo(spark, tmp_path, c)
    os.utime(f, ns=(2_000_000_000, 2_000_000_000))
    b = _memo(spark, tmp_path, c)
    assert b is not a
    assert c.released == [a]
    assert _memo(spark, tmp_path, c) is b  # the new content is served
    assert c.released == [a]
    assert len(c.built) == 2


def test_any_listed_table_changing_rebuilds(tmp_path):
    for t in ("t", "u"):
        (tmp_path / f"{t}.parquet").write_bytes(b"x")
    spark, c = _session("app-1"), _Counter()
    a = _memo(spark, tmp_path, c, tables=("t", "u"))
    (tmp_path / "u.parquet").write_bytes(b"longer")
    assert _memo(spark, tmp_path, c, tables=("t", "u")) is not a
    assert c.released == [a]


def test_missing_table_builds_every_call_and_is_released_next_call(tmp_path):
    spark, c = _session("app-1"), _Counter()
    a = _memo(spark, tmp_path, c, tables=("absent",))
    b = _memo(spark, tmp_path, c, tables=("absent",))
    assert a is not b  # never served
    assert c.built == [a, b]
    assert c.released == [a]
    assert readers._FIXTURE_MEMO["s"].key is None
    # one present, one absent table is just as uncacheable
    (tmp_path / "t.parquet").write_bytes(b"x")
    d = _memo(spark, tmp_path, c, tables=("t", "absent"))
    assert d is not _memo(spark, tmp_path, c, tables=("t", "absent"))
    assert c.released == [a, b, d]


def test_other_session_entry_released_on_next_insert(tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"x")
    old, new = _Counter(), _Counter()
    a = _memo(_session("app-old"), tmp_path, old, slot="a")
    _memo(_session("app-new"), tmp_path, new, slot="b")
    assert old.released == [a]
    assert set(readers._FIXTURE_MEMO) == {"b"}
    assert new.released == []


def test_other_session_same_slot_rebuilds(tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"x")
    c = _Counter()
    a = _memo(_session("app-old"), tmp_path, c)
    b = _memo(_session("app-new"), tmp_path, c)
    assert b is not a
    assert c.released == [a]


def test_drop_releases_the_slot(tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"x")
    spark, c = _session("app-1"), _Counter()
    a = _memo(spark, tmp_path, c)
    fixture_memo_drop("s")
    assert c.released == [a]
    assert "s" not in readers._FIXTURE_MEMO
    fixture_memo_drop("s")  # empty slot: no-op
    assert c.released == [a]
    assert _memo(spark, tmp_path, c) is not a  # rebuilt after the drop
    assert len(c.built) == 2


def test_no_release_callable_is_fine(tmp_path):
    (tmp_path / "t.parquet").write_bytes(b"x")
    spark = _session("app-1")
    v = fixture_memo(spark, str(tmp_path), ("t",), "s", lambda: [1])
    assert fixture_memo(spark, str(tmp_path), ("t",), "s", list) is v
    fixture_memo_drop("s")
    assert "s" not in readers._FIXTURE_MEMO
