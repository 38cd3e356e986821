"""Property test for the byte-range split protocol of the points_text
streaming source (no Spark session needed: partitions() and read() are
pure Python over a file).

The contract under test is the Hadoop LineRecordReader ownership rule:
a line belongs to the byte range containing its FIRST byte, every line
is read by EXACTLY one partition, with its start offset, for every file
shape and partition count.  Round-2 ADVICE found a real bug here (a
line starting exactly on a split boundary was read by neither side)
that only boundary-aligned fixtures expose -- hypothesis generates
those alignments by the hundreds.
"""

from __future__ import annotations

import os
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from kmeans_with_mapreduce_cuda_spark.sources.points_datasource import (
    PointsStreamReader,
)


def _reference_lines(data: bytes) -> list[tuple[int, str]]:
    """Single-pass oracle: (line_start_offset, line) per line, the line
    without its newline and decoded as the source decodes it."""
    lines = data.split(b"\n")
    if lines[-1] == b"":
        lines.pop()  # what follows a final newline (or all of b"") is no line
    out = []
    pos = 0
    for line in lines:
        out.append((pos, line.decode("utf-8", "replace")))
        pos += len(line) + 1
    return out


def _read_all(data: bytes, n_partitions: int) -> list[tuple[int, str]]:
    """Every row the stream reader ships for one microbatch covering
    the whole file, across all of its partitions."""
    with tempfile.NamedTemporaryFile(delete=False, suffix=".txt") as f:
        f.write(data)
        path = f.name
    try:
        reader = PointsStreamReader(
            {"path": path, "n_partitions": str(n_partitions)}
        )
        got = []
        for part in reader.partitions({"pos": 0}, {"pos": len(data)}):
            got.extend(reader.read(part))
        return got
    finally:
        os.unlink(path)


_line = st.one_of(
    # point-shaped: two ints, variable widths and separators
    st.tuples(
        st.integers(0, 10**6),
        st.integers(0, 10**6),
        st.sampled_from([b" ", b"\t", b"   "]),
    ).map(lambda t: str(t[0]).encode() + t[2] + str(t[1]).encode()),
    # any other bytes, CR and invalid UTF-8 included
    st.binary(max_size=12).map(lambda b: b.replace(b"\n", b"")),
)


@settings(max_examples=120, deadline=None)
@given(
    lines=st.lists(_line, min_size=0, max_size=12),
    trailing_newline=st.booleans(),
    n_partitions=st.integers(1, 9),
)
def test_every_line_read_exactly_once(lines, trailing_newline, n_partitions):
    data = b"\n".join(lines)
    if trailing_newline and lines:
        data += b"\n"
    got = _read_all(data, n_partitions)
    assert sorted(got) == _reference_lines(data), (data, n_partitions)


def test_fixed_width_lines_align_on_boundaries():
    """The regression shape from round-2 ADVICE: fixed 4-byte lines with
    n_partitions dividing the file size puts a line start exactly on
    every split boundary."""
    data = b"".join(f"{i} {i}\n".encode() for i in range(1, 10))  # 4B lines
    for n in (1, 2, 3, 4, 5, 9):
        assert sorted(_read_all(data, n)) == _reference_lines(data), n


@settings(max_examples=300, deadline=None)
@given(
    data=st.binary(max_size=400),
    lo=st.integers(min_value=0, max_value=400),
    chunk=st.integers(min_value=1, max_value=64),
)
def test_last_newline_clamp_matches_rfind_oracle(data, lo, chunk):
    """The stream reader's partial-line clamp (backward chunked scan)
    must agree with the obvious whole-buffer oracle for every content /
    window / chunk-size combination -- including newline-free tails
    longer than one chunk and lo landing mid-line."""
    from kmeans_with_mapreduce_cuda_spark.sources.points_datasource import (
        _last_newline_at_or_before,
    )

    lo = min(lo, len(data))
    with tempfile.NamedTemporaryFile(delete=False) as f:
        f.write(data)
        path = f.name
    try:
        got = _last_newline_at_or_before(path, lo, len(data), chunk=chunk)
    finally:
        os.unlink(path)
    nl = data.rfind(b"\n", lo, len(data))
    want = (nl + 1) if nl >= 0 else lo
    assert got == want, (data, lo, chunk)
