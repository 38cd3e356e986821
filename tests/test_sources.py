"""Source/sink tests: the reference-format text scanner (O1) and
'Point: (x,y)' sink (O13) through real files, plus format breadth
(CSV/JSON round-trips -- free via spark.read/write, asserted anyway)."""

from __future__ import annotations

import glob
import itertools
import os
import re

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kmeans_with_mapreduce_cuda_spark.sources import (
    format_centroids,
    load_table,
    read_points_stream,
    read_points_text,
)

from conftest import SF_DIR


def _write_birchlike(path: str, n: int = 100) -> None:
    with open(path, "w") as f:
        for i in range(n):
            # mixed whitespace, like the reference's istringstream >> scan
            f.write(f"  {i * 37 % 1000}\t{i * 91 % 1000}\n")
        f.write("garbage line\n")
        f.write("\n")


def test_read_points_text_parity(spark, tmp_path):
    """First-N semantics + malformed-line tolerance (the reference reads
    NUM_INPUT lines and would parse garbage; we drop bad lines)."""
    p = str(tmp_path / "birch.txt")
    _write_birchlike(p)
    pts = read_points_text(spark, p, limit=50)
    assert pts.count() == 50
    rows = {r["id"]: (r["x"], r["y"]) for r in pts.collect()}
    assert rows[0] == (0, 0)
    assert rows[2] == (74, 182)
    # no limit: 100 good rows survive, 2 bad lines dropped
    assert read_points_text(spark, p).count() == 100


def test_centroid_sink_format(spark):
    df = spark.createDataFrame(
        [(0, 10.9, 20.1), (1, 5.0, 7.0)], ["cluster_id", "x", "y"]
    )
    lines = {r["line"] for r in format_centroids(df).collect()}
    # reference truncates (uint64 store): 10.9 -> 10
    assert lines == {"Point: (10,20)", "Point: (5,7)"}

    # parity_ints floors; differs from truncation only below zero
    neg = spark.createDataFrame([(0, -1.5, 2.5)], ["cluster_id", "x", "y"])
    assert [r["line"] for r in format_centroids(neg).collect()] == [
        "Point: (-1,2)"
    ]
    assert [
        r["line"] for r in format_centroids(neg, parity_ints=True).collect()
    ] == ["Point: (-2,2)"]


def test_csv_json_roundtrip(spark, tmp_path):
    """Format breadth: the same relation written and re-read as CSV and
    JSON survives with values intact."""
    src = load_table(spark, SF_DIR, "nation")
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    src.write.mode("overwrite").option("header", True).csv(csv_dir)
    src.write.mode("overwrite").json(json_dir)

    csv_back = (
        spark.read.option("header", True).option("inferSchema", True).csv(csv_dir)
    )
    json_back = spark.read.json(json_dir)
    orc_dir = str(tmp_path / "orc")
    src.write.mode("overwrite").orc(orc_dir)
    orc_back = spark.read.orc(orc_dir)
    want = {(r["n_nationkey"], r["n_name"]) for r in src.collect()}
    assert {(r["n_nationkey"], r["n_name"]) for r in csv_back.collect()} == want
    assert {(r["n_nationkey"], r["n_name"]) for r in json_back.collect()} == want
    assert {(r["n_nationkey"], r["n_name"]) for r in orc_back.collect()} == want


def test_xml_roundtrip(spark, tmp_path):
    """Format breadth: Spark 4's built-in XML source round-trips the
    same relation (rowTag framing on both write and read; numeric
    columns come back via schema inference)."""
    src = load_table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    xml_dir = str(tmp_path / "xml")
    (
        src.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(xml_dir)
    )
    back = spark.read.format("xml").option("rowTag", "nation").load(xml_dir)
    want = {(r["n_nationkey"], r["n_name"]) for r in src.collect()}
    assert {(int(r["n_nationkey"]), r["n_name"]) for r in back.collect()} == want


def test_partitioned_sink_prunes(spark, tmp_path):
    """Partitioned parquet written BY cluster_id must (a) round-trip and
    (b) prune partitions when filtered on the partition column."""
    from kmeans_with_mapreduce_cuda_spark.operators.kmeans import assign_2d
    from kmeans_with_mapreduce_cuda_spark.sources.readers import points_xy
    from kmeans_with_mapreduce_cuda_spark.sources.writers import (
        write_partitioned_parquet,
    )

    cents = [(10.0, 20000.0), (25.0, 50000.0), (40.0, 80000.0)]
    a = assign_2d(points_xy(spark, SF_DIR), cents)
    out = str(tmp_path / "by_cluster")
    write_partitioned_parquet(a, out, ["cluster_id"])

    back = spark.read.parquet(out)
    assert back.count() == a.count()

    one = back.where(F.col("cluster_id") == 1)
    want = a.where(F.col("cluster_id") == 1).count()
    assert one.count() == want
    plan = one._sc._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cluster_id" in pf[0], plan


def test_partitioned_sink_bounds_dictionaries(spark, tmp_path):
    """write_partitioned_parquet keeps a column chunk's parquet
    dictionary only while it holds at most DICTIONARY_BYTES: 2,048
    distinct bigints keep theirs, 3,000 (a dictionary parquet's default
    bound would keep) and a unique id or double are written PLAIN, and
    a 3-value column keeps its dictionary."""
    import pyarrow.parquet as pq

    from kmeans_with_mapreduce_cuda_spark.sources.writers import (
        DICTIONARY_BYTES,
        write_partitioned_parquet,
    )

    assert DICTIONARY_BYTES == 2048 * 8
    # one task and 10,000 consecutive ids per partition value: one file
    # per partition, one row group, below parquet's first page boundary
    df = spark.range(20_000, numPartitions=1).select(
        "id",
        (F.col("id") % 3).alias("few"),
        (F.col("id") % 2048).alias("at_bound"),
        (F.col("id") % 3000).alias("past_bound"),
        (F.col("id") * 0.5).alias("d"),
        F.floor(F.col("id") / 10_000).alias("cluster_id"),
    )
    out = str(tmp_path / "by_cluster")
    write_partitioned_parquet(df, out, ["cluster_id"])

    files = glob.glob(os.path.join(out, "cluster_id=*", "*.parquet"))
    assert len(files) == 2, files
    has_dict = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert md.num_row_groups == 1 and md.num_rows == 10_000
        for c in range(md.num_columns):
            col = md.row_group(0).column(c)
            has_dict.setdefault(col.path_in_schema, set()).add(col.has_dictionary_page)
    assert has_dict == {
        "id": {False},
        "few": {True},
        "at_bound": {True},
        "past_bound": {False},
        "d": {False},
    }


def test_read_points_text_drops_malformed_lines(spark, tmp_path):
    """ANSI-mode robustness: junk lines are dropped (try_cast), clean
    lines keep their file-order ids -- the reference scanner would read
    garbage coords instead (kmeans_with_mapreduce-cuda.cu:52-70)."""
    p = tmp_path / "dirty.txt"
    p.write_text("1 2\nnot numbers\n3\n4 5\n  6\t7  \nx 9\n")
    got = read_points_text(spark, str(p)).select("x", "y").collect()
    assert sorted((r["x"], r["y"]) for r in got) == [(1, 2), (4, 5), (6, 7)]


_INT_TOKEN = re.compile(rb"[+-]?[0-9]+")


def _contract_points(data: bytes) -> list[tuple[int, int]]:
    """Pure-Python oracle of the point-line contract: ASCII-whitespace
    tokens, the first two kept, a line dropped unless both are signed
    decimal integers in bigint range."""
    out = []
    for line in data.split(b"\n"):
        toks = line.split()[:2]  # bytes.split(): runs of ASCII whitespace
        if len(toks) == 2 and all(_INT_TOKEN.fullmatch(t) for t in toks):
            x, y = (int(t) for t in toks)
            if all(-(2**63) <= v < 2**63 for v in (x, y)):
                out.append((x, y))
    return sorted(out)


_token = st.one_of(
    st.integers(-(2**63), 2**63 - 1).map(str),
    st.integers(0, 10**6).map(lambda v: f"+{v}"),
    # 19 digits straddle the bigint bounds; 20 digits are always out
    st.integers(10**18, 10**19 - 1).map(str),
    st.integers(-(10**19) + 1, -(10**18)).map(str),
    st.integers(10**19, 10**20 - 1).map(str),
    st.integers(0, 999).map(lambda v: f"00{v}"),
    st.sampled_from(["1_000", "bad", "1.5", "0x10", "-", "+"]),
)
#: control bytes that are not ASCII whitespace, and DEL: try_cast trims
#: them around a token, the contract does not
_ctrl = st.text(
    alphabet=[chr(c) for c in (*range(0x00, 0x09), *range(0x0E, 0x20), 0x7F)],
    max_size=1,
)
_blank = st.text(alphabet=" \t", max_size=3)
_gap = st.text(alphabet=" \t", min_size=1, max_size=3)


@st.composite
def _point_line(draw) -> str:
    toks = [
        draw(_ctrl) + tok + draw(_ctrl)
        for tok in draw(st.lists(_token, max_size=3))
    ]
    seps = ["", *(draw(_gap) for _ in toks[1:])]
    body = "".join(sep + tok for sep, tok in zip(seps, toks))
    end = draw(st.sampled_from(["\n", "\r\n"]))
    return draw(_blank) + body + draw(_blank) + end


def test_read_points_text_matches_contract_oracle(spark, tmp_path):
    """Property test of the one point parser: on lines with runs of
    spaces and tabs anywhere, CRLF endings, signs, leading zeros, 19-
    and 20-digit tokens, underscores, control bytes next to tokens, 3
    tokens, blank and junk lines, read_points_text's (x, y) multiset
    equals the contract oracle."""
    paths = (str(tmp_path / f"pts_{i}.txt") for i in itertools.count())

    @settings(max_examples=25, deadline=None)
    @given(st.lists(_point_line(), max_size=20))
    def check(lines):
        data = "".join(lines).encode()
        path = next(paths)
        with open(path, "wb") as f:
            f.write(data)
        got = sorted(
            (r["x"], r["y"]) for r in read_points_text(spark, path).collect()
        )
        assert got == _contract_points(data), data

    check()


def test_read_points_text_lines_off_the_fast_path(spark, tmp_path):
    """Lines that are not two canonical bigints around one space leave
    the fast path for the regex and parse as the contract says; a
    control byte or DEL next to a token, which try_cast would trim,
    drops the line on either path."""
    want = {
        "5 6 7": (5, 6),
        "9\t10 11": (9, 10),
        " 12 13": (12, 13),
        "+14 15": (14, 15),
        "007 8": (7, 8),
        "16 17\r": (16, 17),
        "-0 18": (0, 18),
        "19 -20": (19, -20),
        "21\x01 22": None,
        "\x0023 24": None,
        "25 26\x1f": None,
        "27\x7f 28": None,
        "29 \x1e30 31": None,
    }
    p = tmp_path / "off_fast_path.txt"
    p.write_bytes("".join(f"{ln}\n" for ln in want).encode())
    got = sorted((r["x"], r["y"]) for r in read_points_text(spark, str(p)).collect())
    assert got == sorted(xy for xy in want.values() if xy is not None)
    assert got == _contract_points(p.read_bytes())


_MIXED_POINTS = (
    "\t5 6\n7 8\n  9\t10\r\n\t 11 12\n1_000 2\n"
    "99999999999999999999 1\n13 14 15\n17 18\r19 20\nbad\n\n"
    "21\x01 22\n\x0023 24\n"
)


def test_batch_and_stream_readers_parse_alike(spark, tmp_path):
    """read_points_text and read_points_stream share one parser and one
    line end (LF): on tab-led, CRLF, lone-CR, underscore, overflowing,
    3-token, control-byte and junk lines they return the same points."""
    p = tmp_path / "mixed.txt"
    p.write_text(_MIXED_POINTS)
    want = {(5, 6), (7, 8), (9, 10), (11, 12), (13, 14), (17, 18)}
    batch = read_points_text(spark, str(p)).collect()
    assert {(r["x"], r["y"]) for r in batch} == want

    q = (
        read_points_stream(spark, str(p))
        .writeStream.format("memory")
        .queryName("mixed_points")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()
    stream = spark.table("mixed_points").collect()
    assert {(r["x"], r["y"]) for r in stream} == want
    # line_no is each kept line's start byte offset
    assert {r["line_no"] for r in stream} == {
        _MIXED_POINTS.index(ln)
        for ln in ("\t5", "7 8", "  9", "\t 11", "13 ", "17 ")
    }


def test_read_points_text_coordinates_are_not_nullable(spark, tmp_path):
    """The executed plan, whose output schema a cache of the points
    stores, gives non-nullable ``x`` and ``y``, as a filter on each of
    them did."""
    p = tmp_path / "mixed.txt"
    p.write_text(_MIXED_POINTS)
    out = read_points_text(spark, str(p))._jdf.queryExecution().executedPlan().output()
    nullable = {out.apply(i).name(): out.apply(i).nullable() for i in range(out.size())}
    assert nullable == {"id": False, "x": False, "y": False}


def test_load_table_memo_invalidates_on_mtime(spark, tmp_path):
    """The per-(session, mtime) base-scan memo must return the SAME
    DataFrame object while the file is unchanged (the gate's ~90
    queries stop re-paying listing + schema resolution) and a FRESH
    scan when the file is rewritten (fixture regeneration)."""
    import os
    import shutil

    from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table

    d = str(tmp_path)
    shutil.copyfile(
        os.path.join(SF_DIR, "nation.parquet"),
        os.path.join(d, "nation.parquet"),
    )
    a = load_table(spark, d, "nation")
    b = load_table(spark, d, "nation")
    assert a is b
    # rewrite -> new mtime -> new scan object
    os.utime(os.path.join(d, "nation.parquet"), ns=(1, 1))
    c = load_table(spark, d, "nation")
    assert c is not a
    assert c.count() == a.count()


def test_compressed_formats_roundtrip(spark, tmp_path):
    """Codec breadth: zstd/snappy parquet and gzip text all round-trip.
    At 100 TB the codec choice is a real knob (zstd ~30% smaller than
    snappy at similar scan cost); gzip text is the classic
    non-splittable trap -- fine as a sink, never as a scan source for
    big files (one partition per .gz)."""
    src = load_table(spark, SF_DIR, "nation")
    want = {(r["n_nationkey"], r["n_name"]) for r in src.collect()}

    for codec in ("zstd", "snappy"):
        d = str(tmp_path / codec)
        src.write.mode("overwrite").option("compression", codec).parquet(d)
        back = spark.read.parquet(d)
        assert {
            (r["n_nationkey"], r["n_name"]) for r in back.collect()
        } == want, codec

    gz = str(tmp_path / "gz")
    src.select(
        F.concat_ws("|", "n_nationkey", "n_name").alias("value")
    ).write.mode("overwrite").option("compression", "gzip").text(gz)
    back = spark.read.text(gz).select(
        F.split("value", r"\|").alias("p")
    ).select(
        F.col("p")[0].cast("int").alias("k"), F.col("p")[1].alias("n")
    )
    assert {(r["k"], r["n"]) for r in back.collect()} == want


def test_load_table_events_handles_both_ts_physical_types(spark, tmp_path):
    """The driver regenerates fixtures between rounds and the events.ts
    parquet physical type has ALREADY flipped once (TIMESTAMP(NANOS)
    through round 2, plain timestamp[us] from round 3).  load_table must
    yield identical instants for both encodings of the same data."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [1_700_000_000_000_000 + i * 37_000_000 for i in range(200)]  # us
    # instants whose nanos exceed double's 53-bit mantissa by JUST enough
    # that the old (ts / 1000).cast("long") double path truncated them one
    # microsecond low -- the exact `div` rebuild must keep them intact
    ts += [1527181348791376, 1788192812650256, 1543695572267472]
    base = {
        "event_id": list(range(len(ts))),
        "user_id": [i % 7 for i in range(len(ts))],
    }

    us_dir, ns_dir = str(tmp_path / "us"), str(tmp_path / "ns")
    for d in (us_dir, ns_dir):
        os.makedirs(d)
    pq.write_table(
        pa.table({**base, "ts": pa.array(ts, pa.timestamp("us"))}),
        os.path.join(us_dir, "events.parquet"),
    )
    pq.write_table(
        pa.table({**base, "ts": pa.array([t * 1000 for t in ts], pa.timestamp("ns"))}),
        os.path.join(ns_dir, "events.parquet"),
    )

    got_us = {
        (r["event_id"], r["ts"])
        for r in load_table(spark, us_dir, "events").collect()
    }
    got_ns = {
        (r["event_id"], r["ts"])
        for r in load_table(spark, ns_dir, "events").collect()
    }
    assert got_us == got_ns
    assert len(got_us) == len(ts)


def test_points_text_stream_reader_tails_file_exactly_once(spark, tmp_path):
    """Streaming source: availableNow drains of read_points_stream
    against one checkpoint must (1) ship each line exactly once across
    restarts, (2) hold back a partial trailing line until its newline
    lands, (3) split each catch-up range into executor-side byte-range
    tasks, and (4) parse like read_points_text -- a tab-led line
    arrives, a 20-digit token drops its line without failing the query."""
    src = str(tmp_path / "feed.txt")
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "out")

    def drain():
        # parquet sink: checkpoint-recoverable (the memory sink is not),
        # so each availableNow drain resumes from the committed offset
        q = (
            read_points_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()
        return {
            (r["x"], r["y"]) for r in spark.read.parquet(out).collect()
        }

    with open(src, "w") as f:
        for i in range(100):
            f.write(f"{i} {i * 2}\n")
        f.write("\t1000 2000\n")
        f.write("99999999999999999999 1\n")
    first = {(i, 2 * i) for i in range(100)} | {(1000, 2000)}
    assert drain() == first

    # append 50 complete lines + one PARTIAL line (no newline): the
    # partial "999 9" must NOT ship as a truncated-but-parseable point
    with open(src, "a") as f:
        for i in range(100, 150):
            f.write(f"{i} {i * 2}\n")
        f.write("999 9")
    second = first | {(i, 2 * i) for i in range(100, 150)}
    assert drain() == second  # exactly once, no (999, 9)

    # complete the partial line: exactly the finished point arrives
    with open(src, "a") as f:
        f.write("99\n")
    assert drain() == second | {(999, 999)}
    assert spark.read.parquet(out).count() == len(second) + 1


def test_register_views_drops_stale_view_for_missing_table(spark, tmp_path):
    """register_views against a fixture dir MISSING a table must drop any
    same-named temp view left by an earlier call with a different sf_dir
    -- otherwise spark.sql silently reads the previous fixture's rows
    inside the correctness gate (round-7 advisor finding)."""
    import shutil

    import pytest
    from pyspark.errors import AnalysisException

    from kmeans_with_mapreduce_cuda_spark.sources.readers import (
        register_views,
    )

    partial = tmp_path / "partial_sf"
    partial.mkdir()
    # Keep only region in the partial fixture; nation is absent.
    shutil.copy(
        os.path.join(SF_DIR, "region.parquet"),
        str(partial / "region.parquet"),
    )

    try:
        register_views(spark, SF_DIR)  # full fixture: nation view exists
        assert spark.sql("SELECT count(*) AS n FROM nation").first()["n"] > 0

        register_views(spark, str(partial))
        assert spark.sql("SELECT count(*) AS n FROM region").first()["n"] > 0
        with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
            spark.sql("SELECT count(*) FROM nation").collect()
    finally:
        # Restore the full fixture even on failure -- later spark.sql
        # tests in this session-scoped fixture depend on the views.
        register_views(spark, SF_DIR)


def _artifact_scratch(tmp_path, monkeypatch):
    """A private temp dir for fixture artifacts, and a one-table
    fixture dir whose ``t.parquet`` stands in for a source table."""
    import tempfile

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"source bytes")
    return str(scratch), str(sf)


def test_fixture_artifact_writes_once_per_fixture_content(tmp_path, monkeypatch):
    """A second call serves the committed directory without calling
    ``write``; touching the source keys a new directory and a new
    write."""
    from kmeans_with_mapreduce_cuda_spark.sources.readers import fixture_artifact

    _scratch, sf = _artifact_scratch(tmp_path, monkeypatch)
    calls = []

    def write(path: str) -> None:
        calls.append(path)
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as f:
            f.write("rows")

    a = fixture_artifact(sf, "t", "kmrc_test", write)
    assert os.listdir(a) == ["part-0"] and len(calls) == 1
    assert fixture_artifact(sf, "t", "kmrc_test", write) == a
    assert len(calls) == 1

    os.utime(os.path.join(sf, "t.parquet"), ns=(1, 1))
    b = fixture_artifact(sf, "t", "kmrc_test", write)
    assert b != a and len(calls) == 2
    assert os.listdir(b) == ["part-0"]


def test_fixture_artifact_failed_write_leaves_nothing(tmp_path, monkeypatch):
    """A ``write`` that raises leaves no directory behind, neither the
    artifact nor its temporary sibling, so the next call writes."""
    import pytest

    from kmeans_with_mapreduce_cuda_spark.sources.readers import (
        fixture_artifact,
        fixture_keyed_tmpdir,
    )

    _scratch, sf = _artifact_scratch(tmp_path, monkeypatch)

    def half_then_fail(path: str) -> None:
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w") as f:
            f.write("half")
        raise RuntimeError("disk full")

    with pytest.raises(RuntimeError, match="disk full"):
        fixture_artifact(sf, "t", "kmrc_test", half_then_fail)
    dest = fixture_keyed_tmpdir(sf, "t", "kmrc_test")
    assert os.listdir(os.path.dirname(dest)) == []

    calls = []

    def write(path: str) -> None:
        calls.append(path)
        os.makedirs(path)

    assert fixture_artifact(sf, "t", "kmrc_test", write) == dest
    assert len(calls) == 1 and os.path.isdir(dest)


def test_fixture_artifact_commit_prunes_superseded_siblings(tmp_path, monkeypatch):
    """A commit removes the same prefix's artifacts built from the same
    source file (older content) or from a source file that is gone; an
    artifact of another table or fixture dir, another prefix's, and a
    ``.tmp.<pid>`` sibling stay."""
    from kmeans_with_mapreduce_cuda_spark.sources.readers import fixture_artifact

    _scratch, sf = _artifact_scratch(tmp_path, monkeypatch)
    sf2 = tmp_path / "sf2"
    sf2.mkdir()
    (sf2 / "t.parquet").write_bytes(b"other fixture")
    (tmp_path / "sf" / "u.parquet").write_bytes(b"other table")

    def write(path: str) -> None:
        os.makedirs(path)

    def dirs(root: str) -> set[str]:
        return {n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n))}

    a = fixture_artifact(sf, "t", "kmrc_test", write)
    root = os.path.dirname(a)
    other_table = fixture_artifact(sf, "u", "kmrc_test", write)
    other_fixture = fixture_artifact(str(sf2), "t", "kmrc_test", write)
    other_prefix = fixture_artifact(sf, "t", "kmrc_other", write)
    in_flight = f"{a}.tmp.12345"
    os.makedirs(in_flight)

    os.utime(os.path.join(sf, "t.parquet"), ns=(1, 1))
    b = fixture_artifact(sf, "t", "kmrc_test", write)
    names = {os.path.basename(p) for p in (b, other_table, other_fixture, other_prefix, in_flight)}
    assert dirs(root) == names  # ``a`` went; one directory for sf/t.parquet

    os.remove(os.path.join(sf, "u.parquet"))
    os.utime(os.path.join(sf, "t.parquet"), ns=(2, 2))
    c = fixture_artifact(sf, "t", "kmrc_test", write)
    names = {os.path.basename(p) for p in (c, other_fixture, other_prefix, in_flight)}
    assert dirs(root) == names  # ``b`` and the deleted source's artifact went
    assert not os.path.exists(f"{other_table}.src")


def test_points_cache_falls_back_when_scratch_root_is_a_symlink(
    spark, tmp_path, monkeypatch
):
    """A pre-planted symlink at the per-user scratch root makes
    fixture_artifact raise OSError before anything is written, and
    points_from_lineitem_cached then serves the uncached projection:
    the same rows, with nothing written behind the link."""
    import pytest

    from kmeans_with_mapreduce_cuda_spark.sources.readers import (
        fixture_artifact,
        points_from_lineitem,
        points_from_lineitem_cached,
    )

    scratch, _sf = _artifact_scratch(tmp_path, monkeypatch)
    planted = tmp_path / "planted"
    planted.mkdir()
    uid = os.getuid() if hasattr(os, "getuid") else 0
    os.symlink(planted, os.path.join(scratch, f"kmrc_u{uid}"))

    def never(path: str) -> None:
        raise AssertionError("write must not run")

    with pytest.raises(OSError, match="not a real directory"):
        fixture_artifact(SF_DIR, "lineitem", "kmrc_points", never)
    got = points_from_lineitem_cached(spark, SF_DIR)
    want = points_from_lineitem(spark, SF_DIR)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert os.listdir(planted) == []
