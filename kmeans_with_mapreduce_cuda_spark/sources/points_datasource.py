"""The ``points_text`` streaming source: tail a growing file in the
reference's point format (kmeans_with_mapreduce-cuda.cu:52-70 /
data/birch*.txt) exactly once, for the CLI's ``--follow``.

Why a connector: a batch read is ``spark.read.text``, but Spark's file
stream source picks up whole new files, not lines appended to one file.
This source checkpoints a byte offset, so each complete line ships
exactly once across restarts and a line still being written waits for
its newline.  It yields raw lines; ``sources.readers.read_points_stream``
parses them with the same expression as ``read_points_text``.  Lines end
at ``\\n`` only: a lone ``\\r`` stays inside the line as whitespace.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


class PointsTextDataSource(DataSource):
    """``spark.readStream.format("points_text").load(path)`` ->
    (line_no, value), where ``value`` is one line without its newline
    and ``line_no`` the byte offset at which it starts: unique,
    ascending in file order and the same under any partitioning, but
    not a count of lines.

    Options:
      path          file path (or pass to .load())
      n_partitions  byte-range splits per microbatch (default 4)
    """

    @classmethod
    def name(cls) -> str:
        return "points_text"

    def schema(self) -> str:
        return "line_no bigint, value string"

    def streamReader(self, schema) -> "PointsStreamReader":
        return PointsStreamReader(self.options)


class _ByteRange(InputPartition):
    def __init__(self, path: str, start: int, end: int, index: int):
        self.path = path
        self.start = start
        self.end = end
        self.index = index


def _scan_byte_range(path: str, start: int, end: int):
    """Yield (line_start_offset, line) for every line whose FIRST byte
    lies in [start, end), decoded as UTF-8 (bad bytes replaced) without
    its newline.  Parsing is ``readers._parse_points``'s job.

    Line numbers must be globally consistent across partitions for the
    reference's array-index semantics: counting lines per range would
    need a scan from byte 0, so the line-start byte offset serves as the
    line_no surrogate (monotone in file order, stable under any
    partitioning).

    Hadoop LineRecordReader pairing: a line belongs to the range
    containing its FIRST byte.  The left range breaks (below) before
    reading a line that starts at >= end, so this range must KEEP a
    line that starts exactly at ``start``.  Seeking to start-1 and
    reading one line consumes only the previous line's trailing newline
    when byte start-1 is '\\n' (leaving us positioned exactly at
    ``start``), and otherwise consumes the tail of the partial line the
    left range owns.  An unconditional skip from ``start`` would drop a
    line whose first byte lands exactly on the split boundary -- read
    by neither side.
    """
    with open(path, "rb") as f:
        if start:
            f.seek(start - 1)
            f.readline()
        else:
            f.seek(0)
        while True:
            pos = f.tell()
            if pos >= end:
                break
            line = f.readline()
            if not line:
                break
            yield (pos, line.rstrip(b"\n").decode("utf-8", "replace"))


def register_points_source(spark) -> None:
    """Idempotent registration; after this, ``spark.readStream.format(
    "points_text")`` resolves."""
    spark.dataSource.register(PointsTextDataSource)


def _last_newline_at_or_before(
    path: str, lo: int, hi: int, chunk: int = 1 << 16
) -> int:
    """Largest offset p in (lo, hi] such that byte p-1 is a newline --
    i.e. the end of the last COMPLETE line -- or ``lo`` if no newline
    exists in (lo, hi].  Scans backward in bounded chunks so a huge
    catch-up range never loads into driver memory (``chunk`` is a
    parameter only so tests can force the multi-chunk path)."""
    with open(path, "rb") as f:
        end = hi
        while end > lo:
            start = max(lo, end - chunk)
            f.seek(start)
            buf = f.read(end - start)
            nl = buf.rfind(b"\n")
            if nl >= 0:
                return start + nl + 1
            end = start
    return lo


class PointsStreamReader(DataSourceStreamReader):
    """Streaming side of the connector: tail a growing points file.

    The reference engine is strictly batch; this is the Structured
    Streaming generalization of its scanner -- ``spark.readStream
    .format("points_text")`` turns the same whitespace point file into
    an exactly-once stream (offsets checkpointed by the engine, batch
    replay is deterministic byte-range re-scan).

    Offset model: ``{"pos": <byte offset>}``, the end of the last
    complete line shipped so far.  latestOffset() clamps to the last
    newline at-or-before the current file size so a producer caught
    MID-LINE never yields a truncated-but-parseable point (e.g.
    ``123 456`` seen as ``123 45``); the partial line ships with the
    batch after its newline lands.  Each microbatch's byte range is
    split into ``n_partitions`` executor-side tasks under
    ``_scan_byte_range``'s first-byte ownership rule -- reads happen on
    executors (this is why DataSourceStreamReader, not the driver-side
    SimpleDataSourceStreamReader).  A shrunken file (truncation) raises
    rather than silently rewinding.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("points_text: 'path' option is required")
        self.n_partitions = int(options.get("n_partitions", "4"))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        import os

        try:
            size = os.path.getsize(self.path)
        except OSError:
            # Not-yet-created file -> pos 0 is the true initial state.
            # But once the stream has ADVANCED, mapping a transient
            # stat failure (file rotation, NFS hiccup) to 0 would be
            # misread as truncation and abort the query -- report the
            # last known offset instead so the engine simply sees no
            # new data this cycle (code-review r10).
            return {"pos": getattr(self, "_last_pos", 0)}
        # no clamping to the last offset here: a file that really
        # SHRANK must still surface as the loud truncation error in
        # partitions(), never silently mask
        pos = _last_newline_at_or_before(self.path, 0, size)
        self._last_pos = pos
        return {"pos": pos}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["pos"]), int(end["pos"])
        if hi < lo:
            raise RuntimeError(
                f"points_text stream: file shrank ({hi} < {lo}); "
                "truncation is not a supported stream transition"
            )
        if hi == lo:
            return [_ByteRange(self.path, lo, lo, 0)]
        n = max(1, min(self.n_partitions, hi - lo))
        step = (hi - lo + n - 1) // n
        return [
            _ByteRange(self.path, lo + i * step, min(lo + (i + 1) * step, hi), i)
            for i in range(n)
            if lo + i * step < hi
        ]

    def read(self, partition: _ByteRange):
        return _scan_byte_range(
            partition.path, partition.start, partition.end
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine's checkpoint; nothing to clean

    def stop(self) -> None:
        pass
