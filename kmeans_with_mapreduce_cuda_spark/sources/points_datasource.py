"""A custom Python Data Source (Spark 4 ``pyspark.sql.datasource`` API)
for the reference's whitespace-separated 2-column integer point files
(the format of kmeans_with_mapreduce-cuda.cu:52-70 / data/birch*.txt).

Why a connector and not just ``spark.read.text`` + split (which
``sources.readers.read_points_text`` already does): the reader is the
extensibility surface a real engine exposes, and the DataSource API is
how PySpark 4 lets you implement one in pure Python -- schema
declaration, OPTION handling, and byte-range splitting live behind
``spark.read.format("points_text")`` exactly like a built-in source.

Scale design: the file is split into ``n_partitions`` byte ranges; each
task seeks to its range start, skips the partial line it landed in
(ownership rule: a line belongs to the range containing its FIRST
byte), and reads one line past its range end to finish its last line --
the standard splittable-text-scan contract (what Hadoop TextInputFormat
does), so the scan parallelizes without a driver-side read.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)


class PointsTextDataSource(DataSource):
    """``spark.read.format("points_text").load(path)`` -> (line_no, x, y),
    where ``line_no`` is the byte offset at which the line starts: unique,
    ascending in file order and the same under any partitioning, but not
    a count of lines.

    Options:
      path          file path (or pass to .load())
      n_partitions  byte-range splits (default 4)
    """

    @classmethod
    def name(cls) -> str:
        return "points_text"

    def schema(self) -> str:
        return "line_no bigint, x bigint, y bigint"

    def reader(self, schema) -> "PointsTextReader":
        return PointsTextReader(self.options)

    def writer(self, schema, overwrite: bool) -> "PointsTextWriter":
        if len(schema.fields) < 2:
            raise ValueError(
                "points_text writer needs at least two columns (x, y); "
                f"got {schema.simpleString()}"
            )
        return PointsTextWriter(self.options, overwrite)

    def streamReader(self, schema) -> "PointsStreamReader":
        return PointsStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "PointsStreamWriter":
        if len(schema.fields) < 2:
            raise ValueError(
                "points_text stream writer needs at least two columns "
                f"(x, y); got {schema.simpleString()}"
            )
        return PointsStreamWriter(self.options)


class _ByteRange(InputPartition):
    def __init__(self, path: str, start: int, end: int, index: int):
        self.path = path
        self.start = start
        self.end = end
        self.index = index


class PointsTextReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("points_text: 'path' option is required")
        self.n_partitions = int(options.get("n_partitions", "4"))

    def partitions(self):
        import os

        size = os.path.getsize(self.path)
        n = max(1, min(self.n_partitions, size or 1))
        step = (size + n - 1) // n
        return [
            _ByteRange(self.path, i * step, min((i + 1) * step, size), i)
            for i in range(n)
            if i * step < size or size == 0
        ]

    def read(self, partition: _ByteRange):
        return _scan_byte_range(
            partition.path, partition.start, partition.end
        )


def _scan_byte_range(path: str, start: int, end: int):
    """Yield (line_start_offset, x, y) for every well-formed line whose
    FIRST byte lies in [start, end) -- shared by the batch reader's
    byte-range splits and the stream reader's per-microbatch splits.

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
            parts = line.split()
            if len(parts) < 2:
                continue  # reference scanner yields garbage; we drop
            try:
                x, y = int(parts[0]), int(parts[1])
            except ValueError:
                continue
            yield (pos, x, y)


def register_points_source(spark) -> None:
    """Idempotent registration; after this, ``spark.read.format(
    "points_text")`` resolves."""
    spark.dataSource.register(PointsTextDataSource)


class _PointsCommit(WriterCommitMessage):
    def __init__(self, tmp_file: str, n_rows: int):
        self.tmp_file = tmp_file
        self.n_rows = n_rows


class PointsTextWriter(DataSourceWriter):
    """Write side of the connector: each task writes its partition's
    rows as the reference's whitespace text format to a private temp
    file; the driver COMMITS by renaming them into the target directory
    (task-temp + driver-rename is the standard write-commit protocol --
    a failed/speculated task leaves only orphan temp files, never a
    partially-visible output).  Mirrors the reference's ``--save`` sink
    (kmeans_with_mapreduce-cuda.cu:105-121) at DataFrame scale.
    """

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("points_text: 'path' option is required")
        self.overwrite = overwrite

    def write(self, iterator) -> "_PointsCommit":
        import os
        import tempfile

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            prefix=f"_tmp_points_{pid}_", dir=self.path
        )
        n = 0
        with os.fdopen(fd, "w") as f:
            for row in iterator:
                if row[0] is None or row[1] is None:
                    # The text format has no null representation: a
                    # stringified None would write a line the reader
                    # silently drops on round-trip (loud-not-wrong;
                    # code-review r10).
                    raise ValueError(
                        f"points_text sink: NULL coordinate in row {row!r}; "
                        "the 'x y' line format cannot represent nulls -- "
                        "filter or impute before writing"
                    )
                f.write(f"{row[0]} {row[1]}\n")
                n += 1
        return _PointsCommit(tmp, n)

    def commit(self, messages) -> None:
        import glob
        import os
        import re

        existing = set(glob.glob(os.path.join(self.path, "part-*.txt")))
        if not self.overwrite and existing:
            # Append must not clobber: part files from prior writes keep
            # their names, new files continue the numbering after the
            # highest existing index.
            taken = [
                int(m.group(1))
                for p in existing
                if (m := re.search(r"part-(\d+)\.txt$", p))
            ]
            base = max(taken) + 1 if taken else 0
        else:
            base = 0
        written = set()
        for i, m in enumerate(messages):
            if m is not None:
                final = os.path.join(self.path, f"part-{base + i:05d}.txt")
                os.rename(m.tmp_file, final)  # atomic per-file replace
                written.add(final)
        if self.overwrite:
            # Honor mode("overwrite"): drop stale part files from a prior
            # write with MORE partitions.  Deleting AFTER the renames (not
            # before) keeps the crash window data-safe: each rename
            # atomically replaces its target, so at every instant the
            # directory holds a readable mix of old and new files and a
            # rerun converges -- a delete-first protocol would leave only
            # invisible _tmp_points_* files if the driver died mid-commit.
            for old in existing - written:
                os.remove(old)

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_file):
                os.remove(m.tmp_file)


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
    split into ``n_partitions`` executor-side tasks reusing the batch
    reader's first-byte ownership rule -- reads happen on executors
    (this is why DataSourceStreamReader, not the driver-side
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


class PointsStreamWriter(DataSourceStreamWriter):
    """Streaming sink side of the connector: each microbatch lands as
    the reference's text format under the target directory.

    Exactly-once story: task temp files + driver-rename (same commit
    protocol as the batch writer), with BATCH-ID-DETERMINISTIC final
    names (``part-<batchId>-<task>.txt``) -- when the engine replays a
    microbatch after a failure, commit() re-renames over the same
    targets instead of duplicating data, so the sink is idempotent per
    (batchId, partition).  abort() removes only that attempt's temp
    files; committed batches are never touched.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("points_text: 'path' option is required")

    def write(self, iterator) -> "_PointsCommit":
        import os
        import tempfile

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            prefix=f"_tmp_stream_points_{pid}_", dir=self.path
        )
        n = 0
        with os.fdopen(fd, "w") as f:
            for row in iterator:
                if row[0] is None or row[1] is None:
                    # same null contract as the batch writer above
                    raise ValueError(
                        f"points_text stream sink: NULL coordinate in row "
                        f"{row!r}; the 'x y' line format cannot represent "
                        "nulls -- filter or impute before writing"
                    )
                f.write(f"{row[0]} {row[1]}\n")
                n += 1
        return _PointsCommit(tmp, n)

    def commit(self, messages, batchId: int) -> None:
        import os

        for i, m in enumerate(messages):
            if m is not None:
                os.rename(
                    m.tmp_file,
                    os.path.join(
                        self.path, f"part-{batchId:08d}-{i:05d}.txt"
                    ),
                )

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_file):
                os.remove(m.tmp_file)
