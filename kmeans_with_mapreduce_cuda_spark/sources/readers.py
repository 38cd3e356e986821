"""Sources: the reference's text scanner re-expressed declaratively, plus
the parquet catalog for the driver fixtures.

Reference parity: the CUDA driver reads the first NUM_INPUT lines of a
whitespace-separated 2-column integer file with ``istringstream >>``
(kmeans_with_mapreduce-cuda.cu:52-70, NUM_INPUT config.cuh:12).  Here that
is a ``spark.read.text`` scan + a split/cast projection; the row cap is a
``limit``.  At scale you would never cap by "first N file lines" (it is
inherently sequential); the parity path coalesces to one partition only
when a strict first-N is requested on a small file.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, Iterable
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

#: Every fixture table the driver materializes (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def fixture_cache_key(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple | None:
    """THE session+fixture invalidation key: (applicationId, sf_dir,
    name, file content signature), or None when the file can't be
    stat'ed.  The fixtures regenerate between rounds and a session can
    span a regeneration, so every in-process memo over fixture content
    keys on this -- through its one caller, ``fixture_memo``, so the
    recipe can't drift between call sites."""
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        sig = _fixture_sig(path)
    except OSError:
        return None
    return (spark.sparkContext.applicationId, sf_dir, name, sig)


class _Held(NamedTuple):
    app: str
    key: tuple | None  # None: un-stat-able input, never served
    value: Any
    release: Callable[[Any], None] | None


#: slot -> the one value memoized there.  Owned by fixture_memo and
#: fixture_memo_drop; nothing else writes it.
_FIXTURE_MEMO: dict[Hashable, _Held] = {}


def fixture_memo(
    spark: SparkSession,
    sf_dir: str,
    tables: Iterable[str],
    slot: Hashable,
    build: Callable[[], Any],
    release: Callable[[Any], None] | None = None,
) -> Any:
    """The session's one memo over fixture content: the value ``build()``
    returns for the current content of ``tables`` in ``sf_dir``, held in
    ``slot`` (one value per slot).

    The key is every table's ``fixture_cache_key``.  While the slot
    holds that key its value is returned without calling ``build``.
    Otherwise the slot's old value goes to its ``release``, and the new
    one is built, stored and returned.  Every insert also releases and
    drops the entries of other sessions (applicationIds): a
    stop/recreate cycle would otherwise pin dead plans, and persisted
    data, for the process lifetime.  When a table can't be stat'ed
    (absent file, non-local URI) the value is built on every call and
    never served; it stays in the slot only until the slot's next call
    or ``fixture_memo_drop`` releases it, so callers need no
    uncached branch and never own the value."""
    app = spark.sparkContext.applicationId
    keys = tuple(fixture_cache_key(spark, sf_dir, t) for t in tables)
    key = None if None in keys else keys
    held = _FIXTURE_MEMO.get(slot)
    if key is not None and held is not None and held.key == key:
        return held.value
    for s in [s for s, h in _FIXTURE_MEMO.items() if s == slot or h.app != app]:
        fixture_memo_drop(s)
    value = build()
    _FIXTURE_MEMO[slot] = _Held(app, key, value, release)
    return value


def fixture_memo_drop(slot: Hashable) -> None:
    """Empty ``slot`` and release its value; a no-op on an empty slot."""
    held = _FIXTURE_MEMO.pop(slot, None)
    if held is not None and held.release is not None:
        held.release(held.value)


def _fixture_sig(path: str) -> tuple:
    """The (mtime_ns, size) content signature of a file-or-directory
    fixture; raises OSError when it can't be stat'ed.  For a
    directory-shaped table (what Spark's writer produces): a part file
    rewritten IN PLACE leaves the directory's own mtime unchanged, so
    the signature must cover the files -- a MATERIALIZED memo (e.g.
    the SemDeDup build cache) would otherwise serve results computed
    from the old bytes (r9 review finding).  Walk the FULL tree, not
    one level: a partitioned layout nests part files under key=value
    dirs whose own mtime doesn't move on an in-place rewrite either
    (r10 advice), and include st_size so an equal-mtime same-length
    race still differs when content length changes.  Shared by
    fixture_cache_key AND fixture_keyed_tmpdir so the in-process and
    on-disk cache recipes cannot drift (code-review r10: the tmpdir
    key was a weaker second copy -- top-level stat, second-granularity
    mtime -- that went stale exactly where this one was hardened)."""
    import os

    st = os.stat(path)
    if os.path.isdir(path):
        entries = []
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            for f in files:
                fst = os.stat(os.path.join(root, f))
                entries.append(
                    (os.path.join(rel, f), fst.st_mtime_ns, fst.st_size)
                )
        return tuple(sorted(entries))
    return (st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one fixture table.  Column pruning + predicate
    pushdown reach the scan because callers select/filter on the returned
    DataFrame before any action (check ``.explain``: ReadSchema/PushedFilters).

    The events table carries TIMESTAMP(NANOS) which Spark's parquet reader
    rejects; read nanos as long (legacy conf) and rebuild a proper
    timestamp column at microsecond precision.

    The base DataFrame is memoized per (session, file content): the
    driver's gate runs ~90 queries against the same immutable fixture
    dir in one session, and re-running file listing + footer/schema
    resolution per query is ~0.1-0.2 s of pure wall-clock each.
    """
    return fixture_memo(
        spark,
        sf_dir,
        (name,),
        ("table", sf_dir, name),
        lambda: _load_table_uncached(spark, sf_dir, name),
    )


def adapt_events_ts(df: DataFrame) -> DataFrame:
    """Rebuild a nanos-as-long ``ts`` column at microsecond precision.

    Idempotent: a re-written events table (our own sinks, empty mirrors)
    already carries a real TIMESTAMP -- only raw nanos-longs need
    rebuilding.  The division MUST be integer ``div``: Spark's ``/`` on
    BIGINT is IEEE double division, and epoch nanos (~1.7e18) exceed
    double's 53-bit mantissa, so ``(ts / 1000).cast("long")`` truncates
    ~1.6% of microsecond-precision instants one microsecond low (e.g.
    1527181348791376 us -> ...375).  Shared by the batch reader and
    ``streaming.read_events_stream`` so the batch-vs-stream equality the
    tests assert can't drift (code-review r10)."""
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread_scan(df: DataFrame) -> DataFrame:
    """Raise a SCAN-bounded plan's parallelism to the session default
    when the source offers fewer splits (guide §2.5 "input skew: one
    huge unsplittable file ... repartition immediately after the read").

    The fixture parquet is written as a single row group per file, so
    by format a scan is ONE task no matter how many cores the session
    has -- and every narrow per-row compute stage stacked on it (md5
    shingle hashing, k x 64-dim assignment distances, 64-term pair dot
    products through an in-memory cache built from the scan) runs
    serially on one core (r11 measurement: the SemDeDup pair join's
    250k x 64-term dot filter ran in ONE task, ~1.0 s that 32 cores
    never touched).  Round-robin repartition to defaultParallelism
    spreads those stages across the session's cores; the exchange
    moves only the scan's own rows once, before the expensive lineage.

    Scale-adaptive, not local-tuned: ``defaultParallelism`` is the
    session's core count at any deployment size, and a corpus-scale
    input (more splits than cores) short-circuits to the identity --
    no exchange is ever added to a scan that already parallelizes.
    Row-level results are unaffected: round-robin repartition only
    changes physical placement, and every consumer below is a
    row-order-agnostic aggregate/join.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def set_events_parquet_confs(spark: SparkSession) -> None:
    """Set the session confs every read of events.parquet needs, batch
    (``load_table``) or stream (``streaming.read_events_stream``).

    A TIMESTAMP(NANOS) ``ts`` is readable only as a long, which
    :func:`adapt_events_ts` rebuilds.  A regenerated fixture may store
    micros with isAdjustedToUTC=false; without the second conf Spark
    infers TIMESTAMP_NTZ, which breaks unix_micros()/RANGE-window
    arithmetic and diverges from the DuckDB oracle's naive-UTC reading.
    Read them as instants (LTZ)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        set_events_parquet_confs(spark)
        return adapt_events_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for ``spark.sql``.

    Tables whose parquet file is absent are skipped — the scale-probe
    contract (tests/gate.py) is that a fixture directory needs
    only the tables the chosen queries actually read, and the DuckDB
    side of the probe (``gate.duck``) skips missing files the same way.
    Skipping must also DROP any same-named temp view left by an earlier
    call with a different sf_dir: otherwise a query against the absent
    table silently reads the previous fixture's rows instead of failing
    with TABLE_OR_VIEW_NOT_FOUND — silent wrong data inside the
    correctness gate (round-7 advisor finding).
    """
    import os

    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        else:
            spark.catalog.dropTempView(t)  # no-op when absent


#: the contract as one regex: optional leading whitespace, two signed
#: decimal tokens separated by whitespace, then whitespace or the end
_POINT_LINE = r"\A\s*([+-]?[0-9]+)\s+([+-]?[0-9]+)(?:\s|\z)"


def _parse_points(lines: DataFrame, *keep) -> DataFrame:
    """The one parser of the point format: each ``value`` line of
    ``lines`` -> bigint ``x``, ``y`` (after the ``keep`` columns).

    The reference scanner's contract (kmeans_with_mapreduce-cuda.cu:52-70):
    any run of ASCII whitespace separates tokens; leading and trailing
    whitespace is allowed; with 3+ tokens the first two are kept; a line
    whose first two tokens are not both decimal integers (optional sign)
    in bigint range is dropped -- the reference would read garbage
    coordinates instead.

    Fast path: the line is exactly ``x SP y`` with both bigints in
    canonical form, the shape the reference's writer emits.
    ``substring_index`` cuts the text before the first and after the
    last space, the two cuts and the space must make the whole line,
    and each cut must equal its ``try_cast`` written back.  That last
    test rejects what ``try_cast`` would forgive: it trims every byte up
    to 0x20 and DEL around a token, so ``"5\\x01"`` would read as 5.
    Every other line (tabs, runs of spaces, leading or trailing
    whitespace, CR, signs, leading zeros, 3+ tokens, junk) takes
    ``regexp_extract`` of ``_POINT_LINE``, whose pattern is compiled
    once per task (``split(value, '\\s+')`` runs ``String.split``,
    which compiles its pattern again on every line).  The regex alone
    is no faster than that split on canonical lines, and a line that
    takes it is dearer than with the split: a projection of ``x`` and
    ``y`` runs it three times, as case branches get no common
    subexpression elimination.

    Only ``x`` is filtered: it is NULL unless both coordinates parse.
    A ``count()`` prunes the ``keep`` columns and pushes the filter
    into the scan with ``x`` inlined, and a filter gets no common
    subexpression elimination, so a filter on ``x`` and ``y`` ran the
    fast-path test twice per line there.  ``y`` is wrapped in a
    ``coalesce`` with 0 that no kept row reaches (a NULL ``y`` means a
    NULL ``x``) so that both columns stay non-nullable, as a filter on
    each made them.  try_cast, not cast: ANSI mode (Spark 4 default)
    makes a plain cast throw on a malformed token.
    """
    value = F.col("value")
    a, b = F.substring_index(value, " ", 1), F.substring_index(value, " ", -1)
    fa, fb = a.try_cast("long"), b.try_cast("long")
    fast = (
        (F.octet_length(a) + F.octet_length(b) + 1 == F.octet_length(value))
        & (fa.cast("string") == a)
        & (fb.cast("string") == b)
    )
    sx, sy = (F.regexp_extract(value, _POINT_LINE, i).try_cast("long") for i in (1, 2))
    return lines.select(
        *keep,
        F.when(fast, fa).when(sy.isNotNull(), sx).alias("x"),
        F.coalesce(F.when(fast, fb).otherwise(sy), F.lit(0)).alias("y"),
    ).where(F.col("x").isNotNull())


def read_points_text(
    spark: SparkSession, path: str, limit: int | None = None
) -> DataFrame:
    """Whitespace-separated 2-column integer text -> DataFrame[id,x,y].

    Lines end at LF only, as in the stream source and the reference's
    getline loop: a lone CR is whitespace inside its line, not a line
    end (Spark's text source otherwise also ends lines at CR).  Each
    line is parsed by :func:`_parse_points`: any run of ASCII
    whitespace (spaces, tabs, a CR) separates tokens, leading and
    trailing whitespace is allowed, a third token is ignored, and a line
    whose first two tokens are not both bigint integers is dropped.
    Only the first ``limit`` lines are kept when given (NUM_INPUT
    semantics).

    id contract (code-review r10 clarification): WITH ``limit`` the
    single-partition parity path makes ``id`` the file line number (the
    reference's implicit array index).  WITHOUT ``limit`` ids are
    unique and ascending-within-partition but PARTITION-ENCODED
    (monotonically_increasing_id over however many splits the file
    gets), so they vary with core count / split size -- do not treat
    them as line numbers on the scale path.
    """
    df = spark.read.option("lineSep", "\n").text(path)
    if limit is not None:
        # Strict "first N lines" is a sequential notion; do it on a single
        # partition (parity path -- small files only).  The scale path is
        # parquet without a cap.
        df = df.coalesce(1)
    out = _parse_points(df, F.monotonically_increasing_id().alias("id"))
    if limit is not None:
        out = out.limit(limit)
    return out


def read_points_stream(spark: SparkSession, path: str) -> DataFrame:
    """Tail a growing points file as a stream -> DataFrame[line_no,x,y].

    The ``points_text`` connector ships each complete line once, with
    ``line_no`` its start byte offset (unique, ascending in file order,
    not a line count); :func:`_parse_points` parses it exactly as
    :func:`read_points_text` does."""
    from .points_datasource import register_points_source

    register_points_source(spark)
    lines = spark.readStream.format("points_text").option("path", path).load()
    return _parse_points(lines, "line_no")


def points_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Id-free 2-D points projection for iteration/bench paths: a plain
    narrow scan (no window, no sort), fully parallel.  Use
    :func:`points_from_lineitem` only where per-row identity is needed
    (the oracle parity queries)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )


def fixture_keyed_tmpdir(sf_dir: str, table: str, prefix: str) -> str:
    """Deterministic per-fixture scratch path, keyed on the source
    parquet's (size, mtime): a regenerated fixture invalidates
    naturally and repeated invocations reuse one directory.  Its
    consumers are :func:`fixture_artifact` (every write-once layout)
    and the ORC and CSV round-trip queries, which rewrite on every call
    because the write is what they test.

    Paths live under a per-user 0700 root (``kmrc_u<uid>``) inside the
    system temp dir, and the root's ownership is verified on every
    call: the bare tempdir is world-writable, so a predictable shared
    path there could be pre-planted by another local user and any
    existence-trusting consumer would serve attacker-controlled
    rows (ADVICE r4).  A pre-existing root owned by someone else
    raises OSError -- consumers either fall back to the uncached path
    (points cache) or fail loudly rather than read foreign data.
    Writers must commit via :func:`committed_write`, never in place.
    """
    import hashlib
    import os
    import stat
    import tempfile

    src = os.path.join(sf_dir, f"{table}.parquet")
    sig = _fixture_sig(src)  # the shared tree-walking recipe
    key = hashlib.md5(f"{sf_dir}:{table}:{sig!r}".encode()).hexdigest()[:16]
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.path.join(tempfile.gettempdir(), f"kmrc_u{uid}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    # lstat + islink: makedirs(exist_ok=True) happily accepts a
    # pre-planted SYMLINK to a directory, and a followed stat would
    # check the target's owner -- the attacker-chosen entry itself must
    # be a real directory owned by us (code-review r5 finding).
    st_root = os.lstat(root)
    if os.path.islink(root) or not stat.S_ISDIR(st_root.st_mode):
        raise OSError(f"scratch root {root} is not a real directory")
    if hasattr(os, "getuid") and st_root.st_uid != uid:
        raise OSError(f"scratch root {root} is not owned by uid {uid}")
    os.chmod(root, 0o700)
    return os.path.join(root, f"{prefix}_{key}")


def committed_write(dest: str, write) -> None:
    """Crash- and concurrency-safe directory commit (the points-cache
    protocol, factored for every fixture_keyed_tmpdir consumer): run
    ``write(tmp_path)`` against a pid-suffixed sibling, move any stale
    ``dest`` ASIDE (never delete it in place), rename the fresh dir
    into the gap, then drop the aside copy.  Readers only ever observe
    a fully-written directory -- an in-place ``mode("overwrite")`` on
    the shared path would expose half-written files to a concurrent
    invocation for the whole duration of the write (ADVICE r4), and a
    delete-before-rename would let a LOSING concurrent writer destroy
    the winner's freshly committed output (code-review r5 finding).
    If the final rename loses a race, the winner's (identical,
    fixture-keyed) output stands and this attempt's dirs are
    discarded; if it fails for a NON-race reason the stale aside copy
    is restored and the error RE-RAISED -- the caller must see the
    real failure, not a later missing-path crash (code-review r10).
    A ``write`` that raises leaves neither ``dest`` nor its sibling
    behind."""
    import os
    import shutil

    tmp = f"{dest}.tmp.{os.getpid()}"
    try:
        write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    doomed: str | None = f"{dest}.old.{os.getpid()}"
    try:
        os.rename(dest, doomed)
    except OSError:
        doomed = None  # nothing stale to move aside
    try:
        os.rename(tmp, dest)
    except OSError:
        if os.path.exists(dest):
            # genuine race: a concurrent writer's (identical,
            # fixture-keyed) output stands; ours is redundant
            shutil.rmtree(tmp, ignore_errors=True)
            if doomed is not None:
                shutil.rmtree(doomed, ignore_errors=True)
            return
        # NON-race failure (parent dir permissions, etc.): restore the
        # stale copy if there was one, then RE-RAISE -- silently
        # swallowing destroyed the freshly written output and the
        # caller next crashed on a missing/half-written dest with the
        # real cause hidden (code-review r10)
        if doomed is not None:
            try:
                os.rename(doomed, dest)
            except OSError:
                pass
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if doomed is not None:
        shutil.rmtree(doomed, ignore_errors=True)


def fixture_artifact(sf_dir: str, table: str, prefix: str, write) -> str:
    """The on-disk twin of :func:`fixture_memo`: the directory
    ``write(path)`` produces from the current content of ``table`` in
    ``sf_dir``, written once per fixture content and reused by every
    later call, in this session or another.

    The path is :func:`fixture_keyed_tmpdir`'s; when it does not exist
    it is first produced by :func:`committed_write`.  Existing means
    complete: the commit's rename is the only way the directory
    appears, so a crashed or failed write leaves nothing to serve.
    Raises ``OSError`` where :func:`fixture_keyed_tmpdir` does, and
    whatever ``write`` or the commit raises.

    After a commit, the same prefix's artifacts that this one
    supersedes are removed (best effort): those built from the same
    source table file, and those whose source file no longer exists.
    Each artifact records its source path in a ``<dir>.src`` sibling
    written after its commit -- outside the directory, so the artifact's
    files are exactly what ``write`` produced.  A directory without that
    record (written before it existed, or by a crash between commit and
    record) and every ``.tmp.<pid>`` sibling are left alone."""
    import os
    import re
    import shutil

    dest = fixture_keyed_tmpdir(sf_dir, table, prefix)
    if os.path.exists(dest):
        return dest
    committed_write(dest, write)

    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    record = re.compile(re.escape(prefix) + r"_[0-9a-f]{16}\.src")
    root = os.path.dirname(dest)
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if not record.fullmatch(name) or path == f"{dest}.src":
            continue
        try:
            with open(path) as f:
                other = f.read()
            if other == src or not os.path.exists(other):
                shutil.rmtree(path[: -len(".src")], ignore_errors=True)
                os.remove(path)
        except OSError:
            pass  # a concurrent prune got there first
    tmp = f"{dest}.src.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(src)
    os.replace(tmp, f"{dest}.src")
    return dest


def points_from_lineitem_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized twin of :func:`points_from_lineitem`.

    The id'd points projection carries a global row_number window (a
    single-partition sort) that every parity query would otherwise
    re-run.  Write it ONCE per fixture content to a local parquet
    artifact and serve all subsequent reads as a plain parallel scan --
    same rows, same ids (the window's total order makes content
    deterministic), a fraction of the cost.  When the artifact can't
    be placed or committed (``OSError``), the uncached projection is
    served instead.
    """
    try:
        dest = fixture_artifact(
            sf_dir,
            "lineitem",
            "kmrc_points",
            # round-robin to a handful of files so the cached scan reads
            # in parallel (the window's output is one partition)
            lambda tmp: points_from_lineitem(spark, sf_dir)
            .repartition(8)
            .write.mode("overwrite")
            .parquet(tmp),
        )
    except OSError:
        return points_from_lineitem(spark, sf_dir)
    return spark.read.parquet(dest)


def points_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The harness's 2-D points relation: a deterministic projection of
    lineitem (FIXTURES.md §1 analog) on the (quantity, extendedprice)
    plane.

    ``id`` must be unique for the per-row oracle checks, and the synthetic
    lineitem has duplicate natural keys, so it is a row_number over a total
    order (ties beyond the full sort key are value-identical, hence
    engine-independent).  The global-sort window is parity-harness-only:
    the engine operators (assign/update/lloyd) never reference ``id``, so
    the 100 TB path carries no global sort.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.orderBy(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    return li.select(
        F.row_number().over(w).cast("bigint").alias("id"),
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
