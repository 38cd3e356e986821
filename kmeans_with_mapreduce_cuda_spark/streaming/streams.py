"""Structured Streaming layer over the events table.

The reference is strictly batch (fixed device arrays, SURVEY.md §2.2);
this module adds the streaming capabilities a production pipeline needs,
kept symmetrical with the batch queries so results are cross-checkable:

- ``hourly_counts_stream``  : watermarked event-time window agg -- the
  streaming twin of the batch ``rel_date_funcs`` query.
- ``session_window_stream`` : per-user session windows with a 30 min
  inactivity gap, the streaming twin of ``rel_session_window``.
- ``upsert_latest_foreach_batch`` : a foreachBatch sink keeping the
  latest row per user in parquet state.

Tests drive these with ``trigger(availableNow=True)`` + memory sink and
assert equality with the batch equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: event-time watermark of every windowed/deduplicating events stream
#: here (the stream-stream join keeps views longer, see
#: view_purchase_attribution_stream).
WATERMARK = "2 hours"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream (one file = one batch here;
    in production this is a directory watched for new files, or Kafka).

    The fixture has shipped ts as TIMESTAMP(NANOS) (readable only as a
    long) and as plain micros; peek at the file's static schema once and
    adapt -- a nanos-long ts is rebuilt at microsecond precision, a real
    timestamp passes through (see sources.readers.load_table for the
    same contract on the batch path).
    """
    from ..sources.readers import adapt_events_ts, set_events_parquet_confs

    set_events_parquet_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source wants a directory; glob-filter to the one table
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return adapt_events_ts(raw)


def hourly_counts_stream(events: DataFrame) -> DataFrame:
    """Event-time windowed counts with a watermark: late rows beyond the
    watermark are dropped and window state is evictable -- bounded state
    at any scale."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_str"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """Sliding event-time windows: 1-hour windows every 30 minutes, so
    each event lands in 2 overlapping windows.  Same bounded-state
    argument as the tumbling path -- closed windows are evicted once the
    watermark passes their end; the only scale delta is the x2 state
    fan-out.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_str"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


def enriched_counts_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join + watermarked windowed agg: the static side
    (customer x nation, broadcast) enriches each event STATELESSLY --
    no join state, re-read per microbatch -- then the stateful hourly
    aggregation runs per nation.  The standard fact-stream/dimension
    pattern; at scale the dimension stays broadcast-sized or becomes a
    pre-bucketed storage join.

    ``dim`` must have columns (user_id, n_name).
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("win"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_str"
            ),
            "n_name",
            "n",
            "sum_value",
        )
    )


def view_purchase_attribution_stream(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a prior view by
    the same user within a 2-hour attribution window.  Both sides carry
    a 4-hour watermark and the join condition carries an event-time
    range, which is what lets Spark EVICT join state -- a view older
    than (watermark - attribution window) can never match again and is
    dropped, so state stays bounded at any scale.  The classic
    clickstream attribution shape.
    """
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "4 hours")
    )
    buys = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("buy_user_id"),
            F.col("ts").alias("buy_ts"),
            F.col("value"),
        )
        .withWatermark("buy_ts", "4 hours")
    )
    joined = views.join(
        buys,
        (F.col("user_id") == F.col("buy_user_id"))
        & (F.col("buy_ts") > F.col("view_ts"))
        & (F.col("buy_ts") <= F.expr("view_ts + INTERVAL 2 HOURS")),
    )
    return joined.select(
        "user_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts_str"),
        F.date_format("buy_ts", "yyyy-MM-dd HH:mm:ss").alias("buy_ts_str"),
        F.round("value", 4).alias("purchase_value"),
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key in state only until
    the watermark passes it, so state size is O(keys per watermark
    window) -- the streaming twin of the batch content-hash dedup
    (dedup_exact_keep), and the only formulation that survives an
    unbounded stream (plain dropDuplicates on a stream retains ALL keys
    forever).
    """
    keys = keys or ["event_id"]
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(keys)


# --- transformWithStateInPandas: arbitrary typed state ------------------------

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


def rocksdb_state_confs(changelog: bool = False) -> dict[str, str]:
    """Session confs that switch stateful streaming to the RocksDB state
    store provider; pin them around a query with
    ``session.pinned_confs(spark, rocksdb_state_confs())``.

    The default HDFS-backed provider keeps every key's state in executor
    HEAP with full-file checkpoint uploads -- fine for the fixture-sized
    gates here, an OOM at 100 TB stream state (billions of dedup keys /
    session windows).  RocksDB spills state to local disk, checkpoints
    incrementally, and bounds memory via block cache: it is THE provider
    choice for large-state production streams.  Results are
    provider-independent (asserted in tests/test_streaming.py); only the
    memory/checkpoint profile changes.  Applies to queries STARTED
    inside the pin.

    ``changelog=True`` additionally enables CHANGELOG checkpointing:
    each commit uploads only the batch's key deltas (``N.changelog``)
    instead of a full SST snapshot zip, turning per-batch checkpoint
    cost from O(total state) into O(batch churn) -- the difference
    between re-uploading a multi-TB dedup state every 10 s and shipping
    kilobytes of deltas.  Recovery replays the changelog chain onto the
    last periodic snapshot.  Verified live in this build:
    tests/test_streaming.py asserts ``.changelog`` files (and no
    full-snapshot zips) appear in the checkpoint's state dir while the
    drained result stays byte-identical.  The changelog key is pinned
    BOTH ways: changelog=False must actively clear a changelog=True
    setting of an enclosing scope (code-review r5 finding).
    """
    return {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        CHANGELOG_CONF: "true" if changelog else "false",
    }


def session_window_stream(events: DataFrame) -> DataFrame:
    """Native streaming session windows: a 30-minute
    ``session_window`` merges a user's events into dynamic gap-closed
    windows with state the engine evicts once the watermark passes a
    session's end (JVM state, no Python workers, watermark-driven
    eviction for free).  tests/test_streaming.py asserts it matches
    the batch rel_session_window gap-merge exactly.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start_s"
            ),
            "n_events",
        )
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a file-source stream (one file = one batch
    here; production watches a landing directory or reads Kafka).  The
    documents schema is all plain scalar types, so no physical-type
    adaptation is needed -- contrast ``read_events_stream``'s ts
    handling."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def _read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """A foreachBatch sink's parquet state at ``path``, or None when no
    state was written yet (the first batch).

    ONLY an absent path means "first batch": an existing path that does
    not read as parquet (an empty dir after a partial append, corrupt
    files) raises, because treating it as empty would drop the state and
    silently re-ingest duplicates.  Existence is asked of the session's
    Hadoop FileSystem, which resolves ``file:`` and other URIs as the
    read does (``os.path.exists`` calls a ``file:`` URI absent), and is
    asked first so that no failed read reaches the query listeners."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p):
        return None
    return spark.read.parquet(path)


def upsert_latest(state: DataFrame, batch: DataFrame) -> DataFrame:
    """SCD1 merge: one surviving row per user_id -- the one with the highest
    (ts, event_id) across current state and the new batch.  The
    (ts, event_id) pair is a total order, so the result is independent
    of how rows were split into batches AND of arrival order: a late
    batch carrying an older ts can never clobber newer state (the
    out-of-order safety a naive "last write wins" apply lacks)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        state.unionByName(batch)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_latest_foreach_batch(spark: SparkSession, state_path: str):
    """foreachBatch sink maintaining an SCD1 materialized view: the
    latest (ts, event_id)-ordered row per user_id, kept in a parquet state
    table -- the streaming CDC-apply half of the batch
    ``rel_merge_upsert`` query.

    Per batch: collapse the batch to its per-key latest, merge with the
    current state (same ``upsert_latest``), then commit the new state
    dir via the move-aside/rename protocol
    (``sources.readers.committed_write``).  The merge plan writes
    DIRECTLY to the protocol's tmp sibling: the old state files stay
    untouched (and readable by the running write job) until the commit
    rename, so the pre-write localCheckpoint an earlier round inserted
    was a redundant second materialization of the whole state per batch
    -- removed r10 (one state pass per batch instead of two; the
    per-batch plan is constant-size anyway because each batch re-reads
    the state from parquet, never from lineage).
    At scale the state table is partitioned/bucketed by key so the
    merge is a co-located join and only changed partitions rewrite
    (dynamic partition overwrite, sources/writers.py); the semantics
    under test here are the merge ones.
    """
    from ..sources.readers import committed_write

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_latest = upsert_latest(batch_df.limit(0), batch_df)
        state = _read_state(spark, state_path)
        merged = (
            batch_latest if state is None
            else upsert_latest(state, batch_latest)
        )
        # committed_write, not in-place overwrite: mode("overwrite")
        # deletes the state dir before writing, so a crash between
        # delete and commit destroys the accumulated SCD1 state
        # permanently (the next restart's read fails loudly, but the
        # state is gone).  The move-aside/
        # rename protocol keeps the previous state readable until
        # the new one is fully committed (code-review r10).
        committed_write(
            state_path,
            lambda tmp: merged.write.mode("overwrite").parquet(tmp),
        )

    return fn


def hourly_distinct_users_stream(events: DataFrame) -> DataFrame:
    """Streaming DISTINCT-count via a mergeable theta sketch: per-hour
    theta_sketch_agg(user_id) under a watermark, estimate read at
    emission.  The sketch state is FIXED-size per window regardless of
    user cardinality -- the streaming answer to count(DISTINCT), which
    Structured Streaming cannot express directly (distinct state would
    be unbounded); below the sketch's 4096 nominal entries the
    estimate is exact, so the drain value-hashes against batch
    count(DISTINCT) restricted to closed windows."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.expr("theta_sketch_agg(user_id)").alias("sk"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_str"
            ),
            F.expr("theta_sketch_estimate(sk)").cast("bigint").alias(
                "n_users"
            ),
        )
    )


def hourly_quantile_stream(events: DataFrame) -> DataFrame:
    """Streaming windowed quantiles via approx_percentile -- the
    Greenwald-Khanna summary is MERGEABLE with bounded size (accuracy
    10000, ~ that many entries per window), so per-hour quantile state stays
    fixed no matter how many events land in the hour: the quantile
    twin of the theta-sketch distinct count.  Exact per-window
    quantiles would buffer every value in state -- unbounded, the
    same reason batch exact percentile OOMs at data scale
    (rel_percentiles).  Emits per closed window: count, approx p50.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("approx_percentile(value, 0.5, 10000)").alias(
                "p50_approx"
            ),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_str"
            ),
            "n",
            "p50_approx",
        )
    )
