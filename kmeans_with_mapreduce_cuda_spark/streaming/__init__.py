from .streams import (  # noqa: F401
    dedup_stream,
    enriched_counts_stream,
    hourly_counts_stream,
    hourly_distinct_users_stream,
    hourly_quantile_stream,
    read_events_stream,
    rocksdb_state_confs,
    session_window_stream,
    sliding_counts_stream,
    view_purchase_attribution_stream,
)
