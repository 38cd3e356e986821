from .readers import (  # noqa: F401
    TABLES,
    load_table,
    points_from_lineitem,
    points_from_lineitem_cached,
    points_xy,
    read_points_stream,
    read_points_text,
    register_views,
)
from .writers import (  # noqa: F401
    format_centroids,
    write_bucketed_table,
    write_partitioned_parquet,
)
