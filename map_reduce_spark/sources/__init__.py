from map_reduce_spark.sources.cache import session_cached, session_memo
from map_reduce_spark.sources.tables import (
    TABLES,
    load_spread,
    load_table,
    parquet_num_rows,
    register_views,
)

__all__ = [
    "TABLES",
    "load_spread",
    "load_table",
    "parquet_num_rows",
    "register_views",
    "session_cached",
    "session_memo",
]
