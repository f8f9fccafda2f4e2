from .sinks import (
    compact_parquet,
    recover_table,
    upsert_parquet,
    upsert_parquet_partitioned,
    write_partitioned,
)
from .tables import (
    TABLES,
    bucketed_fact_name,
    jdbc_reader_options,
    load_fact,
    load_table,
    read_bucketed,
    register_views,
    table_rows,
    write_bucketed,
)

__all__ = [
    "TABLES",
    "load_table",
    "register_views",
    "jdbc_reader_options",
    "upsert_parquet",
    "upsert_parquet_partitioned",
    "read_bucketed",
    "write_bucketed",
    "load_fact",
    "bucketed_fact_name",
    "table_rows",
    "write_partitioned",
    "compact_parquet",
    "recover_table",
]
