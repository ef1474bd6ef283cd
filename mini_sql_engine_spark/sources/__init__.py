"""Sources: typed parquet (the default, via catalog) and the
reference's native CSV+metadata.txt format (compat path). Writes,
table formats and other connectors are Spark's own readers and
writers; the engine adds none."""

from mini_sql_engine_spark.sources import csv_metadata  # noqa: F401
