"""Catalog: explicit schemas + table registry over a scale-factor dir.

Reference parity: the reference's catalog is ``metadata.txt`` — a flat
list of table names and column names, no types (every cell is an
integer by spec; SURVEY.md §1.1). Our catalog is typed and explicit:
one ``StructType`` per table (schemas profiled from the driver's
parquet test data — FIXTURES.md §B), registered as Spark temp views.

Scale notes:
- Each table is resolved once per session and file version (path,
  mtime, size): the first read infers the parquet schema, checks it
  against ``TABLE_SCHEMAS`` and converts nanosecond timestamps; later
  builds in the same session get that same (immutable, lazy)
  DataFrame back, so they launch no footer-inference job and pay no
  relation resolution or file listing. The declared schema is not
  used for reading: it cannot read a ``TIMESTAMP(NANOS)`` column
  under ``nanosAsLong``, and a renamed column would come back as
  NULLs instead of failing. The version comes from driver-local
  ``os.stat``, so ``sf_dir`` must be a filesystem the driver mounts.
  A frame derived from a table plans afresh under the session's
  current confs; an action on the bare table frame itself reuses the
  physical plan of that frame's first action.
- ``BROADCAST_TABLES`` marks dimension tables that are safely below
  any sane broadcast threshold at *any* scale factor (region/nation
  are fixed-size; supplier/part grow sublinearly). Join helpers use
  this to emit explicit ``F.broadcast`` hints so the 100 TB plan never
  falls back to a sort-merge join against a 5-row table.
- Reads validate the on-disk schema against the declared one (column
  names and order) instead of forcing a cast — a silent coercion at scale
  is a correctness bug.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(TABLE_SCHEMAS)

# Dimension tables small enough to broadcast at any scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

# abs path -> ((st_mtime_ns, st_size), session, resolved frame): the frame
# already passed _validate_schema and _coerce_nanos. Process-wide because
# every query build makes a fresh Catalog. A frame is only handed back for
# the same file version and the session that read it; a rewritten file
# replaces its path's entry, so no old version's frame stays alive; two
# threads missing the same entry each store an equivalent frame.
_RESOLVED: dict[str, tuple[tuple[int, int], SparkSession, DataFrame]] = {}

# session -> {view name: the resolved frame that temp view is bound to}.
# A session has an entry once Catalog has set its two confs on it, so
# later Catalogs of that session send no py4j command until they read
# or bind something new.
_SESSIONS: dict[SparkSession, dict[str, DataFrame]] = {}

EMBEDDING_DIM = 64


class Catalog:
    """Registers the sf-dir parquet tables as named Spark temp views.

    The reference's equivalent is ``parse_metadata()`` over
    ``metadata.txt`` (SURVEY.md §2.1, canonical layout UNVERIFIED —
    empty reference mount); here the catalog is the bridge between
    table names and distributed DataFrames.
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        views = _SESSIONS.get(spark)
        if views is None:
            # Defensive session confs, set on a session's first Catalog:
            # the contract must work under a caller-provided vanilla
            # session, not only session.get_spark(). nanosAsLong:
            # events.parquet carries TIMESTAMP(NANOS), which the
            # vectorized reader otherwise rejects (PARQUET_TYPE_ILLEGAL);
            # UTC: timestamp formatting/window bucketing must not depend
            # on the host timezone. Both are runtime-settable SQL confs.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            views = _SESSIONS.setdefault(spark, {})
        self._views = views

    def path(self, name: str) -> str:
        if name not in TABLE_SCHEMAS:
            raise KeyError(f"unknown table {name!r}; catalog has {sorted(TABLE_SCHEMAS)}")
        return os.path.join(self.sf_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        """Load one table (lazy — no data read yet). The same session
        gets the same DataFrame back while the file is unchanged."""
        path = os.path.abspath(self.path(name))
        st = os.stat(path)
        version = (st.st_mtime_ns, st.st_size)
        hit = _RESOLVED.get(path)
        if hit is not None and hit[0] == version and hit[1] is self.spark:
            return hit[2]
        df = self.spark.read.parquet(path)
        _validate_schema(name, df.schema)
        df = _coerce_nanos(df)
        _RESOLVED[path] = (version, self.spark, df)
        return df

    def register_all(self) -> None:
        """Bind every table as a temp view of its own name, for the SQL
        front door. The engine owns the ten catalog view names
        (``TABLES``) in a session: a caller that replaces or drops one
        of them must not expect the engine to notice. A view is
        re-created only when it is not bound to the table's current
        resolved frame: on a session's first call, after a switch to
        another ``sf_dir`` and after a file is rewritten. A call that
        changes nothing sends no py4j command."""
        for name in TABLE_SCHEMAS:
            df = self.table(name)
            if self._views.get(name) is not df:
                df.createOrReplaceTempView(name)
                self._views[name] = df

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_SCHEMAS:
            return self.table(name)
        raise AttributeError(name)


def _coerce_nanos(df: DataFrame) -> DataFrame:
    """Parquet TIMESTAMP(NANOS) columns arrive as raw Long nanos (see
    session.py nanosAsLong); convert to µs-precision TIMESTAMP_NTZ by
    integer division — identical to DuckDB's ns→µs truncation, so both
    engines see the same wall-clock instants."""
    from pyspark.sql import functions as F

    out = df
    for field in df.schema.fields:
        expect = TABLE_SCHEMAS_FIELDS.get(field.name)
        if expect == "timestamp" and isinstance(field.dataType, T.LongType):
            out = out.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"{field.name} div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return out


# flat map column name → "timestamp" for timestamp-typed catalog columns
TABLE_SCHEMAS_FIELDS: dict[str, str] = {
    f.name: "timestamp"
    for st in TABLE_SCHEMAS.values()
    for f in st.fields
    if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
}


def _validate_schema(name: str, actual: T.StructType) -> None:
    expected = TABLE_SCHEMAS[name]
    exp_names = [f.name for f in expected.fields]
    act_names = [f.name for f in actual.fields]
    if exp_names != act_names:
        raise ValueError(
            f"schema drift for table {name!r}: expected columns {exp_names}, got {act_names}"
        )

