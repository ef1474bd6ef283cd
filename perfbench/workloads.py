"""The benchmark's workloads and the runner that times their ops.

A workload is a fixed list of registry Qkeys; a *pass* runs each once,
in an order drawn from the seed. One closed-loop client sends the
ops: the next op starts only after the previous one returned. An op's
latency runs from the ``QUERIES[k]`` call to the return of its noop
sink. Every key has a DuckDB oracle, so the warm-up pass can check
every output.

- ``sql_adhoc``: relational keys (the Mini_SQL_Engine surface, a
  TPC-H-shaped key, a window and top-k) with a fixed minority of exact
  order-statistic keys.
- ``llm_dedup``: n-gram Jaccard, MinHash, exact-dedup and similarity
  keys on ``documents`` and ``embeddings``; two of them build through
  eager ``materialized()`` barriers.

Each list has an odd length, so that with every key contributing the
same number of samples the median falls inside one key's cluster of
latencies rather than in the gap between two, and at least seven keys,
so that the four guaranteed timed passes give at least 28 samples:
enough for a tail percentile above the median (``probes.tail_pct``).
"""

from __future__ import annotations

import os
import time

import numpy as np

from probes import Tracer, storage_mb

from drive_contract import table_hash
from mini_sql_engine_spark import plans
from mini_sql_engine_spark.catalog import TABLES, Catalog
from mini_sql_engine_spark.oracles import ORACLES
from mini_sql_engine_spark.queries import QUERIES


SF = 0.01  # 15,000 orders, ~60,000 line items, 500 documents

WORKLOADS = {
    "sql_adhoc": (
        # Mini_SQL_Engine surface: scan, filter, group/having, equi,
        # cross and theta joins, semi and anti joins (EXISTS and NOT
        # EXISTS subqueries), set ops
        "scan_table", "filter_and", "group_having", "equi_join",
        "cross_join", "theta_join", "semi_join", "anti_join", "set_union",
        # TPC-H-shaped, window and top-k
        "q6_forecast", "win_lag", "top_k",
        # exact order statistics (the fixed minority)
        "percentiles", "iqr_scale", "winsorize",
    ),
    "llm_dedup": (
        # n-gram Jaccard pairs, built through eager materialized() barriers
        "dedup_ngram", "dup_ngram_frac",
        # MinHash signatures, exact and incremental dedup
        "minhash_sig", "dedup_exact", "incremental_dedup",
        # edit-distance and embedding-cosine similarity
        "levenshtein_pairs", "embed_cosine_adj",
    ),
}


class Oracle:
    """DuckDB over the generated tables. It counts its own time so the
    benchmark can keep it out of ``setup_s``."""

    def __init__(self, data_dir: str, work_dir: str, threads: int):
        import duckdb

        t0 = time.perf_counter()
        self.con = duckdb.connect()
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute(f"SET threads={threads}")
        self.con.execute(
            f"SET temp_directory='{os.path.join(work_dir, 'duckdb')}'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
        self.seconds = time.perf_counter() - t0

    def same(self, sdf, sql: str) -> bool:
        """Row count, column names and order-insensitive value hash of
        ``sdf`` equal those of the DuckDB result of ``sql``."""
        rows = sdf.collect()
        t0 = time.perf_counter()
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        want = cur.fetchall()
        ok = (len(rows) == len(want)
              and sorted(sdf.columns) == sorted(cols)
              and table_hash(sdf.columns, [tuple(r) for r in rows])
              == table_hash(cols, want))
        self.seconds += time.perf_counter() - t0
        return ok


class Runner:
    """Runs one workload's ops on a session, with or without spans."""

    def __init__(self, keys: tuple[str, ...], spark, data_dir: str,
                 tracer: Tracer):
        missing = [k for k in keys if k not in ORACLES]
        if missing:
            raise ValueError(f"keys without a DuckDB oracle: {missing}")
        self.keys = keys
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.storage_mb: list[tuple[str, float]] = []  # (op id, MB)

    def pass_ops(self, rng: np.random.Generator) -> list[str]:
        return [self.keys[i] for i in rng.permutation(len(self.keys))]

    def run(self, key: str) -> float:
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("queries.build"):
            df = QUERIES[key](self.spark, self.data_dir)
        if tr.enabled:
            with tr.span("plan.catalyst"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("execute"):
            df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if tr.enabled:
            self.storage_mb.append((tr.op, storage_mb(self.spark)))
        return dt

    def check(self, key: str, oracle: Oracle) -> bool:
        return oracle.same(QUERIES[key](self.spark, self.data_dir),
                           ORACLES[key])

    def trace_layers(self) -> None:
        """Record spans around the engine's catalog reads and
        materialization barriers for the rest of the run."""
        self.tracer.wrap(Catalog, "table", "catalog.table")
        self.tracer.wrap(plans, "materialized", "materialize")
