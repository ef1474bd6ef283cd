"""The SQL-text kernels against their Column-DSL reference forms.

``functions.text.tokens``/``shingles`` and ``pipeline.similarity``'s
``_dot``/``_norm`` are built from SQL expression text (one py4j call
each). The Column-DSL forms they replaced live on here as the
executable spec: every kernel must return the same rows as its
reference on the edge cases, and optimize to the same expression.
The last test holds the build layer to a py4j command budget.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from mini_sql_engine_spark.functions import text as TX
from mini_sql_engine_spark.pipeline import similarity as SIM
from mini_sql_engine_spark.queries import QUERIES

from tests.conftest import SF_SMOKE


def ref_tokens(text_col: str = "text") -> Column:
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != "")


def ref_shingles(tok_col: Column, n: int = 3) -> Column:
    def build(tok: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(tok) - n, F.lit(-1)))
        return F.when(F.size(tok) >= n,
                      F.transform(idx, lambda i: F.concat_ws(
                          " ", *[F.element_at(tok, (i + j + 1).cast("int"))
                                 for j in range(n)]
                      ))).otherwise(F.array().cast("array<string>"))

    return TX.bind_once(tok_col, build)


def ref_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ref_norm(v: Column) -> Column:
    return F.sqrt(ref_dot(v, v))


TEXTS = [
    (1, ""),                              # empty
    (2, "   "),                           # whitespace only
    (3, None),                            # NULL
    (4, "one two"),                       # fewer than 3 tokens
    (5, "one two three"),                 # exactly 3
    (6, "  a   b    c  d   "),            # runs of spaces
    (7, "a b a b a b a b"),               # repeated shingles
    (8, "héllo wörld 日本 語 ñandú  é"),   # non-ASCII
    (9, "single"),
]

VECTORS = [
    (1, [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]),
    (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),   # zero vector
    (3, None, [1.0, 2.0, 3.0]),              # NULL vector
    (4, [0.1, 0.2, 0.3], None),
    (5, [1e-20, 3.5, -2.25], [7.0, 0.5, 1e20]),
]


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.createDataFrame(
        VECTORS, "vec_id long, a array<float>, b array<float>")


def _same_rows(got, ref):
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def _optimized_expr(df) -> str:
    """The optimized plan with expression ids and lambda variable names
    normalised (the DSL and the SQL parser name lambda variables
    differently)."""
    ids: dict[str, int] = {}
    s = re.sub(
        r"lambda (\w+)#(\d+)",
        lambda m: f"lambda lv{ids.setdefault(m.group(2), len(ids))}",
        df._jdf.queryExecution().optimizedPlan().toString())
    return re.sub(r"#\d+L?", "#", s)


def test_tokens_matches_reference(texts):
    _same_rows(texts.select("doc_id", TX.tokens("text").alias("t")),
               texts.select("doc_id", ref_tokens("text").alias("t")))


@pytest.mark.parametrize("n", [1, 3, 5])
def test_shingles_matches_reference(texts, n):
    got = texts.select("doc_id", TX.shingles("text", n).alias("sh"))
    ref = texts.select("doc_id", ref_shingles(ref_tokens("text"), n).alias("sh"))
    _same_rows(got, ref)
    # every edge row is present; NULL, blank and short texts give an
    # empty array (size(NULL) is -1, below any n)
    rows = {r.doc_id: r.sh for r in got.collect()}
    assert len(rows) == len(TEXTS)
    assert rows[1] == rows[2] == rows[3] == []
    if n == 3:
        assert rows[4] == []
        assert rows[5] == ["one two three"]
        assert rows[6] == ["a b c", "b c d"]


def test_dot_and_norm_match_reference(vectors):
    got = vectors.select(
        "vec_id", SIM._dot("a", "b").alias("d"),
        SIM._norm("a").alias("na"), SIM._norm("b").alias("nb"))
    ref = vectors.select(
        "vec_id", ref_dot(F.col("a"), F.col("b")).alias("d"),
        ref_norm(F.col("a")).alias("na"), ref_norm(F.col("b")).alias("nb"))
    _same_rows(got, ref)
    rows = {r.vec_id: r for r in got.collect()}
    assert rows[2].na == 0.0 and rows[2].d == 0.0
    assert rows[3].d is None and rows[3].na is None
    assert isinstance(rows[1].d, float)  # 0.0D seed: DOUBLE, not DECIMAL


def test_sql_kernels_optimize_to_reference_expressions(texts, vectors):
    pairs = [
        (texts.select(TX.tokens("text")), texts.select(ref_tokens("text"))),
        (texts.select(TX.shingles("text", 3)),
         texts.select(ref_shingles(ref_tokens("text"), 3))),
        (vectors.select(SIM._dot("a", "b"), SIM._norm("a")),
         vectors.select(ref_dot(F.col("a"), F.col("b")),
                        ref_norm(F.col("a")))),
    ]
    for got, ref in pairs:
        # output column names differ (SQL text vs DSL rendering); the
        # expressions under them must not
        g = _optimized_expr(got.toDF(*[f"c{i}" for i in range(len(got.columns))]))
        r = _optimized_expr(ref.toDF(*[f"c{i}" for i in range(len(ref.columns))]))
        assert g == r


# Non-GC py4j commands sent while building each key once its catalog
# frames are warm. The Column-DSL kernels sent 1,066, 623 and 506.
BUILD_BUDGETS = {"minhash_sig": 150, "dup_ngram_frac": 300,
                 "embed_cosine_adj": 200}


@pytest.mark.parametrize("key", sorted(BUILD_BUDGETS))
def test_build_py4j_command_budget(spark, key):
    from scripts.opt_probe import py4j_commands

    QUERIES[key](spark, SF_SMOKE)
    with py4j_commands(spark) as sent:
        QUERIES[key](spark, SF_SMOKE)
    assert 0 < sent[0] <= BUILD_BUDGETS[key], sent[0]
