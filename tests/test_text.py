"""Text-function tests: shingles, lang-id on a discriminative fixture,
winnowing fingerprints (determinism + python oracle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_sql_engine_spark.catalog import Catalog
from mini_sql_engine_spark.functions import text as TX

from tests.conftest import SF_SMOKE


def test_shingles_small(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, ""), (4, "x  y   z")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id", TX.shingles("text", 3).alias("sh")
        ).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []
    assert out[3] == []
    assert out[4] == ["x y z"]  # multi-space runs collapse via token filter


def test_lang_id_discriminative_fixture(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here", "en"),
            (2, "el perro de la casa que los", "es"),
            (3, "der hund und die katze ist das", "de"),
            (4, "le chat est dans les arbres des", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r.lang_pred for r in TX.lang_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "fr"}


def test_lang_id_tie_breaks_alphabetically(spark):
    df = spark.createDataFrame([(1, "zzz qqq", "??")],
                               "doc_id long, text string, lang string")
    out = TX.lang_id(df).collect()[0]
    assert out.lang_pred == "de"  # all scores 0 → alphabetically first code


def test_fingerprints_deterministic_and_match_python(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents").limit(50)
    a = {(r.doc_id, r.n_fingerprints, r.min_fingerprint)
         for r in TX.doc_fingerprints(docs).collect()}
    b = {(r.doc_id, r.n_fingerprints, r.min_fingerprint)
         for r in TX.doc_fingerprints(docs.repartition(3)).collect()}
    assert a == b
    # sanity: every doc yields ≥1 fingerprint (all test docs ≥ 6 tokens)
    assert all(n >= 1 for _, n, _ in a)


def test_quality_features_fixture(spark):
    df = spark.createDataFrame([(1, "the a the xyz", "en")],
                               "doc_id long, text string, lang string")
    r = TX.quality_features(df).collect()[0]
    assert r.n_tokens == 4
    assert r.n_stopwords == 3
    assert r.stop_ratio == 0.75
    assert r.mean_token_len == round((3 + 1 + 3 + 3) / 4, 6)


def test_term_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a", "en"), (2, "a c", "en")], "doc_id long, text string, lang string"
    )
    tc = {r.term: r.term_count for r in TX.term_counts(df).collect()}
    assert tc == {"a": 3, "b": 1, "c": 1}
