"""Text analysis for training-data pipelines: tokenization, stats,
quality scoring, language ID, shingling, fingerprinting.

All hot-path expressions are Spark built-ins / higher-order functions
(JVM-side, codegen'd); no Python UDFs. Per-document work is
embarrassingly parallel — no shuffle until an aggregation asks for
one — so every function here scales linearly with input splits.

The per-row kernels every dedup key shares (``tokens``, ``shingles``)
are built from SQL expression text: one ``F.expr`` is one py4j call
plus a JVM parse, where the same tree through the Column DSL costs a
round trip per node (hundreds per ``shingles`` call).
The analyzed expression is the same either way, so plans do not
change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny language-marker profiles for the heuristic language-ID scorer.
# Real pipelines would plug a fastText-style model in via mapInPandas;
# the engine-side contract is the scoring/argmax plumbing, which is
# identical regardless of the marker source.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3"),  # pinyin-ish placeholder
}


def _tokens_sql(text_col: str) -> str:
    return f"filter(split({text_col}, ' '), t -> t != '')"


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokenization, empty tokens dropped (JVM-side)."""
    return F.expr(_tokens_sql(text_col))


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` once per row and pass the VALUE to ``fn`` as a
    higher-order-function lambda variable.

    Inside one projection, every reference to an expression re-runs
    its whole tree — HOF lambdas execute interpreted (no codegen
    subexpression elimination), so e.g. ``element_at(tokens(text), i)``
    re-splits the document on every element access. Binding through a
    single-element ``transform`` makes all downstream references cheap
    array reads. (Measured on shingling: ~10× — the n ``element_at``
    calls per shingle each re-tokenized the full document.)
    ``shingles`` writes the same shape as SQL text,
    ``element_at(transform(array(<col>), tok -> ...), 1)``.
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def token_count(text_col: str = "text") -> Column:
    return F.size(tokens(text_col))


# BPE-style pre-tokenization classes: letter runs, digit runs, single
# non-space symbols — the split GPT-2-style byte-pair encoders apply
# before merging. Counting these approximates LLM token counts far
# better than whitespace words (punctuation and numbers tokenize
# separately). Kept RE2-compatible so the DuckDB oracle runs the same
# pattern.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_token_count(text_col: str | Column = "text") -> Column:
    """Count of BPE-style pre-tokens (JVM regex, no UDF)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0))


def shingles(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles of a text column: whitespace-tokenize, then
    for each start index i join tokens[i:i+n] with spaces. Documents
    shorter than ``n`` tokens yield an empty array.

    The token array is bound once per row (the ``bind_once`` shape, in
    SQL), so the n ``element_at`` reads per shingle are array reads,
    not re-tokenizations.
    """
    grams = ", ".join(f"element_at(tok, i + {j + 1})" for j in range(n))
    return F.expr(
        f"element_at(transform(array({_tokens_sql(text_col)}), "
        f"tok -> CASE WHEN size(tok) >= {n} "
        f"THEN transform(sequence(0, greatest(size(tok) - {n}, -1)), "
        f"i -> concat_ws(' ', {grams})) "
        f"ELSE cast(array() AS array<string>) END), 1)"
    )


def text_stats(docs: DataFrame, lang: str | None = None) -> DataFrame:
    """Per-document token/char stats (optionally filtered to one lang)."""
    out = docs
    if lang is not None:
        out = out.filter(F.col("lang") == lang)
    return out.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("text_len"),
    )


def term_counts(docs: DataFrame) -> DataFrame:
    """Corpus term frequencies: explode tokens → groupBy count.

    Scale note: the vocabulary is the group key; partial (map-side)
    aggregation collapses each task's counts before the shuffle, so a
    skewed term ("the") costs one partial row per task, not a hot
    reducer. This is the TF half of TF-IDF; ``tf_idf`` below
    computes the DF half.
    """
    return (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("term_count"))
    )


def tf_idf(docs: DataFrame, min_tf: int = 2) -> DataFrame:
    """Per-(doc, term) TF-IDF: tf(d,t) · ln((N+1)/(df(t)+1)) — the
    smoothed-IDF variant (never divides by zero, defined for unseen
    terms). Composition of two keyed aggregations over one token
    explosion; the df table is joined back broadcast (vocabulary ≪
    corpus — at 100 TB the vocabulary is still only millions of rows).
    ``min_tf`` prunes the long hapax tail before the join, which is
    where the row count lives.
    """
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.filter(F.col("tf") >= min_tf)
    df = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n"))
    # N is a 1-row side input — broadcast as a literal-like join
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round(
                F.col("tf")
                * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )


def quality_features(docs: DataFrame, stop_terms: tuple[str, ...] = ("the", "a")) -> DataFrame:
    """Per-document quality features: token count, stopword ratio,
    mean token length. All integer/rational arithmetic (deterministic
    across engines); the ratio is a single double division.
    """
    stop_arr = F.array(*[F.lit(t) for t in stop_terms])

    def feats(toks: Column) -> Column:
        n_tok = F.size(toks)
        n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        tok_chars = F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
        )
        return F.struct(
            n_tok.cast("long").alias("n_tokens"),
            n_stop.cast("long").alias("n_stopwords"),
            F.round(n_stop.cast("double") / n_tok, 6).alias("stop_ratio"),
            F.round(tok_chars.cast("double") / n_tok, 6).alias("mean_token_len"),
        )

    # two-step select: the struct alias is non-cheap and referenced 4×,
    # so CollapseProject keeps the barrier → one evaluation per row
    return docs.select(
        "doc_id", bind_once(tokens("text"), feats).alias("_f")
    ).select(
        "doc_id", "_f.n_tokens", "_f.n_stopwords",
        "_f.stop_ratio", "_f.mean_token_len",
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: score = marker-token hits per language,
    argmax with deterministic alphabetical tie-break → ``lang_pred``.

    Pure built-ins: one pass, no shuffle, no UDF. (On the synthetic
    corpus the text is language-agnostic word salad, so predictions are
    exercised for plumbing/determinism, not accuracy — see tests for a
    fixture where the markers actually discriminate.)
    """
    def marker_score(toks: Column, code: str) -> Column:
        arr = F.array(*[F.lit(m) for m in LANG_MARKERS[code]])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    # struct comparison is lexicographic on (score, rank, code); rank is
    # assigned so that on equal scores the alphabetically-first code has
    # the HIGHER rank and wins the array_max — a total, deterministic order.
    lang_rank = {code: i for i, code in enumerate(sorted(LANG_MARKERS, reverse=True))}

    def best(toks: Column) -> Column:
        ranked = [
            F.struct(
                marker_score(toks, code).alias("score"),
                F.lit(lang_rank[code]).alias("rank"),
                F.lit(code).alias("code"),
            )
            for code in sorted(LANG_MARKERS)
        ]
        return F.array_max(F.array(*ranked))["code"]

    return docs.select(
        "doc_id", "lang", bind_once(tokens("text"), best).alias("lang_pred")
    )


def doc_fingerprints(docs: DataFrame, k: int = 3, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every k-token shingle, then keep the minimum hash in every
    sliding window of ``window`` consecutive shingle hashes. Output:
    distinct-fingerprint stats per doc.

    The shingle hash is the 16-hex-digit md5 prefix as a STRING:
    winnowing only needs a uniform hash with a total order, and
    lexicographic min on fixed-width lower-case hex = numeric min —
    identically computable by any engine (the DuckDB twin hash-checks
    this op; xxhash64 would be JVM-only). Still a codegen built-in.

    Exploded-row plan: shingle hashes become (doc_id, pos, h) rows and
    the sliding min is a frame aggregate over a per-doc window — each
    hash is computed exactly once. (The nested-array formulation —
    ``transform`` over ``array_min(slice(...))`` — re-inlines the hash
    array into every window position; measured ~100× slower.) Docs
    with fewer shingles than ``window`` contribute their global min,
    matching the winnowing paper's short-document convention.
    """
    from pyspark.sql.window import Window

    sh = docs.select(
        "doc_id",
        F.posexplode(shingles("text", k)).alias("pos", "shingle"),
    ).select(
        "doc_id", "pos",
        F.substring(F.md5(F.col("shingle").cast("binary")), 1, 16).alias("h"),
    )
    per_doc = Window.partitionBy("doc_id")
    w_frame = per_doc.orderBy("pos").rowsBetween(0, window - 1)
    mins = (
        sh.withColumn("n", F.count(F.lit(1)).over(per_doc))
        .withColumn("win_min", F.min("h").over(w_frame))
        # valid window starts: pos ≤ n−window; short docs keep pos 0
        .filter((F.col("pos") <= F.col("n") - window) | (F.col("pos") == 0))
        .select("doc_id", "win_min")
        .distinct()
    )
    return mins.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.min("win_min").alias("min_fingerprint"),
    )
