"""Deduplication operators for document corpora.

Four tiers, cheapest-first — the order a 100 TB pipeline runs them:

1. ``exact_dedup`` — hash aggregate on the full text. One shuffle on
   the text hash; map-side combine collapses duplicates early.
2. ``ngram_jaccard_pairs`` — EXACT Jaccard over word-shingle sets via
   an inverted index (shingle → docs) self-join. Quadratic in docs
   *per shared shingle*, so only viable after blocking; it is the
   ground truth the approximate tiers are validated against.
3. ``minhash_lsh_candidates`` — MinHash signatures + banded LSH:
   near-constant work per doc, one shuffle per band on the band key.
   THE scale path: candidate recall is tunable via (bands, rows).
4. ``simhash`` — 64-bit SimHash per doc; near-dups differ in few bits.

Everything is Spark built-ins (xxhash64, higher-order array functions,
hash-joins); no Python in the row path. Determinism: all hashes are
seed-stable xxhash64 → results are reproducible across runs/cluster
layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mini_sql_engine_spark.functions.text import shingles
from mini_sql_engine_spark.plans import materialized, spread


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one canonical row per distinct text (deterministic: lowest
    doc_id wins — unlike ``dropDuplicates``, which keeps an arbitrary
    row and is therefore not reproducible across partitionings)."""
    keep = docs.groupBy(text_col).agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, ["doc_id", text_col], "left_semi")


def _doc_shingles(docs: DataFrame, n: int, alias: str = "shingle") -> DataFrame:
    """(doc_id, <alias>) distinct pairs — the inverted-index input and
    the exploded shingle rows every per-doc hash kernel aggregates.

    The per-doc dedup happens IN THE ROW (``array_distinct`` before
    ``explode``): doc_ids are unique, so the exploded pairs are
    already globally distinct and the old explode-then-``.distinct()``
    paid a full exchange + dedup of the largest intermediate in the
    whole dedup stack for a set each row already knew (r13 opt:
    one Exchange removed from every inverted-index consumer).
    ``spread`` floors the scan parallelism so the shingle build
    isn't serialized by a one-split input (no-op at scale); it probes
    ``docs`` itself, so a catalog frame's probe is paid once per
    session, and the projection is pushed under its exchange."""
    return spread(docs).select(
        "doc_id",
        F.explode(F.array_distinct(shingles("text", n))).alias(alias),
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.6
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (doc_a < doc_b, J ≥ t).

    Inverted-index plan (no full cross join):
    shingle→docs self-join gives co-occurring pairs; count of shared
    shingles per pair = |A∩B|; |A∪B| = |A|+|B|−|A∩B|. All shuffles are
    keyed (shingle, then pair), all aggregation has map-side combine.
    Scale note: hot shingles create join fan-out — at real scale, drop
    shingles with document-frequency above a cap first (they carry no
    discriminative signal); the cap is exposed as ``max_df``.
    """
    # the inverted index feeds three consumers (sizes, both join
    # sides) — materialize it once
    ds = materialized(_doc_shingles(docs, n))
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))

    a = ds.alias("a")
    b = ds.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_capped(
    docs: DataFrame, n: int = 3, threshold: float = 0.6, max_df: int = 1000
) -> DataFrame:
    """Jaccard pairs with a document-frequency cap on shingles — the
    form you run when the corpus is large enough that stop-shingles
    would dominate the join. (Approximation: capped shingles are
    excluded from both intersection and union counts.)"""
    from pyspark.sql.window import Window

    # df-cap via a count window over the shingle key: ONE shuffle
    # builds the inverted index AND its document frequencies (the
    # agg + semi-join formulation shuffles the exploded rows twice and
    # needs an extra checkpoint of the raw index; measured ~2× slower
    # at sf0.1). The filtered index feeds three consumers (sizes, both
    # join sides) — materialize it once, same as the uncapped plan.
    #
    # r14 A/B (VERDICT item 5, broadcast anti-join vs this window):
    # computing the over-cap shingle list (map-side-combined count >
    # max_df) and anti-probing it was measured at BOTH scales and
    # REJECTED — with the count side recomputing the shingle build:
    # dedup_ngram 2.03→3.11 s, dedup_eval 3.92→4.98 s at sf0.1; with
    # the raw index checkpointed once instead: dedup_ngram 3.27 s
    # sf0.1, and at sf1 dedup_ngram 5.02→7.18 s, dedup_cc
    # 15.4→26.9 s, dedup_eval 4.38→6.21 s (min-of-3, same session
    # methodology). On this corpus the cap band is empty-to-thin, so
    # the anti form pays a whole extra aggregate + broadcast round
    # trip per query for a sort the window does in one narrow
    # exchange. The anti-join form only wins when stop-shingles give
    # the window's hottest partition a posting list that no longer
    # sorts in one task — i.e. true 100 TB skew, which neither sf0.1
    # nor the disjoint-content sf1 series exhibits; it is documented
    # here as the skew escape hatch rather than shipped as a
    # measured-slower default.
    w = Window.partitionBy("shingle")
    ds = materialized(
        _doc_shingles(docs, n)
        .withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = ds.alias("a"), ds.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_band_hashes(
    docs: DataFrame, n: int = 3, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(doc_id, band_id, band_hash) rows — the LSH bucket keys.

    Plan (r13 opt, face-off-measured): explode the in-row-distinct
    shingle set (``array_distinct`` before ``explode`` — doc rows are
    unique, so no ``collect_set`` shuffle of exploded text is ever
    needed) and compute all ``num_hashes`` per-seed xxhash64 minima
    as codegen'd ``min`` aggregates with map-side combine — one keyed
    exchange of per-doc signature partials; the band hashes are then
    a pure per-row expression over the wide min row (seed-ordered
    concat, identical input string to the old seed-sorted
    ``collect_list`` form — exceptAll-verified bit-identical). 1.3–
    1.5× faster at sf0.1 than the per-row nested-HOF signature
    (interpreted lambdas) + (doc, band) re-aggregation it replaces;
    docs with no shingles drop at the explode, same semantics as the
    old no-group behavior. ``spread`` floors the scan parallelism
    under the hash kernel (no-op at scale). The minima and band rows
    are SQL text, one py4j call each.

    Per (doc, seed): minhash = min over shingles of xxhash64(shingle,
    seed); per (doc, band of r=num_hashes/bands seeds): band_hash =
    hash of the seed-ordered minhash vector.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    mins = _doc_shingles(docs, n, "_s").groupBy("doc_id").agg(*[
        F.expr(f"min(xxhash64(_s, {i})) AS _m{i}")
        for i in range(num_hashes)
    ])
    bands_arr = ", ".join(
        f"struct({b} AS band_id, xxhash64(concat_ws(',', "
        + ", ".join(f"cast(_m{b * r + j} AS string)" for j in range(r))
        + ")) AS band_hash)"
        for b in range(bands)
    )
    return mins.selectExpr(
        "doc_id", f"explode(array({bands_arr})) AS _b"
    ).selectExpr("doc_id", "_b.band_id AS band_id", "_b.band_hash AS band_hash")


def minhash_lsh_candidates(
    docs: DataFrame, n: int = 3, num_hashes: int = 32, bands: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Banded-LSH candidate pairs (doc_a < doc_b).

    Docs agreeing on ALL r = num_hashes/bands minhashes of any band
    become candidates. Collision probability ≈ 1−(1−J^r)^b — with 32/8
    (r=4): J=0.6→61%, J=0.8→95%. Plan: one exchange keyed by
    (band_id, band_hash) — the classic LSH bucket-join — then pair
    expansion inside buckets only.
    Skew guard: buckets larger than ``max_bucket`` (degenerate
    all-same-band content) are dropped; at 100 TB a single hot bucket
    otherwise quadratically dominates the stage.
    """
    # one row per (doc, band) — tiny vs the shingle pipeline that
    # produces it; materialize so the three consumers below (bucket
    # census, semi-join, pair self-join) don't each re-run it
    banded = materialized(minhash_band_hashes(docs, n, num_hashes, bands))
    small_buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter((F.col("bucket_n") <= max_bucket) & (F.col("bucket_n") > 1))
        .select("band_id", "band_hash")
    )
    banded = banded.join(small_buckets, ["band_id", "band_hash"], "left_semi")

    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: sum ±1 per bit over token hashes,
    sign → bit. Near-duplicate docs land within a small Hamming
    distance. Built-ins only: per-bit vote via higher-order functions.

    Bit i of the result = 1 iff Σ_tokens sign(bit i of xxhash64(tok))
    > 0. Computed as a 64-element vote-array accumulator folded once
    per token — the token-hash array is the aggregate's input, so each
    token is split/hashed exactly once per row. (The bit-outer
    formulation — one aggregate per bit — re-evaluates the tokenizer
    and hashes 64× per document; measured ~15× slower.) Shuffle-free:
    the whole fingerprint is a per-row expression.
    """
    # SQL-expression form: shiftright/shiftleft accept a column shift
    # amount in SQL (the Python F.shiftright API is literal-only).
    fp = F.expr(
        f"""
        aggregate(
          transform(filter(split({text_col}, ' '), t -> t != ''),
                    t -> xxhash64(t)),
          array_repeat(0, 64),
          (acc, h) -> zip_with(acc, sequence(0, 63),
                               (a, i) -> a + CASE WHEN (shiftright(h, i) & 1L) = 1L
                                              THEN 1 ELSE -1 END),
          acc -> aggregate(
            zip_with(acc, sequence(0, 63),
                     (v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, i) ELSE 0L END),
            0L, (s, x) -> s + x)
        )
        """
    )
    return spread(docs).select("doc_id", fp.alias("simhash"))


def hamming_pairs(sim: DataFrame, max_distance: int = 8) -> DataFrame:
    """Pairs of docs whose SimHash Hamming distance ≤ max_distance.

    Blocking: split the 64-bit fingerprint into 4×16-bit chunks — any
    pair within distance ≤ 3 must agree on ≥1 chunk (pigeonhole); for
    larger budgets this is a recall-traded blocker, not exact. Join per
    chunk on equality, then verify true distance with bit_count.

    The fingerprint table is materialized before the self-join: it is
    ~100× smaller than the documents it derives from, and without the
    barrier each join branch re-runs the whole hash pipeline.
    """
    sim = materialized(sim)
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), i -> struct("
                "  i AS chunk_id,"
                "  shiftright(simhash, i * 16) & 65535L AS chunk))"
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_id", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    dist = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        # distance filter BEFORE the dedup shuffle: failing candidates
        # never enter the exchange
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def minhash_signatures_md5(
    docs: DataFrame, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """Engine-portable MinHash signatures (hash-checked Qkey
    ``minhash_sig``): for seed i, sig[i] = min over the doc's distinct
    word n-gram shingles of the 16-hex-digit md5 prefix of
    ``"<i>:<shingle>"``, compared as a STRING — lexicographic min on
    fixed-width lowercase hex equals numeric min, so any engine
    computes the identical signature (the DuckDB twin hash-checks it).
    The at-scale path is the xxhash64 family of ``minhash_band_hashes``
    (cheaper per hash), which ``minhash_lsh_candidates`` bands; this
    variant is the cross-engine witness that the banding algebra is
    right.

    Long output (doc_id, seed, minhash), one row per doc per seed.
    Docs with fewer than ``n`` tokens have no shingles and are dropped
    (a sub-shingle doc is exact dedup's job, not MinHash's — the
    explode drops them, as the old NULL-signature barrier did).

    Plan (r13 opt, face-off-measured): explode the in-row-distinct
    shingle set and compute the ``num_hashes`` md5 prefixes as plain
    codegen'd projections feeding per-doc ``min`` aggregates with
    map-side combine — bit-identical output (exceptAll-verified both
    directions), 2× faster than the per-row nested-HOF form at sf0.1
    (0.85 vs 1.6–1.7 s): HOF lambdas run interpreted, per-element,
    while the exploded form keeps every md5 inside whole-stage
    codegen. The cost is one keyed exchange of per-doc signature
    partials (~num_hashes·16 B per doc per task — noise next to the
    text the stage reads); ``spread`` floors the scan parallelism
    under the md5 kernel (no-op at scale). The aggregates and the
    ``posexplode`` are SQL text: a build sends ~100 py4j commands
    instead of the Column DSL's ~1,070.
    """
    mins = _doc_shingles(docs, n, "_s").groupBy("doc_id").agg(*[
        F.expr(f"min(substring(md5(cast(concat('{i}:', _s) AS binary)), "
               f"1, 16)) AS _m{i}")
        for i in range(num_hashes)
    ])
    sig = ", ".join(f"_m{i}" for i in range(num_hashes))
    return mins.selectExpr(
        "doc_id", f"posexplode(array({sig})) AS (seed, minhash)"
    ).selectExpr("doc_id", "cast(seed AS bigint) AS seed", "minhash")


def lsh_candidates_md5(
    docs: DataFrame, n: int = 3, num_hashes: int = 8, rows_per_band: int = 2,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs over the PORTABLE md5 signatures
    (hash-checked Qkey ``lsh_candidates``): seeds are grouped into
    bands of ``rows_per_band``; a band's key is the md5 of its
    seed-ordered minhash vector; docs sharing any (band, key) bucket
    are candidates. Output (doc_a < doc_b, n_shared_bands).

    Same bucket-join shape as ``minhash_lsh_candidates`` (the xxhash64
    scale path, which adds the hot-bucket skew cap); kept uncapped here
    so the DuckDB twin is exact. One keyed shuffle builds the band
    keys, one (band, key) exchange joins the buckets, one pair-keyed
    aggregate counts shared bands — no all-pairs stage anywhere.
    """
    if sigs is None:
        sigs = minhash_signatures_md5(docs, n=n, num_hashes=num_hashes)
    banded = (
        sigs.withColumn("band", F.expr(f"seed div {rows_per_band}"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                        lambda x: x["minhash"],
                    ),
                ).cast("binary")
            ).alias("band_key")
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def incremental_dedup(docs: DataFrame, mod: int = 5) -> DataFrame:
    """Incremental ingest dedup (hash-checked Qkey
    ``incremental_dedup``): treat ``doc_id % mod == 0`` as the newly
    arrived batch and the rest as the already-ingested corpus; keep
    each new doc only if (a) it is the first occurrence of its content
    hash WITHIN the batch (min doc_id wins) and (b) its hash does not
    already exist in the corpus. Output the surviving (doc_id, lang).

    Plan discipline (the 100 TB shape): the corpus side is reduced to
    DISTINCT content hashes before the anti join — keys only ever
    cross the wire, never text (same rule as ``cdc_apply``'s deletes);
    the within-batch winner is one keyed window on the hash. At real
    scale the corpus hash set lives as a bucketed table so repeated
    ingests co-locate free.
    """
    from pyspark.sql.window import Window

    h = F.md5(F.col("text").cast("binary")).alias("h")
    batch = docs.filter((F.col("doc_id") % mod) == 0).select(
        "doc_id", "lang", h
    )
    corpus_hashes = (
        docs.filter((F.col("doc_id") % mod) != 0).select(h).distinct()
    )
    first_in_batch = (
        batch.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("h").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return first_in_batch.join(corpus_hashes, "h", "left_anti").select(
        "doc_id", "lang"
    )


def dup_ngram_fraction(docs: DataFrame, n: int = 5) -> DataFrame:
    """Cross-document duplication score (hash-checked Qkey
    ``dup_ngram_frac``), the RefinedWeb/Gopher-style corpus-level twin
    of ``repetition_filter``'s within-doc ratio: for each doc, the
    fraction of its DISTINCT word n-gram shingles that occur in at
    least one other document. High fractions flag boilerplate and
    template spam that exact dedup misses.

    Plan: distinct (doc, shingle) pairs are built in-row
    (``array_distinct`` before ``explode``); document frequency is one
    hash aggregate on the shingle key (map-side combine); the join
    back to pairs is shingle-keyed; the per-doc roll-up is a second
    keyed aggregate. Linear in total shingle volume — no pair
    expansion, so unlike Jaccard pairs it needs no df cap to scale.
    """
    pairs = materialized(_doc_shingles(docs, n))
    dfreq = pairs.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    return (
        pairs.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("dup_frac"),
        )
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            "dup_frac",
        )
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame, n: int = 4, threshold: float = 0.5
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    SSJoin/PPJoin family, Chaudhuri ICDE'06 / Bayardo WWW'07): order
    every document's shingle set by a GLOBAL rarest-first total order
    (document frequency, then shingle) and index only the first
    ``|s| − ⌈t·|s|⌉ + 1`` shingles.  Theorem: two sets with
    Jaccard ≥ t MUST share at least one prefix token under a common
    total order — so joining on prefix tokens alone produces a
    candidate superset with ZERO false negatives, and the exact
    verify step (per-row ``array_intersect`` on the two shingle
    arrays, no further shuffle fan-in) restores precision.

    Why this is the at-scale exact path where the full inverted index
    is not: the join only fans out on each document's RAREST tokens —
    hot stop-shingles sit at the end of the ordering and never enter
    the index, without the semantic compromise of a hard ``max_df``
    cap (output provably equals the all-pairs ground truth; pinned in
    tests against ``ngram_jaccard_pairs``).

    Shuffles: one df aggregate, one rank window keyed by doc, one
    prefix-token join, two hash joins back to the (doc → array) map.
    """
    from pyspark.sql.window import Window

    sh = materialized(_doc_shingles(docs, n))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    # Every join below is fact×fact at scale — the shingle-df table,
    # the prefix index, and the (doc → shingle array) map all grow
    # with the corpus, so none may ever be broadcast. Pin them to
    # sort-merge: at the 100x blow-up AQE's runtime size estimate
    # promoted one side to a broadcast and the driver died building
    # it ("Not enough memory to build and broadcast the table");
    # on a real cluster the same promotion would OOM the driver at
    # far smaller corpora than the executors could handle.
    ranked = (
        sh.join(dfreq.hint("merge"), "shingle")
        .select(
            "doc_id", "shingle",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("_df", "shingle")
            ).alias("_pos"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("_n"),
        )
    )
    prefix = ranked.filter(
        F.col("_pos")
        <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    ).select("doc_id", "shingle")
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b").hint("merge"),
              (F.col("a.shingle") == F.col("b.shingle"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # r13 opt: the (doc → sorted shingle array) verify map feeds BOTH
    # sides of the candidate join — materialize it once instead of
    # rebuilding the shingle arrays per side
    arrs = materialized(
        spread(docs).select(
            "doc_id",
            F.array_sort(F.array_distinct(shingles("text", n))).alias("_sh"),
        ).filter(F.size("_sh") > 0)
    )
    j = (
        cands
        .join(arrs.select(F.col("doc_id").alias("doc_a"),
                          F.col("_sh").alias("_sa")).hint("merge"),
              "doc_a")
        .join(arrs.select(F.col("doc_id").alias("doc_b"),
                          F.col("_sh").alias("_sb")).hint("merge"),
              "doc_b")
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    jac = inter.cast("double") / (
        F.size("_sa") + F.size("_sb") - inter
    )
    return (
        j.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame, n: int = 4, threshold: float = 0.6
) -> DataFrame:
    """Asymmetric near-superset detection: containment
    ``|A∩B| / |A|`` flags a short document whose shingles are mostly
    swallowed by a longer one — the quote/excerpt/boilerplate-wrap
    duplicates that symmetric Jaccard misses (a 50-token doc embedded
    verbatim in a 5000-token doc has J ≈ 0.01 but containment 1.0).

    One inverted-index pair count (shared with the Jaccard machinery,
    df-capped the same way at scale) yields BOTH directions of every
    unordered pair via a per-row ``inline`` expansion — no second
    join.  Output: (doc_id, container_id, containment ≥ t).
    """
    ds = materialized(_doc_shingles(docs, n))
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ds.alias("a"), ds.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("_nb"))
    both = (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(F.inline(F.array(
            F.struct(F.col("doc_a").alias("doc_id"),
                     F.col("doc_b").alias("container_id"),
                     F.round(F.col("n_common").cast("double")
                             / F.col("_na"), 6).alias("containment")),
            F.struct(F.col("doc_b").alias("doc_id"),
                     F.col("doc_a").alias("container_id"),
                     F.round(F.col("n_common").cast("double")
                             / F.col("_nb"), 6).alias("containment")),
        )))
    )
    return both.filter(F.col("containment") >= threshold)


def simhash_md5_chunks(docs: DataFrame, n: int = 3) -> DataFrame:
    """Engine-portable SimHash (hash-checked Qkey ``simhash_sig``):
    64-bit fingerprint from md5 bits — bit j of the fingerprint is 1
    iff Σ over the doc's distinct shingles of (±1 per shingle's md5
    bit j) is > 0 (strictly-positive vote, deterministic both
    engines) — emitted as the four 16-bit blocking chunks
    ``hamming_pairs`` banding uses.  The xxhash64 ``simhash`` stays
    the at-scale default (one hash call vs 64 bit extractions); this
    variant is the cross-engine witness that the vote/chunk algebra
    is right, the same role ``minhash_signatures_md5`` plays for
    MinHash.

    Plan (r14 opt, bit-packed two-lane vote counters — VERDICT r13
    #3): explode the distinct shingle set, decode the md5 prefix to
    ONE 64-bit word per row (two ``conv`` calls), and aggregate the
    64 per-bit popcounts as 32 packed SUMs — aggregate ``i`` sums
    ``(h >> i) & 0x0000000100000001``, so its low 32-bit lane
    accumulates the popcount of bit ``i`` and its high lane the
    popcount of bit ``i+32`` in the SAME add. One shift + one mask
    per aggregate input (the r13 form evaluated 64 mask-test-scale
    expressions over 16 projected digit columns), half the aggregate
    buffer, still one doc-keyed exchange with map-side combine.

    Overflow algebra: each lane holds a per-doc distinct-shingle
    popcount S ≤ N; a Spark string caps at 2 GiB so N < 2^31 — the
    low lane (< 2^32) can never carry into the high lane and the
    packed long (< 2^31·2^32 + 2^31 < 2^63) can never overflow. The
    old signed vote ``v_j = Σ(±1) = 2·S_j − N`` is recovered from the
    lanes and the row count: ``v_j > 0  ⟺  2·S_j > N`` — exact
    integer compare, bit-identical output (exceptAll-pinned both
    directions in tests/test_dedup.py).  The per-row HOF formulation
    (64 interpreted ``aggregate`` passes over the shingle array)
    measured 17 s at sf0.1 vs seconds for this shape.
    """
    ex = _doc_shingles(docs, n, "_s").select(
        "doc_id", F.md5(F.col("_s").cast("binary")).alias("_h"))

    # md5 hex chars 1..16 (the first 64 digest bits) as one long,
    # big-endian: scheme bit j (pos j//4+1, nibble bit 3−j%4) is word
    # bit 63−j
    w = ex.selectExpr(
        "doc_id",
        "shiftleft(cast(conv(substring(_h, 1, 8), 16, 10) AS bigint), 32)"
        " | cast(conv(substring(_h, 9, 8), 16, 10) AS bigint) AS _w")

    # 4294967297 = 1 | 1<<32: two 32-bit popcount lanes
    packed = w.groupBy("doc_id").agg(
        F.expr("count(1) AS _n"),
        *[F.expr(f"sum(shiftright(_w, {i}) & 4294967297) AS _a{i}")
          for i in range(32)],
    )

    def popcnt(p: int) -> str:
        """S_p = count of shingles whose md5 word has bit p set."""
        lane = f"_a{p}" if p < 32 else f"shiftright(_a{p - 32}, 32)"
        return f"({lane} & 4294967295)"  # 0xFFFFFFFF

    # scheme bit j = k·16 + b is word bit 63−j
    chunks = [
        " + ".join(
            ["0"] + [f"cast({popcnt(63 - k * 16 - b)} * 2 > _n AS bigint)"
                     f" * {1 << (15 - b)}" for b in range(16)]
        ) + f" AS c{k}"
        for k in range(4)
    ]
    return packed.selectExpr("doc_id", *chunks)
