"""Corpus-level statistics operators (SURVEY.md section 2.3).

All pure DataFrame/Catalyst - partial aggregation, spill, and distinct
rewriting come from HashAggregateExec for free (replacing the reference's
125-LoC external merge sort, bloom_gram_miner.cpp:353-589, and its counting
Bloom filter, ":284-337").

Skew note (100 TB posture): `countDistinct(doc_id)` is planned by Catalyst as
a two-level aggregate - partial dedup keyed on (gram, doc_id), which is
uniformly distributed even for head grams that occur in every document, then a
partially-aggregated count per gram.  That IS the "salted phrase keys" scheme
of BASELINE.json's north rule, derived by the optimizer; verified via
.explain("formatted") in tests/test_plans.py.  Explicit salting remains
necessary only for collect-style aggregations (occurrence gathering,
operators/bloomspan.py caps those instead)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from boilerplate_buster_spark.functions.ngrams import explode_ngrams
from boilerplate_buster_spark.session import local_frame


def word_doc_freq(
    docs: DataFrame, doc_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Per-word DISTINCT-document frequency (A4; corpus_miner.cpp:485-488 does
    this with a last-doc-id dedup trick - here array_distinct inside the doc
    makes the explode emit each (word, doc) once, so a plain count suffices:
    map-side combine, no distinct aggregation needed)."""
    return (
        docs.select(F.explode(F.array_distinct(tokens_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )


def ngram_doc_freq(
    docs: DataFrame, n: int, doc_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Per-n-gram distinct-document frequency: (gram, df).

    Intra-doc repetitions count once (A3 semantics; fixture test1/doc_04).
    Dedup before the shuffle: array_distinct over the doc's own gram list
    collapses repeats map-side, so the exchange carries (gram, doc) pairs at
    most once per doc and the final agg is a plain count."""
    per_doc = docs.select(
        F.col(doc_col),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(slice(sequence(1, greatest(size({tokens_col}) - {n} + 1, 1)), "
                    f"1, greatest(size({tokens_col}) - {n} + 1, 0)), "
                    f"i -> array_join(slice({tokens_col}, i, {n}), ' '))"
                )
            )
        ).alias("gram"),
    )
    return per_doc.groupBy("gram").agg(F.count("*").alias("df"))


def frequent_ngrams(docs: DataFrame, n: int, min_docs: int, **kw) -> DataFrame:
    """Grams with df >= min_docs (the candidate threshold, ":562")."""
    return ngram_doc_freq(docs, n, **kw).filter(F.col("df") >= min_docs)


def seed_occurrences(
    docs: DataFrame, n: int, doc_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """All n-gram occurrences (doc_id, pos, gram) - the seed stream (A1)."""
    return explode_ngrams(docs, n, doc_col, tokens_col)


def exact_percentiles(docs, value_expr: str, ps: list[int]):
    """(p, value): EXACT nearest-rank percentiles of an integer-valued
    expression - value at 1-based rank ceil(p * N / 100), computed in
    integer arithmetic ((p*N + 99) div 100), so a SQL oracle matches
    bit-for-bit (approx_percentile sketches are engine-specific; exact
    percentiles of an integer-DOMAIN column need no global sort).

    Two-phase: one hash aggregation to the value histogram (bounded by
    the value domain, a corpus statistic - token counts, lengths,
    scores), collected to the driver where the cumulative scan over the
    tiny histogram answers every rank - the same stats-to-the-driver
    shape as pack_sequences' bucket offsets.  The corpus is scanned
    exactly once and nothing is cached or windowed."""
    spark = docs.sparkSession
    v = docs.selectExpr(f"cast({value_expr} AS bigint) AS val")
    hist = sorted(
        (r["val"], r["c"])
        for r in v.groupBy("val").agg(F.count("*").alias("c")).collect()
    )
    n = sum(c for _, c in hist)
    out = []
    for p in sorted(int(p) for p in ps):
        rank = (p * n + 99) // 100
        cum = 0
        value = None
        for val, c in hist:
            cum += c
            if cum >= rank:
                value = val
                break
        out.append((p, value))
    return local_frame(spark, out, "p long, value long")


def corpus_composition(
    docs: DataFrame,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """(group..., n_docs, n_tokens, doc_share_e6, token_share_e6): the
    corpus-composition report every training-data card publishes — per
    (language, source) document and token counts plus their integer-exact
    shares of the corpus totals (millionths under integer div, so a SQL
    oracle matches bit-for-bit).

    One hash-aggregate on the (bounded) group key; the grand totals ride
    as a broadcast single-row aggregate CROSS JOIN, so nothing is
    collected and the corpus is scanned exactly once.  At 10^12 docs the
    group cardinality is languages x sources — a corpus statistic."""
    words = (
        f"size(filter(split(replace({text_col}, '\\n', ' '), ' '), "
        "x -> x <> ''))"
    )
    agg = docs.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count("*").alias("n_docs"),
        F.expr(f"sum({words})").alias("n_tokens"),
    )
    tot = agg.agg(
        F.sum("n_docs").alias("_td"), F.sum("n_tokens").alias("_tt")
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        *group_cols,
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr("(1000000 * n_docs) div greatest(_td, 1)").alias("doc_share_e6"),
        F.expr("(1000000 * n_tokens) div greatest(_tt, 1)").alias(
            "token_share_e6"
        ),
    )


def cooccurrence(
    docs: DataFrame,
    window: int = 2,
    min_count: int = 5,
    tokens_col: str = "tokens",
) -> DataFrame:
    """(w1, w2, n_xy, n_x, n_y, assoc_e6): skip-gram word co-occurrence
    within +-`window` positions (unordered - every pair is canonicalized
    to w1 <= w2 before counting) and the PMI CORE as exact integer
    millionths:

        assoc_e6 = (n_xy * N_tokens * 1e6) div (n_x * n_y)

    i.e. the association ratio P(x,y)/(P(x)P(y)) up to the constant
    N_pairs/N_tokens factor and WITHOUT the log - the standard documented
    deviation (transcendentals are not cross-engine stable); the ranking
    it induces is PMI's.  int64 headroom: n_xy * N_tokens <= ~9e12.

    Plan shape: pair enumeration is a linear in-scan explode (window is a
    small constant, so pairs = O(window * tokens)); `min_count` prunes the
    pair table BEFORE the two vocabulary joins; the unigram table is
    vocab-sized and shuffles on the word key (broadcast is wrong at
    100 TB - a web vocab does not fit an executor); the token total rides
    in via a 1-row broadcast cross join, never a collect."""
    t = tokens_col
    w = int(window)
    pairs_expr = (
        f"flatten(transform("
        f"  slice(sequence(1, greatest(size({t}) - 1, 1)),"
        f"        1, greatest(size({t}) - 1, 0)), i ->"
        f"  transform(sequence(i + 1, least(i + {w}, size({t}))), j ->"
        f"    struct("
        f"      CASE WHEN element_at({t}, i) <= element_at({t}, j)"
        f"           THEN element_at({t}, i) ELSE element_at({t}, j) END AS w1,"
        f"      CASE WHEN element_at({t}, i) <= element_at({t}, j)"
        f"           THEN element_at({t}, j) ELSE element_at({t}, i) END AS w2))))"
    )
    pairs = (
        docs.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("n_xy"))
        .filter(F.col("n_xy") >= int(min_count))
    )
    uni = (
        docs.select(F.explode(F.col(t)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    total = docs.select(F.sum(F.size(t)).cast("long").alias("n_tokens"))
    return (
        pairs.join(uni.select(F.col("word").alias("w1"), F.col("n").alias("n_x")), "w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("n").alias("n_y")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_xy",
            "n_x",
            "n_y",
            F.expr("(n_xy * n_tokens * 1000000) div (n_x * n_y)").alias("assoc_e6"),
        )
    )


def top_terms_per_group(
    docs: DataFrame,
    group_col: str,
    tokens_col: str = "tokens",
    k: int = 3,
) -> DataFrame:
    """(group, term, cnt, rank): the k most frequent terms per group
    (host / domain / source bucket), ranked by count with ties to the
    lexicographically SMALLEST term - deterministic, oracle-reproducible.
    The per-host vocabulary profile a curation run reads to spot template
    farms and topic skew.

    Plan: one (group, term) hash aggregate (uniform key), then the rank
    window runs over per-group VOCABULARIES, not the corpus - the window
    input is already aggregate-sized.  No collects."""
    counts = (
        docs.select(F.col(group_col).alias("grp"), F.explode(tokens_col).alias("term"))
        .groupBy("grp", "term")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(F.col("cnt").desc(), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col("grp").alias(group_col),
            "term",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def doc_keywords(
    docs: DataFrame,
    n_docs: int,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 3,
) -> DataFrame:
    """(doc, term, tfidf_e6, rank): the k most characteristic terms per
    document by integer tf-idf (tf * ((n_docs * 1e6) div df) - the same
    rational-idf surface as search.search_terms), ties to the
    lexicographically smallest term.  The keyword-tagging primitive of a
    curation stack (topic routing, index summaries).

    Plan: (doc, term) tf agg + term df agg, one join on the term key
    (vocabulary-sized - NOT broadcast, a web vocabulary is executor-sized),
    then the rank window runs over per-doc vocabularies."""
    tf = (
        docs.select(F.col(doc_col), F.explode(tokens_col).alias("term"))
        .groupBy(doc_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_t, "term").withColumn(
        "tfidf_e6", F.expr(f"tf * ({int(n_docs) * 1000000} div df)")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(doc_col).orderBy(
        F.col("tfidf_e6").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            doc_col, "term",
            F.col("tfidf_e6").cast("long").alias("tfidf_e6"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def quality_percentiles(
    scores: DataFrame,
    score_col: str = "quality_e6",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, score, pct_rank_e6): each document's score percentile,
    pct_rank_e6 = (#docs with STRICTLY smaller score) * 1e6 div (n - 1)
    (equal scores share a percentile - the deterministic, value-keyed
    convention).  The corpus-trimming primitive: 'keep the top 30% by
    quality' becomes a pure filter on pct_rank_e6.

    Scale shape: NO global row window (that is a single-partition sort).
    Instead a value histogram (|distinct scores| rows), a running sum
    over that aggregate-sized table, and a join back on the score key."""
    n = scores.count()
    hist = scores.groupBy(score_col).agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window

    w = (
        Window.orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn(
        "below", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    ).select(score_col, "below")
    return scores.join(cum, score_col).select(
        id_col,
        F.col(score_col).cast("long"),
        F.expr(f"below * 1000000 div greatest({int(n) - 1}, 1)")
        .cast("long")
        .alias("pct_rank_e6"),
    )


def novelty_scores(
    docs: DataFrame,
    n: int = 3,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(doc, n_grams, n_unique_to_doc, novelty_e6): how much of each
    document exists NOWHERE else - the fraction of its distinct word
    n-grams whose corpus document-frequency is exactly 1 (leave-one-out:
    df=1 means only this doc carries it).  High novelty = original
    content; near-zero = boilerplate/mirror.  Exact integer millionths.

    Plan: the (gram, doc) pairs are deduped in-scan (array_distinct), the
    df aggregate shuffles once on the gram key, and the df=1 subset joins
    back gram-keyed - matched rows only, since df=1 grams hit exactly one
    doc each."""
    grams = (
        f"array_distinct(transform(slice(sequence(1, greatest(size({tokens_col}) - {n} + 1, 1)), "
        f"1, greatest(size({tokens_col}) - {n} + 1, 0)), "
        f"i -> array_join(slice({tokens_col}, i, {n}), ' ')))"
    )
    pairs = docs.select(
        F.col(doc_col), F.explode(F.expr(grams)).alias("gram")
    )
    df_t = pairs.groupBy("gram").agg(F.count("*").alias("df"))
    uniq = (
        pairs.join(df_t.filter(F.col("df") == 1).select("gram"), "gram")
        .groupBy(doc_col)
        .agg(F.count("*").alias("n_unique_to_doc"))
    )
    totals = docs.select(
        F.col(doc_col), F.expr(f"size({grams})").cast("long").alias("n_grams")
    )
    return totals.join(uniq, doc_col, "left").select(
        doc_col,
        "n_grams",
        F.coalesce("n_unique_to_doc", F.lit(0)).cast("long").alias(
            "n_unique_to_doc"
        ),
        F.expr(
            "coalesce(n_unique_to_doc, 0) * 1000000 div greatest(n_grams, 1)"
        ).cast("long").alias("novelty_e6"),
    )


def vocab_stats(
    docs: DataFrame,
    group_col: str,
    tokens_col: str = "tokens",
) -> DataFrame:
    """(group, n_tokens, n_types, n_hapax, ttr_e6, hapax_e6): per-slice
    vocabulary statistics - token total, distinct types, hapax legomena
    (types occurring exactly once IN the slice), integer type-token ratio
    and hapax share.  The Heaps/Zipf-shape diagnostic a corpus audit
    reads per source/language/date slice.

    Plan: one (group, term) hash aggregate, then a group rollup over the
    aggregate - vocabulary-sized, never row-sized."""
    tf = (
        docs.select(F.col(group_col).alias("grp"), F.explode(tokens_col).alias("term"))
        .groupBy("grp", "term")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        tf.groupBy("grp")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum((F.col("cnt") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n_tokens").cast("long"),
            F.col("n_types").cast("long"),
            F.col("n_hapax").cast("long"),
            F.expr("n_types * 1000000 div greatest(n_tokens, 1)")
            .cast("long").alias("ttr_e6"),
            F.expr("n_hapax * 1000000 div greatest(n_types, 1)")
            .cast("long").alias("hapax_e6"),
        )
    )


def oov_rates(
    docs: DataFrame,
    vocab_size: int,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(doc, n_tokens, n_oov, oov_e6): per-document out-of-vocabulary
    rate against the corpus's OWN top-`vocab_size` vocabulary (by count,
    ties to the lexicographically smallest term) - the coverage check a
    tokenizer/vocab build runs before freezing V.  Exact integer
    millionths.

    Plan: one term-count aggregate; the top-V cut is orderBy().limit()
    (TakeOrderedAndProject, never a global window); the vocabulary is
    V-bounded BY CONSTRUCTION so it broadcast-anti-joins against the
    exploded tokens; one per-doc count shuffle."""
    counts = (
        docs.select(F.explode(tokens_col).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(int(vocab_size))
        .select("term")
    )
    toks = docs.select(F.col(doc_col), F.explode(tokens_col).alias("term"))
    oov = (
        toks.join(F.broadcast(vocab), "term", "left_anti")
        .groupBy(doc_col)
        .agg(F.count("*").alias("n_oov"))
    )
    return (
        docs.select(F.col(doc_col), F.size(tokens_col).cast("long").alias("n_tokens"))
        .join(oov, doc_col, "left")
        .select(
            doc_col,
            "n_tokens",
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.expr("coalesce(n_oov, 0) * 1000000 div greatest(n_tokens, 1)")
            .cast("long")
            .alias("oov_e6"),
        )
    )
