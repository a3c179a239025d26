"""Line-level corpus dedup + repetition quality signals - the industrial
complements of the phrase miner (SURVEY.md's LLM-data-pipeline bar).

Two operator families, both pure Catalyst:

* CCNet-style LINE dedup (`line_doc_freq`, `remove_boilerplate_lines`):
  a line that appears in >= min_df distinct documents is boilerplate
  (cookie banners, nav text, footers) and is dropped from every document.
  This is the cheap industrial variant of what the BloomSpan miner does
  statistically for phrases: exact match at line granularity, two shuffles
  total (line-hash DF aggregate + per-doc reconstruction), frequent-line
  set df-thresholded so the join side is corpus-statistics-bounded
  (#frequent lines <= total_lines / min_df), never vocabulary-bounded.

* Gopher-style repetition signals (`repetition_signals`): per document,
  the fraction of duplicate lines and the character share of the most
  frequent word n-gram - the quality-filter signals of Rae et al. 2021
  (Gopher) sections A1.1, as exact integer ratios (scaled 1e6) so a SQL
  oracle reproduces them bit-for-bit.

Scale posture (100 TB): every aggregate is a hash-aggregate on a uniform
key (line hash / (doc, gram)); the only broadcast is the frequent-line
set, bounded by df-threshold; reconstruction is one shuffle on doc_id with
array_sort (no window).  No reference anchor - the reference is the phrase
miner; these mirror public Common-Crawl pipeline practice (CCNet, Gopher,
FineWeb).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from boilerplate_buster_spark.session import local_frame


def _sep_regex_sql(sep: str) -> str:
    """SQL string literal holding `sep` as a LITERAL Java regex: split()'s
    second argument is a regex, so a separator containing . | ( etc. would
    otherwise split on every character.  \\Q...\\E quotes the whole
    separator (re-opened around any embedded \\E), then backslashes and
    quotes are escaped for the SQL literal itself."""
    pat = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lit = pat.replace("\\", "\\\\").replace("'", "\\'")
    return f"'{lit}'"


def _sql_str(s: str) -> str:
    """SQL string literal holding `s` verbatim (for array_join / literal
    contexts, NOT for split()'s regex argument - that's _sep_regex_sql)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _lines_expr(text_col: str, sep: str) -> str:
    return f"filter(split({text_col}, {_sep_regex_sql(sep)}), x -> x != '')"


def line_doc_freq(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(line, df): per-line DISTINCT-document frequency.  Empty lines are
    ignored; intra-doc repeats count once (array_distinct before the
    explode, so the shuffle carries each (line, doc) pair at most once)."""
    return (
        docs.select(
            F.explode(F.expr(f"array_distinct({_lines_expr(text_col, sep)})")).alias("line")
        )
        .groupBy("line")
        .agg(F.count("*").alias("df"))
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    min_df: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(id, clean_text): every line appearing in >= min_df distinct docs is
    removed from every doc; remaining lines keep their original order and
    separator.  ONE ROW PER INPUT DOC - a doc whose every line is
    boilerplate yields '' (sentinel trick, same as domheuristics).

    Plan: line-DF aggregate (one shuffle on line), frequent set broadcast
    LEFT-ANTI joined against the exploded (doc, pos, line) rows - EXACT
    (a Bloom probe would delete legit lines on false positives, so no
    bitmap here), O(1) per line via the broadcast hash table - then one
    per-doc reconstruction shuffle with array_sort (no window).  The
    broadcast side is df-thresholded: <= total_lines/min_df rows, a
    corpus-statistics bound, never data-sized."""
    frequent = (
        line_doc_freq(docs, id_col, text_col, sep)
        .filter(F.col("df") >= min_df)
        .select("line")
    )
    exploded = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(_lines_expr(text_col, sep))).alias("pos", "line"),
    )
    # sentinel keeps empty/fully-boilerplate docs in the output; it unions
    # in AFTER the anti-join ('' can never be frequent anyway, and joining
    # the union would push the anti-join into both branches and compute the
    # line-DF aggregate TWICE - no CSE across union branches)
    sentinels = docs.select(
        F.col(id_col), F.lit(-1).alias("pos"), F.lit("").alias("line")
    )
    kept = exploded.join(
        F.broadcast(frequent), "line", "left_anti"
    ).select(id_col, "pos", "line").unionByName(sentinels)
    return (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("ordered"))
        .select(
            id_col,
            F.array_join(
                F.expr("transform(filter(ordered, s -> s.pos >= 0), s -> s.line)"),
                sep,
            ).alias("clean_text"),
        )
    )


def dedup_lines_in_doc(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(id, n_lines, n_dup_lines, clean_text): WITHIN-document line dedup -
    keep only the FIRST occurrence of each exact line inside a document,
    preserving original order (the FineWeb/CCNet "remove duplicated lines
    within doc" stage; `remove_boilerplate_lines` is the cross-document
    complement).  ONE ROW PER INPUT DOC; empty lines are dropped by the
    line splitter like everywhere else in this module.

    Scale posture: a PURE PROJECTION - zero shuffles, zero joins.  All the
    information is within one row, so the whole stage is a map the scanner
    pipelines with whatever comes next.  Per row it is O(n log n) in the
    line count, not O(n^2): lines are tagged with their position, sorted
    (line, pos), first-of-run marked by comparing each element with its
    sorted predecessor (array subscripts are O(1)), survivors re-sorted by
    position.  No per-element array_position scan, no window function."""
    ls = _lines_expr(text_col, sep)
    tagged = docs.withColumn(
        "_sorted",
        F.expr(
            f"array_sort(transform({ls}, (x, i) -> struct(x AS line, i AS pos)))"
        ),
    )
    kept = (
        "transform("
        "  array_sort(transform("
        "    filter(_sorted, (s, j) -> j = 0 OR s.line != _sorted[j - 1].line),"
        "    s -> struct(s.pos AS pos, s.line AS line))),"
        "  s -> s.line)"
    )
    return tagged.select(
        F.col(id_col),
        F.size("_sorted").cast("long").alias("n_lines"),
        F.expr(f"size(_sorted) - size({kept})").cast("long").alias("n_dup_lines"),
        F.expr(f"array_join({kept}, {_sql_str(sep)})").alias("clean_text"),
    )


def repetition_signals(
    docs: DataFrame,
    ngram: int = 2,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(id, dup_line_frac_e6, top_ngram_char_frac_e6): Gopher-style
    repetition quality signals, exact integer millionths:

      dup_line_frac_e6     = 1e6 * (n_lines - n_distinct_lines) / n_lines
      top_ngram_char_frac_e6 = 1e6 * token-chars(most frequent word n-gram)
                                   * count(most frequent word n-gram)
                                   / total token chars
    (token-chars excludes the n-1 joining spaces, matching the
    denominator's separator-free concatenation - Gopher's character
    fraction, always <= 1e6 per occurrence set)
    Ties on the top n-gram resolve to the LEXICOGRAPHICALLY SMALLEST gram
    (deterministic, oracle-reproducible).  All arithmetic is integer `div`
    (no doubles), so the oracle matches bit-for-bit.

    Plan shape: line fraction is a pure map; the top n-gram is one
    LINEAR explode + two-level hash-aggregate (per-(doc,gram) count, then
    per-doc argmax via min(struct(-count, gram))) + one join back on id -
    O(tokens) total, no per-row quadratic scan (a pure-expression argmax
    would rescan the doc's gram list once per distinct gram)."""
    t = tokens_col
    lines = _lines_expr(text_col, sep)
    grams = (
        f"transform(slice(sequence(1, greatest(size({t}) - {ngram} + 1, 1)), "
        f"1, greatest(size({t}) - {ngram} + 1, 0)), "
        f"i -> array_join(slice({t}, i, {ngram}), ' '))"
    )
    per_gram = (
        docs.select(F.col(id_col), F.explode(F.expr(grams)).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("cnt"))
    )
    top = per_gram.groupBy(id_col).agg(
        F.min(F.struct(F.expr("-cnt").alias("nc"), F.col("gram").alias("g"))).alias("t")
    )
    base = docs.select(
        F.col(id_col),
        F.expr(
            f"(1000000 * (size({lines}) - size(array_distinct({lines})))) "
            f"div greatest(size({lines}), 1)"
        ).alias("dup_line_frac_e6"),
        F.expr(f"length(array_join({t}, ''))").alias("_chars"),
    )
    return base.join(top, id_col, "left").select(
        id_col,
        "dup_line_frac_e6",
        F.expr(
            f"coalesce((1000000 * (length(t.g) - {ngram - 1}) * (-t.nc)) "
            "div greatest(_chars, 1), 0)"
        ).alias("top_ngram_char_frac_e6"),
    )


def contamination_flags(
    docs: DataFrame,
    benchmark_grams: list[str],
    ngram: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(id, n_contaminated, contaminated): benchmark-decontamination check -
    how many of the doc's word n-gram POSITIONS match the benchmark n-gram
    set (the standard n-gram-overlap test-set leakage filter of public LLM
    data pipelines: GPT-3 appendix C uses 13-grams, FineWeb/lm-eval
    decontamination 8-grams).  EXACT string membership, no hashing.

    Plan: the benchmark set is test-set-sized (thousands, never
    corpus-sized), so it broadcasts; gram enumeration explodes in the scan
    and hits a BroadcastHashJoin - no shuffle for the matching itself.  The
    per-doc count shuffle carries ONLY matched rows (contaminated docs are
    rare by construction), and the final id join broadcasts that tiny count
    table back onto the corpus - the full corpus is never shuffled."""
    t = tokens_col
    spark = docs.sparkSession
    # set semantics: duplicate benchmark grams must not multiply matches
    bench = local_frame(spark, [(g,) for g in sorted(set(benchmark_grams))], "gram string")
    grams = (
        f"transform(slice(sequence(1, greatest(size({t}) - {ngram} + 1, 1)), "
        f"1, greatest(size({t}) - {ngram} + 1, 0)), "
        f"i -> array_join(slice({t}, i, {ngram}), ' '))"
    )
    counts = (
        docs.select(F.col(id_col), F.explode(F.expr(grams)).alias("gram"))
        .join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )
    return docs.select(id_col).join(F.broadcast(counts), id_col, "left").select(
        id_col,
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
    )
