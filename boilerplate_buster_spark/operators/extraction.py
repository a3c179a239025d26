"""Two-pass main-content extraction over Common-Crawl-style pages
(the north-rule pipeline; BASELINE.json north_star).

  pass 1 (corpus-global):  pages -> text representation -> tokenize ->
                           BloomSpan mining -> boilerplate phrase table
  pass 2 (per-page map):   broadcast phrase index -> Arrow-batched strip ->
                           (url, extracted_text, removed_spans)

Scale notes:
  * Pass 2 is a pure map - NO shuffle; parallelism is input-partition bound.
    `repartition_by_url` adds an explicit repartition(xxhash64(url)) when the
    source partitioning is skewed (north rule), otherwise the scan
    partitioning is reused untouched.
  * The phrase table is corpus-statistics-bounded (templates, not rows) and is
    broadcast once per executor; the strip kernel is the numpy-vectorized
    batch matcher (core/extract_vec.py) inside mapInPandas Arrow batches -
    rolling-hash window matching, no per-row per-phrase Python loops.  The
    pure-Python kernel (core/extract.py) remains the golden oracle.
  * HTML parses ONCE: pass 1 persists the parsed `text_repr` (string column -
    cache-friendly, unlike token arrays) and pass 2 strips from that same
    persisted frame.  Pages with html=NULL never enter Python (the null
    branch stays JVM-side).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from boilerplate_buster_spark.core.extract import index_phrases
from boilerplate_buster_spark.core.extract_vec import strip_batch
from boilerplate_buster_spark.core.htmlparse import html_to_text
from boilerplate_buster_spark.functions.tokenizer import tokens
from boilerplate_buster_spark.operators import bloomspan

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField(
            "removed_spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.IntegerType(), False),
                        T.StructField("end", T.IntegerType(), False),
                        T.StructField("phrase", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def with_text_repr(pages: DataFrame) -> DataFrame:
    """pages + text_repr: parsed html blocks, else the `text` column.

    The html parse is a pandas-UDF (Arrow batches); rows with html IS NULL
    never enter Python.  When no page carries html (one cheap limit-1
    probe) the plan holds no Python stage at all: an ArrowEvalPython stage
    starts a worker on every partition even when its filter passes no row.
    """
    html_rows = pages.filter(F.col("html").isNotNull())
    if html_rows.isEmpty():
        return pages.withColumn("text_repr", F.col("text"))

    @F.pandas_udf(T.StringType())
    def parse_html(html: pd.Series) -> pd.Series:
        return html.map(lambda b: html_to_text(b) if b is not None else None)

    # Spark does NOT short-circuit UDFs inside when(): a single withColumn
    # would push every row through Python even when html IS NULL.  Split the
    # frame instead - the null branch never leaves the JVM.
    with_html = html_rows.withColumn("text_repr", parse_html(F.col("html")))
    text_only = pages.filter(F.col("html").isNull()).withColumn(
        "text_repr", F.col("text")
    )
    return with_html.unionByName(text_only)


def strip_text_pass(
    df: DataFrame, phrases: list[str], text_col: str = "text_repr"
) -> DataFrame:
    """Pass 2 over an already-parsed text column: vectorized batch strip;
    returns EXTRACTED_SCHEMA rows.  `phrases` rides the closure -> task
    broadcast; the by-length index is built once per Python worker."""
    by_len = index_phrases(phrases)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_text, spans = strip_batch(list(pdf[text_col]), by_len)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "extracted_text": out_text,
                    "removed_spans": [
                        [{"start": s, "end": e, "phrase": p} for s, e, p in sp]
                        for sp in spans
                    ],
                }
            )

    return df.select("url", text_col).mapInPandas(run, EXTRACTED_SCHEMA)


def strip_pass(pages: DataFrame, phrases: list[str]) -> DataFrame:
    """Pass 2 from raw pages (url, html, text): parse + strip in one map.
    Prefer `extract_main_content`, which reuses the pass-1 parse cache."""
    by_len = index_phrases(phrases)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [
                html_to_text(h) if h is not None else (t or "")
                for h, t in zip(pdf["html"], pdf["text"])
            ]
            out_text, spans = strip_batch(texts, by_len)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "extracted_text": out_text,
                    "removed_spans": [
                        [{"start": s, "end": e, "phrase": p} for s, e, p in sp]
                        for sp in spans
                    ],
                }
            )

    return pages.select("url", "html", "text").mapInPandas(run, EXTRACTED_SCHEMA)


def extract_main_content(
    spark: SparkSession,
    pages: DataFrame,
    min_docs: int,
    ngrams: int = 4,
    min_l: int | None = None,
    repartition_by_url: bool = False,
    **mine_kw,
) -> tuple[DataFrame, list[str]]:
    """Full two-pass pipeline -> (extracted DataFrame, mined phrase list).

    HTML parses exactly once: the parsed text_repr persists (MEMORY_AND_DISK)
    through pass 1 mining AND the returned pass-2 strip plan.  The cache stays
    alive because the returned DataFrame is lazy; Spark evicts it under
    pressure, and callers may `.unpersist()` the input lineage after
    materializing."""
    from pyspark import StorageLevel

    text_repr = with_text_repr(pages).select("url", "text_repr")
    if repartition_by_url:
        text_repr = text_repr.repartition(F.xxhash64("url"))
    text_repr = text_repr.persist(StorageLevel.MEMORY_AND_DISK)
    docs = text_repr.select(
        F.col("url").alias("doc_id"), tokens("text_repr").alias("tokens")
    )
    phrases = [
        p.text
        for p in bloomspan.mine(
            spark, docs, min_docs=min_docs, ngrams=ngrams, min_l=min_l, **mine_kw
        )
    ]
    return strip_text_pass(text_repr, phrases), phrases
