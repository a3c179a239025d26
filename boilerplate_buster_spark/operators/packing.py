"""Training-set assembly: weighted corpus mixing and fixed-length
sequence packing - the last two stages between a cleaned corpus and a
training run (Pile/Dolma-style source mixing; every LLM trainer packs
documents into fixed-length token sequences).

Both are INTEGER-DETERMINISTIC by construction (portable 60-bit md5
Bernoulli for mixing; integer prefix sums for packing), so SQL oracles
reproduce them bit-for-bit and re-runs at any parallelism produce
identical training sets - the reproducibility property data pipelines
actually need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from boilerplate_buster_spark.operators.text_stats import h60
from boilerplate_buster_spark.session import local_frame


def weighted_corpus_mix(
    docs: DataFrame,
    weights_e6: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows kept with per-source probability weight_e6/1e6, decided by a
    SEEDED portable hash of (source, id) - deterministic across runs,
    partitionings and engines (no RNG state, no sampleBy non-determinism).
    Sources absent from the map are dropped (weight 0).  Pure filter in the
    scan - no shuffle."""
    case = "CASE " + " ".join(
        f"WHEN {source_col} = '{s}' THEN {int(w)}"
        for s, w in sorted(weights_e6.items())
    ) + " ELSE 0 END"
    coin = h60(f"concat({source_col}, '#', CAST({id_col} AS string))")
    return docs.filter(F.expr(f"pmod({coin}, 1000000) < {case}"))


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(id, chunk_idx, start, n_tokens, chunk_text): fixed-size token
    windows with overlap - the RAG / embedding-prep chunker.  Chunk i
    starts at i * (chunk_tokens - overlap); the number of chunks is
    1 + ceil(max(n - chunk_tokens, 0) / stride), so every token is
    covered, the last chunk may run short, and no chunk is fully
    contained in its predecessor.  Empty documents emit one empty chunk
    (so no document vanishes from the chunked corpus).  Pure
    explode-of-sequence in the scan - linear output, no shuffle."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    t = tokens_col
    n_chunks = (
        f"1 + (greatest(size({t}) - {chunk_tokens}, 0) + {stride} - 1) "
        f"div {stride}"
    )
    return (
        docs.select(
            F.col(id_col),
            F.col(t),
            F.explode(F.expr(f"sequence(0, {n_chunks} - 1)")).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            (F.col("chunk_idx") * stride).cast("long").alias("start"),
            F.expr(
                f"size(slice({t}, chunk_idx * {stride} + 1, {chunk_tokens}))"
            ).cast("long").alias("n_tokens"),
            F.expr(
                f"array_join(slice({t}, chunk_idx * {stride} + 1, "
                f"{chunk_tokens}), ' ')"
            ).alias("chunk_text"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    quota: int,
    id_col: str = "doc_id",
    oversample: int = 4,
) -> DataFrame:
    """Exact-quota deterministic stratified sample: for each stratum, the
    ``quota`` rows with the smallest portable hash of (stratum, id) - ties
    broken by id.  Output = input columns + ``sample_rank`` (1..quota).
    Strata smaller than the quota keep all their rows.  Deterministic
    across runs, partitionings and engines (hash order, no RNG).

    A per-stratum rank is a row_number window - the classic skew trap
    when strata are few and large.  This runs the window over a HASH
    PREFILTER instead of the stratum: per-stratum counts aggregate to the
    driver (corpus-statistics-sized), each stratum gets a hash threshold
    admitting ~oversample*quota rows, and only those survivors are
    windowed.  Because the prefilter keeps exactly the rows BELOW the
    threshold and the window orders by the same hash, the result is
    identical to windowing the full stratum whenever the survivor count
    reaches min(quota, stratum size) - which a second (tiny) count
    verifies, falling back to the unfiltered stratum for any stratum the
    margin failed (deterministically correct on every path; the fallback
    fires with probability ~exp(-quota) per stratum at oversample=4)."""
    from pyspark.sql import types as T

    spark = docs.sparkSession
    coin = h60(f"concat(CAST({strata_col} AS string), '#', CAST({id_col} AS string))")
    d = docs.withColumn("_h", F.expr(f"pmod({coin}, 1000000)"))
    # NULL strata are excluded up front: a NULL stratum hashes to NULL
    # (filtered by `_h < _t`) and NULL never matches an isin() fallback
    # list, so keeping such rows would silently produce an empty sample
    # for that stratum - drop them explicitly and document the boundary
    d = d.filter(F.col(strata_col).isNotNull())
    counts = {
        r[0]: r[1] for r in d.groupBy(strata_col).count().collect()
    }
    stype = docs.schema[strata_col].dataType
    rows = []
    for s, c in counts.items():
        if c > oversample * quota:
            t = min(1000000, (oversample * quota * 1000000) // c + 1)
        else:
            t = 1000000
        rows.append((s, t))
    th = F.broadcast(
        local_frame(
            spark,
            rows,
            T.StructType(
                [
                    T.StructField(strata_col, stype),
                    T.StructField("_t", T.LongType()),
                ]
            ),
        )
    )
    surv = d.join(th, strata_col).filter(F.col("_h") < F.col("_t")).drop("_t")
    got = {r[0]: r[1] for r in surv.groupBy(strata_col).count().collect()}
    short = [
        s for s, c in counts.items() if got.get(s, 0) < min(quota, c)
    ]
    if short:
        surv = surv.filter(~F.col(strata_col).isin(short)).unionByName(
            d.filter(F.col(strata_col).isin(short))
        )
    w = Window.partitionBy(strata_col).orderBy("_h", id_col)
    return (
        surv.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota)
        .drop("_h")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    bucket: int = 4096,
) -> DataFrame:
    """(id, n_tokens, start_offset, first_seq, last_seq): where each
    document's tokens land when the corpus is concatenated in id order and
    chunked into fixed seq_len training sequences.

    Distributed prefix sum WITHOUT a global window (a single-partition
    orderBy window is the classic scale-killer here): ids are range-
    bucketed (bucket = id div `bucket`), per-bucket token sums aggregate to
    the driver (one row per bucket - a corpus-STATISTICS collect, ~#docs /
    4096 rows), the driver prefix-sums the bucket offsets and broadcasts
    them back, and the within-bucket exclusive prefix sum runs as parallel
    per-bucket windows.  Same two-phase scan-then-offset shape a
    1000-executor job would use."""
    spark = docs.sparkSession
    d = docs.select(
        F.col(id_col),
        F.size(tokens_col).alias("n"),
        (F.col(id_col).cast("long") / bucket).cast("long").alias("b"),
    )
    bucket_sums = (
        d.groupBy("b").agg(F.sum("n").alias("bn")).orderBy("b").collect()
    )
    running = 0
    offsets = []
    for r in bucket_sums:
        offsets.append((r["b"], running))
        running += r["bn"]
    off_df = F.broadcast(
        local_frame(spark, offsets, "b long, boff long")
    )
    w = (
        Window.partitionBy("b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.withColumn("prev", F.coalesce(F.sum("n").over(w), F.lit(0)))
        .join(off_df, "b")
        .select(
            id_col,
            F.col("n").cast("long").alias("n_tokens"),
            (F.col("boff") + F.col("prev")).alias("start_offset"),
            F.expr(f"(boff + prev) div {seq_len}").alias("first_seq"),
            F.expr(
                f"(boff + prev + greatest(n, 1) - 1) div {seq_len}"
            ).alias("last_seq"),
        )
    )
