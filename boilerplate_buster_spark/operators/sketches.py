"""Deterministic, oracle-checkable cardinality/frequency sketches - the
distributed-sketch primitives behind the reference's counting-Bloom motif
(bloom_gram_miner.cpp:284-337 uses a counting Bloom as a pre-filter; the
exact aggregates supersede it for correctness, but a 100-TB engine still
wants sketches for cheap cardinality and frequency ESTIMATES).  Both
sketches here are built from the PORTABLE 60-bit md5 hash (text_stats.h60),
so the sketch CONSTRUCTION itself - not just its inputs - is bit-exactly
reproducible by a SQL oracle: no RNG, no platform-dependent hashing.

* HyperLogLog register table (`hll_registers`): bucket = top p hash bits,
  register = 1 + leading-zero count of the remaining bits, max-aggregated
  per bucket.  ONE hash-agg shuffle with 2^p groups; map-side partial max
  makes the shuffle 2^p rows per partition regardless of corpus size -
  the textbook mergeable-sketch shape.  The float harmonic-mean estimate
  stays OUT of the contract surface (transcendental); `estimate_hll`
  computes it driver-side for tests.

* Count-Min sketch (`cms_sketch`, `cms_estimates`): d x w counter matrix,
  row j keyed by h60(x || '#cms<j>') % w; point estimate = min over the d
  counters, an INTEGER that provably never underestimates.  The estimate
  query joins the (d*w)-row sketch (broadcast - it is constant-bounded)
  against the query terms' coordinates and reports est vs exact side by
  side, so the overestimate guarantee is itself oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from boilerplate_buster_spark.operators.text_stats import h60
from boilerplate_buster_spark.session import local_frame

_H_BITS = 60


def _bl(x: str) -> str:
    """Highest-set-bit position (bit length); 0 for 0.  bin() emits the
    minimal binary string identically in Spark and DuckDB."""
    return f"IF({x} = 0, 0, length(bin({x})))"


def hll_registers(
    values: DataFrame, col: str = "value", p: int = 6
) -> DataFrame:
    """(bucket, register): the complete 2^p-row HLL register table of the
    distinct values in `col` (register 0 = bucket never hit)."""
    m = 1 << int(p)
    rem_bits = _H_BITS - int(p)
    h = h60(col)
    hashed = values.select(
        F.expr(f"pmod({h}, {1 << _H_BITS})").alias("_h")
    ).select(
        F.expr(f"_h div {1 << rem_bits}").alias("bucket"),
        F.expr(
            f"{rem_bits} - {_bl(f'pmod(_h, {1 << rem_bits})')} + 1"
        ).alias("reg"),
    )
    got = hashed.groupBy("bucket").agg(F.max("reg").alias("register"))
    all_b = values.sparkSession.range(m).select(F.col("id").alias("bucket"))
    return all_b.join(got, "bucket", "left").select(
        "bucket",
        F.coalesce("register", F.lit(0)).cast("long").alias("register"),
    )


def estimate_hll(registers: list[int]) -> float:
    """Driver-side HLL cardinality estimate (floats allowed here - this is
    the test/consumer surface, not the contract surface).  Standard bias
    correction for m >= 64, linear counting for small cardinalities."""
    import math

    m = len(registers)
    alpha = 0.7213 / (1 + 1.079 / m)
    z = 1.0 / sum(2.0 ** -r for r in registers)
    e = alpha * m * m * z
    zeros = registers.count(0)
    if e <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return e


def cms_sketch(
    values: DataFrame, col: str = "value", d: int = 3, w: int = 64
) -> DataFrame:
    """(r, c, cnt): Count-Min counter matrix over the value stream
    (multiplicities count).  One explode (d rows per value) + one hash
    aggregate on the (r, c) key - d*w groups, constant-bounded."""
    parts = []
    for j in range(int(d)):
        hj = h60(f"concat({col}, '#cms{j}')")
        parts.append(f"named_struct('r', {j}, 'c', pmod({hj}, {int(w)}))")
    coords = ", ".join(parts)
    return (
        values.select(F.explode(F.expr(f"array({coords})")).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimates(
    values: DataFrame,
    terms: list[str],
    col: str = "value",
    d: int = 3,
    w: int = 64,
) -> DataFrame:
    """(term, est, exact, overestimate): Count-Min point queries for
    `terms` next to their exact counts.  est = min over the d counters;
    overestimate = est - exact is >= 0 BY CONSTRUCTION - the sketch's
    defining guarantee, checked row by row by the oracle.  The sketch is
    (d*w)-row constant-bounded, so it broadcasts; exact counts touch only
    the query terms' rows."""
    spark = values.sparkSession
    sketch = cms_sketch(values, col, d, w)
    qterms = sorted(set(terms))
    tdf = local_frame(spark, [(t,) for t in qterms], "term string")
    parts = []
    for j in range(int(d)):
        hj = h60(f"concat(term, '#cms{j}')")
        parts.append(f"named_struct('r', {j}, 'c', pmod({hj}, {int(w)}))")
    coords = ", ".join(parts)
    est = (
        tdf.select("term", F.explode(F.expr(f"array({coords})")).alias("rc"))
        .join(
            F.broadcast(sketch),
            (F.col("rc.r") == F.col("r")) & (F.col("rc.c") == F.col("c")),
            "left",  # a cell no value ever hit is absent = count 0
        )
        .groupBy("term")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )
    exact = (
        values.filter(F.col(col).isin(qterms))
        .groupBy(F.col(col).alias("term"))
        .agg(F.count("*").alias("n"))
    )
    return est.join(exact, "term", "left").select(
        "term",
        F.col("est").cast("long"),
        F.coalesce("n", F.lit(0)).cast("long").alias("exact"),
        (F.col("est") - F.coalesce("n", F.lit(0)))
        .cast("long")
        .alias("overestimate"),
    )


def bloom_bits(
    values: DataFrame, col: str = "value", k: int = 3, m: int = 256
) -> DataFrame:
    """(bit,): the SET bit positions of a Bloom filter over the value
    stream - k portable-hash functions over m bits, fully deterministic,
    so the filter's exact bit array is oracle-checkable (the reference
    uses a counting Bloom as its pre-filter, bloom_gram_miner.cpp:284;
    this is that primitive made first-class and verifiable).
    One explode (k rows per value) + one distinct - m-bounded output."""
    parts = []
    for j in range(int(k)):
        hj = h60(f"concat({col}, '#bf{j}')")
        parts.append(f"pmod({hj}, {int(m)})")
    return (
        values.select(F.explode(F.expr(f"array({', '.join(parts)})")).alias("bit"))
        .distinct()
        .select(F.col("bit").cast("long"))
    )


def bloom_membership(
    values: DataFrame,
    terms: list[str],
    col: str = "value",
    k: int = 3,
    m: int = 256,
) -> DataFrame:
    """(term, bits_set, maybe_member, exact_present): Bloom point probes
    next to ground truth.  maybe_member = all k positions set; the Bloom
    guarantee - NO false negatives (exact_present implies maybe_member) -
    is therefore oracle-checked row by row, and any (maybe_member AND NOT
    exact_present) row is a live false positive, the filter's documented
    trade.  The bit array is m-bounded and broadcasts."""
    spark = values.sparkSession
    bits = bloom_bits(values, col, k, m)
    qterms = sorted(set(terms))
    tdf = local_frame(spark, [(t,) for t in qterms], "term string")
    parts = []
    for j in range(int(k)):
        hj = h60(f"concat(term, '#bf{j}')")
        parts.append(f"pmod({hj}, {int(m)})")
    probes = tdf.select(
        "term", F.explode(F.expr(f"array({', '.join(parts)})")).alias("bit")
    )
    hit = (
        probes.join(F.broadcast(bits.withColumn("_set", F.lit(1))), "bit", "left")
        .groupBy("term")
        .agg(F.sum(F.coalesce("_set", F.lit(0))).alias("bits_set"))
    )
    exact = (
        values.filter(F.col(col).isin(qterms))
        .groupBy(F.col(col).alias("term"))
        .agg(F.count("*").alias("n"))
    )
    return hit.join(exact, "term", "left").select(
        "term",
        F.col("bits_set").cast("long"),
        (F.col("bits_set") == int(k)).alias("maybe_member"),
        (F.coalesce("n", F.lit(0)) > 0).alias("exact_present"),
    )
