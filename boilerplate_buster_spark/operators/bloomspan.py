"""BloomSpan Maximal-Frequent-Phrase miner, Spark-first.

Pipeline (SURVEY.md section 7; reference: corpus-miner/_ours/bloom_gram_miner.cpp):

  docs(doc_id, tokens)
    -> frequent words: one distinct-doc word aggregate       [shuffle #1;
       feeds the reference's word-DF gate AND winner-token resolution]
    -> candidate grams: word-gated per-doc-distinct n-gram
       counts, threshold support >= min_docs                 [shuffle #2;
       post-threshold set is corpus-statistics bounded: boilerplate
       TEMPLATES, not corpus rows]
    -> occurrence gather: in-scan hash IN-set filter over the
       corpus, flat BIGINT prefix-hash/token-hash columns     [NO shuffle]
    -> greedy expansion: ONE path-tree edge aggregation over
       all depths, HAVING sup >= min_docs before collect      [one shuffle]
    -> sequential selection: score order + occupancy bitmask
       + backward closure on (cid, doc, pos) integer tuples   [driver, numpy]

The selection step is the reference's inherently sequential stage F
(":595-706").  What reaches the driver is NOT the corpus: the frequent edge
table (bounded by boilerplate path structure) plus one integer row per
occurrence OF A SURVIVING CANDIDATE.  At web scale the occurrence lists of
head phrases grow with the corpus, so ``max_occs_per_gram`` (default "auto"
-> AUTO_MAX_OCCS on the distributed path) caps the gathered postings per
gram (deterministic xxhash64 DOC sampling at rate cap/support) while the
EXACT seed df keeps coming from the candidate aggregate.  When the cap
BINDS (support > cap): expansion-edge supports are subsample counts, so the
frequency threshold scales to the unbiased estimate
(sup * support / cap >= min_docs) and reported expansion supports are
rescaled estimates; closure counters, examples and the occupancy bitmask run
on the same consistent doc subsample (sized >> min_docs for any sane
threshold).  `stats["occ_cap_sampled_grams"]` records how many grams the cap
touched; pass ``max_occs_per_gram=None`` for the byte-identical exact
posture.  Small
corpora skip all of this: strategy='driver' collects string windows and runs
the exact kernel (core/expand.py) directly.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from boilerplate_buster_spark.core.expand import (
    WCandidate,
    WOcc,
    WindowExhausted,
    expand_windowed,
)
from boilerplate_buster_spark.session import local_frame

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("phrase", T.StringType(), False),
        T.StructField("freq", T.LongType(), False),
        T.StructField("length", T.IntegerType(), False),
        T.StructField("example_docs", T.ArrayType(T.StringType()), False),
    ]
)


def _gramhash_sql(hs_ref: str, i: str, n: int) -> str:
    """Order-sensitive combine of n consecutive 64-bit token hashes
    (xor of per-position rotations) - used for in-scan candidate membership;
    collisions only ADD occurrence rows, removed by the exact gram-string
    join right after."""
    terms = []
    for k in range(n):
        e = f"element_at({hs_ref}, {i} + {k})"
        sh = (k * 21) % 61
        terms.append(e if sh == 0 else f"shiftleft({e}, {sh})")
    return " ^ ".join(terms)


BITMAP_BITS_DEFAULT = 1 << 22  # 4 Mbit -> 64 KiB packed; fpr ~ vocab/bits per probe


def packed_word_bitmap(
    spark: SparkSession, fw_df: DataFrame, bits: int = BITMAP_BITS_DEFAULT
) -> DataFrame:
    """Scale path of the reference's P3 word-DF gate
    (bloom_gram_miner.cpp:414-421): a 2-probe Bloom bitmap over the frequent
    words, packed driver-side into a single array<bigint> row and broadcast.

    Spark's internal bloom_filter_agg is NOT in the public function registry
    (UNRESOLVED_ROUTINE on 4.1), so the filter is built from public ops: the
    cluster aggregates the DISTINCT bit positions (bounded by `bits`, NEVER by
    vocabulary size - the driver-memory cliff of a full word collect is what
    this replaces), the driver packs them into bits//64 longs.  False
    positives only ADD candidate grams; the exact support threshold keeps the
    mined set exact."""
    import numpy as np

    pos = (
        fw_df.select(
            F.explode(
                F.expr(f"array(pmod(xxhash64(word), {bits}), pmod(xxhash64(word, 7), {bits}))")
            ).alias("bit")
        )
        .distinct()
        .collect()
    )
    packed = np.zeros(bits // 64, dtype=np.uint64)
    for r in pos:
        b = r["bit"]
        packed[b >> 6] |= np.uint64(1) << np.uint64(b & 63)
    vals = [int(v) for v in packed.view(np.int64)]
    return local_frame(spark, [(vals,)], "bf array<bigint>")


def _bitmap_probe(x: str, bits: int = BITMAP_BITS_DEFAULT) -> str:
    """SQL predicate: token `x` passes both bitmap probes (bf column in scope).
    shiftright on bigint is arithmetic, which still lands the target bit at
    position 0 before the & 1 mask - bit 63 included."""
    tests = []
    for probe in ("xxhash64(x)", "xxhash64(x, 7)"):
        h = f"pmod({probe}, {bits})"
        tests.append(
            f"((shiftright(element_at(bf, cast(shiftright({h}, 6) AS int) + 1), "
            f"cast({h} & 63 AS int)) & 1) = 1)"
        )
    return " AND ".join(tests)


def candidate_grams(
    docs: DataFrame,
    n: int,
    min_docs: int,
    doc_col: str,
    tokens_col: str,
    word_gate_max: int = 2048,
    fw: list | None = None,
    bitmap_df: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """(gram, support): n-grams in >= min_docs DISTINCT docs (stages A-D).
    Exact replacement of Bloom pass + word-DF gate + external merge
    (bloom_gram_miner.cpp:284-589) - those are approximations/spill machinery
    around exactly this aggregate.

    Two cardinality killers applied BEFORE the shuffle (both exactness-
    preserving):
      * per-doc array_distinct on the gram list (intra-doc repeats collapse
        map-side -> the agg is a plain count, no distinct rewrite/Expand);
      * the reference's word-DF gate (P3, bloom_gram_miner.cpp:414-421):
        every token of a qualifying gram is itself in >= min_docs docs, so
        grams touching any rare word are dropped at the scan.  Small
        frequent-word sets (<= word_gate_max) gate via a literal hash IN-set;
        larger vocabularies gate via the broadcast packed bitmap
        (`bitmap_df`, see packed_word_bitmap) - no unbounded driver collect.

    `stats` (optional dict) receives the M5 mining-statistics counters
    seeds_total / seeds_accepted / seeds_rejected / pct_reduction
    (bloom_gram_miner.cpp:447-454) at the cost of one extra aggregate job.
    """
    from boilerplate_buster_spark.operators.corpus_stats import word_doc_freq

    t = tokens_col
    if fw is None and bitmap_df is None:
        fw = (
            word_doc_freq(docs, doc_col, tokens_col)
            .filter(F.col("df") >= min_docs)
            .select("word", F.xxhash64("word").alias("h"))
            .collect()
        )
    pos_seq = (
        f"slice(sequence(1, greatest(size({t}) - {n} + 1, 1)), "
        f"1, greatest(size({t}) - {n} + 1, 0))"
    )
    src_df = None
    if bitmap_df is not None:
        # bitmap probes per TOKEN (not per gram position), broadcast 1-row bf
        src_df = docs.crossJoin(F.broadcast(bitmap_df)).select(
            F.col(t),
            F.expr(f"transform({t}, x -> {_bitmap_probe('x')})").alias("_ok"),
        )
    elif len(fw) <= word_gate_max:
        # membership on 64-bit token hashes, computed ONCE per token -
        # literal IN-lists are linear scans in codegen, so comparing longs
        # (not strings) and testing each token once (not once per gram)
        # keeps the gate ~free.  Hash false positives only ADD grams; the
        # exact threshold below keeps the result exact.
        hset = ", ".join(str(r["h"]) for r in fw) or "0"
        src_df = docs.select(
            F.col(t),
            F.expr(f"transform({t}, x -> xxhash64(x) IN ({hset}))").alias("_ok"),
        )
    if src_df is not None:
        conj = " AND ".join(f"element_at(_ok, i + {k})" for k in range(n))
        pos_seq = f"filter({pos_seq}, i -> {conj})"
    else:
        src_df = docs
    per_doc = src_df.select(
        F.explode(
            F.expr(
                f"array_distinct(transform({pos_seq}, i -> array_join(slice({t}, i, {n}), ' ')))"
            )
        ).alias("gram")
    )
    grouped = per_doc.groupBy("gram").agg(F.count("*").alias("support"))
    if stats is not None:
        # M5 seed counters ride the SAME job as the candidate collect via
        # df.observe() (CollectMetrics blocks the threshold-filter pushdown,
        # so `total` counts pre-filter grams) - a separate .first() here
        # would run the most expensive pass-1 scan+shuffle TWICE per
        # pipeline.  CONTRACT for direct callers passing `stats`: call
        # harvest_seed_stats(stats) ONLY AFTER an action has executed the
        # returned plan (mine() does, right after the candidate collect,
        # popping the Observation on failure) - until then stats holds a
        # live non-JSON-serializable Observation under '_seed_obs', and
        # obs.get on a never-executed plan blocks forever.
        from pyspark.sql import Observation

        obs = Observation()
        grouped = grouped.observe(
            obs,
            F.count(F.lit(1)).alias("total"),
            F.sum(F.expr(f"IF(support >= {min_docs}, 1, 0)")).alias("acc"),
        )
        stats["_seed_obs"] = obs
    return grouped.filter(F.col("support") >= min_docs)


def harvest_seed_stats(stats: dict | None) -> None:
    """Fold the deferred Observation planted by candidate_grams into the M5
    counters.  Call ONLY after an action has executed the candidate plan
    (Observation.get blocks until the metrics task completes)."""
    if stats is None:
        return
    obs = stats.pop("_seed_obs", None)
    if obs is None:
        return
    row = obs.get
    total, acc = int(row["total"] or 0), int(row["acc"] or 0)
    stats.update(
        seeds_total=total,
        seeds_accepted=acc,
        seeds_rejected=total - acc,
        pct_reduction=round(100.0 * (total - acc) / total, 2) if total else 0.0,
    )


def gather_windows(
    docs: DataFrame,
    cands: DataFrame,
    n: int,
    window: int,
    doc_col: str,
    tokens_col: str,
    max_occs_per_gram: int | None = None,
    hashed: bool = False,
) -> DataFrame:
    """Per-occurrence windows for every candidate gram:
    (gram, support, doc_id, pos, prev, window) - or, with hashed=True, the
    compact distributed-rounds layout
    (cid, doc_id, pos, prev_h, window_h, chain).

    ZERO shuffles on the main path: the candidate set is corpus-statistics
    small (post-threshold boilerplate templates), so occurrence discovery is
    a literal IN-set filter INSIDE the doc scan - one codegen pass over the
    cached corpus, windows sliced in place, then a broadcast map-side join
    attaches cid/support.  A candidate set above `inscan_max` falls back to
    the explode + broadcast-join + docs-join plan (two shuffles).

    prev = token before the occurrence (backward-closure input, ":675-695");
    window = W tokens from the occurrence start (expansion input).
    """
    t = tokens_col
    # occurrence discovery: per-token hashes computed once per doc, then a
    # long-typed shift-xor gram hash tested against the candidate hash set
    # INSIDE the scan (string IN-lists are linear scans in codegen; long
    # compares are ~free).  Hash false positives are removed by the exact
    # gram-string broadcast join right after.
    gh = _gramhash_sql("_hs", "i", n)
    cand_hashes = [
        r["gh"]
        for r in cands.select(
            F.expr(
                "transform(split(gram, ' '), x -> xxhash64(x))"
            ).alias("_hs")
        ).select(F.expr(_gramhash_sql("_hs", "1", n)).alias("gh")).collect()
    ]
    inscan_max = 65536
    if len(cand_hashes) <= inscan_max:
        hset = ", ".join(str(h) for h in cand_hashes) or "0"
        pos_expr = (
            f"filter(slice(sequence(1, greatest(size({t}) - {n} + 1, 1)), "
            f"1, greatest(size({t}) - {n} + 1, 0)), "
            f"i -> ({gh}) IN ({hset}))"
        )
        occ = (
            docs.select(
                F.col(doc_col),
                F.col(t),
                F.expr(f"transform({t}, x -> xxhash64(x))").alias("_hs"),
            )
            .select(doc_col, t, "_hs", F.explode(F.expr(pos_expr)).alias("ipos"))
            .withColumn("pos", F.expr("ipos - 1"))
            .withColumn("gram", F.expr(f"array_join(slice({t}, ipos, {n}), ' ')"))
            .join(F.broadcast(cands), "gram")  # exact: drops hash false positives
        )
    else:
        # huge candidate set (plan-size limit for the literal IN-set):
        # enumerate all positions and shuffle-join on gram (AQE handles skew)
        all_pos = (
            f"slice(sequence(1, greatest(size({t}) - {n} + 1, 1)), "
            f"1, greatest(size({t}) - {n} + 1, 0))"
        )
        occ = (
            docs.select(
                F.col(doc_col),
                F.col(t),
                F.expr(f"transform({t}, x -> xxhash64(x))").alias("_hs"),
            )
            .select(doc_col, t, "_hs", F.explode(F.expr(all_pos)).alias("ipos"))
            .withColumn("pos", F.expr("ipos - 1"))
            .withColumn("gram", F.expr(f"array_join(slice({t}, ipos, {n}), ' ')"))
            .join(cands, "gram")
        )
    if max_occs_per_gram is not None:
        # Deterministic per-gram DOC sampling: keep a doc's occurrences of a
        # gram iff hash_frac(doc) < cap/support, using the EXACT distinct-doc
        # support from the candidate aggregate (already joined in).  Expected
        # docs kept per gram ~ cap; grams under the cap keep everything.
        # Pure in-scan filter - the earlier row_number() window partitioned
        # by gram was a guaranteed skew hotspot (few keys, corpus-sized
        # partitions) exactly when the cap binds.
        m = 1 << 20
        occ = occ.filter(
            F.expr(
                f"pmod(xxhash64({doc_col}), {m}) * support "
                f"< cast({max_occs_per_gram} AS bigint) * {m}"
            )
        )
    if hashed:
        # distributed-rounds payload: FLAT BIGINT COLUMNS, no arrays and no
        # strings - c<i> = rolling prefix hash of window[0..i) (fold of the
        # per-token hashes), w<i> = hash of window token i.  Every expansion
        # round reads exactly THREE long columns from the columnar cache
        # (c_plen, c_plen+1, w_plen+1): perfect column pruning, which array
        # columns cannot give (measured ~8x slower to re-read).
        chain_arr = (
            f"aggregate(slice(_hs, ipos, {window}), "
            f"array(cast(0 AS bigint)), "
            f"(acc, h) -> array_append(acc, xxhash64(element_at(acc, -1), h)), "
            f"acc -> slice(acc, 2, {window}))"
        )
        cols = [
            F.col("cid"),
            # 64-bit doc hash: the edge aggregation only needs doc IDENTITY
            # for distinct counts - comparing/shuffling longs, not id strings
            F.xxhash64(F.col(doc_col)).alias("doc_h"),
            F.col(doc_col).cast("string").alias("doc_id"),
            F.col("pos"),
            F.when(F.col("pos") > 0, F.expr("element_at(_hs, pos)")).alias("prev_h"),
            F.expr(chain_arr).alias("_chain"),
        ]
        flat = [
            F.col("cid"), F.col("doc_h"), F.col("doc_id"), F.col("pos"),
            F.col("prev_h"),
        ]
        for i in range(1, window + 1):
            flat.append(F.expr(f"try_element_at(_chain, {i})").alias(f"c{i}"))
        for i in range(1, window + 1):
            flat.append(F.expr(f"try_element_at(_hs, ipos + {i} - 1)").alias(f"w{i}"))
        return occ.select(*cols, F.col("_hs"), F.col("ipos")).select(*flat)
    return occ.select(
        "gram",
        "support",
        F.col(doc_col).cast("string").alias("doc_id"),
        "pos",
        # pos is 0-based; element_at is 1-based, so index `pos` IS pos-1.
        F.when(F.col("pos") > 0, F.expr(f"element_at({t}, pos)")).alias("prev"),
        F.expr(f"slice({t}, pos + 1, {window})").alias("window"),
    )


#: distributed-strategy default for max_occs_per_gram ("auto"): per-gram
#: Bernoulli DOC sampling at rate cap/support bounds the gathered postings
#: and the driver transfer.  SEED supports stay exact (they come from the
#: candidate aggregate); when the cap binds, expansion thresholds scale to
#: the unbiased support estimate (see _mine_distributed) and the
#: bitmask/closure run over the sampled docs (a deterministic, consistent
#: subsample - must be sized >> min_docs, which 100k is for any
#: sane boilerplate threshold).  At web scale head phrases have occurrence
#: counts proportional to the corpus, so an uncapped gather is a transfer
#: cliff.  Pass None explicitly for the byte-identical posture (the pytest
#: goldens and equivalence tests run far below the cap, where "auto" is
#: exact anyway).
AUTO_MAX_OCCS = 100_000


def mine(
    spark: SparkSession,
    docs: DataFrame,
    min_docs: int,
    ngrams: int,
    min_l: int | None = None,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    window: int = 16,
    max_occs_per_gram: int | None | str = "auto",
    strategy: str = "auto",
    auto_threshold: int = 150_000,
    word_gate_max: int = 2048,
    stats: dict | None = None,
) -> list[WCandidate]:
    """Run the full miner; returns the final phrase list (driver-side, small).

    strategy='distributed': greedy expansion runs as ONE path-tree edge
    aggregation over cluster-resident occurrence windows (all depths counted
    together; sub-threshold edges never leave the cluster), then the driver
    replays the greedy walk over the frequent edges and the sequential
    occupancy-mask selection over integer (gram, doc, pos) tuples.
    strategy='driver': collect the windows and run the whole kernel
    driver-side (exact same outputs; giant collect dominates on large
    corpora).  'auto' (default) picks by total candidate-occurrence count
    (< auto_threshold -> driver).  All retry with doubled W if a phrase
    outgrows the gathered windows.

    The frequent-word set backing the P3 word gate is collected ONLY when it
    fits word_gate_max (bounded limit-probe, never an unconditional full
    collect); larger vocabularies gate through the broadcast packed bitmap
    and resolve winner tokens via a distributed join (see packed_word_bitmap).

    `stats` (optional dict) receives the M5 mining-statistics table
    (bloom_gram_miner.cpp:447-454,710-718): seed totals, accepted/rejected,
    %reduction, phrases_total, phrases_6plus, selection counters."""
    if min_l is None:
        min_l = ngrams  # main.cpp:67

    # NOTE deliberately NOT persisted: Spark's columnar cache reads of
    # array<string> are ~8x slower than recomputing split()+explode from the
    # (codegen-friendly) source scan - measured on this corpus shape.  Cache
    # the STRING form upstream instead (extraction does), never token arrays.
    docs = docs.select(doc_col, tokens_col)
    from boilerplate_buster_spark.operators.corpus_stats import word_doc_freq

    # frequent words computed ONCE: feeds the candidate word gate AND the
    # winner-token resolution.  limit(word_gate_max+1) bounds the collect:
    # if the probe comes back full, the vocabulary is too big for a literal
    # IN-set/driver dict and the bitmap + join path takes over.
    fw_df = (
        word_doc_freq(docs, doc_col, tokens_col)
        .filter(F.col("df") >= min_docs)
        .select("word", F.xxhash64("word").alias("h"))
    )
    probe = fw_df.limit(word_gate_max + 1).collect()
    fw_cached = None
    if len(probe) <= word_gate_max:
        fw_rows = probe
        word_by_hash = {r["h"]: r["word"] for r in fw_rows}

        def resolve_words(hashes: set) -> dict:
            return {h: word_by_hash[h] for h in hashes}

        cands = candidate_grams(
            docs, ngrams, min_docs, doc_col, tokens_col,
            word_gate_max=word_gate_max, fw=fw_rows, stats=stats,
        )
    else:
        fw_cached = fw_df.persist()
        bitmap_df = packed_word_bitmap(spark, fw_cached)

        def resolve_words(hashes: set) -> dict:
            if not hashes:
                return {}
            hdf = local_frame(spark, [(h,) for h in hashes], "h bigint")
            return {
                r["h"]: r["word"]
                for r in fw_cached.join(F.broadcast(hdf), "h").collect()
            }

        cands = candidate_grams(
            docs, ngrams, min_docs, doc_col, tokens_col,
            word_gate_max=word_gate_max, bitmap_df=bitmap_df, stats=stats,
        )
    # one tiny collect serves strategy choice, candidate ids, seed supports
    # and the rolling seed hash (the chain value of the gram itself)
    try:
        cand_rows = (
            cands.withColumn(
                "h0",
                F.expr(
                    "aggregate(transform(split(gram, ' '), x -> xxhash64(x)), cast(0 AS bigint), (acc, h) -> xxhash64(acc, h))"
                ),
            )
            .withColumn("cid", F.expr("row_number() OVER (ORDER BY gram)"))
            .collect()
        )
    except Exception:
        # the observed plan never ran: drop the live Observation so the
        # caller's stats dict stays JSON-serializable and no later
        # harvest_seed_stats blocks forever on obs.get
        if stats is not None:
            stats.pop("_seed_obs", None)
        raise
    harvest_seed_stats(stats)  # the collect above ran the observed plan
    if stats is not None:
        stats.setdefault("candidates_after_merge", len(cand_rows))
    if not cand_rows:
        if fw_cached is not None:
            fw_cached.unpersist()
        if stats is not None:
            stats.update(phrases_total=0, phrases_6plus=0)
        return []
    cands = local_frame(
        spark,
        [(r["cid"], r["gram"], r["support"]) for r in cand_rows],
        "cid int, gram string, support long",
    )
    if strategy == "auto":
        # support (distinct docs) lower-bounds occurrences; good enough to
        # pick the execution strategy
        total_occs = sum(r["support"] for r in cand_rows)
        strategy = "driver" if total_occs < auto_threshold else "distributed"
    if max_occs_per_gram == "auto":
        max_occs_per_gram = AUTO_MAX_OCCS if strategy == "distributed" else None
    if stats is not None:
        stats["occ_cap_sampled_grams"] = sum(
            1
            for r in cand_rows
            if max_occs_per_gram is not None and r["support"] > max_occs_per_gram
        )
    try:
        while True:
            try:
                if strategy == "distributed":
                    gathered = gather_windows(
                        docs, cands, ngrams, window, doc_col, tokens_col,
                        max_occs_per_gram, hashed=True,
                    )
                    out = _mine_distributed(
                        spark, gathered, cand_rows, resolve_words,
                        min_docs, min_l, window, stats=stats,
                        max_occs_per_gram=max_occs_per_gram,
                    )
                else:
                    gathered = gather_windows(
                        docs, cands, ngrams, window, doc_col, tokens_col,
                        max_occs_per_gram,
                    )
                    out = _mine_driver(gathered, min_docs, min_l, window, stats=stats)
                if stats is not None:
                    stats.update(
                        phrases_total=len(out),
                        phrases_6plus=sum(1 for p in out if len(p.tokens) >= 6),
                    )
                return out
            except WindowExhausted:
                window *= 2
    finally:
        if fw_cached is not None:
            fw_cached.unpersist()


def _mine_driver(
    gathered: DataFrame, min_docs: int, min_l: int, window: int,
    stats: dict | None = None,
) -> list[WCandidate]:
    """Collect the windows and run the exact sequential kernel driver-side."""
    rows = gathered.select("gram", "support", "doc_id", "pos", "prev", "window").collect()
    by_gram: dict[str, WCandidate] = {}
    occ_sort: dict[str, list] = defaultdict(list)
    for r in rows:
        if r["gram"] not in by_gram:
            by_gram[r["gram"]] = WCandidate(r["gram"].split(" "), r["support"], [])
        occ_sort[r["gram"]].append(
            (r["doc_id"], r["pos"], WOcc(r["doc_id"], r["pos"], r["prev"], r["window"]))
        )
    for gram, lst in occ_sort.items():
        lst.sort(key=lambda x: (x[0], x[1]))  # canonical occ order
        by_gram[gram].occs = [x[2] for x in lst]
    return expand_windowed(
        list(by_gram.values()), min_docs, min_l, window=window, stats=stats
    )


def _mine_distributed(
    spark: SparkSession,
    gathered: DataFrame,
    cand_rows: list,
    resolve_words,
    min_docs: int,
    min_l: int,
    window: int,
    stats: dict | None = None,
    max_occs_per_gram: int | None = None,
) -> list[WCandidate]:
    """Distributed greedy expansion + vectorized driver-side mask selection.

    Expansion of a candidate never depends on the occupancy bitmask (the mask
    only gates skip-before/mark-after, bloom_gram_miner.cpp:633-640,697-702),
    so all candidates' greedy walks are served by ONE path-tree edge
    aggregation over the cluster-resident occurrence table.  The table layout
    is FLAT BIGINT columns (c<i> = rolling prefix hash of window[0..i),
    w<i> = token hash at window position i); `stack` unpivots each occurrence
    into its (depth, prefix-hash, next-hash, next-word-hash) edges and one
    two-level aggregate counts DISTINCT docs per edge:

      edges: stack -> groupBy(cid, d, c_{d+1}).agg(countDistinct(doc_h))
             HAVING sup >= min_docs        <- noise edges die cluster-side
      walk:  driver follows max-support frequent edges from the seed hash
             (tie -> smallest winner-token string), zero further jobs

    Because the prefix hash c_d encodes the ENTIRE path, counting all depths
    together is exact: edges of different prefixes can never merge (modulo
    the documented 2^-64 chain-collision caveat, guarded by the
    driver/distributed equivalence tests).  Sub-threshold edges - the
    overwhelming majority on noise candidates - are filtered before collect,
    so driver transfer is bounded by the FREQUENT path structure (boilerplate
    templates), not the corpus.  This replaces the round-1 per-depth rounds
    (one Spark job per depth, ~12 jobs of fixed overhead each).

    Winner token STRINGS come from `resolve_words` (in-memory dict when the
    frequent-word set was small enough to collect; a broadcast-hash join
    against the cached frequent-word frame otherwise - never an unbounded
    collect).

    Backward closure (":675-695") and the canonical example docs need no
    extra cluster jobs: the single Arrow transfer of per-occurrence
    (cid, doc_id, pos, prev_h, is_final) tuples - which the sequential
    selection needs regardless - serves the n_pos0 / distinct-prev closure
    counters and the min-2 example reduction in pandas, before the
    score-ordered selection with interval-based numpy mask bookkeeping."""
    import numpy as np
    import pandas as pd

    import os
    import time

    _dbg = os.environ.get("BBS_MINE_DEBUG") == "1"
    _t0 = time.perf_counter()

    def _mark(label):
        nonlocal _t0
        if _dbg:
            now = time.perf_counter()
            print(f"[mine-debug] {label}: {now - _t0:.1f}s", flush=True)
            _t0 = now

    gathered = gathered.persist()
    gathered.count()
    _mark("gather materialize")

    state = {
        r["cid"]: {
            "gram": r["gram"],
            "tokens": r["gram"].split(" "),
            "support": r["support"],
            "seed_support": r["support"],
            "h": r["h0"],
        }
        for r in cand_rows
    }
    n = len(cand_rows[0]["gram"].split(" "))

    # ---- one-shot path-tree edge aggregation over ALL depths ----
    # When the per-gram occurrence cap sampled a head gram's docs at rate
    # cap/support (gather_windows), edge supports are counted over that
    # subsample - so the frequency threshold is applied to the UNBIASED
    # estimate sup * support / cap >= min_docs, i.e. the per-cid threshold
    # DROPS to ceil(min_docs * cap / support) for capped grams.  Comparing
    # sampled supports against the raw min_docs (the round-2 behavior) made
    # a head gram's continuation survive only at ~support/cap times the
    # intended df - silently truncating greedy expansion.
    cap = max_occs_per_gram
    capped_sup = {
        r["cid"]: r["support"]
        for r in cand_rows
        if cap is not None and r["support"] > cap
    }
    thr_by_cid = {
        cid: max(1, -(-min_docs * cap // sup)) for cid, sup in capped_sup.items()
    }
    stack_args = ", ".join(
        f"{d}, c{d}, c{d + 1}, w{d + 1}" for d in range(n, window)
    )
    agg = (
        gathered.selectExpr(
            "cid", "doc_h", f"stack({window - n}, {stack_args}) AS (d, cur, nxt, w_h)"
        )
        .filter("nxt IS NOT NULL")
        .groupBy("cid", "d", "nxt")
        .agg(
            F.countDistinct("doc_h").alias("sup"),
            F.first("cur").alias("cur"),
            F.first("w_h").alias("w_h"),
        )
    )
    if thr_by_cid:
        thr_df = F.broadcast(
            local_frame(
                spark, [(cid, thr) for cid, thr in thr_by_cid.items()], "cid int, thr bigint"
            )
        )
        agg = agg.join(thr_df, "cid", "left").filter(
            F.col("sup") >= F.coalesce(F.col("thr"), F.lit(min_docs))
        )
    else:
        agg = agg.filter(F.col("sup") >= min_docs)
    edge_rows = agg.collect()
    _mark(f"edge aggregation ({len(edge_rows)} frequent edges)")

    words = resolve_words({r["w_h"] for r in edge_rows})
    by_cur: dict[tuple, list] = defaultdict(list)
    for r in edge_rows:
        by_cur[(r["cid"], r["d"], r["cur"])].append((r["sup"], r["w_h"], r["nxt"]))

    # ---- greedy walk per candidate over the frequent edges (driver, free) --
    for cid, st in state.items():
        plen, h = n, st["h"]
        while True:
            options = by_cur.get((cid, plen, h))
            if not options:
                break
            best_sup = max(o[0] for o in options)
            # winner: max unique-doc support, tie -> smallest token string
            tok, _, nxt = min(
                (words[w_h], w_h, o_nxt)
                for sup, w_h, o_nxt in options
                if sup == best_sup
            )
            st["tokens"].append(tok)
            st["support"] = best_sup
            h = nxt
            plen += 1
            if plen >= window:
                gathered.unpersist()
                raise WindowExhausted(f"phrase reached window W={window}")
        st["h"] = h
        if plen > n and cid in capped_sup:
            # expansion support was counted over the cap/support doc sample:
            # report the unbiased estimate (bounded by the exact seed df -
            # expansion support is monotone non-increasing)
            est = round(st["support"] * capped_sup[cid] / cap)
            st["support"] = min(st["seed_support"], max(min_docs, est))
    _mark("greedy walk")

    # ---- flag FINAL occurrences (per-cid final chain hash); only the c
    # columns of lengths that actually occur are read from cache ----
    fin_df = local_frame(
        spark,
        [(cid, len(st["tokens"]), st["h"]) for cid, st in state.items()],
        "cid int, flen int, fin_h long",
    )
    flens = sorted({len(st["tokens"]) for st in state.values()})
    fin_case = (
        "CASE flen "
        + " ".join(f"WHEN {f} THEN (c{f} = fin_h)" for f in flens)
        + " END"
    )
    flagged = gathered.join(F.broadcast(fin_df), "cid").withColumn(
        "is_final", F.coalesce(F.expr(fin_case), F.lit(False))
    )

    # single Arrow transfer: (cid, doc_id, pos, prev hash, is_final) - the
    # occurrence rows the sequential selection needs anyway also serve the
    # closure counters AND the canonical example docs, so no further cluster
    # jobs run after this point
    pdf = flagged.select("cid", "doc_id", "pos", "prev_h", "is_final").toPandas()
    gathered.unpersist()
    _mark(f"toPandas ({len(pdf)} rows)")

    # ---- closure counters + example docs, reduced driver-side -------------
    fin_pdf = pdf[pdf["is_final"]]
    n_pos0_by = fin_pdf[fin_pdf["pos"] == 0].groupby("cid").size()
    n_prev_by = fin_pdf.groupby("cid")["prev_h"].nunique()  # NaN (pos=0) excluded
    closure = {
        cid: (int(n_pos0_by.get(cid, 0)), int(n_prev_by.get(cid, 0)))
        for cid in state
    }
    # canonical examples: first 2 of the sorted unique doc-id set per cid
    examples: dict[int, list[str]] = {
        cid: sorted(grp.unique())[:2]
        for cid, grp in fin_pdf.groupby("cid")["doc_id"]
    }
    _mark("closure + examples reduce")

    # ---- sequential selection (reference stage F), numpy-vectorized with
    # INTERVAL bookkeeping (marks are contiguous ranges; storing intervals
    # instead of positions keeps memory/sorts ~plen times smaller) ----
    codes, _ = pd.factorize(pdf["doc_id"])
    flat = (codes.astype(np.int64) << 32) | pdf["pos"].to_numpy(np.int64)
    cid_arr = pdf["cid"].to_numpy(np.int64)
    isfin_arr = pdf["is_final"].to_numpy(bool)

    order = sorted(
        state.items(),
        key=lambda kv: (
            -kv[1]["seed_support"] * len(kv[1]["gram"].split(" ")),
            -kv[1]["seed_support"],
            kv[1]["gram"].split(" "),
        ),
    )
    sort_idx = np.argsort(cid_arr, kind="stable")
    sorted_cids = cid_arr[sort_idx]
    idx_by_cid: dict[int, np.ndarray] = {}
    for cid, _ in order:
        lo = np.searchsorted(sorted_cids, cid, side="left")
        hi = np.searchsorted(sorted_cids, cid, side="right")
        idx_by_cid[cid] = sort_idx[lo:hi]

    # covered-interval chunks: each chunk keeps (starts sorted, RAW ends in
    # start order, cummax of ends).  A point p is covered by a chunk iff the
    # last interval starting <= p has cummax end > p (cummax makes the single
    # lookup correct for overlapping intervals).  Chunks merge from their RAW
    # ends when they pile up (cummax'd ends must never be merged as if raw -
    # they inherit earlier intervals' reach).
    chunks: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []

    def covered(points: np.ndarray) -> np.ndarray:
        m = np.zeros(len(points), dtype=bool)
        for s, _, cume in chunks:
            idx = np.searchsorted(s, points, side="right") - 1
            ok = idx >= 0
            m |= ok & (cume[np.clip(idx, 0, None)] > points)
        return m

    def add_intervals(starts: np.ndarray, length: int) -> None:
        o = np.argsort(starts, kind="stable")
        s = starts[o]
        raw_e = s + length
        chunks.append((s, raw_e, np.maximum.accumulate(raw_e)))
        if len(chunks) > 8:  # amortized merge
            alls = np.concatenate([c[0] for c in chunks])
            alle = np.concatenate([c[1] for c in chunks])
            o2 = np.argsort(alls, kind="stable")
            s2, e2 = alls[o2], alle[o2]
            chunks.clear()
            chunks.append((s2, e2, np.maximum.accumulate(e2)))

    out: list[WCandidate] = []
    n_skipped = n_closed = 0
    for cid, st in order:
        rows = idx_by_cid[cid]
        starts = flat[rows]
        # skip iff ALL seed START positions already covered (":633-640")
        if chunks and covered(starts).all():
            n_skipped += 1
            continue
        n_pos0, n_prev = closure.get(cid, (0, 0))
        fin_rows = rows[isfin_arr[rows]]
        if fin_rows.size and n_pos0 == 0 and n_prev == 1:
            n_closed += 1
            continue  # backward closure: drop, don't mark
        plen = len(st["tokens"])
        if fin_rows.size:
            add_intervals(flat[fin_rows], plen)
        if plen >= min_l:
            out.append(
                WCandidate(
                    st["tokens"],
                    st["support"],
                    occs=[],
                    examples=examples.get(cid, []),
                )
            )
    if stats is not None:
        stats.update(selection_skipped_covered=n_skipped, selection_dropped_closure=n_closed)
    _mark("selection")
    return out


def phrases_to_df(spark: SparkSession, phrases: list[WCandidate]) -> DataFrame:
    """Canonical result DataFrame (deterministic projection of the CSV sink,
    corpus_miner.cpp:529-561): example_docs = first 2 of the sorted unique doc
    set (deviation: reference uses hash-set order)."""
    data = []
    for p in phrases:
        if p.examples is not None:
            ex = list(p.examples)[:2]
        else:
            ex = sorted({str(o.doc_id) for o in p.occs})[:2]
        data.append((p.text, p.support, len(p.tokens), ex))
    data.sort(key=lambda r: (-r[1] * r[2], -r[1], r[0]))
    return local_frame(spark, data, RESULT_SCHEMA)


def mine_df(spark: SparkSession, docs: DataFrame, **kw) -> DataFrame:
    return phrases_to_df(spark, mine(spark, docs, **kw))


def greedy_phrase_expansion(
    docs: DataFrame,
    min_docs: int,
    n: int = 3,
    max_len: int = 8,
    tokens_col: str = "tokens",
) -> DataFrame:
    """(seed, phrase, length, support): pure greedy right-expansion of every
    frequent seed n-gram - the SQL-oracle-able projection of the M1 miner's
    expansion rule (round-4 verdict stretch #7).

    Each seed (distinct-doc support >= min_docs) extends one token at a time:
    among all (L+1)-grams whose first L tokens equal the current phrase and
    whose distinct-doc support stays >= min_docs, pick MAX support, ties to
    the LEXICOGRAPHICALLY SMALLEST next token - exactly the documented
    expansion tie-break of core/pyref.expand_candidates (bloom_gram_miner.cpp
    :655-661; the full miner adds score ordering, the occupancy bitmask and
    backward closure on top, which stay driver-side/rows-only).  Stops when
    no qualifying extension exists or length reaches max_len.

    Plan shape: one distinct-doc gram aggregate per length (n..max_len) and
    one left join per expansion step - a STATIC unrolled chain, no iteration
    whose depth depends on data, so Catalyst sees the whole plan and a SQL
    twin can mirror it step for step.  Every aggregate is a uniform-key
    hash-aggregate; the per-prefix argmax is min(struct(-support, gram)),
    never a window over a skewed key."""
    t = tokens_col

    def gram_support(length: int) -> DataFrame:
        g = (
            f"array_distinct(transform(slice(sequence(1, greatest(size({t}) - {length} + 1, 1)), "
            f"1, greatest(size({t}) - {length} + 1, 0)), "
            f"i -> array_join(slice({t}, i, {length}), ' ')))"
        )
        return (
            docs.select(F.explode(F.expr(g)).alias("gram"))
            .groupBy("gram")
            .agg(F.count("*").alias("sup"))
            .filter(F.col("sup") >= min_docs)
        )

    cur = gram_support(n).select(
        F.col("gram").alias("seed"),
        F.col("gram").alias("phrase"),
        F.lit(n).alias("length"),
        F.col("sup").alias("support"),
    )
    for length in range(n, max_len):
        ext = gram_support(length + 1).select(
            F.expr(
                f"array_join(slice(split(gram, ' '), 1, {length}), ' ')"
            ).alias("phrase"),
            F.col("gram").alias("g"),
            F.col("sup").alias("s"),
        )
        best = ext.groupBy("phrase").agg(
            F.min(F.struct(F.expr("-s").alias("ns"), F.col("g").alias("np"))).alias("b")
        )
        # stalled phrases (token count < current step length) never string-
        # match a longer prefix, so the left join carries them unchanged
        cur = cur.join(best, "phrase", "left").select(
            "seed",
            F.coalesce(F.col("b.np"), F.col("phrase")).alias("phrase"),
            F.when(F.col("b").isNull(), F.col("length"))
            .otherwise(F.lit(length + 1))
            .alias("length"),
            F.when(F.col("b").isNull(), F.col("support"))
            .otherwise(-F.col("b.ns"))
            .alias("support"),
        )
    return cur
