"""Result sinks (S7/S8 in SURVEY.md section 2.1).

  * results CSV: `phrase,freq,length,example_files` with <= 2 example files,
    example_files pipe-joined (corpus_miner.cpp:529-561).  Deviation: the
    canonical sink sorts rows and examples (the reference emits hash-set
    order - nondeterministic, SURVEY.md section 5).
  * SPMF exchange format: writer `tok -1 tok -1 ... -2` per doc and reader of
    `#SUP:` result lines (corpus_miner.cpp:563-614) - the bridge the
    reference uses to benchmark against SPMF's Java miners."""

from __future__ import annotations

import csv
import io
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boilerplate_buster_spark.session import local_frame


def results_csv(df: DataFrame, path: str | None = None) -> str:
    """Canonical results CSV from a (phrase, freq, length, example_docs)
    DataFrame (bloomspan.RESULT_SCHEMA).  Returns the CSV text; writes it to
    `path` when given (single driver-side file - result sets are tiny
    relative to the corpus, matching the reference's single-file sink)."""
    rows = df.select(
        "phrase", "freq", "length", F.array_join("example_docs", "|").alias("ex")
    ).collect()
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["phrase", "freq", "length", "example_files"])
    for r in rows:
        w.writerow([r["phrase"], r["freq"], r["length"], r["ex"]])
    text = buf.getvalue()
    if path:
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
    return text


def export_spmf(docs: DataFrame, path: str, tokens_col: str = "tokens") -> None:
    """SPMF sequence-file writer: items are token ids (first-seen order is
    irrelevant to SPMF - we use a deterministic sorted dictionary), `-1`
    itemset separator, `-2` sequence terminator (corpus_miner.cpp:563-579).

    As an interop bridge writing ONE local file for a single-machine Java
    tool this is inherently driver-bounded, but it need not be
    corpus-bounded: documents stream through `toLocalIterator()` (driver
    holds one partition at a time), only the DICTIONARY is collected whole
    (vocabulary-sized, the part SPMF itself must hold in memory anyway)."""
    vocab = {
        r["w"]: i + 1
        for i, r in enumerate(
            docs.select(F.explode(tokens_col).alias("w")).distinct().orderBy("w").collect()
        )
    }
    with open(path, "w", encoding="utf-8") as f:
        for r in docs.select(tokens_col).toLocalIterator():
            toks = r[0] or []
            f.write(" ".join(f"{vocab[t]} -1" for t in toks) + " -2\n")
    with open(path + ".dict", "w", encoding="utf-8") as f:
        for w, i in vocab.items():
            f.write(f"{i}\t{w}\n")


def import_spmf(spark: SparkSession, path: str, dict_path: str | None = None) -> DataFrame:
    """Parse SPMF output lines `<ids...> -1 ... #SUP: n` back into
    (phrase, freq, length) (corpus_miner.cpp:581-614)."""
    id_to_word = {}
    if dict_path:
        with open(dict_path, encoding="utf-8") as f:
            for line in f:
                i, w = line.rstrip("\n").split("\t")
                id_to_word[i] = w
    rows = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if "#SUP:" not in line:
                continue
            seq, sup = line.split("#SUP:")
            items = [t for t in seq.split() if t not in ("-1", "-2")]
            words = [id_to_word.get(t, t) for t in items]
            rows.append((" ".join(words), int(sup.strip()), len(words)))
    return local_frame(spark, rows, "phrase string, freq long, length int")


def run_spmf(
    docs: DataFrame,
    algo: str,
    jar_path: str,
    spmf_params: str,
    min_l: int = 1,
    tokens_col: str = "tokens",
    java_bin: str = "java",
    workdir: str | None = None,
) -> DataFrame:
    """C5 SPMF java bridge (corpus_miner.cpp:616-647): export the corpus in
    SPMF sequence format, shell out

        java -jar <spmf.jar> run <Algorithm> <input> <output> <params>

    and import the mined patterns back as (phrase, freq, length) with the
    token dictionary resolved and the reference's min_l filter applied
    (":607-609").  Temp files live in a private directory and are removed
    either way (the reference's std::filesystem::remove cleanup).  Raises
    FileNotFoundError when java/the jar is absent and RuntimeError on a
    non-zero SPMF exit - callers (and the skip-if-no-jar test) decide policy.

    Scale note: SPMF is a single-node JVM tool - this bridge collects the
    corpus to a local file by design, exactly like the reference.  It exists
    for parity/interop; the native Spark miners are the scale path."""
    import subprocess
    import tempfile

    if not os.path.isfile(jar_path):
        raise FileNotFoundError(f"SPMF jar not found: {jar_path}")
    spark = docs.sparkSession
    with tempfile.TemporaryDirectory(dir=workdir) as d:
        inp = os.path.join(d, "spmf_input.txt")
        outp = os.path.join(d, "spmf_output.txt")
        export_spmf(docs.select(F.col(tokens_col).alias("tokens")), inp)
        cmd = [java_bin, "-jar", jar_path, "run", algo, inp, outp,
               *str(spmf_params).split()]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            raise RuntimeError(
                f"SPMF exited {proc.returncode}: {proc.stderr[-500:]}"
            )
        out = import_spmf(spark, outp, inp + ".dict")
    return out.filter(F.col("length") >= min_l)


def write_bucketed(
    df, table: str, by: str, buckets: int, sort: bool = True
) -> None:
    """Persist a table BUCKETED (and sorted) by a join/aggregation key so
    later equi-joins and groupBys on that key are co-located - the two sides
    of a bucketed-by-the-same-key join SortMergeJoin WITHOUT any Exchange
    (verified in test_plans.py).  This is the pre-shuffle layout the north
    rule's 'explicit repartitioning' asks for, persisted across jobs; on a
    real lakehouse the same call targets the catalog (Iceberg bucket
    transform) instead of the session warehouse."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, by)
    if sort:
        w = w.sortBy(by)
    w.saveAsTable(table)
