"""Randomized cross-check of the pure-Python core vs the actual reference
binary, built on demand from /root/reference sources into /tmp.

Skipped entirely when the binary can't be built; the skip message names the
cause (reference sources absent, no g++, or a failed build).  Deterministic
projection compared: the (phrase, freq, length) set.  BloomSpan is compared on
template-structured corpora only (its unstable expansion tie-break makes
adversarially tie-heavy random corpora legitimately diverge - SURVEY.md
section 5 determinism contract); BIDE/CloSpan output sets are order-independent
so they are compared on fully random corpora too.
"""

from __future__ import annotations

import csv
import pathlib
import random
import shutil
import subprocess

import pytest

from boilerplate_buster_spark.core import pyref
from boilerplate_buster_spark.core.tokenize import tokenize

REF_SRC = pathlib.Path("/root/reference/corpus-miner")
BIN = pathlib.Path("/tmp/refbuild/corpus_miner")


def _ensure_binary() -> pathlib.Path | str:
    """The reference binary, or why it can't be built."""
    if BIN.exists():
        return BIN
    if not REF_SRC.exists():
        return f"reference sources not found at {REF_SRC}"
    if shutil.which("g++") is None:
        return "no g++"
    BIN.parent.mkdir(parents=True, exist_ok=True)
    srcs = (
        list(REF_SRC.glob("*.cpp"))
        + list((REF_SRC / "_ours").glob("*.cpp"))
        + list((REF_SRC / "bide").glob("*.cpp"))
        + list((REF_SRC / "clospan").glob("*.cpp"))
    )
    cmd = ["g++", "-std=c++20", "-O2", "-fopenmp", f"-I{REF_SRC}", *map(str, srcs), "-o", str(BIN)]
    try:
        subprocess.run(cmd, check=True, capture_output=True, timeout=300)
    except Exception as e:
        return f"reference build failed: {type(e).__name__}"
    return BIN if BIN.exists() else "reference build produced no binary"


def run_reference(corpus_dir: pathlib.Path, algo: str, min_docs: int, ngrams: int, workdir: pathlib.Path):
    binary = _ensure_binary()
    if isinstance(binary, str):
        pytest.skip(f"reference binary unavailable ({binary})")
    subprocess.run(
        [str(binary), str(corpus_dir), "--algo", algo, "--n", str(min_docs),
         "--ngrams", str(ngrams), "--in-mem"],
        cwd=workdir, check=True, capture_output=True, timeout=300,
    )
    rows = set()
    with open(workdir / "results_max.csv", newline="") as f:
        for rec in csv.DictReader(f):
            rows.add((rec["phrase"], int(rec["freq"]), int(rec["length"])))
    return rows


def write_corpus(docs_text: list[str], path: pathlib.Path) -> None:
    path.mkdir(parents=True, exist_ok=True)
    for i, t in enumerate(docs_text):
        (path / f"doc_{i:03d}.txt").write_text(t, encoding="utf-8")


def make_template_corpus(rng: random.Random, n_docs: int = 24) -> list[str]:
    """Boilerplate templates + unique filler (the engine's designed workload)."""
    templates = [
        "all rights reserved contact us for more information",
        "subscribe to our newsletter for weekly updates and offers",
        "cookie consent required please accept our privacy policy to continue",
    ]
    docs = []
    for i in range(n_docs):
        filler = lambda: " ".join(f"w{i}x{rng.randrange(10**9)}" for _ in range(rng.randrange(3, 9)))
        parts = [filler()]
        for t in templates:
            if rng.random() < 0.6:
                parts.append(t)
                parts.append(filler())
        docs.append(" ".join(parts))
    return docs


def make_random_corpus(rng: random.Random, n_docs: int = 15, vocab: int = 12) -> list[str]:
    words = [f"t{j}" for j in range(vocab)]
    return [
        " ".join(rng.choice(words) for _ in range(rng.randrange(5, 30)))
        for _ in range(n_docs)
    ]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bloomspan_vs_binary_on_templates(seed, tmp_path):
    rng = random.Random(seed)
    docs_text = make_template_corpus(rng)
    corpus = tmp_path / "corpus"
    write_corpus(docs_text, corpus)
    ref = run_reference(corpus, "bloomspan", min_docs=4, ngrams=3, workdir=tmp_path)
    docs = [tokenize(t) for t in docs_text]
    ours = {
        (p.text, p.support, len(p.tokens))
        for p in pyref.bloomspan_mine(docs, min_docs=4, ngrams=3)
    }
    assert ours == ref


@pytest.mark.parametrize("algo,miner", [("bide", pyref.bide_mine), ("clospan", pyref.clospan_mine)])
@pytest.mark.parametrize("seed", [11, 12])
def test_closed_miners_vs_binary_random(algo, miner, seed, tmp_path):
    rng = random.Random(seed)
    docs_text = make_random_corpus(rng)
    corpus = tmp_path / "corpus"
    write_corpus(docs_text, corpus)
    ref = run_reference(corpus, algo, min_docs=3, ngrams=2, workdir=tmp_path)
    docs = [tokenize(t) for t in docs_text]
    # reference passes min_l = ngrams default (main.cpp:67)
    ours = {
        (p.text, p.support, len(p.tokens))
        for p in miner(docs, min_docs=3, min_l=2)
    }
    assert ours == ref
