"""Driver-built frames and text-only pages stay out of Python workers.

`session.local_frame` is the package's one way to turn driver-side rows into
a DataFrame (a JVM LocalTableScan, no PythonRDD), and `with_text_repr` holds
no Python stage when no page carries html.  The miner's driver and
distributed strategies, which read several such frames, must keep agreeing.
"""

from __future__ import annotations

import ast
import pathlib
import random

import pytest

from boilerplate_buster_spark.core.htmlparse import html_to_text
from boilerplate_buster_spark.functions.tokenizer import tokens
from boilerplate_buster_spark.operators import bloomspan
from boilerplate_buster_spark.operators.extraction import with_text_repr
from boilerplate_buster_spark.session import local_frame
from boilerplate_buster_spark.sources import pages as pages_src

PKG = pathlib.Path(__file__).resolve().parent.parent / "boilerplate_buster_spark"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_roundtrip_and_plan(spark):
    import numpy as np

    lo, hi = -(2**63), 2**63 - 1
    schema = "h bigint, s string, a array<bigint>, m map<string,bigint>"
    rows = [
        (lo, "x", [lo, None, hi], {"k": hi}),
        (hi, None, [], {}),
        (None, "", None, None),
        (np.int64(7), "np", [np.int64(-1)], {"n": np.int64(lo)}),
    ]
    df = local_frame(spark, rows, schema)
    assert df.schema == spark.createDataFrame(rows[:3], schema).schema
    got = [tuple(r) for r in df.collect()]
    assert got == [
        (lo, "x", [lo, None, hi], {"k": hi}),
        (hi, None, [], {}),
        (None, "", None, None),
        (7, "np", [-1], {"n": lo}),
    ]
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    # non-null fields survive, and the schema equals the list path's
    res = [("a b", 3, 2, ["d1", "d2"])]
    rdf = local_frame(spark, res, bloomspan.RESULT_SCHEMA)
    assert rdf.schema == spark.createDataFrame(res, bloomspan.RESULT_SCHEMA).schema
    assert [tuple(r) for r in rdf.collect()] == res
    with pytest.raises(ValueError, match="freq"):
        local_frame(spark, [("a b", None, 2, [])], bloomspan.RESULT_SCHEMA)

    empty = local_frame(spark, [], schema)
    assert empty.collect() == []
    assert empty.schema == df.schema
    assert "ExistingRDD" not in _plan(empty)


def test_with_text_repr_python_only_for_html(spark):
    rows, _ = pages_src.generate_pages_local(40)
    text_rows = [dict(r, html=None) for r in rows]
    text_pages = spark.createDataFrame(text_rows, schema=pages_src.PAGES_SCHEMA)
    tr = with_text_repr(text_pages)
    assert "ArrowEvalPython" not in _plan(tr), _plan(tr)
    assert {r["url"]: r["text_repr"] for r in tr.collect()} == {
        r["url"]: r["text"] for r in text_rows
    }

    html_pages = spark.createDataFrame(rows, schema=pages_src.PAGES_SCHEMA)
    assert "ArrowEvalPython" in _plan(with_text_repr(html_pages))

    # mixed: html rows parse, the rest fall back to `text` (the split plan)
    mixed = [dict(r, html=None) if i % 3 else r for i, r in enumerate(rows)]
    got = with_text_repr(spark.createDataFrame(mixed, schema=pages_src.PAGES_SCHEMA))
    assert got.columns == [*text_pages.columns, "text_repr"]
    assert sorted((r["url"], r["text_repr"]) for r in got.collect()) == sorted(
        (r["url"], html_to_text(r["html"]) if r["html"] is not None else r["text"])
        for r in mixed
    )


def _strategies_agree(spark, docs, min_docs, ngrams):
    got = {}
    for strategy in ("driver", "distributed"):
        got[strategy] = {
            (p.text, p.support, len(p.tokens))
            for p in bloomspan.mine(
                spark, docs, min_docs=min_docs, ngrams=ngrams, strategy=strategy
            )
        }
    assert got["driver"] == got["distributed"]
    return got["driver"]


def test_driver_and_distributed_equal_on_generated_pages(spark):
    pages = pages_src.generate_pages_df(spark, 200, seed=3)
    docs = pages.select(
        pages["url"].alias("doc_id"), tokens("text").alias("tokens")
    )
    assert _strategies_agree(spark, docs, min_docs=10, ngrams=3)


def test_driver_and_distributed_equal_on_random_corpus(spark):
    rng = random.Random(99)
    vocab = [f"t{j}" for j in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 35)))
             for _ in range(25)]
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).select("doc_id", tokens("text").alias("tokens"))
    assert _strategies_agree(spark, docs, min_docs=3, ngrams=2)


class _CreateDataFrameCalls(ast.NodeVisitor):
    """(line, outermost enclosing function) of every `.createDataFrame(`."""

    def __init__(self) -> None:
        self.scope: list[str] = []
        self.hits: list[tuple[int, str | None]] = []

    def visit_FunctionDef(self, node) -> None:
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_Call(self, node) -> None:
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.hits.append((node.lineno, self.scope[0] if self.scope else None))
        self.generic_visit(node)


def test_no_list_path_createdataframe_in_package():
    """Driver-built frames go through session.local_frame; only the corpus
    generator (corpus-sized input, not metadata) builds a frame otherwise."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        calls = _CreateDataFrameCalls()
        calls.visit(ast.parse(path.read_text(encoding="utf-8")))
        for line, func in calls.hits:
            if rel == "sources/pages.py" or (rel, func) == ("session.py", "local_frame"):
                continue
            bad.append(f"{rel}:{line}")
    assert not bad, f"createDataFrame outside session.local_frame: {bad}"
