"""The benchmark's workloads: seeded inputs, one job, and its check.

Every workload writes its generated inputs to parquet during set-up and
reads them back at the start of each job, so a job never reuses cached
data from the previous one.  Each check compares the job's output with a
reference built from the generator's own knowledge of what it planted,
never with output of the code under test.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import re
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.trace import OUTSIDE, Spans

HERE = os.path.dirname(os.path.abspath(__file__))

# --------------------------------------------------------------------------
# reference helpers, written from the specs and not from the package code


_TOKEN_RE = re.compile(r"[0-9A-Za-z\u0080-\U0010FFFF]+")
_ASCII_LOWER = {ord(c): ord(c) + 32 for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"}


def ref_tokens(text: str) -> list[str]:
    """Maximal runs of ASCII alphanumerics or non-ASCII code points,
    ASCII-lowercased."""
    return [m.translate(_ASCII_LOWER) for m in _TOKEN_RE.findall(text)]


def bpe_segment(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Classic BPE: characters plus '</w>', each merge applied left to
    right over non-overlapping adjacent pairs, in rank order."""
    seg = list(word) + ["</w>"]
    for lhs, rhs in merges:
        out, i = [], 0
        while i < len(seg):
            if i + 1 < len(seg) and seg[i] == lhs and seg[i + 1] == rhs:
                out.append(lhs + rhs)
                i += 2
            else:
                out.append(seg[i])
                i += 1
        seg = out
    return seg


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _mismatches(kind: str, want: dict, got: dict, limit: int = 3) -> list[str]:
    errs = []
    if set(want) != set(got):
        errs.append(
            f"{kind}: {len(set(want) - set(got))} missing, "
            f"{len(set(got) - set(want))} unexpected keys"
        )
    bad = [k for k in want if k in got and want[k] != got[k]]
    for k in bad[:limit]:
        errs.append(f"{kind}[{k!r}]: want {want[k]!r}, got {got[k]!r}")
    if len(bad) > limit:
        errs.append(f"{kind}: {len(bad) - limit} more mismatches")
    return errs


# --------------------------------------------------------------------------


@dataclass
class Inputs:
    path: str
    n_rows: int
    params: dict
    refs: dict = field(default_factory=dict)


@dataclass
class Result:
    """What one job produced: outputs to check and counts to report."""

    outputs: dict
    counts: dict = field(default_factory=dict)
    #: traced runs only: extra counting jobs, run after the job is timed
    after: Callable[[], None] | None = None


class Workload:
    name = ""

    def generate(self, spark, seed: int, scale: float, data_dir: str) -> Inputs:
        raise NotImplementedError

    def run(self, spark, inputs: Inputs, spans: Spans, traced: bool) -> Result:
        raise NotImplementedError

    def check(self, inputs: Inputs, result: Result) -> list[str]:
        raise NotImplementedError


def _sized(base: int, scale: float, floor: int) -> int:
    return max(floor, int(round(base * scale)))


# --------------------------------------------------------------------------
# extract_text: two-pass extraction over text-only pages


def _template_lines() -> set[str]:
    """Every boilerplate line the page generator injects."""
    from boilerplate_buster_spark.sources import pages as gen

    return set(gen.TEMPLATES) | {gen.SITE_TEMPLATE.format(s=s) for s in range(gen.N_SITES)}


def golden_extracted(text: str, templates) -> str:
    """The page text with every injected template line removed (newlines
    stay): what the injection says extraction must return."""
    return "\n".join("" if line in templates else line for line in text.split("\n"))


def _mine_with_trace_counts(spark, docs, spans: Spans, counts: dict, **kw) -> list:
    """bloomspan.mine inside the `mine` span, with its M5 statistics and
    its debug counters (frequent edges, transferred rows) captured."""
    from boilerplate_buster_spark.operators import bloomspan

    stats: dict = {}
    buf = io.StringIO()
    os.environ["BBS_MINE_DEBUG"] = "1"
    try:
        with spans.layer("mine"), contextlib.redirect_stdout(buf):
            phrases = bloomspan.mine(spark, docs, stats=stats, **kw)
    finally:
        os.environ.pop("BBS_MINE_DEBUG", None)
    log = buf.getvalue()
    edges = re.search(r"edge aggregation \((\d+) frequent edges\)", log)
    rows = re.search(r"toPandas \((\d+) rows\)", log)
    counts["edges.frequent"] = int(edges.group(1)) if edges else 0
    counts["transfer.rows"] = int(rows.group(1)) if rows else 0
    counts["candidates.seeds_total"] = stats.get("seeds_total", 0)
    total = stats.get("seeds_total", 0)
    counts["candidates.accept_ratio"] = stats.get("seeds_accepted", 0) / total if total else 0.0
    return phrases


def _count_mining_work(spark, docs, spans: Spans, counts: dict, min_docs: int, n: int) -> None:
    """Frequent words and gathered occurrence rows, counted after the
    measured pass in a group of their own (not part of any layer)."""
    from pyspark.sql import functions as F

    from boilerplate_buster_spark.operators import bloomspan
    from boilerplate_buster_spark.operators.corpus_stats import word_doc_freq

    spans.sc.setJobGroup("count", "count")
    try:
        counts["word_gate.frequent_words"] = (
            word_doc_freq(docs, "doc_id", "tokens").filter(F.col("df") >= min_docs).count()
        )
        cands = bloomspan.candidate_grams(docs, n, min_docs, "doc_id", "tokens")
        counts["gather.rows"] = bloomspan.gather_windows(
            docs, cands, n, 16, "doc_id", "tokens"
        ).count()
    finally:
        spans.sc.setJobGroup(OUTSIDE, OUTSIDE)


class ExtractText(Workload):
    name = "extract_text"
    base_pages = 800

    def generate(self, spark, seed, scale, data_dir):
        from boilerplate_buster_spark.sources.pages import generate_pages_df

        n = _sized(self.base_pages, scale, 200)
        path = os.path.join(data_dir, "pages")
        generate_pages_df(spark, n, seed=seed).write.mode("overwrite").parquet(path)
        templates = _template_lines()
        golden = {
            r["url"]: golden_extracted(r["text"], templates)
            for r in pq.read_table(path, columns=["url", "text"]).to_pylist()
        }
        return Inputs(path, n, {"min_docs": n // 20}, {"golden": golden})

    def _extract(self, spark, pages, inputs, spans, traced):
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from boilerplate_buster_spark.functions.tokenizer import tokens
        from boilerplate_buster_spark.operators import extraction

        min_docs = inputs.params["min_docs"]
        if not traced:
            with spans.layer("extract"):
                out, _ = extraction.extract_main_content(
                    spark, pages, min_docs=min_docs, ngrams=3, strategy="distributed"
                )
                rows = out.collect()
            return rows, {}, None
        # the same three steps extract_main_content takes, each in its own
        # span; the parse is materialized by an explicit count
        with spans.layer("parse"):
            text_repr = extraction.with_text_repr(pages).select("url", "text_repr").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            text_repr.count()
        docs = text_repr.select(F.col("url").alias("doc_id"), tokens("text_repr").alias("tokens"))
        counts: dict = {}
        phrases = _mine_with_trace_counts(
            spark, docs, spans, counts, min_docs=min_docs, ngrams=3, strategy="distributed"
        )
        with spans.layer("strip"):
            rows = extraction.strip_text_pass(text_repr, [p.text for p in phrases]).collect()
        return rows, counts, lambda: _count_mining_work(spark, docs, spans, counts, min_docs, 3)

    def run(self, spark, inputs, spans, traced):
        with spans.layer("load"):
            pages = spark.read.parquet(inputs.path)
        rows, counts, after = self._extract(spark, pages, inputs, spans, traced)
        counts["strip.removed_spans"] = sum(len(r["removed_spans"]) for r in rows)
        return Result({"extracted": {r["url"]: r["extracted_text"] for r in rows}}, counts, after)

    def check(self, inputs, result):
        return _mismatches("extracted_text", inputs.refs["golden"], result.outputs["extracted"])


# HTML rendering of a generated page.  Every line of the page becomes one
# paragraph; the markup around it (head, styles, scripts, comments, nested
# wrappers with attributes, inline tags, character references) carries no
# visible text, so the parsed text representation is the lines joined by
# newlines.
_CSS_WORDS = ["margin", "padding", "color", "display", "flex", "grid", "border", "font"]


def _noise(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789-") for _ in range(n))


def _css(rng: random.Random, rules: int) -> str:
    return "".join(
        f".c-{_noise(rng, 6)} > .x-{_noise(rng, 4)}{{{rng.choice(_CSS_WORDS)}:{rng.randrange(99)}px;"
        f"{rng.choice(_CSS_WORDS)}:#{rng.getrandbits(24):06x}}}"
        for _ in range(rules)
    )


def _js(rng: random.Random, stmts: int) -> str:
    return "".join(
        f'var v{_noise(rng, 5).replace("-", "_")} = "<div class=\\"{_noise(rng, 8)}\\">" + '
        f"({rng.randrange(999)} < {rng.randrange(999)}) && x[{rng.randrange(9)}];\n"
        for _ in range(stmts)
    )


def _attrs(rng: random.Random) -> str:
    return (
        f' class="b-{_noise(rng, 7)} m-{_noise(rng, 5)}" data-k="{_noise(rng, 10)}"'
        f' data-q="a&amp;{_noise(rng, 4)}" style="{rng.choice(_CSS_WORDS)}:{rng.randrange(9)}px"'
    )


def _word_html(rng: random.Random, w: str) -> str:
    if rng.random() < 0.3 and w[:1].isascii() and w[:1].isalpha():
        ref = f"&#{ord(w[0])};" if rng.random() < 0.5 else f"&#x{ord(w[0]):x};"
        w = ref + w[1:]
    r = rng.random()
    if r < 0.15:
        return f"<em>{w}</em>"
    if r < 0.3:
        return f'<span class="w-{_noise(rng, 4)}">{w}</span>'
    if r < 0.4:
        return f"<b>{w}</b>"
    return w


def render_html_page(url: str, lines: list[str], n_pages: int, rng: random.Random):
    """-> (html bytes, expected DOM-heuristics text, expected links, expected
    JSON-LD rows) for one page of `lines`."""
    from urllib.parse import urljoin

    site = url.split("//", 1)[1].split(".", 1)[0]
    page_no = url.rsplit("/", 1)[1]
    jsonld = [("Article", f"headline {page_no}", f"author {site}")]
    if rng.random() < 0.5:
        jsonld.append(("BreadcrumbList", f"crumbs {page_no}", None))
    head = (
        '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
        f"<title>page {page_no}</title><style>{_css(rng, rng.randrange(30, 60))}</style>"
        f"<script>{_js(rng, rng.randrange(20, 40))}</script>"
        + "".join(
            '<script type="application/ld+json">'
            + json.dumps({"@context": "https://schema.org", "@type": t, "name": nm}
                         | ({"author": {"@type": "Person", "name": au}} if au else {}))
            + "</script>"
            for t, nm, au in jsonld
        )
        + "</head>"
    )
    body = [f'<body{_attrs(rng)}><div id="page"{_attrs(rng)}><header{_attrs(rng)}>'
            f'<div class="logo"{_attrs(rng)}></div></header><main{_attrs(rng)}>']
    links: list[tuple[str, str]] = []
    kept: list[str] = []
    for line in lines:
        body.append(f"<!-- block {_noise(rng, 12)} <a href=\"/hidden\">x</a> -->")
        if rng.random() < 0.5:
            body.append(f"<script>{_js(rng, rng.randrange(2, 6))}</script>")
        # one paragraph, maybe with one linked word
        words = line.split(" ")
        link_at = rng.randrange(len(words)) if rng.random() < 0.5 else -1
        parts = []
        for i, w in enumerate(words):
            if i == link_at:
                href = f"/page/{rng.randrange(n_pages)}"
                links.append((urljoin(url, href), w))
                parts.append(f'<a href="{href}"{_attrs(rng)}>{w}</a>')
            else:
                parts.append(_word_html(rng, w))
        body.append(
            f"<section{_attrs(rng)}><div{_attrs(rng)}><p{_attrs(rng)}>"
            + " ".join(parts)
            + "</p></div></section>"
        )
        # the DOM heuristics keep a block of >= 3 tokens and <= 33% link text
        link_chars = len(words[link_at]) if link_at >= 0 else 0
        if len(ref_tokens(line)) >= 3 and 100 * link_chars <= 33 * len(line):
            kept.append(line)
    body.append('<div class="spacer" aria-hidden="true"></div><br/></main></div></body></html>')
    rows = [(i, t, nm, au) for i, (t, nm, au) in enumerate(jsonld)]
    return (head + "".join(body)).encode("utf-8"), "\n".join(kept), links, rows


# --------------------------------------------------------------------------
# curate_html: the HTML views and the curation leaves on markup-heavy pages
# with planted defects


def _curate_vocab() -> list[str]:
    """Fixed pseudo-word vocabulary (independent of the workload seed); the
    pinned BPE merges were learned on it."""
    rng = random.Random(2024)
    onset = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t",
             "v", "w", "st", "tr", "pl", "ch", "sh", "gr"]
    nucleus = ["a", "e", "i", "o", "u", "ai", "ea", "ou", "io"]
    coda = ["", "n", "r", "s", "t", "l", "m", "nd", "st", "rk"]
    words: set[str] = set()
    while len(words) < 400:
        k = rng.choice([1, 2, 2, 3, 3, 4])
        words.add("".join(rng.choice(onset) + rng.choice(nucleus) + rng.choice(coda)
                          for _ in range(k)))
    return sorted(words)


# none of these has a UTF-8 byte whose cp1252 reading is whitespace (as
# 'à' does), which the block parser's strip would eat from a line end
ACCENTED = ["café", "naïve", "über", "señor", "crème", "brûlée", "façade",
            "jalapeño", "smörgåsbord", "—", "it’s"]


def load_merges() -> list[tuple[str, str]]:
    with open(os.path.join(HERE, "bpe_merges.json"), encoding="utf-8") as f:
        return [tuple(m) for m in json.load(f)]


class CurateHtml(Workload):
    name = "curate_html"
    base_docs = 250
    line_break = 0.12
    dup_share = 0.2
    mojibake_share = 0.15
    title_family_share = 0.1

    def generate(self, spark, seed, scale, data_dir):
        n = _sized(self.base_docs, scale, 100)
        rng = random.Random(seed)
        vocab = _curate_vocab()

        def pii(kind: str) -> str:
            if kind == "email":
                return f"{rng.choice(vocab)}.{rng.choice(vocab)}@{rng.choice(vocab)}{rng.randrange(99)}.example.org"
            return ".".join(str(rng.randrange(1, 255)) for _ in range(4))

        # a base document is a list of items: ("w", word) or ("email"|"ip", None)
        def base_doc() -> list[tuple[str, str | None]]:
            items = [("w", rng.choice(vocab)) for _ in range(rng.randint(20, 80))]
            for _ in range(rng.randrange(3)):
                items.insert(rng.randrange(len(items)), (rng.choice(["email", "ip"]), None))
            if rng.random() < 0.5:
                items.insert(rng.randrange(len(items)), ("w", rng.choice(ACCENTED)))
            return items

        def render(items, variant: bool) -> tuple[str, str, int, int]:
            """-> (text, expected redacted text, n_emails, n_ips)."""
            out, red, ne, ni = [], [], 0, 0
            for kind, w in items:
                if kind == "w":
                    s = w.capitalize() if variant and w.isascii() and rng.random() < 0.2 else w
                    out.append(s)
                    red.append(s)
                else:
                    out.append(pii(kind))
                    red.append("<EMAIL>" if kind == "email" else "<IP>")
                    ne += kind == "email"
                    ni += kind == "ip"
            seps = [rng.choice([" ", " ", " ", ", ", ". "]) if variant else " "
                    for _ in range(len(out) - 1)]
            # separators with punctuation only between words, never next to
            # PII; a plain space may end the line (one HTML block per line)
            seps = [s if items[i][0] == "w" and items[i + 1][0] == "w" else " "
                    for i, s in enumerate(seps)]
            seps = ["\n" if s == " " and rng.random() < self.line_break else s for s in seps]
            text = out[0] + "".join(s + t for s, t in zip(seps, out[1:]))
            redacted = red[0] + "".join(s + t for s, t in zip(seps, red[1:]))
            return text, redacted, ne, ni

        def title() -> str:
            return f"{rng.getrandbits(64):016x}"

        # title_root links a document to the one whose title it copied (a
        # duplicate) or varied by one character (a title family)
        docs, dup_base, title_root = [], {}, {}
        bases: list[tuple[int, list]] = []
        titles: list[str] = []
        for i in range(n):
            if bases and rng.random() < self.dup_share:
                b, items = rng.choice(bases)
                dup_base[i] = title_root[i] = b
                t = titles[b]
                variant = True
            else:
                items = base_doc()
                bases.append((i, items))
                variant = False
                if titles and rng.random() < self.title_family_share:
                    src = rng.randrange(len(titles))
                    pos = rng.randrange(16)
                    t = titles[src][:pos] + rng.choice("ghijklmnop") + titles[src][pos + 1:]
                    title_root[i] = src
                else:
                    t = title()
            titles.append(t)
            text, redacted, ne, ni = render(items, variant)
            moji = rng.random() < self.mojibake_share and not text.isascii()
            stored = text.encode("utf-8").decode("cp1252") if moji else text
            docs.append((i, stored, t, text, moji, redacted, ne, ni))

        urls = [f"https://site{rng.randrange(5)}.example.com/page/{i}" for i in range(n)]
        html, heur, anchors, jsonld = [], {}, {}, {}
        for d, url in zip(docs, urls):
            page, kept, links, rows = render_html_page(url, d[1].split("\n"), n, rng)
            html.append(page)
            heur[url] = kept
            for href, anchor in links:
                a = anchors.setdefault(href, [0, set(), set()])
                a[0] += 1
                a[1].add(url)
                a[2].add(anchor)
            jsonld.update({(url, j): (t, nm, au) for j, t, nm, au in rows})
        path = os.path.join(data_dir, "pages.parquet")
        pq.write_table(pa.table({
            "doc_id": [d[0] for d in docs],
            "url": urls,
            "html": html,
            "text": pa.nulls(n, pa.string()),
            "title": [d[2] for d in docs],
        }), path)

        merges = load_merges()
        seg_len: dict[str, int] = {}

        def n_bpe(tokens: list[str]) -> int:
            total = 0
            for w in tokens:
                if w not in seg_len:
                    seg_len[w] = len(bpe_segment(w, merges))
                total += seg_len[w]
            return total

        groups: dict[int, list[int]] = {}
        for i, b in dup_base.items():
            groups.setdefault(b, [b]).append(i)
        pairs = {(a, b) for m in groups.values() for a in m for b in m if a < b}
        clusters = {i: min(m) for m in groups.values() for i in m}

        # fuzzy pairs: brute force inside each title family; random 64-bit
        # hex titles are never within distance 1 of each other, and the
        # planted substitutions use non-hex letters
        def root(i: int) -> int:
            while i in title_root:
                i = title_root[i]
            return i

        families: dict[int, list[int]] = {}
        for i in range(n):
            families.setdefault(root(i), []).append(i)
        fuzzy = {}
        for m in families.values():
            for x in range(len(m)):
                for y in range(x + 1, len(m)):
                    d = levenshtein(titles[m[x]], titles[m[y]])
                    if d <= 1:
                        fuzzy[(m[x], m[y])] = d
        refs = {
            "parsed": {d[0]: d[1] for d in docs},
            "heuristics": heur,
            "anchors": {h: (a[0], len(a[1]), "|".join(sorted(a[2]))) for h, a in anchors.items()},
            "jsonld": jsonld,
            "fixed": {d[0]: (d[3], d[4]) for d in docs},
            "redacted": {d[0]: (d[6], d[7], d[5]) for d in docs},
            "bpe": {d[0]: (len(ref_tokens(d[5])), n_bpe(ref_tokens(d[5]))) for d in docs},
            "pairs": pairs,
            "clusters": clusters,
            "fuzzy": fuzzy,
        }
        return Inputs(path, n, {"merges": merges}, refs)

    def run(self, spark, inputs, spans, traced):
        from pyspark.sql import functions as F

        from boilerplate_buster_spark.functions.tokenizer import tokens
        from boilerplate_buster_spark.operators import dedup
        from boilerplate_buster_spark.operators.bpe import bpe_encode
        from boilerplate_buster_spark.operators.domheuristics import extract_by_heuristics
        from boilerplate_buster_spark.operators.encoding import fix_double_utf8
        from boilerplate_buster_spark.operators.extraction import with_text_repr
        from boilerplate_buster_spark.operators.pagemeta import extract_jsonld
        from boilerplate_buster_spark.operators.urls import redact_pii
        from boilerplate_buster_spark.operators.weblinks import anchor_text_index, extract_links

        # each stage's output is collected (consumed and checked) and handed
        # to the next stage as a local frame, so a layer's job never
        # recomputes the layers before it
        with spans.layer("load"):
            pages = spark.read.parquet(inputs.path)
        with spans.layer("parse"):
            parsed = with_text_repr(pages).select(
                "doc_id", F.col("text_repr").alias("text")).collect()
        with spans.layer("domheuristics"):
            heur = extract_by_heuristics(pages).collect()
        with spans.layer("weblinks"):
            anchors = anchor_text_index(extract_links(pages)).collect()
        with spans.layer("pagemeta"):
            jsonld = extract_jsonld(pages).collect()
        with spans.layer("encoding"):
            fixed = fix_double_utf8(
                spark.createDataFrame(parsed, "doc_id long, text string")).collect()
        with spans.layer("urls"):
            redacted = redact_pii(
                spark.createDataFrame(fixed, "doc_id long, fixed_text string, was_fixed boolean"),
                text_col="fixed_text",
            ).collect()
        tok = spark.createDataFrame(
            [(r["doc_id"], r["redacted_text"]) for r in redacted], "doc_id long, text string"
        ).select("doc_id", tokens("text").alias("tokens"))
        with spans.layer("bpe"):
            bpe = bpe_encode(tok, inputs.params["merges"]).collect()
        with spans.layer("dedup.lsh"):
            pairs = dedup.lsh_candidate_pairs(tok).collect()
        with spans.layer("dedup.clusters"):
            clusters = dedup.duplicate_clusters(
                spark.createDataFrame(pairs, "doc_a long, doc_b long")).collect()
        with spans.layer("dedup.fuzzy"):
            fuzzy = dedup.fuzzy_pairs(pages.select("doc_id", "title")).collect()
        return Result({
            "parsed": {r["doc_id"]: r["text"] for r in parsed},
            "heuristics": {r["url"]: r["extracted_text"] for r in heur},
            "anchors": {r["href"]: (r["n_links"], r["n_sources"], r["anchors"]) for r in anchors},
            "jsonld": {(r["url"], r["block_idx"]): (r["jtype"], r["name"], r["author_name"])
                       for r in jsonld},
            "fixed": {r["doc_id"]: (r["fixed_text"], r["was_fixed"]) for r in fixed},
            "redacted": {r["doc_id"]: (r["n_emails"], r["n_ips"], r["redacted_text"])
                         for r in redacted},
            "bpe": {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"]) for r in bpe},
            "pairs": {(r["doc_a"], r["doc_b"]): True for r in pairs},
            "clusters": {r["doc_id"]: r["cluster_id"] for r in clusters},
            "fuzzy": {(r["id_a"], r["id_b"]): r["dist"] for r in fuzzy},
        }, {"dedup.lsh.pairs": len(pairs), "dedup.fuzzy.pairs": len(fuzzy)})

    def check(self, inputs, result):
        want = dict(inputs.refs, pairs={p: True for p in inputs.refs["pairs"]})
        errs = []
        for kind, got in result.outputs.items():
            errs += _mismatches(kind, want[kind], got)
        return errs


WORKLOADS = {w.name: w for w in (ExtractText(), CurateHtml())}
