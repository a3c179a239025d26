"""URL featurization / filtering and PII redaction - the two standard
crawl-pipeline stages between ingest and text cleaning (FineWeb and
RefinedWeb both URL-filter before extraction and anonymize PII after).

Everything here is pure Catalyst string expressions (JVM-side, codegen,
no shuffle except the blocklist anti-join), and every regex sticks to
basic character classes + bounded quantifiers so Java regex (Spark) and
RE2 (DuckDB) agree symbol-for-symbol - the property the SQL oracles rely
on.  No reference anchor: the reference is corpus-local (text only);
these mirror public pipeline practice.

Scale posture: url_features is a pure map; the blocklist is
policy-sized (thousands of domains), so url_blocklist_filter broadcasts
it and the corpus never shuffles; redact_pii is a pure map whose
counts come from the same single regexp_extract_all evaluation that
feeds the replacement (shared subexpression via a two-step select).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from boilerplate_buster_spark.session import local_frame

# RE2-safe (no lookaround/backrefs), identical semantics in Java regex
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def host_expr(url_col: str) -> str:
    """SQL expression for the host of an absolute URL (scheme stripped,
    first path segment).  THE host definition - every operator that keys
    by host (features, stats, spam policy, robots) must share it or host
    joins silently disagree."""
    return (
        f"element_at(split(regexp_replace({url_col}, '^[a-z]+://', ''), "
        f"'/'), 1)"
    )


def url_features(
    docs: DataFrame, url_col: str = "url", id_col: str | None = None
) -> DataFrame:
    """(url [, id], scheme, host, domain, path_depth, n_query_params,
    is_https): string-op URL decomposition.

    domain = last two dot-labels of the host (the policy key public
    blocklists are keyed by; a full public-suffix list is a data file, not
    an algorithm, and plugs in here).  path_depth counts non-empty path
    segments before the query string; n_query_params counts '&'-separated
    k=v pairs after the first '?'."""
    u = url_col
    host = host_expr(u)
    rest = f"substring(regexp_replace({u}, '^[a-z]+://', ''), length({host}) + 1)"
    path = f"element_at(split({rest}, '\\\\?'), 1)"
    query = f"IF(instr({rest}, '?') > 0, substring({rest}, instr({rest}, '?') + 1), '')"
    labels = f"split({host}, '\\\\.')"
    cols = [F.col(c) for c in ([id_col] if id_col else [])] + [
        F.col(u),
        F.expr(f"element_at(split({u}, '://'), 1)").alias("scheme"),
        F.expr(host).alias("host"),
        F.expr(
            f"IF(size({labels}) >= 2, concat(element_at({labels}, -2), '.', "
            f"element_at({labels}, -1)), {host})"
        ).alias("domain"),
        F.expr(f"size(filter(split({path}, '/'), x -> x != ''))").alias(
            "path_depth"
        ),
        F.expr(
            f"IF({query} = '', 0, size(split({query}, '&')))"
        ).alias("n_query_params"),
        F.expr(f"{u} LIKE 'https://%'").alias("is_https"),
    ]
    return docs.select(*cols)


def url_blocklist_filter(
    docs: DataFrame, blocked_domains: list[str], url_col: str = "url"
) -> DataFrame:
    """Rows whose url domain is NOT in the blocklist.  The blocklist is
    policy-sized, so it broadcasts into a hash anti-join - the corpus is
    never shuffled.  EXACT match on the registrable domain (see
    url_features), the granularity public blocklists use."""
    spark = docs.sparkSession
    bl = local_frame(spark, [(d,) for d in sorted(set(blocked_domains))], "domain string")
    feats = url_features(docs.select(url_col), url_col).select(url_col, "domain")
    keep = feats.join(F.broadcast(bl), "domain", "left_anti").select(url_col)
    return docs.join(F.broadcast(keep), url_col, "left_semi")


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_emails, n_ips, redacted_text): emails -> <EMAIL> and IPv4
    addresses -> <IP>, with per-doc match counts - the FineWeb-style
    anonymization pass.  Email redaction runs FIRST so an address like
    user@10.1.2.3.example.com is counted once as an email, not again as an
    IP (order pinned by the oracle and tests)."""
    # column-level functions, NOT F.expr: the regexes carry backslashes,
    # which a SQL string literal would re-escape (\. silently becomes .)
    step1 = docs.select(
        F.col(id_col),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_RE), F.lit(0))
        ).alias("n_emails"),
        F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>").alias("_t1"),
    )
    return step1.select(
        id_col,
        "n_emails",
        F.size(
            F.regexp_extract_all(F.col("_t1"), F.lit(IPV4_RE), F.lit(0))
        ).alias("n_ips"),
        F.regexp_replace(F.col("_t1"), IPV4_RE, "<IP>").alias("redacted_text"),
    )


def parse_robots_df(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """(host, ua, kind, prefix): parsed REP rules, one row per (group UA,
    rule) - core/robots.parse_robots inside one Arrow batch.  The rule
    table is policy-sized (one robots.txt per host), the natural broadcast
    side of robots_filter."""
    import pandas as pd

    from boilerplate_buster_spark.core.robots import parse_robots

    def run(batches):
        for pdf in batches:
            h, u, k, p = [], [], [], []
            for host, text in zip(pdf[host_col], pdf[text_col]):
                for ua, kind, prefix in parse_robots(text or ""):
                    h.append(host)
                    u.append(ua)
                    k.append(kind)
                    p.append(prefix)
            yield pd.DataFrame({"host": h, "ua": u, "kind": k, "prefix": p})

    return robots.select(host_col, text_col).mapInPandas(
        run, "host string, ua string, kind string, prefix string"
    )


def robots_filter(
    urls_df: DataFrame,
    rules: DataFrame,
    crawler_ua: str,
    url_col: str = "url",
) -> DataFrame:
    """(url, allowed): RFC 9309 longest-match decision per url, entirely in
    Catalyst - group selection (exact-UA group if the host has one, else
    the '*' group), startswith prefix join against the BROADCAST rule
    table, per-url argmax on (longest prefix, Allow wins ties).  Urls on
    hosts with no matching rule are allowed.  The corpus shuffles once for
    the per-url aggregate; the rule side never exceeds policy size."""
    ua = crawler_ua.lower()
    exact = rules.filter(F.lower(F.col("ua")) == ua)
    star = rules.filter(F.col("ua") == "*").join(
        exact.select("host").distinct(), "host", "left_anti"
    )
    eff = exact.unionByName(star).select("host", "kind", "prefix")
    host = host_expr(url_col)
    u = urls_df.select(
        F.col(url_col),
        F.expr(host).alias("host"),
        F.expr(
            f"coalesce(nullif(substring(regexp_replace({url_col}, "
            f"'^[a-z]+://', ''), length({host}) + 1), ''), '/')"
        ).alias("path"),
    )
    matched = (
        u.join(F.broadcast(eff), "host", "left")
        .filter(
            F.col("prefix").isNull() | F.expr("startswith(path, prefix)")
        )
        .groupBy(url_col)
        .agg(
            F.min(
                F.when(
                    F.col("prefix").isNotNull(),
                    F.struct(
                        F.expr("-length(prefix)").alias("nl"),
                        F.expr("IF(kind = 'allow', 0, 1)").alias("d"),
                    ),
                )
            ).alias("best")
        )
    )
    # rejoin against ALL urls: a rule-bearing host whose every rule failed
    # the startswith filter would otherwise vanish from the aggregate (and
    # such urls are allowed, same as rule-less hosts)
    return u.select(url_col).join(matched, url_col, "left").select(
        url_col,
        (F.col("best").isNull() | (F.col("best.d") == 0)).alias("allowed"),
    )


# --- host-level crawl statistics / spam-host policy ------------------------


def host_stats(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """(host, n_docs, n_urls, n_uniq_texts, dup_frac_e6, mean_len):
    per-host crawl statistics - the aggregation level C4/RefinedWeb-style
    pipelines apply spam policy at (a spammy host shows many near-identical
    short pages; a healthy one has diverse text).

    dup_frac_e6 = ((n_docs - distinct texts) * 1e6) div n_docs and
    mean_len = sum(len) div n_docs are integer-exact (oracle-stable).
    One shuffle keyed by host; the two COUNT DISTINCTs expand the
    aggregate 3x (Spark's Expand), still a single exchange.  Text
    identity is md5 of the raw text - the same fingerprint the exact
    dedup stage keys on, so host dup stats agree with document dedup."""
    d = docs.select(
        F.expr(host_expr(url_col)).alias("host"),
        F.col(url_col).alias("_u"),
        F.md5(text_col).alias("_fp"),
        F.length(text_col).alias("_len"),
    )
    return d.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("_u").alias("n_urls"),
        F.countDistinct("_fp").alias("n_uniq_texts"),
        F.expr(
            "((count(*) - count(DISTINCT _fp)) * 1000000) div count(*)"
        ).alias("dup_frac_e6"),
        F.expr("sum(_len) div count(*)").alias("mean_len"),
    )


def spam_host_filter(
    docs: DataFrame,
    max_dup_frac_e6: int | None = None,
    min_mean_len: int | None = None,
    max_docs_per_host: int | None = None,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Rows whose host violates none of the given thresholds (each None
    threshold is not applied).  The flagged-host set - hosts that ARE
    spammy - is the broadcast side, so the corpus itself never shuffles:
    one stats aggregation + one broadcast anti-join.  (Spam hosts are a
    small fraction of hosts by construction of the thresholds; if a
    policy flags most of the web, flip to a semi-join on the keep set.)"""
    stats = host_stats(docs, url_col=url_col, text_col=text_col)
    cond = F.lit(False)
    if max_dup_frac_e6 is not None:
        cond = cond | (F.col("dup_frac_e6") > max_dup_frac_e6)
    if min_mean_len is not None:
        cond = cond | (F.col("mean_len") < min_mean_len)
    if max_docs_per_host is not None:
        cond = cond | (F.col("n_docs") > max_docs_per_host)
    bad = stats.filter(cond).select("host")
    return (
        docs.withColumn("_host", F.expr(host_expr(url_col)))
        .join(F.broadcast(bad), F.col("_host") == bad["host"], "left_anti")
        .drop("_host")
    )


# --- URL canonicalization (crawl-dedup key) --------------------------------
#
# The normalization chain is generated ONCE and rendered per dialect
# (Spark SQL vs DuckDB SQL), so the operator and its oracle cannot drift:
# the only dialect differences are regexp_replace's 'g' flag (DuckDB) and
# backslash escaping inside string literals (Spark's parser consumes one
# level; DuckDB's does not).


def _rr(e: str, pat: str, rep: str, dialect: str) -> str:
    if dialect == "duckdb":
        return f"regexp_replace({e}, '{pat}', '{rep}', 'g')"
    return f"regexp_replace({e}, '{pat.replace(chr(92), chr(92) * 2)}', '{rep}')"


def normalize_url_stages(u: str, dialect: str) -> list[tuple[str, str]]:
    """Ordered (column, expr) stages computing ``norm_url`` from column
    ``u``; each expr may reference earlier stage columns by name.  Honest
    subset (documented, tested): absolute http(s) URLs; fragment stripped;
    scheme+host lowercased; default ports (:80 http, :443 https) dropped;
    ``.`` and ``..`` path segments resolved (parent segments starting with
    a dot, e.g. ``.git``, are left alone - RE2 has no lookaround); empty
    path becomes ``/``; ``utm_*`` tracking parameters removed.  These are
    the SURT-style canonicalization rules crawl dedup keys on."""

    def rr(e, pat, rep):
        return _rr(e, pat, rep, dialect)

    # '.'-segment collapse needs re-application (non-overlapping matches:
    # '/././' -> '/./'), as does nested parent resolution ('/a/b/../../');
    # 6 unrolled rounds resolve any nesting depth the tests exercise.
    def dots(e):
        for _ in range(3):
            e = rr(e, "/\\./", "/")
        e = rr(e, "/\\.$", "/")
        for _ in range(6):
            e = rr(e, "^/\\.\\./", "/")
            e = rr(e, "/([^/.][^/]*)/\\.\\./", "/")
        e = rr(e, "/([^/.][^/]*)/\\.\\.$", "/")
        e = rr(e, "^/\\.\\.$", "/")
        return e

    qclean = rr(
        rr(
            rr("q1", "&utm_[^&]*", ""),
            "\\?utm_[^&]*&", "?"),
        "\\?utm_[^&]*$", "")
    return [
        ("nofrag", rr(u, "#.*", "")),
        ("sch", "lower(split_part(nofrag, '://', 1))"),
        ("rest", "substr(nofrag, instr(nofrag, '://') + 3)"),
        ("hp", "regexp_extract(rest, '^[^/?]*', 0)"),
        ("tail", "substr(rest, length(hp) + 1)"),
        (
            "h2",
            "CASE WHEN sch = 'http' THEN " + _rr("lower(hp)", ":80$", "", dialect)
            + " ELSE " + _rr("lower(hp)", ":443$", "", dialect) + " END",
        ),
        (
            "p1",
            "CASE WHEN instr(tail, '?') > 0 "
            "THEN substr(tail, 1, instr(tail, '?') - 1) ELSE tail END",
        ),
        (
            "q1",
            "CASE WHEN instr(tail, '?') > 0 "
            "THEN substr(tail, instr(tail, '?')) ELSE '' END",
        ),
        ("p2", dots("CASE WHEN p1 = '' THEN '/' ELSE p1 END")),
        ("q2", "CASE WHEN " + qclean + " = '?' THEN '' ELSE " + qclean + " END"),
        ("norm_url", "concat(sch, '://', h2, p2, q2)"),
    ]


def normalize_urls(
    docs: DataFrame, url_col: str = "url", keep: list[str] | None = None
) -> DataFrame:
    """(…keep, url, norm_url): canonical crawl-dedup key per URL.  Pure
    Catalyst string expressions staged through chained projections (each
    stage's columns are computed once - Catalyst does not CSE a repeated
    non-trivial subexpression inside one projection), zero shuffles; at
    100 TB this is a map over the scan.  No reference anchor (the
    reference is corpus-local); mirrors SURT/crawl-frontier practice."""
    out = docs
    for name, expr in normalize_url_stages(url_col, "spark"):
        out = out.selectExpr("*", f"{expr} AS {name}")
    cols = (keep or []) + [url_col, "norm_url"]
    return out.select(*cols)


def crawl_frontier(
    candidates: DataFrame,
    robots_rules: DataFrame,
    blocked_hosts: DataFrame,
    crawler_ua: str,
    per_host_cap: int = 50,
    url_col: str = "url",
    priority_col: str = "priority_e1",
) -> DataFrame:
    """(url, host, priority_e1, rank): the crawl-frontier assembly — the
    composition a scheduler runs between URL discovery (sitemaps, link
    extraction, feeds) and fetching:

      1. canonicalize (normalize_url_stages) and dedup on the canonical
         key, keeping the max priority per key — the frontier fetches
         norm_url, so tracking-parameter variants collapse to one fetch;
      2. RFC 9309 robots longest-match decision for `crawler_ua`
         (robots_filter — the rule table broadcasts);
      3. blocklisted hosts removed by broadcast anti-join;
      4. per-host politeness cap: top `per_host_cap` by (priority DESC,
         url ASC), rank included in the output.

    Stage 4 is a per-host row_number window: correct at any host count
    because hosts partition uniformly; a single mega-host is bounded by
    the cap itself (the stratified_sample hash-prefilter trick applies
    verbatim if one host ever dominates a partition)."""
    norm = normalize_urls(
        candidates.withColumnRenamed(url_col, "url"), keep=[priority_col]
    )
    uniq = norm.groupBy(F.col("norm_url").alias("url")).agg(
        F.max(priority_col).alias(priority_col)
    )
    allowed = (
        robots_filter(uniq, robots_rules, crawler_ua)
        .filter(F.col("allowed"))
        .select("url")
    )
    kept = (
        uniq.join(allowed, "url")
        .withColumn("host", F.expr(host_expr("url")))
        .join(F.broadcast(blocked_hosts), "host", "left_anti")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("host").orderBy(
        F.desc(priority_col), F.asc("url")
    )
    return (
        kept.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_host_cap)
        .select(
            "url",
            "host",
            F.col(priority_col).cast("long").alias(priority_col),
            F.col("rank").cast("long").alias("rank"),
        )
    )


DATE_RE = r"\d{4}-\d{2}-\d{2}"


def date_mentions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_dates, first_date, last_date): ISO-date (YYYY-MM-DD)
    mentions per document - publication/update-date extraction, the
    temporal-metadata primitive freshness scoring reads.  first/last are
    lexicographic min/max, which IS chronological order for ISO dates;
    docs without dates carry 0 and empty strings.  Pure projection
    (regexp_extract_all in the scan), no shuffle."""
    # backslashes doubled inside the SQL string literal
    arr = f"regexp_extract_all({text_col}, '\\\\d{{4}}-\\\\d{{2}}-\\\\d{{2}}', 0)"
    return docs.select(
        F.col(id_col),
        F.expr(f"size({arr})").cast("long").alias("n_dates"),
        F.expr(f"coalesce(array_min({arr}), '')").alias("first_date"),
        F.expr(f"coalesce(array_max({arr}), '')").alias("last_date"),
    )
