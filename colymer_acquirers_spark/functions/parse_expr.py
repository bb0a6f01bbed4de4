"""JVM-expression implementations of the frozen text/link extraction rules.

Same FROZEN RULES as ``functions/parse.py`` (the pandas oracle that pyref
calls), re-expressed as pure Spark column expressions:
``regexp_replace`` chains, ``regexp_extract_all`` and higher-order array
functions (``transform``/``aggregate``/``filter``). Whole-stage-codegen'd,
zero JVM↔Python traffic — on syscall-expensive hosts the Arrow socket is the
parse bottleneck, so keeping html inside the JVM is the scale win
(SURVEY.md §4.2: "stay JVM-side").

Byte-equality with the pandas implementations is pinned by
tests/test_parse_expr.py over the synthetic web + adversarial fixtures; the
whitespace set is the explicit frozen class shared via ``WS_CHARS``.
"""

from __future__ import annotations

from functools import lru_cache

from colymer_acquirers_spark import fragments

from pyspark.sql import Column
from pyspark.sql import functions as F

from colymer_acquirers_spark.functions.parse import (
    _SCHEME_RLIKE,
    _STRIP_ALL_RE,
    _TITLE_RE,
    _WS_CLASS,
    _WS_RE,
)

_HREF_ALL_RE = (
    r"(?is)<a\b[^>]*?\bhref" + _WS_CLASS + r"*=" + _WS_CLASS + r"*(\"[^\"]*\"|'[^']*')"
)
_BASE_PARTS_RE = r"^([a-z][a-z0-9+.-]*)://([^/?#]*)([^?#]*)"


def _as_str(html: Column) -> Column:
    """Binary html → string (engine pages store html as utf-8 binary)."""
    return F.decode(html, "UTF-8")


def extract_text_expr(html: Column | str, is_binary: bool = True) -> Column:
    """FROZEN TEXT RULE as a regexp_replace chain (no Python).

    r5 measured dead end (PLANS.md): fusing strip+ws-collapse into one
    alternation scan for no-'&' pages is byte-equal but SLOWER (135 vs
    107 µs/URL interleaved A/B) — Java regex per-position alternation
    overhead and per-ws-run match/append machinery outweigh the saved
    pass. The three-pass chain below is the measured optimum."""
    s = F.col(html) if isinstance(html, str) else html
    if is_binary:
        s = _as_str(s)
    s = F.regexp_replace(s, _STRIP_ALL_RE, " ")
    decoded = s
    for ent, rep in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ]:
        decoded = F.replace(decoded, F.lit(ent), F.lit(rep))
    # entity decode is identity without '&' — skip the 6 full-string passes
    # for the common no-entity page (pure optimization, same bytes out)
    s = F.when(F.contains(s, F.lit("&")), decoded).otherwise(s)
    s = F.regexp_replace(s, _WS_RE, " ")
    return F.trim(s)


def extract_title_expr(html: Column | str, is_binary: bool = True) -> Column:
    """FROZEN TITLE RULE as JVM expressions (parity: extract_title_series)."""
    s = F.col(html) if isinstance(html, str) else html
    if is_binary:
        s = _as_str(s)
    t = F.regexp_extract(s, _TITLE_RE, 1)
    for ent, rep in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ]:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, _WS_RE, " "))


def _normalize_path_expr(p: Column) -> Column:
    """``.``/``..``/empty segment resolution via aggregate (FROZEN LINK RULE)."""
    segs = F.split(p, "/")
    acc = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda a, seg: F.when((seg == "") | (seg == "."), a)
        .when(
            seg == "..",
            F.when(F.size(a) <= 0, a).otherwise(F.slice(a, 1, F.size(a) - 1)),
        )
        .otherwise(F.concat(a, F.array(seg))),
    )
    return F.concat(F.lit("/"), F.array_join(acc, "/"))


def base_parts_expr(base: Column) -> tuple[Column, Column, Column]:
    """(scheme, host, base_dir) of a base url — FROZEN LINK RULE pieces,
    shared by link and attachment absolutization."""
    scheme = F.lower(F.regexp_extract(base, _BASE_PARTS_RE, 1))
    host = F.lower(F.regexp_extract(base, _BASE_PARTS_RE, 2))
    raw_path = F.regexp_extract(base, _BASE_PARTS_RE, 3)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    base_dir_raw = F.regexp_extract(path, r"^(.*/)", 1)
    base_dir = F.when(base_dir_raw == "", F.lit("/")).otherwise(base_dir_raw)
    return scheme, host, base_dir


def join_href_expr(
    h0: Column, scheme: Column, host: Column, base_dir: Column
) -> Column:
    """Absolutize one raw href — JVM mirror of ``parse._join_url``."""
    strip_re = "^" + _WS_CLASS + "+|" + _WS_CLASS + "+$"
    t = F.regexp_replace(h0, strip_re, "")
    tl = F.lower(t)
    # relative resolution pieces (FROZEN LINK RULE, matching _join_url)
    nofrag = F.element_at(F.split(t, "#", 2), 1)
    path_part = F.element_at(F.split(nofrag, "[?]", 2), 1)
    has_q = F.contains(nofrag, F.lit("?"))
    q_tail = F.when(
        has_q, F.concat(F.lit("?"), F.element_at(F.split(nofrag, "[?]", 2), 2))
    ).otherwise(F.lit(""))
    joined = _normalize_path_expr(F.concat(base_dir, path_part))
    rel = F.concat(scheme, F.lit("://"), host, joined, q_tail)
    return (
        F.when((t == "") | t.startswith("#"), F.lit(None).cast("string"))
        .when(tl.startswith("http://") | tl.startswith("https://"), t)
        # any other explicit scheme (javascript:, mailto:, ftp://, tel:,
        # …) is dropped — mirrors _join_url's _SCHEME_RE guard
        .when(t.rlike(_SCHEME_RLIKE), F.lit(None).cast("string"))
        .when(t.startswith("//"), F.concat(scheme, F.lit(":"), t))
        .when(t.startswith("/"), F.concat(scheme, F.lit("://"), host, t))
        .when(nofrag == "", F.lit(None).cast("string"))
        .otherwise(rel)
    )


def join_hrefs_array_expr(
    hrefs: Column, scheme: Column, host: Column, base_dir: Column
) -> Column:
    """Absolutize an ARRAY of raw hrefs — staged mirror of
    :func:`join_href_expr` (null elements pass through as null).

    PERF NOTE (r5): higher-order-function lambdas get no common-
    subexpression elimination — inside one lambda every reference to
    ``t``/``nofrag``/``qsplit`` re-evaluates its whole subtree per
    element. Staging each shared value once into a struct field across
    chained transforms is byte-identical and markedly cheaper (the same
    fix as the attachments build in envelope_expr)."""
    strip_re = "^" + _WS_CLASS + "+|" + _WS_CLASS + "+$"
    s1 = F.transform(
        hrefs,
        lambda h: F.struct(F.regexp_replace(h, strip_re, "").alias("t")),
    )
    s2 = F.transform(
        s1,
        lambda x: F.struct(
            x["t"].alias("t"),
            F.lower(x["t"]).alias("tl"),
            F.element_at(F.split(x["t"], "#", 2), 1).alias("nofrag"),
        ),
    )
    s3 = F.transform(
        s2,
        lambda x: F.struct(
            x["t"].alias("t"),
            x["tl"].alias("tl"),
            x["nofrag"].alias("nofrag"),
            F.split(x["nofrag"], "[?]", 2).alias("qsplit"),
        ),
    )

    def final(x: Column) -> Column:
        t, tl, nofrag, qsplit = x["t"], x["tl"], x["nofrag"], x["qsplit"]
        path_part = F.element_at(qsplit, 1)
        q_tail = F.when(
            F.contains(nofrag, F.lit("?")),
            F.concat(F.lit("?"), F.element_at(qsplit, 2)),
        ).otherwise(F.lit(""))
        joined = _normalize_path_expr(F.concat(base_dir, path_part))
        rel = F.concat(scheme, F.lit("://"), host, joined, q_tail)
        return (
            F.when((t == "") | t.startswith("#"), F.lit(None).cast("string"))
            .when(tl.startswith("http://") | tl.startswith("https://"), t)
            .when(t.rlike(_SCHEME_RLIKE), F.lit(None).cast("string"))
            .when(t.startswith("//"), F.concat(scheme, F.lit(":"), t))
            .when(t.startswith("/"), F.concat(scheme, F.lit("://"), host, t))
            .when(nofrag == "", F.lit(None).cast("string"))
            .otherwise(rel)
        )

    return F.transform(s3, final)


def extract_links_expr(
    html: Column | str, base_url: Column | str, is_binary: bool = True
) -> Column:
    """FROZEN LINK RULE as higher-order array expressions (no Python)."""
    s = F.col(html) if isinstance(html, str) else html
    if is_binary:
        s = _as_str(s)
    base = F.col(base_url) if isinstance(base_url, str) else base_url

    scheme, host, base_dir = base_parts_expr(base)

    quoted = F.regexp_extract_all(s, F.lit(_HREF_ALL_RE), F.lit(1))
    hrefs = F.transform(quoted, lambda q: F.substring(q, 2, F.length(q) - 2))

    links = F.filter(
        join_hrefs_array_expr(hrefs, scheme, host, base_dir),
        lambda x: x.isNotNull(),
    )
    # no base match (scheme empty) → empty list, as in extract_links_one
    empty = F.array().cast("array<string>")
    return F.when(s.isNull() | base.isNull() | (scheme == ""), empty).otherwise(links)


def parse_page_expr(
    html: Column | str, base_url: Column | str, is_binary: bool = True
) -> Column:
    """struct<content, title, links> of a page — the crawl round's parse.

    The by-name form is memoized: the expression tree is ~10^3 py4j calls
    to build (~1s of serial driver time), identical every round, and an
    unresolved Column is freely reusable across DataFrames."""
    if isinstance(html, str) and isinstance(base_url, str):
        return _parse_page_expr_cached(html, base_url, is_binary)
    h = F.col(html) if isinstance(html, str) else html
    b = F.col(base_url) if isinstance(base_url, str) else base_url
    return F.struct(
        extract_text_expr(h, is_binary).alias("content"),
        extract_title_expr(h, is_binary).alias("title"),
        extract_links_expr(h, b, is_binary).alias("links"),
    )


@fragments.register
@lru_cache(maxsize=32)
def _parse_page_expr_cached(html: str, base_url: str, is_binary: bool) -> Column:
    return F.struct(
        extract_text_expr(F.col(html), is_binary).alias("content"),
        extract_title_expr(F.col(html), is_binary).alias("title"),
        extract_links_expr(F.col(html), F.col(base_url), is_binary).alias("links"),
    )
