"""Markup/boilerplate text extraction — the WET-extraction step that
runs upstream of every text operator in a crawl pipeline (r10 verdict
item 3): deterministic tag strip + block-level boilerplate gating in
the spirit of the public jusText / trafilatura heuristics (Pomikálek
2011's block text/link-density rules; trafilatura's rule-list
boilerplate patterns), restated as engine-portable string work so the
whole extractor is row-local (zero exchanges) and exact-oracle-able.

Rules, applied per BLOCK (a segment between block-level tags):

1. strip: remove every remaining (inline) tag, decode the common HTML
   entities, collapse whitespace.
2. length gate: blocks whose stripped text is shorter than
   ``MIN_TEXT_LEN`` characters are boilerplate (nav crumbs, captions,
   "Read more" stubs).
3. link-density gate: blocks whose anchor-text share exceeds
   ``MAX_LINK_DENSITY`` are navigation (jusText's defining signal).
4. boilerplate rule-list: copyright/cookie/ToS lines drop regardless
   of length (trafilatura-style pattern list).

Every rule is a deterministic scalar expression over the block string,
so the DuckDB oracle can restate the SAME rules from the same module
constants (the generated-oracle discipline, SURVEY §7): the Spark side
builds them with pyspark.sql.functions (Python-string regexes — no SQL
literal escaping), the oracle side with the ``*_sql`` generators below.

Scale shape: split + two nested array lambdas per row — a narrow map
(whole-stage codegen, no exchange) at any corpus size; the only data
growth is the transient block array, bounded by document size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- shared rule constants (both engines read these) -----------------------

#: block-level boundary tags: text between them is one candidate block.
BLOCK_SPLIT_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|br|article|section"
    r"|header|footer|nav|blockquote)\b[^>]*>"
)
#: any remaining (inline) tag.
TAG_RE = r"<[^>]*>"
#: anchor text (capture group 1) — the numerator of link density.
ANCHOR_RE = r"(?i)<a\b[^>]*>([^<]*)</a>"
#: rule-list boilerplate (public trafilatura/jusText-style patterns).
BOILER_RE = (
    r"(?i)\b(?:copyright|all rights reserved|cookie polic"
    r"|privacy polic|terms of (?:use|service))"
)
#: minimum stripped length for a content block (jusText length gate).
MIN_TEXT_LEN = 25
#: keep iff link_len * 10 <= text_len * LINK_DENSITY_TENTHS.
LINK_DENSITY_TENTHS = 3

#: (entity, replacement) decode pairs, applied in order AFTER the tag
#: strip; &amp; decodes LAST so "&amp;lt;" correctly yields "&lt;".
ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


# --- Spark side -------------------------------------------------------------


def _stripped(b: Column) -> Column:
    s = F.regexp_replace(b, TAG_RE, " ")
    for ent, rep in ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def _link_len(b: Column) -> Column:
    return F.length(F.array_join(F.regexp_extract_all(b, F.lit(ANCHOR_RE), 1), ""))


def _keep_pair(p: Column) -> Column:
    s = p["s"]
    return (
        (F.length(s) >= MIN_TEXT_LEN)
        & (p["l"] * 10 <= F.length(s) * LINK_DENSITY_TENTHS)
        & ~s.rlike(BOILER_RE)
    )


HTML_COL = "html"
ID_COL = "doc_id"


def html_extract(df: DataFrame) -> DataFrame:
    """Extract main text from a markup column: returns (id, n_blocks,
    n_kept, text_extract) where n_blocks counts blocks with any
    stripped text at all and text_extract joins the kept blocks with
    newlines. Entirely row-local (no exchange).

    The strip pipeline (tag regex + 6 entity replaces + whitespace
    collapse) runs ONCE per block into a (stripped, link_len) struct
    array that every gate reads — Spark performs no common-
    subexpression elimination across higher-order-function lambdas, so
    the naive form re-ran the regex work 3x per block (review find)."""
    blocks = F.split(F.col(HTML_COL), BLOCK_SPLIT_RE)
    pairs = F.transform(
        blocks,
        lambda b: F.struct(_stripped(b).alias("s"), _link_len(b).alias("l")),
    )
    kept = F.transform(F.filter(pairs, _keep_pair), lambda p: p["s"])
    return df.select(
        ID_COL,
        F.size(
            F.filter(pairs, lambda p: F.length(p["s"]) > 0)
        ).cast("long").alias("n_blocks"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("text_extract"),
    )


TEXT_COL = "text"
PAR_TOKENS = 25


def html_wrap(df: DataFrame) -> DataFrame:
    """Deterministic markup-bearing fixture: wrap each document's text
    in a small page (title head, link-heavy nav, heading, the text as
    ``PAR_TOKENS``-token paragraphs, a short stub, a copyright footer)
    so the extractor has real boilerplate classes to drop and the
    oracle can restate the page from the source text."""
    did = F.col(ID_COL).cast("string")
    toks = F.split(F.col(TEXT_COL), " ")
    n_par = (F.greatest(F.size(toks), F.lit(1)) + (PAR_TOKENS - 1)).cast(
        "long"
    ) / PAR_TOKENS
    pars = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_par.cast("long") - 1),
            lambda i: F.concat(
                F.lit("<p>"),
                F.array_join(F.slice(toks, i * PAR_TOKENS + 1, PAR_TOKENS), " "),
                F.lit("</p>"),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit('</title></head><body><div class="nav"><a href="/">Home</a>'
              ' | <a href="/about">About</a> | <a href="/contact">Contact'
              "</a></div><h1>Document "), did, F.lit("</h1>"),
        pars,
        F.lit('<p>Read more</p><div class="footer">Copyright 2024 Example'
              " Corp. All rights reserved.</div></body></html>"),
    )
    return df.withColumn("html", html)


# --- oracle side (generated from the SAME constants) ------------------------


def _stripped_sql(b: str) -> str:
    s = f"regexp_replace({b}, '{TAG_RE}', ' ', 'g')"
    for ent, rep in ENTITIES:
        rep_lit = rep.replace("'", "''")
        s = f"replace({s}, '{ent}', '{rep_lit}')"
    return f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"


def _link_len_sql(b: str) -> str:
    # coalesce: DuckDB's length(array_to_string(...)) propagates NULL
    # for the no-anchor case where Spark's array_join yields '' — a
    # NULL here would silently drop the block through list_filter.
    return (
        "coalesce(length(array_to_string("
        f"regexp_extract_all({b}, '{ANCHOR_RE}', 1), '')), 0)"
    )


def _keep_sql(b: str) -> str:
    s = _stripped_sql(b)
    return (
        f"length({s}) >= {MIN_TEXT_LEN}"
        f" AND {_link_len_sql(b)} * 10 <= length({s}) * {LINK_DENSITY_TENTHS}"
        f" AND NOT regexp_matches({s}, '{BOILER_RE}')"
    )


def html_wrap_sql() -> str:
    """DuckDB expression rebuilding html_wrap's page from the text."""
    t = f"string_split({TEXT_COL}, ' ')"
    n_par = f"((greatest(len({t}), 1) + {PAR_TOKENS - 1}) // {PAR_TOKENS})"
    pars = (
        "array_to_string(list_transform(generate_series(0, "
        f"CAST({n_par} AS BIGINT) - 1), i -> '<p>' || "
        f"array_to_string(list_slice({t}, i*{PAR_TOKENS}+1, "
        f"i*{PAR_TOKENS}+{PAR_TOKENS}), ' ') || '</p>'), '')"
    )
    return (
        f"'<html><head><title>Doc ' || CAST({ID_COL} AS VARCHAR) || "
        "'</title></head><body><div class=\"nav\"><a href=\"/\">Home</a>"
        " | <a href=\"/about\">About</a> | <a href=\"/contact\">Contact"
        '</a></div><h1>Document \' || CAST('
        f"{ID_COL} AS VARCHAR) || '</h1>' || {pars} || "
        "'<p>Read more</p><div class=\"footer\">Copyright 2024 Example"
        " Corp. All rights reserved.</div></body></html>'"
    )


def html_extract_sql(html: str = "html") -> dict[str, str]:
    """DuckDB expressions restating html_extract's output columns over
    a ``html`` column; keys = output column names."""
    blocks = f"regexp_split_to_array({html}, '{BLOCK_SPLIT_RE}')"
    kept = (
        f"list_transform(list_filter({blocks}, b -> {_keep_sql('b')}), "
        f"b -> {_stripped_sql('b')})"
    )
    return {
        "n_blocks": (
            f"CAST(len(list_filter({blocks}, "
            f"b -> length({_stripped_sql('b')}) > 0)) AS BIGINT)"
        ),
        "n_kept": f"CAST(len({kept}) AS BIGINT)",
        "text_extract": f"array_to_string({kept}, chr(10))",
    }
