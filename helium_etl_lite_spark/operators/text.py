"""Text-analysis operators for training-data pipelines: quality
scoring, token counting, fingerprinting, language-ID heuristic.

All deterministic; quality/token/fingerprint are pure built-in-function
pipelines (JVM-side); language-ID is the one Pandas-UDF consumer
(n-gram profile scoring is genuinely awkward in SQL functions).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

STOPWORDS = ["the", "a", "of", "and", "to"]

MOD = 1_000_000_007
BASE = 31


TEXT_COL = "text"
ID_COL = "doc_id"


def quality_features(docs: DataFrame) -> DataFrame:
    """Length / stopword-ratio / type-token-ratio features + a composite
    quality score. One projection, no shuffle."""
    toks = F.split(F.col(TEXT_COL), " ")
    n_tokens = F.size(toks).cast("bigint")
    n_chars = F.length(F.col(TEXT_COL)).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    stop_ratio = F.round(n_stop.cast("double") / n_tokens, 6)
    ttr = F.round(n_distinct.cast("double") / n_tokens, 6)
    avg_tok_len = F.round(
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
        / n_tokens,
        6,
    )
    return docs.select(
        F.col(ID_COL),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_computed"),
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        avg_tok_len.alias("avg_token_len"),
        F.round(
            F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * (1.0 - stop_ratio) * ttr, 6
        ).alias("quality_score"),
    )


TOKEN_PATTERN = "[a-z]+"


def token_count_regex(docs: DataFrame) -> DataFrame:
    """BPE-ish token counting: whitespace tokens plus regex-piece counts
    (the pre-tokenizer half of a BPE pipeline)."""
    return docs.select(
        F.col(ID_COL),
        F.size(F.split(F.col(TEXT_COL), " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count(F.col(TEXT_COL), F.lit(TOKEN_PATTERN)).cast("bigint").alias("alpha_pieces"),
        F.regexp_count(F.col(TEXT_COL), F.lit("[0-9]+")).cast("bigint").alias("digit_pieces"),
        (F.length(F.col(TEXT_COL)) - F.length(F.replace(F.col(TEXT_COL), F.lit(" "), F.lit(""))))
        .cast("bigint")
        .alias("n_spaces"),
    )


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Polynomial rolling hash over characters, mod 1e9+7 — a
    deterministic document fingerprint computed with a JVM-side
    sequential aggregate (no Python)."""
    # regexp_extract_all('.') yields one element per char in both Spark
    # and DuckDB (split-on-empty-string differs between them).
    chars = F.regexp_extract_all(F.col(TEXT_COL), F.lit("."), 0)
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * BASE + F.ascii(ch)) % MOD,
    )
    return docs.select(F.col(ID_COL), fp.alias("fingerprint"))


# Tiny per-language token profiles for the heuristic language scorer.
# (The synthetic corpus is language-labelled random tokens, so this is a
# structural stand-in for a real char-ngram profile model.)
LANG_PROFILES = {
    "en": {"the", "fast", "key", "order"},
    "es": {"la", "el", "de", "que"},
    "zh": {"zh", "shi", "de", "le"},
    "fr": {"le", "la", "et", "les"},
    "de": {"der", "die", "und", "das"},
}


def lang_id_heuristic(docs: DataFrame) -> DataFrame:
    """N-gram/profile language-ID heuristic as an Arrow-batched pandas
    UDF: score = token overlap with each profile + char-bigram evidence;
    deterministic argmax with lexicographic tiebreak."""

    @pandas_udf("string")
    def detect(texts: pd.Series) -> pd.Series:
        def score(text: str) -> str:
            toks = set(text.split(" "))
            best = ("und", -1.0)
            for lang in sorted(LANG_PROFILES):
                s = float(len(toks & LANG_PROFILES[lang]))
                if s > best[1]:
                    best = (lang, s)
            return best[0]

        return texts.map(score)

    return docs.select(F.col(ID_COL), detect(F.col(TEXT_COL)).alias("lang_pred"))


WINNOW_K = 4
WINNOW_W = 5


def winnow_gram_table(docs: DataFrame) -> DataFrame:
    """Per-gram winnowing table (doc_id, i, key, wmin): 4-token gram
    hashes keyed as hash * 2^20 + position (leftmost-wins tie-break;
    docs bounded at 2^20 grams), with the rolling w-window minimum.
    Hash = first 8 md5 hex chars as int — engine-portable, so the
    selection is exact-oracle checkable. Row-local gram/key build, one
    exchange on doc_id for the ordered window."""
    from pyspark.sql import Window as W

    ws = F.split(F.col(TEXT_COL), " ")
    n = F.size(ws)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(WINNOW_K), F.lit(0)))
    gram_at = lambda i: F.array_join(F.slice(ws, i + 1, WINNOW_K), " ")  # noqa: E731
    key_at = lambda i: (  # noqa: E731
        F.conv(F.substring(F.md5(gram_at(i)), 1, 8), 16, 10).cast("long")
        * F.lit(1048576)
        + i.cast("long")
    )
    pairs = F.transform(
        idx, lambda i: F.struct(i.cast("long").alias("i"), key_at(i).alias("key"))
    )
    # explode_outer, not explode (r14): InferFiltersFromGenerate adds a
    # size(<generate input>) > 0 pre-filter under a plain explode, and
    # Catalyst performs no CSE across lambda boundaries — the ENTIRE
    # gram/md5 transform was evaluated twice per row (once in the
    # inferred filter, once in Generate). The pair array is never empty
    # (sequence(0, greatest(n-k, 0)) has >= 1 element), so the guard
    # buys nothing; outer explode skips the rule and the cheap
    # isNotNull filter drops only null-text rows — identical output.
    ex = (
        docs.withColumn("__p", pairs)
        .select(ID_COL, F.explode_outer("__p").alias("s"))
        .where(F.col("s").isNotNull())
        .select(ID_COL, F.col("s.i").alias("i"), F.col("s.key").alias("key"))
    )
    win = W.partitionBy(ID_COL).orderBy("i").rowsBetween(-(WINNOW_W - 1), 0)
    return ex.withColumn("wmin", F.min("key").over(win))


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """The selected winnowing fingerprints (doc_id, fp_hash, pos):
    distinct full-window minima (Schleimer 2003 guarantee: two docs
    sharing >= w+k-1 consecutive tokens share >= 1 fp_hash); docs with
    fewer than w grams keep their global minimum as the single
    fingerprint."""
    # r14 optimization (guide §2.4): the per-doc gram count and global
    # min ride the SAME doc_id partitioning the rolling-min window
    # already exchanged+sorted on (unbounded frame, no extra sort), and
    # the short-doc branch folds into one CASE — the former separate
    # groupBy + left_semi join re-derived the whole gram table (scan +
    # explode + md5 a SECOND time) and added a second exchange. One
    # scan, one exchange; the trailing distinct adds no exchange either
    # (hash-partitioning on doc_id already clusters (doc_id, fp_key)).
    from pyspark.sql import Window as W

    g = winnow_gram_table(docs)
    wp = W.partitionBy(ID_COL)
    g2 = g.withColumn("__n", F.count(F.lit(1)).over(wp)).withColumn(
        "__min_key", F.min("key").over(wp)
    )
    fp = (
        g2.select(
            F.col(ID_COL),
            F.when(F.col("__n") < WINNOW_W, F.col("__min_key"))
            .when(F.col("i") >= WINNOW_W - 1, F.col("wmin"))
            .alias("fp_key"),
        )
        .where(F.col("fp_key").isNotNull())
        .distinct()
    )
    return fp.select(
        F.col(ID_COL),
        (F.col("fp_key") / F.lit(1048576)).cast("long").alias("fp_hash"),
        F.pmod(F.col("fp_key"), F.lit(1048576)).cast("long").alias("pos"),
    )


MAX_DOCS_PER_FP = 64


def winnow_stopgram_filter(fpd: DataFrame) -> DataFrame:
    """Drop fingerprint hashes shared by more than `MAX_DOCS_PER_FP`
    documents before any pair join — the fingerprint-domain stop-gram
    rule. A boilerplate gram (license header, nav bar) shared by B docs
    would contribute a B² pair bucket; removing it is standard practice
    in fingerprint dedup AND deterministic (a pure doc-count threshold),
    so unlike an LSH hot-bucket cap it keeps the whole pipeline
    exact-oracle checkable. The dropped hash/doc-row counts are logged
    via one bounded 1-row aggregate over the per-hash size table — the
    no-silent-caps discipline."""
    # Materialize the fingerprint table ONCE (localCheckpoint): the
    # stats action below executes the caller's whole winnow pipeline,
    # and the returned anti-join plan reads it twice more (probe side +
    # hot side) — without it that corpus-wide gram build ran 3x per
    # call (r8 ADVICE). Checkpoint, not persist(): a persist here is
    # never unpersisted and leaks one cache per call; checkpointed
    # blocks free with the DataFrame reference. eager=False (r14): the
    # unconditional stats action below materializes it anyway, so the
    # lazy form folds checkpoint + stats into ONE job instead of two.
    # ~n_grams/3 compact rows per doc.
    fpd = fpd.localCheckpoint(eager=False)
    sizes = fpd.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("__n"))
    hot = sizes.where(F.col("__n") > MAX_DOCS_PER_FP)
    stats = hot.agg(
        F.count(F.lit(1)).alias("n_hot"),
        F.coalesce(F.sum("__n"), F.lit(0)).alias("rows_dropped"),
    ).first()
    if stats["n_hot"]:
        import logging

        logging.getLogger("helium_etl_lite_spark").warning(
            f"winnow stop-gram filter: {stats['n_hot']} fingerprint "
            f"hash(es) shared by > {MAX_DOCS_PER_FP} docs dropped "
            f"({stats['rows_dropped']} doc-fingerprint rows) — "
            "boilerplate grams; raise MAX_DOCS_PER_FP to keep them"
        )
    return fpd.join(hot.select("fp_hash"), "fp_hash", "left_anti")
