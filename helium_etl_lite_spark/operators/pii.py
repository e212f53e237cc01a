"""PII redaction — the privacy scrub every released pretraining corpus
runs between extraction and training (the RefinedWeb/FineWeb pipeline
stage; Penedo 2023 §2.5 redacts email/IP, FineWeb adds phone-shaped
patterns): match the standard machine-recognizable PII classes with
deterministic regexes and replace each with a fixed placeholder token,
so downstream tokenization sees a stable vocabulary item instead of a
long tail of unique identifiers.

Three classes, matched on the raw text in a fixed order (email first —
its local part may contain digits a later pattern could nibble; then
phone; then IPv4):

- EMAIL  -> ``<EMAIL>``   (local@domain.tld)
- PHONE  -> ``<PHONE>``   (NNN-NNN-NNNN / NNN NNN NNNN)
- IPV4   -> ``<IP>``      (dotted quad)

Every rule is a deterministic scalar regex over the text, so the
DuckDB oracle restates the SAME patterns from the same module
constants (the generated-oracle discipline of operators/markup.py /
operators/url.py). Patterns are RE2-safe (no lookarounds), so Spark's
Java regex and DuckDB's RE2 agree on every match.

Known, deliberate over-match (r12 ADVICE): the IPv4 rule bounds every
octet to 0-255, but ``\\b`` does not stop at dots, so the leading quad
of a LONGER dotted sequence still matches — a version string
``1.2.3.4.5`` redacts to ``<IP>.5``. Excluding that case needs a
lookahead (``(?!\\.[0-9])``), which RE2 does not support, and the
oracle parity contract requires one shared RE2-safe pattern; redacting
a version-string lookalike is the safe failure direction for a privacy
scrub, so the over-match is accepted and pinned by
TestPiiRedact.test_dotted_sequences.

The corpus fixtures carry no PII, so ``pii_wrap`` plants some
deterministically (the html_wrap pattern): emails on doc_id % 3 == 0,
phones on % 5 == 0, IPs on % 7 == 0 — overlapping residues exercise
multi-class redaction in one document; other docs pass through
untouched (the no-op path must stay byte-identical).

Scale shape: counting + chained replacement is ONE row-local
projection — zero Exchange at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- shared rule constants (both engines read these) -----------------------

#: (class, pattern, placeholder), applied in this order.
PII_RULES = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b", "<PHONE>"),
    # octets bounded to 0-255 (r12 ADVICE: the {1,3} form accepted
    # 999.999.999.999); see the module docstring for the one remaining
    # over-match (leading quad of longer dotted sequences).
    (
        "ip",
        r"\b((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
        r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b",
        "<IP>",
    ),
]


# --- Spark side -------------------------------------------------------------


def pii_counts(text: Column) -> dict[str, Column]:
    """Match count per PII class, measured on the ORIGINAL text."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("long")
        for name, pat, _ in PII_RULES
    }


def pii_redact(text: Column) -> Column:
    """The redacted text: chained whole-class replacements in rule
    order (email first — see module docstring)."""
    out = text
    for _name, pat, token in PII_RULES:
        out = F.regexp_replace(out, pat, token)
    return out


TEXT_COL = "text"
ID_COL = "doc_id"


def pii_wrap(df: DataFrame) -> DataFrame:
    """Deterministic PII-bearing fixture: plant an email / phone / IP
    sentence on doc_id residues 3 / 5 / 7 (overlaps exercise
    multi-class docs); other docs keep their text byte-identical."""
    did = F.col(ID_COL)
    out = F.col(TEXT_COL)
    out = F.when(
        did % 3 == 0,
        F.concat(
            out, F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com for details"),
        ),
    ).otherwise(out)
    out = F.when(
        did % 5 == 0,
        F.concat(
            out, F.lit(" call 555-01"),
            F.lpad((did % 10).cast("string"), 1, "0"),
            F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(out)
    out = F.when(
        did % 7 == 0,
        F.concat(
            out, F.lit(" served from 10."), (did % 256).cast("string"),
            F.lit(".0."), (did % 100).cast("string"),
        ),
    ).otherwise(out)
    return df.withColumn(TEXT_COL, out)


# --- oracle side (generated from the SAME constants) ------------------------


def pii_counts_sql(text: str) -> dict[str, str]:
    return {
        name: f"CAST(len(regexp_extract_all({text}, '{pat}')) AS BIGINT)"
        for name, pat, _ in PII_RULES
    }


def pii_redact_sql(text: str) -> str:
    out = text
    for _name, pat, token in PII_RULES:
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    return out


def pii_wrap_sql() -> str:
    email = (
        f"(CASE WHEN {ID_COL} % 3 = 0 THEN ' contact user' || "
        f"CAST({ID_COL} AS VARCHAR) || '@example.com for details' "
        f"ELSE '' END)"
    )
    phone = (
        f"(CASE WHEN {ID_COL} % 5 = 0 THEN ' call 555-01' || "
        f"CAST({ID_COL} % 10 AS VARCHAR) || '-' || "
        f"lpad(CAST({ID_COL} % 10000 AS VARCHAR), 4, '0') ELSE '' END)"
    )
    ip = (
        f"(CASE WHEN {ID_COL} % 7 = 0 THEN ' served from 10.' || "
        f"CAST({ID_COL} % 256 AS VARCHAR) || '.0.' || "
        f"CAST({ID_COL} % 100 AS VARCHAR) ELSE '' END)"
    )
    return f"{TEXT_COL} || {email} || {phone} || {ip}"
