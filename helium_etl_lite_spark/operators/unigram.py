"""Unigram-LM tokenizer (Kudo 2018, "Subword Regularization" — the
SentencePiece unigram model): the OTHER mainstream subword family
beside BPE (operators/bpe.py), closing r9 verdict item 4. Where BPE
grows a vocabulary bottom-up by greedy merges, the unigram model
starts from a large seed vocabulary and EM-prunes it: each word's
segmentation is a lattice over candidate pieces, the E-step collects
piece usage counts under the current piece probabilities, the M-step
re-normalizes, and low-utility pieces are pruned toward the target
vocabulary size.

Distributed split (the same shape the BPE module uses, and the one
that survives 100 TB):

- **Word frequencies are the only corpus-sized pass** (explode ->
  two-phase hash agg -> top-V TakeOrderedAndProject). Everything
  downstream trains on the bounded word table.
- **The E-step is distributed**: per-word lattice Viterbi runs as a
  narrow mapInPandas over the word table with the (constant-sized)
  piece log-prob table in the closure, emitting (piece, count) rows;
  one hash agg folds them. Honest scope: the word table itself IS
  driver-materialized today — word_frequencies collects the top-V
  (vocab_limit) rows for seeding, exactly like the BPE trainer — so
  the corpus-independence claim rests on the top-V TRUNCATION, not on
  never collecting. The E-step's distributed shape is what matters
  beyond V: at an untruncated billion-distinct-word scale the seeding
  would move to a distributed substring count and the E-step would
  consume the word DataFrame directly, unchanged.
- **The M-step is control-plane**: the aggregated counts (bounded by
  the seed vocabulary, <= a few thousand rows) collect to the driver
  for re-normalization and pruning — O(vocab), corpus-independent.

Determinism (required for repeated driver runs and the conservation
tests): this is VITERBI-EM (hard EM) — expected counts are INTEGERS
(word_count x piece_uses on the single best path), so the cross-word
aggregation is an exact integer sum immune to partitioning order; the
full forward-backward's fractional counts would make the M-step
FP-order-dependent under shuffle. Per-word Viterbi scores are floats
but computed in a fixed left-to-right order per word, with ties broken
toward the FEWEST tokens then the lexicographically smallest piece —
same corpus, same vocabulary, same segmentation, on any partitioning.

No SQL oracle: the lattice DP is not SQL-expressible (the same
contract note as the BPE trainer); correctness rides the conservation
property (segmentations exactly cover each word's characters), the
determinism-under-repartition test, and the BPE-vs-unigram budget
comparison in tests/test_unigram.py.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bpe import word_frequencies

# log-prob penalty for a character absent from the piece table (only
# reachable for words outside the training word table): worse than any
# real piece so it never outcompetes one, but finite so every word
# still segments.
_UNK_PENALTY = -100.0


# ----------------------------------------------------------------- seed


def seed_pieces(
    word_counts: list, seed_size: int = 2000
) -> dict:
    """Seed vocabulary from the bounded word table: every substring up
    to `MAX_PIECE_LEN` chars, scored by occurrence count; keep ALL
    single characters (so every word stays segmentable) plus the top
    `seed_size` multi-char pieces by (count DESC, piece ASC) — the
    standard 'make a big superset, let EM prune it' seeding (Kudo 2018
    §3.2 trains from suffix-array substrings; counts here are the
    moral equivalent on the bounded table)."""
    counts: Counter = Counter()
    for word, cnt in word_counts:
        w = str(word)
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(i + MAX_PIECE_LEN, n) + 1):
                counts[w[i:j]] += int(cnt)
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:seed_size]
    out = dict(chars)
    out.update(multi)
    return out


def _logprobs(counts: dict) -> dict:
    total = sum(counts.values())
    return {p: math.log(c / total) for p, c in counts.items() if c > 0}


# -------------------------------------------------------------- viterbi


def viterbi_segment(word: str, logp: dict, max_piece_len: int = 6) -> list:
    """Single best segmentation of `word` under piece log-probs.
    dp[i] = (score, n_tokens, pieces-tuple) for the prefix of length i;
    ties prefer fewer tokens, then the lexicographically smaller piece
    sequence — fully deterministic."""
    n = len(word)
    NEG = float("-inf")
    dp: list = [None] * (n + 1)
    dp[0] = (0.0, 0, ())
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece_len), i):
            if dp[j] is None:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if len(piece) == 1:
                    lp = _UNK_PENALTY
                else:
                    continue
            cand = (
                dp[j][0] + lp,
                dp[j][1] + 1,
                dp[j][2] + (piece,),
            )
            if (
                best is None
                or cand[0] > best[0]
                or (cand[0] == best[0] and cand[1] < best[1])
                or (cand[0] == best[0] and cand[1] == best[1] and cand[2] < best[2])
            ):
                best = cand
        dp[i] = best
    return list(dp[n][2])


# ------------------------------------------------------------------ EM


def _estep_counts(
    words_df: DataFrame, logp: dict, max_piece_len: int
) -> list:
    """Distributed E-step: per-word Viterbi as a narrow mapInPandas
    over the (word, count) table, emitting integer (piece, count)
    usage rows; one hash agg folds them; the bounded result collects.
    The piece table rides the closure (O(vocab), constant)."""
    out_schema = T.StructType(
        [
            T.StructField("piece", T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            local: Counter = Counter()
            for w, c in zip(pdf["w"], pdf["c"]):
                for piece in viterbi_segment(str(w), logp, max_piece_len):
                    local[piece] += int(c)
            yield pd.DataFrame(
                {"piece": list(local.keys()), "cnt": list(local.values())}
            )

    agg = (
        words_df.mapInPandas(run, schema=out_schema)
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return [(r["piece"], r["cnt"]) for r in agg.collect()]


TEXT_COL = "text"
MAX_PIECE_LEN = 6
EM_ROUNDS = 3
VOCAB_LIMIT = 100_000


def train_unigram(df: DataFrame, vocab_target: int = 400, seed_size: int = 2000) -> dict:
    """Train the unigram LM: distributed word counts -> seed ->
    `EM_ROUNDS` x (distributed Viterbi E-step, driver M-step + prune to
    `vocab_target`). Returns piece -> logp for encoding."""
    wc = word_frequencies(df, TEXT_COL, VOCAB_LIMIT)
    spark = df.sparkSession
    words_df = spark.createDataFrame(
        [(w, int(c)) for w, c in wc], "w string, c long"
    )
    counts = seed_pieces(wc, seed_size)
    logp = _logprobs(counts)
    for _ in range(EM_ROUNDS):
        used = dict(_estep_counts(words_df, logp, MAX_PIECE_LEN))
        # M-step + prune: single chars are unprunable (coverage); keep
        # the top multi-char pieces by (used count DESC, piece ASC).
        chars = {p: c for p, c in used.items() if len(p) == 1}
        # chars never used this round still need a floor count so every
        # character stays encodable next round.
        for p in counts:
            if len(p) == 1 and p not in chars:
                chars[p] = 1
        multi = sorted(
            ((p, c) for p, c in used.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[: max(0, vocab_target - len(chars))]
        new_counts = dict(chars)
        new_counts.update(multi)
        counts = new_counts
        logp = _logprobs(counts)
    return logp


# --------------------------------------------------------------- encode


OUT_COL = "n_tokens_unigram"


def unigram_token_counts(df: DataFrame, logp: dict) -> DataFrame:
    """Append the exact unigram-LM token count of `TEXT_COL` under the
    trained piece table — the same narrow mapInPandas + per-task word
    memo shape as bpe_token_counts (Zipfian reuse pays Viterbi once per
    distinct word per worker)."""
    fields = df.schema.fields + [T.StructField(OUT_COL, T.LongType())]
    out_schema = T.StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}

        def count_tokens(text) -> int:
            if text is None:
                return 0
            total = 0
            for w in str(text).split():
                n = memo.get(w)
                if n is None:
                    n = len(viterbi_segment(w, logp, MAX_PIECE_LEN))
                    memo[w] = n
                total += n
            return total

        for pdf in batches:
            pdf = pdf.copy()
            pdf[OUT_COL] = [count_tokens(t) for t in pdf[TEXT_COL]]
            pdf[OUT_COL] = pdf[OUT_COL].astype("int64")
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


# ------------------------------------------------- portable-exact twin
#
# The driver-exact variant of the unigram family (the r8/r9 portable
# discipline: every rows-only algorithm family carries an exact twin).
# EM-trained float log-probs are not oracle-statable, so the twin runs
# the SAME algorithm — lattice Viterbi segmentation under a piece
# table — with a FIXED, module-constant INTEGER cost table (the move
# vec_ann_*_portable make with quantized codebooks): minimize
# (total cost, then token count), encoded as one integer
# v = 1024*cost + 1 per piece so the DP is a plain integer MIN that an
# unrolled-CTE oracle restates bit-for-bit.

UNIGRAM_PORTABLE_MAX_PIECE = 4
# the synthetic corpus vocabulary (TESTDATA.md documents table) — a
# fixture constant like GOPHER_STOPWORDS/MIXTURE_SPEC; pieces are its
# 2..4-char substrings plus every single letter.
UNIGRAM_SEED_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]


def _portable_cost_table() -> dict:
    """piece -> integer cost: longer pieces cheaper (so the DP prefers
    real merges), deterministic per-piece jitter so distinct pieces of
    equal length rarely tie on cost — all plain arithmetic both the
    kernel and the generated oracle share."""
    costs: dict = {}
    for ch in "abcdefghijklmnopqrstuvwxyz":
        costs[ch] = 900_000
    for w in UNIGRAM_SEED_WORDS:
        n = len(w)
        for i in range(n):
            for j in range(i + 2, min(i + UNIGRAM_PORTABLE_MAX_PIECE, n) + 1):
                p = w[i:j]
                c = 1_000_000 - 190_000 * len(p) + 977 * (sum(map(ord, p)) % 7)
                prev = costs.get(p)
                if prev is None or c < prev:
                    costs[p] = c
    return costs


UNIGRAM_PORTABLE_COSTS = _portable_cost_table()


def viterbi_cost_segment(word: str, costs: dict, max_piece_len: int) -> tuple:
    """Integer-cost Viterbi: minimize v = sum(1024*cost(piece) + 1).
    Returns (n_tokens, total_cost) decoded from the single combined
    integer (v % 1024 = token count since every word here is < 1024
    tokens; v // 1024 = cost). Fail-stop on an unsegmentable word (a
    character outside the cost table): decoding the INF sentinel would
    silently yield n_tokens=0 and an astronomical cost (review find) —
    the portable contract covers the seeded lowercase alphabet, and a
    caller feeding anything else must hear about it."""
    n = len(word)
    INF = 1 << 62
    dp = [INF] * (n + 1)
    dp[0] = 0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_piece_len), i):
            if dp[j] >= INF:
                continue
            c = costs.get(word[j:i])
            if c is None:
                continue
            v = dp[j] + 1024 * c + 1
            if v < dp[i]:
                dp[i] = v
    v = dp[n]
    if v >= INF:
        raise ValueError(
            f"unsegmentable word {word!r}: contains a character outside "
            "the portable cost table (lowercase a-z) — filter inputs "
            "like text_tokenize_unigram_portable does"
        )
    return (v % 1024, v // 1024)


def unigram_portable_word_table(words_df: DataFrame) -> DataFrame:
    """(word) -> (word, n_tokens, cost) through the fixed-table integer
    Viterbi — a narrow mapInPandas over the distinct-word table."""
    costs = UNIGRAM_PORTABLE_COSTS
    mpl = UNIGRAM_PORTABLE_MAX_PIECE
    out_schema = T.StructType(
        [
            T.StructField("word", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("cost", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for w in pdf["word"]:
                nt, c = viterbi_cost_segment(str(w), costs, mpl)
                rows.append((w, nt, c))
            yield pd.DataFrame(rows, columns=["word", "n_tokens", "cost"])

    return words_df.mapInPandas(run, schema=out_schema)
