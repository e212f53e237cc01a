"""Byte-pair-encoding tokenizer: distributed train-corpus statistics,
driver-side merge-table learning, Arrow-batched distributed encoding.

Real token budgets are BPE budgets, not whitespace counts (r5 verdict
item 7): a corpus selected to "10 B whitespace tokens" can be 13 B BPE
tokens and blow the trainer's step budget. This module implements the
public BPE algorithm (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units") with the split the
algorithm forces at scale:

- **Pair statistics / merge learning are control-plane.** Learning is
  inherently sequential (merge k+1's counts depend on merge k), so no
  engine distributes the merge loop; production tokenizers train on a
  bounded word-frequency table and apply everywhere. Here the word
  frequencies come from a full distributed count (explode -> groupBy ->
  TakeOrderedAndProject top-V, no global sort), and the greedy loop
  runs on that V-bounded table driver-side: O(V * avg_word_len *
  num_merges), independent of corpus size.
- **Encoding is embarrassingly parallel.** The learned merge ranks (a
  num_merges-sized dict, constant w.r.t. corpus) ship inside the
  mapInPandas closure; each Arrow batch encodes with a per-worker
  word -> token-count memo, so a corpus with Zipfian word reuse pays
  the merge loop once per DISTINCT word per worker, not once per
  occurrence.

Determinism (required for the driver's repeated-run checks): the top-V
cut orders by (count DESC, word ASC); merge selection breaks count
ties lexicographically; encoding merges the lowest-rank pair
left-to-right. Same corpus -> same merges -> same counts, on any
partitioning.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

END = "</w>"


# ---------------------------------------------------------------- train


def word_frequencies(df: DataFrame, text_col: str, vocab_limit: int) -> list:
    """Top-`vocab_limit` (word, count) pairs by whitespace tokenization,
    ordered (count DESC, word ASC). One explode + two-phase hash agg +
    TakeOrderedAndProject — the only corpus-sized work in training."""
    counts = (
        df.select(
            F.explode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+")
            ).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(vocab_limit)
    )
    return [(r["w"], r["c"]) for r in counts.collect()]


def _merge_symbols(sym: tuple, pair: tuple) -> tuple:
    """Merge all non-overlapping occurrences of `pair`, left to right."""
    out = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == pair[0] and sym[i + 1] == pair[1]:
            out.append(sym[i] + sym[i + 1])
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def train_merges(word_counts: Iterable[tuple], num_merges: int) -> list:
    """Greedy BPE merge learning over a bounded word-frequency table.
    Returns up to `num_merges` (left, right) pairs in rank order."""
    vocab = {
        tuple(word) + (END,): int(cnt) for word, cnt in word_counts if word
    }
    merges: list[tuple] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for sym, cnt in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {_merge_symbols(s, best): c for s, c in vocab.items()}
    return merges


TEXT_COL = "text"


def train_bpe(df: DataFrame, num_merges: int = 50, vocab_limit: int = 100_000) -> list:
    """Distributed word counts -> driver-side merge learning."""
    return train_merges(word_frequencies(df, TEXT_COL, vocab_limit), num_merges)


# --------------------------------------------------------------- encode


def encode_word(word: str, ranks: dict) -> list:
    """Encode one word with the learned ranks: repeatedly merge the
    lowest-rank adjacent pair until none applies. Returns the subword
    tokens (last one carries the end-of-word marker)."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank = None
        best_pair = None
        for a, b in zip(sym, sym[1:]):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (a, b)
        if best_pair is None:
            break
        sym = list(_merge_symbols(tuple(sym), best_pair))
    return sym


OUT_COL = "n_tokens_bpe"


def bpe_token_counts(df: DataFrame, merges: list) -> DataFrame:
    """Append the exact BPE token count of `TEXT_COL` under `merges`.

    mapInPandas keeps the plan narrow (no shuffle); the merge table
    rides the serialized closure (num_merges entries — constant-sized,
    the broadcast-a-small-dim case that is always safe, unlike the
    corpus-derived vocabularies de-broadcast in r5). A per-task
    word -> len(tokens) memo turns Zipfian repetition into dict hits.
    """
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    fields = df.schema.fields + [T.StructField(OUT_COL, T.LongType())]
    out_schema = T.StructType(fields)

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}

        def count_tokens(text) -> int:
            if text is None:
                return 0
            total = 0
            for w in str(text).split():
                n = memo.get(w)
                if n is None:
                    n = len(encode_word(w, ranks))
                    memo[w] = n
                total += n
            return total

        for pdf in batches:
            pdf = pdf.copy()
            pdf[OUT_COL] = [count_tokens(t) for t in pdf[TEXT_COL]]
            pdf[OUT_COL] = pdf[OUT_COL].astype("int64")
            yield pdf

    return df.mapInPandas(encode_batches, schema=out_schema)
