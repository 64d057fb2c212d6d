"""Distributed BPE (byte-pair encoding) training + tokenization.

Every tokenizer a training-data pipeline ships (GPT-2's BPE and its
descendants, Sennrich et al. 2016) is trained by the same loop: count
adjacent symbol pairs, merge the most frequent pair everywhere, repeat.
The scalable shape is to do the ONE corpus-sized pass up front — word
frequency counting — and run every iteration against the DISTINCT-WORD
table (vocabulary-sized, millions of rows at 100 TB, not trillions):

1. ``word_freqs``: one corpus scan -> (word, freq), the only pass whose
   cost scales with corpus bytes;
2. per iteration: explode each distinct word's adjacent token pairs
   weighted by freq, one partial-aggregated count, collect the single
   best pair to the driver (count desc, pair lexicographic — pinned
   tie-break, so training is deterministic on any partitioning);
3. apply the merge to the word table as a NATIVE array fold
   (``aggregate``: left-to-right, merging non-overlapping occurrences
   greedily — the standard BPE apply) — no Python in the loop;
4. a pin (``localframe.pin``) every 8 merges so plan lineage doesn't
   grow linearly with merge count.

Encoding a corpus with the trained merge ranks is per-word sequential
over ranks, the one genuinely imperative kernel — an Arrow-batched
``mapInPandas`` with the (tiny) merge table closed over, mirroring how
the reference pipeline would ship a tokenizer to executors.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..localframe import materialized, pin
from .text import _tokens

__all__ = ["word_freqs", "train_bpe", "bpe_encode", "END_OF_WORD"]

END_OF_WORD = "</w>"  # classic BPE word-boundary marker


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the single corpus-sized pass."""
    return (
        docs.select(F.explode(_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """Characters of the word plus the end-of-word marker."""
    return F.concat(F.split(word, ""), F.array(F.lit(END_OF_WORD)))


def _merge_fold(tokens: Column, left: str, right: str, joined: str) -> Column:
    """Left-to-right greedy merge of adjacent (left, right) into joined —
    a native ``aggregate`` fold, no UDF. Non-overlapping by
    construction: once a pair merges, its result can immediately pair
    with the next token only via a LATER merge rank, exactly BPE's
    apply semantics for a single rank."""
    return F.aggregate(
        tokens,
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (t == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(joined))
            ),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def train_bpe(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_pair_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus.

    Returns the ordered merge list [(left, right), ...] (rank = index).
    Stops early when no pair reaches ``min_pair_freq``. Deterministic:
    best pair per round is (max weighted count, then lexicographically
    smallest pair). Every 8th merge pins the word table, cutting the
    per-merge expression lineage."""
    merges: list[tuple[str, str]] = []
    with materialized():
        current = pin(
            word_freqs(docs, text_col).select(
                _initial_symbols(F.col("word")).alias("toks"), "freq"
            )
        )
        for i in range(num_merges):
            pairs = (
                current.select(
                    F.explode(
                        F.zip_with(
                            F.slice("toks", 1, F.size("toks") - 1),
                            F.slice("toks", 2, F.size("toks") - 1),
                            lambda a, b: F.struct(
                                a.alias("l"), b.alias("r")
                            ),
                        )
                    ).alias("p"),
                    "freq",
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("c"))
                .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not pairs or pairs[0]["c"] < min_pair_freq:
                break
            left, right = pairs[0]["l"], pairs[0]["r"]
            merges.append((left, right))
            current = current.select(
                _merge_fold(F.col("toks"), left, right, left + right).alias(
                    "toks"
                ),
                "freq",
            )
            if (i + 1) % 8 == 0:
                current = pin(current)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    toks = list(word) + [END_OF_WORD]
    while len(toks) > 1:
        best, best_rank = None, None
        for j in range(len(toks) - 1):
            r = ranks.get((toks[j], toks[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = j, r
        if best is None:
            break
        toks[best : best + 2] = [toks[best] + toks[best + 1]]
    return toks


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, tokens array<string>, n_tokens) per doc under the trained
    merges — the rank-ordered sequential apply, as an Arrow-batched
    ``mapInPandas`` kernel with the (tiny) merge table in the closure.
    Per-word results are memoized per batch (corpora repeat words), so
    the kernel cost tracks DISTINCT words per batch."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}
    import re

    token_re = re.compile(r"[a-z0-9]+")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            out_ids, out_toks = [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks: list[str] = []
                for w in token_re.findall((txt or "").lower()):
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = _encode_word(w, ranks)
                    toks.extend(got)
                out_ids.append(i)
                out_toks.append(toks)
            yield pd.DataFrame({id_col: out_ids, "tokens": out_toks})

    out = docs.select(id_col, text_col).mapInPandas(
        encode, f"{id_col} long, tokens array<string>"
    )
    return out.withColumn("n_tokens", F.size("tokens"))
