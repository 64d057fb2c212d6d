"""Statistical language-model quality scoring (CCNet-style).

CCNet/DCLM-grade pipelines rank documents by the perplexity of a small
n-gram language model: text that looks like fluent prose scores high,
OCR noise / keyword stuffing / word salad scores low. This is the
distributed analogue with an add-alpha-smoothed bigram model — both
TRAINING (counting) and SCORING are plain Catalyst aggregations and
equi-joins, so the whole thing runs as three shuffles at any corpus
size, with no model artifact to manage beyond two count tables:

1. explode each doc's word bigrams (shared tokenizer:
   :func:`.text.word_grams`, so LM features can never drift from the
   dedup/decontamination shingles);
2. count tables: C(w1 w2) per bigram, C(w1) per bigram prefix, and
   the vocabulary size V (distinct tokens);
3. per-bigram log-probability ln((C12 + a) / (C1 + a*V)) joins back
   onto the doc bigrams; the doc's score is its mean bigram logprob
   (monotone in perplexity: score = -ln(ppl)).

``train_docs`` lets a clean reference corpus (the CCNet pattern:
train on Wikipedia, score CommonCrawl) define the counts; by default
the scored corpus scores itself, which already separates boilerplate
repeats (high) from noise (low). Bigrams unseen in training back off
to the smoothed floor ln(a / (C1 + a*V)) (or ln(1/V) for an unseen
prefix) instead of -inf. Docs with fewer than two tokens have no
bigrams and are absent from the output — filter-side callers should
treat absence as "unscorable", not "good".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..localframe import pin
from .text import _tokens, word_grams

__all__ = ["bigram_logprob"]


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    train_docs: DataFrame | None = None,
) -> DataFrame:
    """(id, n_bigrams, avg_logprob) per scoreable document.

    ``avg_logprob`` is the mean add-alpha bigram log-probability under
    the model counted from ``train_docs`` (default: the scored corpus
    itself). Higher = more LM-typical text.
    """
    train = train_docs if train_docs is not None else docs

    def doc_bigrams(d: DataFrame) -> DataFrame:
        return (
            d.select(
                F.col(id_col),
                F.explode(word_grams(text_col, 2, short_doc="empty")).alias(
                    "bigram"
                ),
            )
            .withColumn("w1", F.split("bigram", " ")[0])
        )

    train_bg = doc_bigrams(train)
    if train_docs is None:
        # Self-scoring: one explode feeds counting AND scoring.
        train_bg = pin(train_bg)
        score_bg = train_bg
    else:
        score_bg = doc_bigrams(docs)

    c12 = train_bg.groupBy("bigram").agg(F.count("*").alias("c12"))
    c1 = train_bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        train.select(F.explode(_tokens(F.col(text_col))).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    a = F.lit(float(alpha))
    lp = (
        c12.withColumn("w1", F.split("bigram", " ")[0])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.log((F.col("c12") + a) / (F.col("c1") + a * F.col("v"))).alias("lp"),
        )
    )
    # Backoff ladder for scoring against a separate training corpus:
    # unseen bigram with a seen prefix -> the smoothed floor for that
    # prefix; wholly unseen prefix -> the uniform ln(1/V). Self-scoring
    # never takes either branch (every scored bigram was counted).
    prefix_floor = (
        c1.crossJoin(F.broadcast(vocab)).select(
            "w1", F.log(a / (F.col("c1") + a * F.col("v"))).alias("prefix_lp")
        )
    )
    v_only = vocab.select(F.log(F.lit(1.0) / F.col("v")).alias("unseen_lp"))
    scored = (
        score_bg.join(lp, "bigram", "left")
        .join(prefix_floor, "w1", "left")
        .crossJoin(F.broadcast(v_only))
        .withColumn("__lp", F.coalesce("lp", "prefix_lp", "unseen_lp"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("__lp"), 6).alias("avg_logprob"),
        )
    )
