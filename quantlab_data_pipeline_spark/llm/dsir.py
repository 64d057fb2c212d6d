"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

Given a huge RAW crawl and a small TARGET corpus (the distribution you
want more of — Wikipedia, curated books, a domain corpus), DSIR scores
every raw document by how much more likely its hashed-n-gram bag is
under the target's unigram-over-buckets model than under the raw
model, then samples the selection with Gumbel noise so the picked set
is a draw from the importance-weighted distribution rather than a
brittle arg-top-k of near-duplicate high scorers.

Distributed shape (everything is Catalyst aggregations + one broadcast):

1. features: each doc's word 1-/2-grams (shared tokenizer
   :func:`.text.word_grams` — DSIR features can never drift from the
   dedup/decontamination shingles) hash into ``buckets`` slots via the
   engine-portable md5 bucket hash;
2. two bucket-count tables (target, raw) — corpus-sized explode, then
   map-side-combined counts of at most ``buckets`` rows each;
3. the smoothed log-ratio table ``lr[b] = ln p_target[b] - ln
   p_raw[b]`` has ``buckets`` rows -> BROADCAST onto the per-doc bucket
   counts; a doc's importance is ``log_w = sum_b c_doc[b] * lr[b]``;
4. selection key = ``log_w + Gumbel(md5(salt || id))``: the Gumbel
   top-k trick makes "sample k docs without replacement with
   probability proportional to w" an ORDER BY — deterministic across
   runs, partitionings, and engines because the noise comes from the
   same md5 draw :func:`.text.hash_uniform` is built on;
5. the global rank never funnels the corpus through one task —
   :func:`..operators.skew.grouped_global_rank` composes it from
   range-partitioned local ranks.

Float portability: the log-ratio is quantized to INTEGER nano-units
(``lr_nano = round(lr * 1e9)`` as a long) before the per-doc weighted
sum, so ``sum(cnt * lr_nano)`` is exact 64-bit arithmetic — identical
on any engine under ANY summation order (a double-sum formulation
flipped a round-to-6 boundary on real data; integer sums cannot — the
same cross-multiplied-integer trick the dHash SQL replay uses). Only
the final ``/ 1e9`` and the Gumbel perturbation are float, both
computed from identical inputs on both sides. Docs with no grams
(empty after tokenization) are unscorable and absent from the output —
the caller's policy decision, same as ``bigram_logprob``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localframe import local_df
from .text import word_grams

__all__ = [
    "hashed_ngram_counts",
    "dsir_log_ratio",
    "dsir_select",
    "build_dsir_counts",
    "update_dsir_counts",
    "compact_dsir_counts",
    "load_dsir_counts",
    "read_dsir_meta",
    "write_dsir_meta",
    "dsir_select_stored",
]


def _bucket(col, buckets: int):
    """Engine-portable bucket hash: first 8 hex chars of md5, mod
    ``buckets`` — the same universal-hash idiom as ``hash_uniform``
    (xxhash64 would be faster but is not replayable outside the JVM)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        % F.lit(buckets)
    ).alias("bucket")


def _gram_buckets(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int,
    ns: tuple[int, ...],
) -> DataFrame:
    """(id, bucket) — ONE ROW PER GRAM occurrence (duplicates kept):
    the un-aggregated explode both count shapes derive from."""
    grams = F.concat(
        *[word_grams(text_col, n, short_doc="empty") for n in ns]
    )
    return docs.select(F.col(id_col), F.explode(grams).alias("gram")).select(
        id_col, _bucket(F.col("gram"), buckets)
    )


def hashed_ngram_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    ns: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """(id, bucket, cnt): the doc's hashed-n-gram feature vector in
    sparse form. Explode is map-side; the count combines partially
    before its one shuffle on (id, bucket)."""
    return (
        _gram_buckets(docs, text_col, id_col, buckets, ns)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bucket_totals(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int,
    ns: tuple[int, ...],
) -> DataFrame:
    """(bucket, cnt) corpus totals WITHOUT the per-doc key: when a
    consumer needs only bucket totals (the ratio side of DSIR), keying
    the pre-shuffle aggregate by bucket alone lets the map-side partial
    combine collapse each task's grams to <= ``buckets`` rows — the
    exchange carries bucket partials instead of every (doc, bucket)
    pair (guide §2.3 "aggregate before you shuffle"). Equals
    ``hashed_ngram_counts(...).groupBy(bucket).sum(cnt)`` exactly
    (integer count of gram occurrences per bucket)."""
    return (
        _gram_buckets(docs, text_col, id_col, buckets, ns)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_ratio(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """(bucket, lr_nano): add-alpha-smoothed ``ln p_target - ln p_raw``
    per feature bucket in integer NANO-units (``round(lr * 1e9)`` as a
    long), from the two (bucket, c) count tables. DENSE: exactly
    ``buckets`` rows, one per bucket 0..B-1 — buckets unseen by either
    store carry the smoothed default ratio, so a scorer's inner join
    can never silently drop a batch gram that hashes to a
    store-unseen bucket (a standalone ``dsir_select_stored`` call on
    an un-folded batch hits exactly that). Still broadcast-sized.
    Integer units make the per-doc weighted sum exact 64-bit
    arithmetic: engine- and summation-order-independent (|lr| < ~25
    -> |lr_nano| < 2.5e10; times per-doc gram counts it stays far
    inside a long)."""
    from pyspark.sql import Window

    a = float(alpha)
    t = target_counts.groupBy("bucket").agg(F.sum("cnt").alias("ct"))
    r = raw_counts.groupBy("bucket").agg(F.sum("cnt").alias("cr"))
    all_buckets = target_counts.sparkSession.range(buckets).select(
        F.col("id").alias("bucket")
    )
    # Corpus totals via an unpartitioned window over the dense
    # ``buckets``-row frame, NOT separate ``t.agg(sum)`` branches: the
    # agg branches re-evaluate the t/r subtrees — for in-query callers
    # that is a second full corpus explode+hash per side (guide §1.2) —
    # while the window reduces the already-joined 4096 rows (one tiny
    # single-partition pass). sum() over a window skips nulls, and an
    # EMPTY count table leaves every ct/cr null -> total null, so the
    # coalesce keeps the degenerate all-empty corpus at total 0 (the
    # uniform smoothed model), exactly as the old agg branches did.
    w_all = Window.partitionBy()
    joined = (
        all_buckets.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .withColumn("tt", F.coalesce(F.sum("ct").over(w_all), F.lit(0)))
        .withColumn("tr", F.coalesce(F.sum("cr").over(w_all), F.lit(0)))
    )
    lp_t = F.log(
        (F.coalesce("ct", F.lit(0)) + F.lit(a))
        / (F.col("tt") + F.lit(a * buckets))
    )
    lp_r = F.log(
        (F.coalesce("cr", F.lit(0)) + F.lit(a))
        / (F.col("tr") + F.lit(a * buckets))
    )
    return joined.select(
        "bucket",
        F.round((lp_t - lp_r) * F.lit(1e9), 0).cast("long").alias("lr_nano"),
    )


def _gumbel(id_col: str, salt: str):
    """Standard Gumbel draw from the md5 uniform. The +0.5 centers the
    32-bit integer draw inside its [h/2^32, (h+1)/2^32) cell, so u can
    be neither 0 (-> -ln(-ln 0) = -inf) nor 1 (+inf) — unlike
    ``hash_uniform``'s half-open [0, 1), both endpoints here are
    singular, not just one."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 32))
    return -F.log(-F.log(u))


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    ns: tuple[int, ...] = (1, 2),
    alpha: float = 1.0,
    frac: float | None = None,
    k: int | None = None,
    salt: str = "dsir",
    raw_counts: DataFrame | None = None,
    target_counts: DataFrame | None = None,
) -> DataFrame:
    """Score every raw doc and mark the Gumbel-top-k selection.

    Returns (id, n_grams, log_w, sel_key, rank, selected): ``log_w``
    the importance log-weight, ``sel_key = log_w + Gumbel(id)`` the
    sampling key, ``rank`` its 1-based global position (descending key,
    id tie-break), ``selected`` true for the top ``k`` docs (or
    ``ceil(frac * n_scored)`` when ``frac`` is given). Exactly one of
    ``frac`` / ``k`` is required.

    Scale: two corpus explodes feed bucket counts (map-side combine,
    <= ``buckets`` reduced rows); the ratio table broadcasts; the only
    corpus-keyed shuffles are the per-doc feature count and the scored
    groupBy; the rank is two-phase (no global single-task sort). The
    target corpus is typically tiny next to raw — it never joins
    row-wise against raw at all, only through the ``buckets``-row
    ratio table.

    The raw feature subtree feeds BOTH the ratio totals and the
    scoring join, and Catalyst evaluates it twice (the branches
    aggregate differently after pruning, so no exchange is reusable).
    That is the deliberate default at corpus scale: the duplicated
    work is one extra map-side scan+explode, while caching the
    (id, bucket) counts would pin a corpus-sized intermediate in
    memory/disk. Callers who iterate (scoring several targets against
    one raw crawl) should compute ``hashed_ngram_counts`` once,
    persist/write it themselves, and pass it via ``raw_counts=`` /
    ``target_counts=`` — the same precomputed-frame pattern the
    dedup compositions use for shared pairs/cluster frames.
    """
    if (frac is None) == (k is None):
        raise ValueError("pass exactly one of frac= or k=")
    from ..operators.skew import grouped_global_rank

    if raw_counts is None:
        # The RAW per-doc counts deliberately stay one shared subtree
        # for the ratio side and the scoring side: their (id, bucket)
        # partial-agg Exchange is byte-identical in both branches, so
        # Spark's ReuseExchange evaluates the corpus explode + md5 ONCE
        # and both branches read the shuffle output. Splitting the
        # ratio side into a bucket-total aggregate (round-10 attempt)
        # broke that reuse and ran the explode twice — measured 1.6x
        # SLOWER at sf0.1 despite shuffling fewer bytes. Guide §1.1:
        # the first-principles plan lost to the gotcha; keep the
        # empirically-shared exchange.
        raw_counts = hashed_ngram_counts(raw, text_col, id_col, buckets, ns)
    if target_counts is None:
        # The TARGET corpus feeds ONLY the ratio table — no scoring
        # branch shares its subtree — so aggregating to bucket totals
        # before the exchange is a pure shuffle cut (guide §2.3): the
        # exchange carries <= `buckets` partial rows per map task
        # instead of every (doc, bucket) pair.
        target_counts = _bucket_totals(target, text_col, id_col, buckets, ns)
    ratio = dsir_log_ratio(target_counts, raw_counts, buckets, alpha)
    scored = (
        raw_counts.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.round(
                F.sum(F.col("cnt") * F.col("lr_nano")) / F.lit(1e9), 6
            ).alias("log_w"),
        )
        .withColumn(
            "sel_key", F.round(F.col("log_w") + _gumbel(id_col, salt), 6)
        )
    )
    ranked = grouped_global_rank(
        scored,
        group_cols=[],
        order_cols=[F.desc("sel_key"), F.asc(id_col)],
        rank_col="rank",
        n_col="__n",
    )
    cut = (
        F.ceil(F.lit(float(frac)) * F.col("__n")) if k is None else F.lit(int(k))
    )
    return ranked.select(
        id_col,
        "n_grams",
        "log_w",
        "sel_key",
        "rank",
        (F.col("rank") <= cut).alias("selected"),
    )


# ------------------------------------------------- persisted count model


def build_dsir_counts(
    docs: DataFrame | None,
    path: str,
    buckets: int = 4096,
    ns: tuple[int, ...] = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
    precomputed_counts: DataFrame | None = None,
) -> None:
    """Persist a corpus's hashed-n-gram bucket totals at ``path`` — the
    DSIR model store. Totals are ADDITIVE integer counts, so the store
    supports exact incremental update (:func:`update_dsir_counts`):
    a crawl's raw-side model follows the crawl without ever
    re-tokenizing accepted batches, the same never-re-shuffle-the-
    corpus contract as the three persisted dedup/ANN indexes. Layout:
    ``counts/`` (bucket, cnt) parquet — delta rows append, totals are
    a sum on read — and ``meta`` pinning (buckets, ns) so batches
    cannot drift the feature space (the media index's band-pinning
    contract).

    ``precomputed_counts``: an already-computed per-doc
    ``hashed_ngram_counts(docs, …)`` frame under the SAME
    (buckets, ns) — the guide §1.2 escape hatch for a caller that
    needs the per-doc counts anyway (building a store AND scoring with
    ``batch_counts=``): the md5-per-gram explode then runs once, not
    once per consumer. The caller owns feature-space agreement."""
    spark = (
        docs if precomputed_counts is None else precomputed_counts
    ).sparkSession
    per_doc = (
        precomputed_counts
        if precomputed_counts is not None
        else hashed_ngram_counts(docs, text_col, id_col, buckets, ns)
    )
    counts = per_doc.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    counts.write.mode("overwrite").parquet(f"{path}/counts")
    write_dsir_meta(spark, path, buckets, ns)


def write_dsir_meta(
    spark: SparkSession, path: str, buckets: int, ns: tuple[int, ...]
) -> None:
    """Pin the store at ``path`` to the (buckets, ns) feature space."""
    local_df(
        spark,
        [(int(buckets), ",".join(str(n) for n in ns))],
        "buckets int, ns string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def read_dsir_meta(spark: SparkSession, path: str) -> tuple[int, tuple[int, ...]]:
    r = spark.read.parquet(f"{path}/meta").collect()[0]
    return int(r["buckets"]), tuple(int(x) for x in r["ns"].split(","))


def update_dsir_counts(
    new_docs: DataFrame | None,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    precomputed_counts: DataFrame | None = None,
) -> None:
    """Fold a new batch into the stored totals with the PINNED feature
    space — appends batch-sized delta rows; exact additivity means the
    store equals a from-scratch rebuild over everything ever folded in
    (pytest-pinned). Run :func:`compact_dsir_counts` on a cadence to
    merge deltas back to one row per bucket.

    ``precomputed_counts``: per-doc counts as in
    :func:`build_dsir_counts` — must be computed under the store's
    pinned (buckets, ns); the tokenize pass then runs once for a
    caller that also scores the batch."""
    spark = (
        new_docs if precomputed_counts is None else precomputed_counts
    ).sparkSession
    buckets, ns = read_dsir_meta(spark, path)
    per_doc = (
        precomputed_counts
        if precomputed_counts is not None
        else hashed_ngram_counts(new_docs, text_col, id_col, buckets, ns)
    )
    delta = (
        per_doc.groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint()  # freeze before the self-referential append
    )
    delta.write.mode("append").parquet(f"{path}/counts")


def compact_dsir_counts(spark: SparkSession, path: str) -> None:
    """Merge appended delta rows to one row per bucket (sum-on-read
    stays correct either way; compaction bounds the file count)."""
    merged = (
        spark.read.parquet(f"{path}/counts")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint()
    )
    merged.write.mode("overwrite").parquet(f"{path}/counts")


def load_dsir_counts(spark: SparkSession, path: str) -> DataFrame:
    """(bucket, cnt) totals — summing any un-compacted delta rows."""
    return (
        spark.read.parquet(f"{path}/counts")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def dsir_select_stored(
    batch: DataFrame,
    target_path: str,
    raw_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    frac: float | None = None,
    k: int | None = None,
    salt: str = "dsir",
    batch_counts: DataFrame | None = None,
    known_meta: tuple[int, tuple[int, ...]] | None = None,
) -> DataFrame:
    """Score/select a batch against PERSISTED target and raw count
    models — the production intake shape: the target model is built
    once from the curated corpus, the raw model follows the crawl via
    :func:`update_dsir_counts`, and each new batch scores without
    re-tokenizing anything but itself. Both stores must pin the same
    feature space. Output contract identical to :func:`dsir_select`
    (ranks and the cut apply within the scored batch).

    ``batch_counts``: precomputed ``hashed_ngram_counts(batch, …)``
    under the stores' PINNED feature space — the same escape hatch
    :func:`dsir_select` offers via ``raw_counts=``. The intake sink
    tokenizes each batch once, folds the totals into the raw store,
    and passes the per-doc counts here, instead of paying the
    md5-per-gram explode a second time (guide §1.2). The caller owns
    materialization and feature-space agreement.

    ``known_meta``: the (buckets, ns) BOTH stores are pinned to, for a
    caller that already read it and owns the agreement (the intake
    sink reads the target meta once, and either creates the raw
    store's meta as a copy of it or checks it once) — skips this function's two
    meta-read jobs and the redundant cross-store equality check.
    Default None keeps the reads + check for independent callers."""
    spark = batch.sparkSession
    if known_meta is not None:
        b_t, ns_t = int(known_meta[0]), tuple(known_meta[1])
    else:
        b_t, ns_t = read_dsir_meta(spark, target_path)
        b_r, ns_r = read_dsir_meta(spark, raw_path)
        if (b_t, ns_t) != (b_r, ns_r):
            raise ValueError(
                f"feature spaces differ: target (buckets={b_t}, ns={ns_t}) "
                f"vs raw (buckets={b_r}, ns={ns_r})"
            )
    if (frac is None) == (k is None):
        raise ValueError("pass exactly one of frac= or k=")
    from ..operators.skew import grouped_global_rank

    ratio = dsir_log_ratio(
        load_dsir_counts(spark, target_path).select("bucket", "cnt"),
        load_dsir_counts(spark, raw_path).select("bucket", "cnt"),
        b_t,
        alpha,
    )
    if batch_counts is not None:
        scored = (
            batch_counts.join(F.broadcast(ratio), "bucket")
            .groupBy(id_col)
            .agg(
                F.sum("cnt").alias("n_grams"),
                F.round(
                    F.sum(F.col("cnt") * F.col("lr_nano")) / F.lit(1e9), 6
                ).alias("log_w"),
            )
        )
    else:
        # Gram-level scoring, as in dsir_select: skip the (doc, bucket)
        # pre-aggregate + exchange; sum(lr_nano) over gram rows equals
        # sum(cnt * lr_nano) exactly (64-bit integer adds).
        scored = (
            _gram_buckets(batch, text_col, id_col, b_t, ns_t)
            .join(F.broadcast(ratio), "bucket")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.round(F.sum("lr_nano") / F.lit(1e9), 6).alias("log_w"),
            )
        )
    scored = scored.withColumn(
        "sel_key", F.round(F.col("log_w") + _gumbel(id_col, salt), 6)
    )
    ranked = grouped_global_rank(
        scored,
        group_cols=[],
        order_cols=[F.desc("sel_key"), F.asc(id_col)],
        rank_col="rank",
        n_col="__n",
    )
    cut = (
        F.ceil(F.lit(float(frac)) * F.col("__n")) if k is None else F.lit(int(k))
    )
    return ranked.select(
        id_col,
        "n_grams",
        "log_w",
        "sel_key",
        "rank",
        (F.col("rank") <= cut).alias("selected"),
    )
