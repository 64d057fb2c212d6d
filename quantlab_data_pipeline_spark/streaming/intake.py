"""Streaming crawl intake: the round-6/7 batch intake family as a
Structured Streaming pipeline.

A crawl never stops, so the front of the training-data pipeline is a
stream: pages arrive, main content is extracted, the frozen quality
gate drops junk, and the first page per normalized URL wins. Three of
those four stages (extraction, quality, URL normalization) are pure
codegen projections — stream-safe by construction, identical plans to
the batch rows ``html_extract_docs`` / ``ml_quality_frozen_docs`` /
``url_dedup_docs``. The stateless stages are one function,
:func:`crawl_stages`, which the batch-loop row
``curation_pipeline_loop_docs`` runs too. The only stateful stage is
the URL dedup:

* with ``watermark`` (the production setting) —
  ``dropDuplicatesWithinWatermark`` keyed on the normalized URL, so the
  state store holds only the watermark window (recrawls of the same
  URL cluster in time; a crawl that re-fetches a URL months later is a
  new snapshot anyway, which is usually what you want kept);
* without (None) — exact ``dropDuplicates``: unbounded state, only for
  bounded backfills and tests.

First-arrival-wins, matching the streaming exact-dedup contract (the
batch twin's min-id keeper equals it when arrival order follows ids —
asserted in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def crawl_stages(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    min_chars: int = 1,
    blocklist: DataFrame | list | None = None,
) -> DataFrame:
    """The stateless crawl-intake stages, on a stream or a batch frame:
    what :func:`streaming_crawl_intake` runs before its URL dedup.

    Output columns: every input column except ``html``, plus ``text``
    (extracted main content), ``ml_logit``/``ml_keep`` (frozen quality)
    and ``norm_url``. Rows dropped: blocklisted domains (when
    ``blocklist`` is given — FIRST, before any extraction work: the
    cheapest gate runs earliest, same order as the batch composition
    ``curate_corpus_r8``), failed extraction (< ``min_chars`` chars)
    and quality rejects.

    The blocklist stage is STATELESS by construction (the batch
    operator's explode -> count -> join-back collapse is a streaming
    aggregation, so it is not used here): a python-list blocklist
    compiles to an ``arrays_overlap`` against the literal domain array
    — pure codegen, like every other projection stage — and a
    DataFrame blocklist becomes a broadcast stream-static LEFT ANTI
    join on ``array_contains(host_suffix_chain, domain)``. Both match
    the batch rule exactly (label-aligned suffix = listed domain).
    UT1-scale lists that exceed broadcast belong in a ``foreachBatch``
    sink calling the batch ``blocklist_filter`` per micro-batch.
    """
    from ..llm.classifier import score_quality_frozen
    from ..llm.extract import html_to_text
    from ..llm.frozen_quality import (
        FROZEN_QUALITY_V1_BIAS,
        FROZEN_QUALITY_V1_WEIGHTS,
    )
    from ..llm.urls import normalize_url

    if blocklist is not None:
        from ..llm.urls import host_suffix_chain

        chain = host_suffix_chain(url_col)
        if isinstance(blocklist, DataFrame):
            bl = blocklist.select(
                F.lower(F.col(blocklist.columns[0])).alias("__bdom")
            ).distinct()
            pages = pages.join(
                F.broadcast(bl),
                F.array_contains(chain, F.col("__bdom")),
                "left_anti",
            )
        else:
            doms = F.array(*[F.lit(str(d).lower()) for d in blocklist])
            # null host -> null overlap -> kept (the batch contract)
            pages = pages.filter(
                ~F.coalesce(F.arrays_overlap(chain, doms), F.lit(False))
            )
    extracted = html_to_text(pages, html_col, "text").drop(html_col)
    scored = score_quality_frozen(
        extracted,
        FROZEN_QUALITY_V1_BIAS,
        FROZEN_QUALITY_V1_WEIGHTS,
        text_col="text",
    )
    return scored.filter(
        F.col("ml_keep") & (F.length("text") >= min_chars)
    ).withColumn("norm_url", normalize_url(url_col))


def streaming_crawl_intake(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    watermark: str | None = "1 hour",
    min_chars: int = 1,
    blocklist: DataFrame | list | None = None,
) -> DataFrame:
    """pages(url, html[, fetch_ts]) -> :func:`crawl_stages`, keeping
    only the first arrival per normalized URL."""
    kept = crawl_stages(pages, html_col, url_col, min_chars, blocklist)
    if watermark is None:
        return kept.dropDuplicates(["norm_url"])
    return kept.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["norm_url"]
    )
