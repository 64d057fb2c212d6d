"""Structured Streaming operators (SURVEY §2.9: new capability — the
reference is strictly batch; each streaming op here is the incremental
twin of an oracle-checked batch operator)."""

from .asof import streaming_as_of
from .dsir_intake import dsir_intake_sink, read_dsir_verdicts
from .dedup import (
    streaming_exact_dedup,
    streaming_exact_dedup_bounded,
    streaming_minhash_candidates,
)
from .events import (
    clicks_with_recent_purchase,
    enrich_with_static_dim,
    ohlc_bars_stream,
    run_to_memory,
    sessionize,
    stream_events,
    windowed_aggregate,
)
from .drift import baseline_histogram, psi_from_cells, windowed_bin_counts
from .locf import streaming_forward_fill
from .ledger import last_applied_batch
from .pipeline import curation_intake_sink, streaming_curation_pipeline
from .rollup_sink import rollup_sink
from .sketches import windowed_distinct_estimate, windowed_distinct_sketch

__all__ = [
    "baseline_histogram",
    "clicks_with_recent_purchase",
    "curation_intake_sink",
    "dsir_intake_sink",
    "read_dsir_verdicts",
    "streaming_curation_pipeline",
    "psi_from_cells",
    "windowed_bin_counts",
    "enrich_with_static_dim",
    "streaming_as_of",
    "ohlc_bars_stream",
    "run_to_memory",
    "sessionize",
    "stream_events",
    "streaming_exact_dedup",
    "streaming_exact_dedup_bounded",
    "streaming_forward_fill",
    "rollup_sink",
    "last_applied_batch",
    "streaming_minhash_candidates",
    "windowed_aggregate",
    "windowed_distinct_estimate",
    "windowed_distinct_sketch",
]
