"""Streaming materialized-rollup maintenance (foreachBatch sink).

Completes the rollup story: :mod:`..storage.rollup` gives batch build +
additive refresh; this wires an event STREAM into the same store, so
the rollup becomes a continuously-maintained materialized view. The
sink is ``foreachBatch`` — the standard Structured Streaming pattern
for sinks that need batch-only operations (here: dynamic partition
overwrite of the touched grain partitions), with exactly-once refresh
per micro-batch under the checkpoint's batch-id tracking as long as
the refresh itself is idempotent per batch id.

Replay: the sink runs under :mod:`.ledger`. ``refresh_rollup`` is
additive, so the ledger skip is what keeps a replay-after-commit from
double-counting; a crash after the refresh but before the mark still
re-folds that batch on replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..fsutil import is_dir
from ..storage.rollup import build_rollup, refresh_rollup
from .ledger import last_applied_batch, ledgered

__all__ = ["rollup_sink", "last_applied_batch"]


def rollup_sink(
    path: str,
    time_col: str,
    dims: list[str],
    value_col: str,
    grain: str = "day",
):
    """A ``foreachBatch`` function maintaining the rollup at ``path``.

    Usage::

        q = (events_stream.writeStream
             .foreachBatch(rollup_sink(path, "ts", ["event_type"], "value"))
             .option("checkpointLocation", ckpt)
             .start())
    """

    def _body(batch_df: DataFrame, batch_id: int) -> bool | None:
        if batch_df.isEmpty():
            return None
        # the first data builds the store; later batches refresh it
        exists = is_dir(batch_df.sparkSession, path)
        fold = refresh_rollup if exists else build_rollup
        fold(batch_df, path, time_col, dims, value_col, grain)
        return True

    return ledgered(path, _body)
