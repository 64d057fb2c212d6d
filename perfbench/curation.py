"""``curation_mix`` workload: registry rows, then a streamed curation run.

Timed from outside, in order:

1. every registry row below once, cold, collected to pandas (the
   collected frames are what the correctness check compares);
2. a real Structured Streaming run of
   ``streaming.pipeline.streaming_curation_pipeline`` over seeded page
   files, one file per trigger, on fresh stores and checkpoint.

Inputs come from the seed: the registry tables (``datagen.write_tables``)
and the page files (with planted cross-batch recrawls when there is
more than one batch)
(``datagen.write_pages``).

Checked outside the timed region: each row equals its DuckDB
``ORACLE_SQL`` up to row order and a 1e-7 relative float error; every
surviving doc has exactly one media verdict, every media keeper exactly
one DSIR verdict, blocklisted pages none,
planted recrawls of kept pages are flagged duplicates; and the verdict
log digest equals the one an earlier run of the same seed left in the
checkout, when there is one.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from pathlib import Path

import pandas as pd

from datagen import SHAPE, SMOKE_SHAPE, write_pages, write_tables
from frames import same_frame
from probe import dir_stats, median, sum_work

# Registry rows and the module whose code does each row's work: two of
# bench.py's headline rows (aggregate, as-of join) plus one heavy row.
# Each costs 1-4 s cold on a 4-core host, and the stream ~20 s: more
# rows, or a steady pass, would not fit the run budget next to it.
ROW_LAYER = {
    "q1_pricing_summary": "queries",
    "asof_join_events": "operators",
    "ngram_novelty_docs": "llm",
}
HEAVY = ["ngram_novelty_docs"]
LAYERS = ("queries", "operators", "llm")
# One micro-batch costs ~13 s of the run budget, so the stream has one:
# cross-batch recrawls (planted only in later batches) need two or more.
N_BATCHES = 1
# page bytes vary with the seeded doc lengths: enough docs that the
# stored bytes vary little between seeds (a batch costs the same)
DOCS_PER_BATCH = 120
PAGES_SCHEMA = "doc_id long, url string, html string"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def prepare(spark, work: Path, seed: int, smoke: bool) -> dict:
    """Set-up: registry tables, page files and the offline DSIR target."""
    from pyspark.sql import functions as F

    from quantlab_data_pipeline_spark.llm.dsir import build_dsir_counts

    shutil.rmtree(work / "inputs", ignore_errors=True)
    sf = work / "inputs" / "tables"
    write_tables(sf, seed, SMOKE_SHAPE if smoke else SHAPE)
    pages = work / "inputs" / "pages"
    texts = write_pages(pages, seed, DOCS_PER_BATCH * N_BATCHES, N_BATCHES)
    # the file source orders by modification time: make it the batch order
    base = time.time() - 3600
    for i, p in enumerate(sorted(pages.glob("*.parquet"))):
        os.utime(p, (base + i, base + i))
    target = str(work / "inputs" / "dsir_target")
    docs = spark.read.parquet(str(sf / "documents.parquet"))
    build_dsir_counts(docs.filter(F.col("lang") == "en").select("doc_id", "text"), target, buckets=4096)
    return {"sf": str(sf), "pages": str(pages), "target": target, "n_batches": N_BATCHES,
            "n_docs": DOCS_PER_BATCH * N_BATCHES, "texts": texts}


# ------------------------------------------------------------------ oracles


def check_rows(ctx, inputs: dict, results: dict[str, pd.DataFrame]) -> None:
    import duckdb

    from quantlab_data_pipeline_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{ctx.work / 'duckdb'}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs['sf']}/{t}.parquet'")
    for row, got in results.items():
        # rel 1e-7: a sum rounded to cents may land one cent apart when
        # float summation order differs at a half-cent boundary
        problem = same_frame(got, con.execute(ORACLE_SQL[row]).fetchdf(), rel=1e-7)
        ctx.check(row, problem is None, problem)
    con.close()


# ------------------------------------------------------------------- stream


def run_stream(ctx, inputs: dict, stores: Path):
    from pyspark.sql import types as T

    from quantlab_data_pipeline_spark.streaming.pipeline import streaming_curation_pipeline

    spark = ctx.spark
    src = (
        spark.readStream.schema(T.StructType.fromDDL(PAGES_SCHEMA))
        .option("maxFilesPerTrigger", 1)
        .parquet(inputs["pages"])
    )
    q = (
        streaming_curation_pipeline(
            src, str(stores / "media_idx"), str(stores / "media_out"), inputs["target"],
            str(stores / "dsir_raw"), str(stores / "dsir_out"), blocklist=["bad.net"], frac=0.25,
        )
        .option("checkpointLocation", str(stores / "checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    seen: dict[int, object] = {}
    for p in q.recentProgress:
        if p.numInputRows > 0:
            seen[p.batchId] = p
    return [seen[b] for b in sorted(seen)]


def check_stream(ctx, inputs: dict, stores: Path, progress: list) -> float:
    """Verdict checks; returns DSIR-selected docs / pages in."""
    from quantlab_data_pipeline_spark.streaming.dsir_intake import read_dsir_verdicts
    from quantlab_data_pipeline_spark.streaming.media_intake import read_intake_verdicts

    spark = ctx.spark
    mv = read_intake_verdicts(spark, str(stores / "media_out")).toPandas()
    dv = read_dsir_verdicts(spark, str(stores / "dsir_out")).toPandas()
    n_docs = inputs["n_docs"]
    ctx.check("one micro-batch per page file", len(progress) == inputs["n_batches"], len(progress))
    ctx.check("one media verdict per surviving doc", mv["asset_id"].is_unique)
    ctx.check("no verdict for blocklisted pages",
              not ((mv["asset_id"] < n_docs) & (mv["asset_id"] % 10 == 0)).any())
    kept = set(mv.loc[mv["kept"], "asset_id"])
    ctx.check("one DSIR verdict per media keeper",
              dv["doc_id"].is_unique and set(dv["doc_id"]) == kept)
    # planted recrawls (ids >= n_docs) repeat the text of a kept page
    texts = {t: i for i, t in enumerate(inputs["texts"]) if i in kept}
    pages = pd.concat(pd.read_parquet(p) for p in sorted(Path(inputs["pages"]).glob("*.parquet")))
    for rid, html in zip(pages["doc_id"], pages["html"]):
        if rid >= n_docs and rid in set(mv["asset_id"]):
            orig = next((i for t, i in texts.items() if html.endswith(t + "</p></body></html>")), None)
            if orig is not None:
                ctx.check(f"recrawl {rid} of kept {orig} flagged",
                          bool(mv.loc[mv["asset_id"] == rid, "is_dup"].iloc[0]))
    digest = hashlib.sha256()
    for frame in (mv, dv):
        digest.update(frame.sort_values(list(frame.columns)).to_csv(index=False).encode())
    # keyed by the input bytes: the same inputs must give the same verdicts
    key = hashlib.sha256()
    for p in sorted(Path(inputs["pages"]).glob("*.parquet")) + [Path(inputs["sf"]) / "documents.parquet"]:
        key.update(p.read_bytes())
    mark = ctx.out.parent / f"verdicts-{key.hexdigest()[:16]}.sha256"
    if mark.exists():
        ctx.check("verdict log identical across runs of this seed",
                  mark.read_text() == digest.hexdigest())
    else:
        mark.write_text(digest.hexdigest())
    return float(dv["selected"].sum()) / max(1, len(pages))


# ---------------------------------------------------------------------- run


def run(ctx) -> None:
    from quantlab_data_pipeline_spark.queries import SPARK_QUERIES
    from quantlab_data_pipeline_spark.streaming.rollup_sink import last_applied_batch

    spark, tr = ctx.spark, ctx.tracer
    inputs = ctx.inputs
    rows = list(ROW_LAYER)
    head = [r for r in rows if r not in HEAVY]

    cold: dict[str, float] = {}
    cold_cpu: dict[str, float] = {}
    results: dict[str, pd.DataFrame] = {}
    groups: dict[str, str] = {}
    for row in rows:
        with tr.span(f"registry.{row}") as rec:
            results[row] = SPARK_QUERIES[row](spark, inputs["sf"]).toPandas()
        cold[row] = tr.seconds(rec)
        cold_cpu[row] = tr.cpu(rec)
        groups[row] = rec["group"]

    stores = ctx.work / "stores"
    ctx.log("stream")
    shutil.rmtree(stores, ignore_errors=True)
    with tr.span("stream") as s_stream:
        progress = run_stream(ctx, inputs, stores)

    t0 = time.perf_counter()
    for store in ("media_idx", "dsir_raw"):
        last_applied_batch(spark, str(stores / store))
    ledger_ms = (time.perf_counter() - t0) * 1e3

    # ---- correctness, outside the timed region
    ctx.log("check")
    check_rows(ctx, inputs, results)
    selected_ratio = check_stream(ctx, inputs, stores, progress)

    # ---- metrics
    ctx.log("metrics")
    flat = [t * 1e3 for t in cold.values()]
    files, nbytes, _ = dir_stats(stores)
    batch_s = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
    late = batch_s[len(batch_s) // 2:]
    ctx.e2e.update({
        "pipeline_cpu_s": tr.cpu(s_stream),
        "call_cpu_ms": sum(cold_cpu.values()) * 1e3 / len(cold_cpu),
        "stored_bytes": nbytes,
    })
    layer = ctx.layer
    layer.update({
        "wall.call_p50_ms": median(flat),
        "wall.call_tail_ms": max(flat),
        "wall.calls_per_s": len(flat) / (sum(flat) / 1e3),
        "wall.cold_s": sum(cold.values()),
        "registry.headline_s": sum(cold[r] for r in head),
        "registry.heavy_s": sum(cold[r] for r in HEAVY),
        "stream.stream_s": tr.seconds(s_stream),
        "stream.batches": len(batch_s),
        "stream.batch_p50_s": median(batch_s),
        "stream.batch_late_s": median(late),
        "stream.add_batch_ms": median(p.durationMs.get("addBatch", 0) for p in progress),
        "stream.query_planning_ms": median(p.durationMs.get("queryPlanning", 0) for p in progress),
        "stream.get_batch_ms": median(p.durationMs.get("getBatch", 0) for p in progress),
        "stream.wal_commit_ms": median(p.durationMs.get("walCommit", 0) for p in progress),
        "stream.state_rows": sum(o.numRowsTotal for o in progress[-1].stateOperators) if progress else 0,
        "sink.ledger_read_ms": ledger_ms,
        "sink.store_files": files,
        "sink.store_bytes": nbytes,
        "sink.selected_ratio": selected_ratio,
    })
    for r in rows:
        layer[f"registry.{r}_s"] = cold[r]

    def traced_work():
        work = ctx.work_by_group()
        for lay in LAYERS:
            w = sum_work(work, [groups[r] for r in rows if ROW_LAYER[r] == lay])
            for k, v in w.items():
                layer[f"{lay}.{k}"] = v
        per_batch = [work.get(f"batch:{p.batchId}", {}) for p in progress]
        layer["sink.jobs_per_batch"] = median(b.get("jobs", 0) for b in per_batch)
        layer["sink.tasks_per_batch"] = median(b.get("tasks", 0) for b in per_batch)

    ctx.after_stop.append(traced_work)
