"""Structured Streaming tests: the streaming plans must produce the
same answers as their batch twins on the finite events file."""

from __future__ import annotations

from pyspark.sql import functions as F

from quantlab_data_pipeline_spark.sources.testdata import load_table
from quantlab_data_pipeline_spark.streaming.events import (
    run_to_memory,
    sessionize,
    stream_events,
    windowed_aggregate,
)

SF = "/root/testdata/sf0.001"


def test_windowed_aggregate_matches_batch(spark):
    stream = stream_events(spark, SF)
    got = run_to_memory(windowed_aggregate(stream), "win_agg").toPandas()

    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n", "total_value",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    g = got[key + ["n", "total_value"]].sort_values(key).reset_index(drop=True)
    b = batch[key + ["n", "total_value"]].sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) > 0
    assert (g["n"].to_numpy() == b["n"].to_numpy()).all()
    assert (g["total_value"].to_numpy() == b["total_value"].to_numpy()).all()


def test_ohlc_bars_stream_matches_batch(spark):
    """Streaming OHLC bars must equal the batch ohlc_bars registry
    query on the finite events file (incremental-vs-batch identity)."""
    from quantlab_data_pipeline_spark.queries_ext import ohlc_bars
    from quantlab_data_pipeline_spark.streaming.events import ohlc_bars_stream

    stream = stream_events(spark, SF)
    got = run_to_memory(ohlc_bars_stream(stream), "ohlc").toPandas()
    batch = ohlc_bars(spark, SF).toPandas()
    key = ["user_id", "bar_ts"]
    cols = key + ["open", "high", "low", "close", "n_ticks"]
    g = got[cols].sort_values(key).reset_index(drop=True)
    b = batch[cols].sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) > 0
    for c in cols:
        assert (g[c].to_numpy() == b[c].to_numpy()).all(), c


def test_sessionize_runs(spark):
    stream = stream_events(spark, SF)
    out = run_to_memory(sessionize(stream, gap="10 minutes"), "sessions").toPandas()
    assert len(out) > 0
    assert (out["session_end"] > out["session_start"]).all()
    assert (out["n_events"] >= 1).all()


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Streamed dedup must admit exactly the batch keeper set: first
    doc per fingerprint passes, later copies are dropped."""
    import os
    from pyspark.sql import types as T
    from quantlab_data_pipeline_spark.llm.dedup import exact_dedup
    from quantlab_data_pipeline_spark.streaming.dedup import streaming_exact_dedup

    docs_schema = "doc_id long, text string"
    # two micro-batch files: dups within and across files
    batch1 = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta")]
    batch2 = [(4, "delta"), (5, "epsilon zeta"), (6, "ALPHA   beta gamma")]
    d = tmp_path / "stream_src"
    os.makedirs(d)
    spark.createDataFrame(batch1, docs_schema).coalesce(1).write.parquet(
        str(d / "b1.parquet")
    )
    spark.createDataFrame(batch2, docs_schema).coalesce(1).write.parquet(
        str(d / "b2.parquet")
    )
    # one top-level dir with both files as separate micro-batches
    src = (
        spark.readStream.schema(
            T.StructType.fromDDL(docs_schema)
        ).option("maxFilesPerTrigger", 1).parquet(str(d / "*.parquet"))
    )
    out = streaming_exact_dedup(src)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM dedup_stream").toPandas()

    batch = exact_dedup(
        spark.createDataFrame(batch1 + batch2, docs_schema)
    ).toPandas()
    assert set(got["doc_id"]) == set(batch["keeper_id"])
    assert got["is_first"].all()
    # doc 6 normalizes to doc 1's content -> dropped
    assert 6 not in set(got["doc_id"])
    assert set(got["doc_id"]) == {1, 3, 5}


def test_stream_stream_join_matches_batch(spark):
    """Clicks joined to same-user purchases in the prior hour: the
    watermarked stream-stream join must produce the batch join's rows
    (append mode; file stream is finite so state fully drains)."""
    from quantlab_data_pipeline_spark.streaming.events import (
        clicks_with_recent_purchase,
    )

    stream = stream_events(spark, SF)
    out = clicks_with_recent_purchase(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("click_purchase")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM click_purchase").toPandas()

    ev = load_table(spark, SF, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") <= F.col("click_ts"))
            & (F.col("purchase_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select("click_id", "user_id", "click_ts", "purchase_ts", "purchase_value")
        .toPandas()
    )
    key = ["click_id", "purchase_ts"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b) > 0
    assert (g["click_id"].to_numpy() == b["click_id"].to_numpy()).all()
    assert (g["purchase_value"].to_numpy() == b["purchase_value"].to_numpy()).all()


def test_streaming_corpus_intake_filter_then_dedup(spark, tmp_path):
    """End-to-end streaming intake: Gopher repetition filter (stateless
    row expressions — stream-safe by construction) feeding the stateful
    exact dedup. Result must equal the batch twin: filter, then first
    doc per fingerprint."""
    import os
    from pyspark.sql import types as T
    from quantlab_data_pipeline_spark.llm import with_gopher_keep
    from quantlab_data_pipeline_spark.llm.dedup import exact_dedup
    from quantlab_data_pipeline_spark.streaming.dedup import streaming_exact_dedup

    clean_a = (
        "The committee reviewed the proposal in detail and found the "
        "analysis convincing on every point raised by members present."
    )
    clean_b = (
        "A different wholly original document about distributed query "
        "engines and the planning of large analytical workloads today."
    )
    spammy = "buy now best price\n" * 15
    docs_schema = "doc_id long, text string"
    batch1 = [(1, clean_a), (2, spammy), (3, clean_a)]
    batch2 = [(4, clean_b), (5, spammy), (6, clean_a.upper())]
    d = tmp_path / "intake_src"
    os.makedirs(d)
    spark.createDataFrame(batch1, docs_schema).coalesce(1).write.parquet(
        str(d / "b1.parquet")
    )
    spark.createDataFrame(batch2, docs_schema).coalesce(1).write.parquet(
        str(d / "b2.parquet")
    )
    src = (
        spark.readStream.schema(T.StructType.fromDDL(docs_schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    filtered = with_gopher_keep(src).filter("gopher_keep").select("doc_id", "text")
    q = (
        streaming_exact_dedup(filtered)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("intake_stream")
        .option("checkpointLocation", str(tmp_path / "intake_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM intake_stream").toPandas()

    all_docs = spark.createDataFrame(batch1 + batch2, docs_schema)
    batch_twin = exact_dedup(
        with_gopher_keep(all_docs).filter("gopher_keep").select("doc_id", "text")
    ).toPandas()
    assert set(got["doc_id"]) == set(batch_twin["keeper_id"])
    # spam never reaches the state store; case-folded dup of doc 1 drops
    assert set(got["doc_id"]) == {1, 4}


def test_streaming_minhash_candidates_match_batch(spark, tmp_path):
    """Streamed LSH bucket candidates must be a subset of the batch
    band self-join's pairs, and must surface the known near-dups
    across micro-batches (keeper = first-seen doc)."""
    import os
    from pyspark.sql import types as T
    from quantlab_data_pipeline_spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from quantlab_data_pipeline_spark.streaming.dedup import (
        streaming_minhash_candidates,
    )

    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    docs_schema = "doc_id long, text string"
    batch1 = [(1, base), (3, "completely different content about spark engines")]
    batch2 = [(2, base), (4, base.replace("runs", "walks"))]
    d = tmp_path / "neardup_src"
    os.makedirs(d)
    spark.createDataFrame(batch1, docs_schema).coalesce(1).write.parquet(
        str(d / "b1.parquet")
    )
    spark.createDataFrame(batch2, docs_schema).coalesce(1).write.parquet(
        str(d / "b2.parquet")
    )
    src = (
        spark.readStream.schema(T.StructType.fromDDL(docs_schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    q = (
        streaming_minhash_candidates(src, bands=32)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_stream")
        .option("checkpointLocation", str(tmp_path / "neardup_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (min(r["doc_id"], r["keeper_id"]), max(r["doc_id"], r["keeper_id"]))
        for r in spark.sql("SELECT * FROM neardup_stream").collect()
    }

    batch_pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(
                spark.createDataFrame(batch1 + batch2, docs_schema)
            ),
            bands=32,
        ).collect()
    }
    assert got <= batch_pairs  # streaming never invents a candidate
    assert (1, 2) in got  # exact dup across batches links to keeper 1
    assert (1, 4) in got  # near dup shares at least one band bucket
    assert all(3 not in p for p in got)  # unrelated doc never flagged


def test_streaming_forward_fill_matches_batch(spark, tmp_path):
    """Streamed LOCF must equal the batch forward_fill window on the
    same rows — including a carry that crosses the micro-batch
    boundary (user 1's error in file 2 fills from file 1's last good
    value) and a leading error with nothing to carry (null)."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from quantlab_data_pipeline_spark.streaming.locf import streaming_forward_fill

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    mk = lambda i, u, typ, v: (i, t0 + dt.timedelta(minutes=i), u, typ, v, None)
    batch1 = [
        mk(1, 1, "error", 111.0),  # leading error: no carry yet -> null
        mk(2, 1, "view", 10.0),
        mk(3, 2, "view", 20.0),
        mk(4, 1, "error", 222.0),  # fills 10.0 within the batch
    ]
    batch2 = [
        mk(5, 1, "error", 333.0),  # fills 10.0 ACROSS the batch boundary
        mk(6, 2, "error", 444.0),  # fills 20.0 across the boundary
        mk(7, 1, "click", 30.0),
        mk(8, 1, "error", 555.0),  # fills 30.0
    ]
    d = tmp_path / "locf_src"
    os.makedirs(d)
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(d / "b1.parquet")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(d / "b2.parquet")
    )
    src = (
        spark.readStream.schema(T.StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    q = (
        streaming_forward_fill(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("locf_stream")
        .option("checkpointLocation", str(tmp_path / "locf_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["event_id"]: r["filled_value"]
        for r in spark.sql("SELECT * FROM locf_stream").collect()
    }

    # Batch oracle: forward_fill over the combined table.
    import quantlab_data_pipeline_spark.queries_ext as qx

    all_rows = spark.createDataFrame(batch1 + batch2, schema)
    tmp_tbl = tmp_path / "locf_batch"
    os.makedirs(tmp_tbl)
    all_rows.write.mode("overwrite").parquet(str(tmp_tbl / "events.parquet"))
    exp = {
        r["event_id"]: r["filled_value"]
        for r in qx.forward_fill(spark, str(tmp_tbl)).collect()
    }
    assert got == exp
    assert got[1] is None and got[5] == 10.0 and got[6] == 20.0 and got[8] == 30.0


def test_streaming_as_of_matches_batch_join(spark, tmp_path):
    """Streamed as-of enrichment must equal the batch as_of_join on the
    same rows — including a reference carry across the micro-batch
    boundary, the backward-INCLUSIVE same-timestamp tie, and an event
    with no reference yet (nulls)."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from quantlab_data_pipeline_spark.operators.asof import as_of_join
    from quantlab_data_pipeline_spark.streaming.asof import streaming_as_of

    t0 = dt.datetime(2024, 3, 1)
    ts = lambda m: t0 + dt.timedelta(minutes=m)
    ev_schema = "event_id long, user_id long, ts timestamp"
    ref_schema = "user_id long, ts timestamp, ref_value double"
    ev1 = [(1, 1, ts(0)), (2, 1, ts(10)), (3, 2, ts(5))]
    ev2 = [(4, 1, ts(20)), (5, 2, ts(25)), (6, 1, ts(30))]
    ref1 = [(1, ts(10), 100.0)]            # same-ts tie with event 2
    ref2 = [(1, ts(25), 200.0), (2, ts(24), 50.0)]

    d = tmp_path / "asof_src"
    for name, rows, schema in (
        ("ev/b1", ev1, ev_schema), ("ev/b2", ev2, ev_schema),
        ("ref/b1", ref1, ref_schema), ("ref/b2", ref2, ref_schema),
    ):
        p = d / f"{name}.parquet"
        os.makedirs(p.parent, exist_ok=True)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(p))

    ev_src = (
        spark.readStream.schema(T.StructType.fromDDL(ev_schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "ev" / "*.parquet"))
    )
    ref_src = (
        spark.readStream.schema(T.StructType.fromDDL(ref_schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "ref" / "*.parquet"))
    )
    q = (
        streaming_as_of(ev_src, ref_src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_stream")
        .option("checkpointLocation", str(tmp_path / "asof_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["event_id"]: (r["asof_ts"], r["asof_value"])
        for r in spark.sql("SELECT * FROM asof_stream").collect()
    }

    exp = {
        r["event_id"]: (r["asof_ts"], r["asof_ref_value"])
        for r in as_of_join(
            spark.createDataFrame(ev1 + ev2, ev_schema),
            spark.createDataFrame(ref1 + ref2, ref_schema),
            on=["user_id"],
        ).collect()
    }
    assert got == exp
    assert got[1] == (None, None)            # before any reference
    assert got[2] == (ts(10), 100.0)         # inclusive same-ts tie


def test_streaming_bounded_dedup_drops_in_window_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark variant: duplicates inside the
    watermark window are dropped; state is bounded by the window, and
    the keeper set equals the batch dedup when all duplicates arrive
    within the delay (the documented delivery-bound contract)."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from quantlab_data_pipeline_spark.streaming.dedup import (
        streaming_exact_dedup_bounded,
    )

    t0 = dt.datetime(2024, 6, 1)
    schema = "doc_id long, ts timestamp, text string"
    rows1 = [
        (1, t0, "alpha"),
        (2, t0 + dt.timedelta(minutes=5), "beta"),
        (3, t0 + dt.timedelta(minutes=10), "alpha"),   # dup within window
    ]
    rows2 = [
        (4, t0 + dt.timedelta(minutes=20), "beta"),    # dup within window
        (5, t0 + dt.timedelta(minutes=25), "gamma"),
    ]
    d = tmp_path / "bounded_src"
    os.makedirs(d)
    for name, rows in (("b1", rows1), ("b2", rows2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / f"{name}.parquet")
        )
    src = (
        spark.readStream.schema(T.StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    q = (
        streaming_exact_dedup_bounded(src, watermark_delay="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("bounded_dedup")
        .option("checkpointLocation", str(tmp_path / "bd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = {
        r["doc_id"] for r in spark.sql("SELECT * FROM bounded_dedup").collect()
    }
    assert kept == {1, 2, 5}


def test_stream_static_join_matches_batch(spark, tmp_path):
    """Stream-static enrichment across two micro-batches equals the
    batch join, including a stream row with no dim match (left join
    nulls)."""
    import os

    from pyspark.sql import types as T

    from quantlab_data_pipeline_spark.streaming.events import (
        enrich_with_static_dim,
    )

    schema = "event_id long, user_id long, v double"
    b1 = [(1, 10, 1.0), (2, 20, 2.0)]
    b2 = [(3, 10, 3.0), (4, 99, 4.0)]   # 99 has no dim row
    d = tmp_path / "ss_src"
    os.makedirs(d)
    for name, rows in (("b1", b1), ("b2", b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / f"{name}.parquet")
        )
    dim = spark.createDataFrame(
        [(10, "gold"), (20, "silver")], "user_id long, tier string"
    )
    src = (
        spark.readStream.schema(T.StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    q = (
        enrich_with_static_dim(src, dim, ["user_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["event_id"]: r["tier"]
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    assert got == {1: "gold", 2: "silver", 3: "gold", 4: None}


def test_streaming_distinct_sketch_matches_exact(spark):
    """Windowed HLL sketches maintained by the streaming state store:
    the union+estimate across windows must equal the exact per-type
    COUNT DISTINCT at this cardinality (sparse-mode-exact, same
    property the batch rollup test relies on), and streaming cells
    must union cleanly with the read-side estimator."""
    from quantlab_data_pipeline_spark.streaming.sketches import (
        windowed_distinct_estimate,
        windowed_distinct_sketch,
    )

    stream = stream_events(spark, SF)
    cells = run_to_memory(
        windowed_distinct_sketch(stream), "sketch_cells"
    )
    est = {
        r["event_type"]: r["n_distinct"]
        for r in windowed_distinct_estimate(cells).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est == exact


def test_streaming_dedup_state_survives_restart(spark, tmp_path):
    """Stop-and-restart from the SAME checkpoint: the second run must
    resume the state store — a duplicate arriving after the restart is
    still dropped (the fingerprint set persisted), already-processed
    files are not reprocessed, and the union of both runs' output is
    exactly the batch keeper set."""
    import os

    from pyspark.sql import types as T

    from quantlab_data_pipeline_spark.llm.dedup import exact_dedup
    from quantlab_data_pipeline_spark.streaming.dedup import streaming_exact_dedup

    docs_schema = "doc_id long, text string"
    batch1 = [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")]
    # doc 4 duplicates doc 1 ACROSS the restart; doc 5 is new
    batch2 = [(4, "alpha beta"), (5, "delta")]
    d = tmp_path / "restart_src"
    os.makedirs(d)
    ckpt = str(tmp_path / "restart_ckpt")

    def start():
        src = (
            spark.readStream.schema(T.StructType.fromDDL(docs_schema))
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d / "*.parquet"))
        )
        sink = tmp_path / "restart_out"
        return (
            streaming_exact_dedup(src)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", ckpt)
            .start()
        ), sink

    spark.createDataFrame(batch1, docs_schema).coalesce(1).write.parquet(
        str(d / "b1.parquet")
    )
    q, sink = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first_run = set(
        r["doc_id"] for r in spark.read.parquet(str(sink)).collect()
    )
    assert first_run == {1, 3}

    spark.createDataFrame(batch2, docs_schema).coalesce(1).write.parquet(
        str(d / "b2.parquet")
    )
    q, sink = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.read.parquet(str(sink)).toPandas()
    # no reprocessing: each admitted doc appears exactly once
    assert final["doc_id"].value_counts().max() == 1
    batch = exact_dedup(
        spark.createDataFrame(batch1 + batch2, docs_schema)
    ).toPandas()
    assert set(final["doc_id"]) == set(batch["keeper_id"]) == {1, 3, 5}


def test_windowed_psi_batch_twin_equals_psi_drift(spark):
    """psi_from_cells over windowed_bin_counts must reproduce the batch
    psi_drift statistic exactly for each (window, group) — including
    windows that never see some baseline bin (the restored-bin path)."""
    from quantlab_data_pipeline_spark.operators.profile import psi_drift
    from quantlab_data_pipeline_spark.streaming.drift import (
        baseline_histogram,
        psi_from_cells,
        windowed_bin_counts,
    )

    ev = load_table(spark, SF, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    baseline = ev.filter(F.col("ts") < cut)
    current = ev.filter(F.col("ts") >= cut)

    hist = baseline_histogram(baseline)
    cells = windowed_bin_counts(current, hist, window="7 days")
    got = {
        (r["window_start"], r["event_type"]): (r["psi"], r["n_cur"])
        for r in psi_from_cells(cells, hist).collect()
    }
    assert len({k[0] for k in got}) >= 2  # several 7-day windows

    for wstart in {k[0] for k in got}:
        wslice = current.filter(
            (F.col("ts") >= F.lit(wstart))
            & (F.col("ts") < F.date_add(F.lit(wstart), 7))
        )
        expect = {
            r["event_type"]: (r["psi"], r["n_cur"])
            for r in psi_drift(baseline, wslice).collect()
        }
        for et, pair in expect.items():
            assert got[(wstart, et)] == pair, (wstart, et)


def test_windowed_psi_streaming_matches_batch(spark):
    """The drift cells computed by the stream (micro-batched, state
    store, watermark) must equal the batch cells — hence the same PSI."""
    from quantlab_data_pipeline_spark.streaming.drift import (
        baseline_histogram,
        psi_from_cells,
        windowed_bin_counts,
    )

    ev = load_table(spark, SF, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    hist = baseline_histogram(ev.filter(F.col("ts") < cut))

    stream = stream_events(spark, SF).filter(F.col("ts") >= cut)
    cells_stream = run_to_memory(
        windowed_bin_counts(stream, hist, window="7 days"), "drift_cells"
    )
    got = sorted(
        map(tuple, psi_from_cells(cells_stream, hist).collect())
    )
    batch_cells = windowed_bin_counts(
        ev.filter(F.col("ts") >= cut), hist, window="7 days"
    )
    expect = sorted(map(tuple, psi_from_cells(batch_cells, hist).collect()))
    assert got == expect and len(got) > 0


def test_streaming_crawl_intake_matches_batch(spark, tmp_path):
    """Round-7 streaming intake: extraction + frozen quality are
    stateless projections (plans identical to the batch rows); the
    stateful normalized-URL dedup keeps the FIRST arrival, which equals
    the batch min-id keeper when arrival order follows doc ids."""
    import os
    from pyspark.sql import types as T
    from quantlab_data_pipeline_spark.llm.classifier import score_quality_frozen
    from quantlab_data_pipeline_spark.llm.extract import html_to_text
    from quantlab_data_pipeline_spark.llm.frozen_quality import (
        FROZEN_QUALITY_V1_BIAS,
        FROZEN_QUALITY_V1_WEIGHTS,
    )
    from quantlab_data_pipeline_spark.llm.urls import normalize_url
    from quantlab_data_pipeline_spark.streaming.intake import streaming_crawl_intake
    from pyspark.sql import functions as F

    prose = (
        "The distributed planner rewrites each declarative stage into "
        "pipelined physical operators and schedules them over the whole "
        "cluster with adaptive exchanges."
    )
    page = lambda body: f'<html><body><nav><a href="/">Home</a></nav><p>{body}</p></body></html>'
    schema = "doc_id long, url string, html string, fetch_ts timestamp"
    rows1 = [
        (1, "HTTP://A.com:80/x?utm_source=z", page(prose), "2024-01-01 10:00:00"),
        (2, "https://a.com/x", page(prose + " Second fetch."), "2024-01-01 10:01:00"),
        (3, "https://b.com/y", page("too short"), "2024-01-01 10:02:00"),
    ]
    rows2 = [
        (4, "https://b.com/z#frag", page(prose + " A b.com page."), "2024-01-01 10:03:00"),
        (5, "https://a.com/x?utm_medium=m", page(prose + " Third fetch."), "2024-01-01 10:04:00"),
    ]
    d = tmp_path / "crawl_src"
    os.makedirs(d)
    for name, rows in (("b1", rows1), ("b2", rows2)):
        spark.createDataFrame(
            [(i, u, h, __import__("datetime").datetime.fromisoformat(t))
             for i, u, h, t in rows],
            schema,
        ).coalesce(1).write.parquet(str(d / f"{name}.parquet"))
    src = (
        spark.readStream.schema(T.StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    q = (
        streaming_crawl_intake(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("crawl_intake")
        .option("checkpointLocation", str(tmp_path / "crawl_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM crawl_intake").toPandas()

    # batch twin: same projections, min-id keeper per normalized URL
    all_rows = spark.createDataFrame(
        [(i, u, h, __import__("datetime").datetime.fromisoformat(t))
         for i, u, h, t in rows1 + rows2],
        schema,
    )
    ext = html_to_text(all_rows, "html", "text").drop("html")
    scored = score_quality_frozen(
        ext, FROZEN_QUALITY_V1_BIAS, FROZEN_QUALITY_V1_WEIGHTS, text_col="text"
    )
    kept = scored.filter(F.col("ml_keep") & (F.length("text") >= 1)).withColumn(
        "norm_url", normalize_url("url")
    )
    win = kept.groupBy("norm_url").agg(F.min("doc_id").alias("k"))
    twin = kept.join(win, "norm_url").filter("doc_id = k").toPandas()
    assert set(got["doc_id"]) == set(twin["doc_id"])
    # docs 2 and 5 normalize to the same https URL (2 arrives first and
    # wins); doc 1's http URL is a DIFFERENT resource and survives; the
    # short page never reaches the state store
    assert set(got["doc_id"]) == {1, 2, 4}
    assert "html" not in got.columns and "text" in got.columns


def test_streaming_crawl_intake_state_survives_restart(spark, tmp_path):
    """Stop-and-restart the crawl intake from the SAME checkpoint
    (VERDICT r7 item 6): the watermarked URL-dedup state must persist —
    a re-crawl of an already-admitted URL arriving after the restart
    (inside the watermark window) is still dropped, already-processed
    pages are not re-emitted, and a genuinely new URL is admitted."""
    import datetime as _dt
    import os

    from pyspark.sql import types as T

    from quantlab_data_pipeline_spark.streaming.intake import streaming_crawl_intake

    prose = (
        "The distributed planner rewrites each declarative stage into "
        "pipelined physical operators and schedules them over the whole "
        "cluster with adaptive exchanges."
    )
    page = lambda body: (
        f'<html><body><nav><a href="/">Home</a></nav><p>{body}</p></body></html>'
    )
    schema = "doc_id long, url string, html string, fetch_ts timestamp"

    def rows(raw):
        return [
            (i, u, h, _dt.datetime.fromisoformat(t)) for i, u, h, t in raw
        ]

    batch1 = rows(
        [(1, "https://a.com/x", page(prose), "2024-01-01 10:00:00")]
    )
    # doc 2 re-crawls doc 1's URL ACROSS the restart, well inside the
    # 1-hour watermark; doc 3 is a new URL
    batch2 = rows(
        [
            (2, "https://a.com/x?utm_source=s", page(prose + " Refetch."),
             "2024-01-01 10:05:00"),
            (3, "https://b.com/y", page(prose + " New page."),
             "2024-01-01 10:06:00"),
        ]
    )
    d = tmp_path / "crawl_restart_src"
    os.makedirs(d)
    ckpt = str(tmp_path / "crawl_restart_ckpt")
    sink = tmp_path / "crawl_restart_out"

    def start():
        src = (
            spark.readStream.schema(T.StructType.fromDDL(schema))
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d / "*.parquet"))
        )
        return (
            streaming_crawl_intake(src)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", ckpt)
            .start()
        )

    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(d / "b1.parquet")
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert set(
        r["doc_id"] for r in spark.read.parquet(str(sink)).collect()
    ) == {1}

    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(d / "b2.parquet")
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.read.parquet(str(sink)).toPandas()
    # the re-crawl was dropped by state restored from the checkpoint,
    # nothing was re-emitted, the new URL landed
    assert final["doc_id"].value_counts().max() == 1
    assert set(final["doc_id"]) == {1, 3}


def test_streaming_media_intake_twin_and_replay_idempotent(spark, tmp_path):
    """foreachBatch media intake (streaming/media_intake.py): the
    persisted perceptual index arbitrates across micro-batches (exact
    recrawl AND near-dup caught, novel admitted), intra-batch exact
    copies dedup to the min id, the verdict log equals the manual
    batch loop, and a REPLAYED batch id (crash between sink and
    checkpoint commit) leaves the index untouched via the ledger."""
    import numpy as np

    from quantlab_data_pipeline_spark.llm.codecs import png_encode
    from quantlab_data_pipeline_spark.llm.multimodal import MEDIA_SCHEMA
    from quantlab_data_pipeline_spark.streaming.media_intake import (
        media_intake_sink,
        read_intake_verdicts,
    )

    meta = {"width": 40, "height": 40, "n_frames": 1,
            "sample_rate": None, "format": "png"}

    def img(seed):
        a = (np.add.outer(np.arange(40), np.arange(40)) * (3 + seed)
             + seed * 17) % 256
        return a.astype(np.uint8)

    def edit(a):
        out = a.copy()
        out[:3, :3] = 255
        return out

    A, B, C = img(1), img(2), img(3)
    b1 = [(1, "image", png_encode(A), meta),
          (2, "image", png_encode(A), meta),   # intra-batch exact copy
          (3, "image", png_encode(B), meta)]
    b2 = [(4, "image", png_encode(A), meta),   # cross-batch exact recrawl
          (5, "image", png_encode(C), meta),   # novel
          (6, "image", png_encode(edit(A)), meta)]  # near-dup of A

    import os
    d = tmp_path / "media_src"
    os.makedirs(d)
    idx = str(tmp_path / "media_idx")
    out = str(tmp_path / "media_out")
    spark.createDataFrame(b1, MEDIA_SCHEMA).coalesce(1).write.parquet(
        str(d / "b1.parquet")
    )
    spark.createDataFrame(b2, MEDIA_SCHEMA).coalesce(1).write.parquet(
        str(d / "b2.parquet")
    )
    src = (
        spark.readStream.schema(MEDIA_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    q = (
        src.writeStream
        .foreachBatch(media_intake_sink(idx, out, max_hamming=8))
        .option("checkpointLocation", str(tmp_path / "media_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    v = {r["asset_id"]: r for r in read_intake_verdicts(spark, out).collect()}
    assert len(v) == 6
    assert {a for a, r in v.items() if r["kept"]} == {1, 3, 5}
    assert not v[2]["is_dup"] and not v[2]["kept"]  # lost intra-batch dedup
    assert v[4]["is_dup"] and v[4]["best_match_id"] == 1
    assert v[4]["best_hamming"] == 0
    assert v[6]["is_dup"] and v[6]["best_match_id"] == 1
    assert 0 < v[6]["best_hamming"] <= 8

    # only keepers' fingerprints entered the index
    fp_ids = {
        r["asset_id"]
        for r in spark.read.parquet(f"{idx}/fingerprints").collect()
    }
    assert fp_ids == {1, 3, 5}

    # replayed batch id: ledger skips, index and verdict log unchanged
    sink = media_intake_sink(idx, out, max_hamming=8)
    sink(spark.createDataFrame(b2, MEDIA_SCHEMA), 1)
    assert spark.read.parquet(f"{idx}/fingerprints").count() == 3
    assert read_intake_verdicts(spark, out).count() == 6

    # harder replay: crash BEFORE the ledger write (ledger entry gone,
    # the whole sink re-runs) — verdict partition overwrites instead
    # of duplicating, the anti-join appends nothing twice
    import shutil
    shutil.rmtree(f"{idx}/_applied_batch")
    sink(spark.createDataFrame(b2, MEDIA_SCHEMA), 1)
    assert spark.read.parquet(f"{idx}/fingerprints").count() == 3
    v2 = {r["asset_id"]: r for r in read_intake_verdicts(spark, out).collect()}
    assert len(v2) == 6
    assert v2[5]["is_dup"] and v2[5]["best_match_id"] == 5  # now vs itself
    assert not v2[5]["kept"]  # but never re-appended

    # batch twin: the manual loop over the same two batches agrees
    from quantlab_data_pipeline_spark.llm.media_index import (
        build_media_index,
        flag_new_media,
    )

    idx2 = str(tmp_path / "media_idx_twin")
    m1 = spark.createDataFrame([b1[0], b1[2]], MEDIA_SCHEMA)  # keepers of b1
    build_media_index(m1, idx2, modality="image", max_hamming=8)
    twin = {
        r["asset_id"]: r
        for r in flag_new_media(
            spark.createDataFrame(b2, MEDIA_SCHEMA), idx2
        ).collect()
    }
    for aid in (4, 5, 6):
        assert twin[aid]["is_dup"] == v[aid]["is_dup"]
        assert twin[aid]["best_match_id"] == v[aid]["best_match_id"]
        assert twin[aid]["best_hamming"] == v[aid]["best_hamming"]


def test_streaming_media_intake_empty_and_audio(spark, tmp_path):
    """Sink edge cases: an empty micro-batch is a no-op (no index, no
    ledger entry), and the audio modality runs the same loop through
    the WAV fingerprint kernel."""
    import os

    import numpy as np

    from quantlab_data_pipeline_spark.llm.codecs import wav_encode
    from quantlab_data_pipeline_spark.llm.multimodal import MEDIA_SCHEMA
    from quantlab_data_pipeline_spark.streaming.media_intake import (
        media_intake_sink,
        read_intake_verdicts,
    )

    idx = str(tmp_path / "audio_idx")
    out = str(tmp_path / "audio_out")
    sink = media_intake_sink(idx, out, modality="audio", max_hamming=0)

    empty = spark.createDataFrame([], MEDIA_SCHEMA)
    sink(empty, 0)
    assert not os.path.isdir(f"{idx}/meta")  # nothing built
    assert not os.path.isdir(out)

    meta = {"width": None, "height": None, "n_frames": None,
            "sample_rate": 16000, "format": "wav"}

    def tone(freq):
        t = np.arange(800) / 16000.0
        return wav_encode(
            (2000 * np.sin(2 * np.pi * freq * t)).astype(np.int16), 16000
        )

    sink(spark.createDataFrame(
        [(1, "audio", tone(440.0), meta)], MEDIA_SCHEMA), 1)
    sink(spark.createDataFrame(
        [(2, "audio", tone(440.0), meta),      # recrawl of 1
         (3, "audio", tone(2500.0), meta)], MEDIA_SCHEMA), 2)
    v = {r["asset_id"]: r for r in read_intake_verdicts(spark, out).collect()}
    assert v[1]["kept"] and not v[1]["is_dup"]
    assert v[2]["is_dup"] and v[2]["best_match_id"] == 1 and not v[2]["kept"]
    assert v[3]["kept"]
    assert {
        r["asset_id"]
        for r in spark.read.parquet(f"{idx}/fingerprints").collect()
    } == {1, 3}


def test_streaming_media_intake_other_modality_batch_is_marked(spark, tmp_path):
    """A non-empty batch with no row of the sink's modality yields no
    fingerprints: it writes nothing, but it is committed, so a
    redelivery of the same batch id is skipped instead of re-run."""
    import os

    import numpy as np

    from quantlab_data_pipeline_spark.llm.codecs import wav_encode
    from quantlab_data_pipeline_spark.llm.multimodal import MEDIA_SCHEMA
    from quantlab_data_pipeline_spark.streaming.ledger import last_applied_batch
    from quantlab_data_pipeline_spark.streaming.media_intake import (
        media_intake_sink,
    )

    idx = str(tmp_path / "image_idx")
    out = str(tmp_path / "image_out")
    sink = media_intake_sink(idx, out, modality="image")
    meta = {"width": None, "height": None, "n_frames": None,
            "sample_rate": 16000, "format": "wav"}
    tone = wav_encode(np.zeros(800, dtype=np.int16), 16000)
    audio = spark.createDataFrame([(1, "audio", tone, meta)], MEDIA_SCHEMA)

    applied, kept = sink(audio, 0)
    assert applied and kept.count() == 0
    assert last_applied_batch(spark, idx) == 0
    assert not os.path.isdir(f"{idx}/meta")  # no index built
    assert not os.path.isdir(out)  # no verdicts written
    assert sink(audio, 0) == (False, None)


def test_streaming_crawl_intake_blocklist_stateless(spark, tmp_path):
    """Round-8: the blocklist gate runs FIRST and stateless — listed
    domains (and subdomains) never reach extraction; both the literal
    python-list compile (arrays_overlap) and the broadcast DataFrame
    anti-join drop the same pages as the batch rule."""
    import datetime
    import os

    from pyspark.sql import types as T

    from quantlab_data_pipeline_spark.streaming.intake import (
        streaming_crawl_intake,
    )

    prose = (
        "The distributed planner rewrites each declarative stage into "
        "pipelined physical operators and schedules them over the whole "
        "cluster with adaptive exchanges."
    )
    page = (
        lambda body: "<html><body><p>" + body + "</p></body></html>"
    )
    schema = "doc_id long, url string, html string, fetch_ts timestamp"
    rows = [
        (1, "https://ok.example.org/a", page(prose), "2024-01-01 10:00:00"),
        (2, "https://spam.bad.net/b", page(prose + " Spam."), "2024-01-01 10:01:00"),
        (3, "https://bad.net/c", page(prose + " Root."), "2024-01-01 10:02:00"),
        (4, "https://notbad.net/d", page(prose + " Clean."), "2024-01-01 10:03:00"),
    ]
    d = tmp_path / "bl_src"
    os.makedirs(d)
    spark.createDataFrame(
        [
            (i, u, h, datetime.datetime.fromisoformat(t))
            for i, u, h, t in rows
        ],
        schema,
    ).coalesce(1).write.parquet(str(d / "b1.parquet"))

    def run(blocklist, name):
        src = (
            spark.readStream.schema(T.StructType.fromDDL(schema))
            .parquet(str(d / "*.parquet"))
        )
        q = (
            streaming_crawl_intake(src, blocklist=blocklist)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            return {
                r["doc_id"] for r in spark.sql(f"SELECT doc_id FROM {name}").collect()
            }
        finally:
            q.stop()

    want = {1, 4}  # bad.net and subdomain blocked; notbad.net is NOT a match
    assert run(["bad.net"], "bl_list") == want
    bl_df = spark.createDataFrame([("BAD.net",)], "domain string")
    assert run(bl_df, "bl_df") == want


def test_dsir_intake_sink_batch_twin_and_replay(spark, tmp_path):
    """Round-8 streaming DSIR intake: each micro-batch scores under the
    raw model INCLUDING itself, so per-batch verdicts must equal the
    manual loop (fold then dsir_select_stored); a replayed batch id is
    skipped by the ledger, and a crash-before-ledger replay converges
    (partition-overwrite folding never double-counts)."""
    import os

    from quantlab_data_pipeline_spark.llm.dsir import (
        build_dsir_counts,
        dsir_select_stored,
        load_dsir_counts,
        update_dsir_counts,
    )
    from quantlab_data_pipeline_spark.streaming.dsir_intake import (
        dsir_intake_sink,
        read_dsir_verdicts,
    )

    target_rows = [
        (100, "the cat and the dog sat together on the mat"),
        (101, "a calm morning with coffee and the newspaper"),
    ]
    b1 = [(1, "the cat sat on the mat near the dog"),
          (2, "zzzz qqqq xxxx vvvv")]
    b2 = [(3, "a quiet morning with the newspaper and hot coffee"),
          (4, "stock prices fell sharply in heavy trading today")]
    schema = "doc_id long, text string"
    tpath = str(tmp_path / "dsir_t")
    rpath = str(tmp_path / "dsir_r")
    out = str(tmp_path / "dsir_out")
    build_dsir_counts(
        spark.createDataFrame(target_rows, schema), tpath, buckets=128
    )

    d = tmp_path / "dsir_src"
    os.makedirs(d)
    for name, rows in (("b1", b1), ("b2", b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / f"{name}.parquet")
        )
    from pyspark.sql import types as T

    src = (
        spark.readStream.schema(T.StructType.fromDDL(schema))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    q = (
        src.writeStream
        .foreachBatch(dsir_intake_sink(tpath, rpath, out, k=1))
        .option("checkpointLocation", str(tmp_path / "dsir_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["batch_id"], r["doc_id"]): r
        for r in read_dsir_verdicts(spark, out).collect()
    }
    assert {i for _, i in got} == {1, 2, 3, 4}
    # within each batch exactly k=1 selected
    for b in {b for b, _ in got}:
        assert sum(got[(b, i)]["selected"] for bb, i in got if bb == b) == 1

    # manual twin: same stores rebuilt step by step must reproduce
    # every batch's verdicts exactly
    t2 = str(tmp_path / "tw_r")
    batches = {0: b1, 1: b2}
    # file order maps to batch ids by arrival; recover the actual
    # mapping from the verdict log (doc membership identifies batches)
    for bid in sorted({b for b, _ in got}):
        members = [i for bb, i in got if bb == bid]
        rows = [r for r in (b1 + b2) if r[0] in members]
        bdf = spark.createDataFrame(rows, schema)
        if not os.path.isdir(f"{t2}/meta"):
            build_dsir_counts(bdf, t2, buckets=128)
        else:
            update_dsir_counts(bdf, t2)
        want = {
            r["doc_id"]: r
            for r in dsir_select_stored(bdf, tpath, t2, k=1).collect()
        }
        for i in members:
            g = got[(bid, i)]
            w = want[i]
            assert (g["log_w"], g["sel_key"], g["rank"], g["selected"]) == (
                w["log_w"], w["sel_key"], w["rank"], w["selected"]
            )

    # replay-after-commit: ledger skips, store totals unchanged
    totals_before = {
        r["bucket"]: r["cnt"] for r in load_dsir_counts(spark, rpath).collect()
    }
    sink = dsir_intake_sink(tpath, rpath, out, k=1)
    sink(spark.createDataFrame(b2, schema), 1)
    totals_after = {
        r["bucket"]: r["cnt"] for r in load_dsir_counts(spark, rpath).collect()
    }
    assert totals_before == totals_after

    # crash-before-ledger: the whole sink re-runs for its batch id —
    # the partition-overwrite fold rewrites, never double-counts
    import shutil

    shutil.rmtree(f"{rpath}/_applied_batch")
    b2_actual_id = max(b for b, _ in got)
    members = [i for bb, i in got if bb == b2_actual_id]
    rows = [r for r in (b1 + b2) if r[0] in members]
    sink(spark.createDataFrame(rows, schema), b2_actual_id)
    totals_replay = {
        r["bucket"]: r["cnt"] for r in load_dsir_counts(spark, rpath).collect()
    }
    assert totals_replay == totals_before
    assert read_dsir_verdicts(spark, out).count() == 4
