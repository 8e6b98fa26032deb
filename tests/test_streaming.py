"""Structured Streaming tests: availableNow-style file-source streams
driven to completion with a memory sink, checked against the
oracle-verified batch twins (batch/stream parity)."""

from __future__ import annotations

import pytest

# streaming end-to-end proofs: minutes-scale, excluded from the fast gate
pytestmark = pytest.mark.slow

from ecs_ecommerce_data_pipeline_spark.streaming.pipeline import (
    run_to_memory,
    session_windows,
    stream_events,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


def test_windowed_counts_matches_batch(spark):
    stream = windowed_counts(stream_events(spark, SF))
    run_to_memory(stream, "wc_out", output_mode="complete")
    got = {
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM wc_out").collect()
    }

    from ecs_ecommerce_data_pipeline_spark.catalog import queries

    batch = queries()["events_tumbling_5min"](spark, SF)
    want = {
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_session_windows_run(spark):
    stream = session_windows(stream_events(spark, SF))
    run_to_memory(stream, "sw_out", output_mode="complete")
    rows = spark.sql("SELECT * FROM sw_out").collect()
    assert len(rows) > 0
    r = rows[0]
    assert r["n_events"] >= 1 and r["session_start"] <= r["session_end"]


def test_stateful_running_totals_multi_batch(spark, tmp_path):
    """applyInPandasWithState: state must accumulate ACROSS micro-batches
    (maxFilesPerTrigger=1 over a multi-file copy of events), and the final
    per-user state must equal the batch groupBy."""
    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        user_running_totals,
    )

    batch = load_table(spark, SF, "events").select("user_id", "value")
    src = str(tmp_path / "events_parts")
    batch.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        user_running_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 4, "expected one micro-batch per file"

    # memory sink in update mode appends each batch's emissions; per-user
    # counts strictly increase per emission, so the final state is the row
    # with the largest n_events (robust to sink row order).
    emitted = spark.sql("SELECT * FROM running_totals").toPandas()
    final = (
        emitted.sort_values("n_events").groupby("user_id").last()
    )

    want = {
        r["user_id"]: (r["n"], r["total"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total"),
        )
        .collect()
    }
    assert set(final.index) == set(want)
    for uid, row in final.iterrows():
        n, total = want[uid]
        assert row["n_events"] == n, uid
        assert abs(row["total_value"] - (total or 0.0)) < 1e-6, uid


def test_kpi_stream_end_to_end(spark, tmp_path):
    """availableNow KPI pipeline: stream the orders drop dir, recompute
    daily KPIs for the affected dates, upsert date_key partitions; the
    result table must equal the batch daily_kpis, and a restarted query
    over the same checkpoint must be a no-op (exactly-once)."""
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import BatchLedger
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import ecommerce_views
    from ecs_ecommerce_data_pipeline_spark.streaming.kpi_stream import kpi_stream
    from ecs_ecommerce_data_pipeline_spark.catalog import queries

    views = ecommerce_views(spark, SF)
    drop_dir = str(tmp_path / "orders_drop")
    views["orders"].repartition(3).write.parquet(drop_dir)

    orders_stream = spark.readStream.schema(views["orders"].schema).parquet(drop_dir)
    out = str(tmp_path / "daily_kpis_out")
    ckpt = str(tmp_path / "ckpt")
    ledger = BatchLedger(str(tmp_path / "ledger.json"))

    q = kpi_stream(orders_stream, views["orders"], views["order_items"], out, ckpt, ledger)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = queries()["daily_kpis"](spark, SF)
    # daily_kpis stringifies date_key at the query boundary; the
    # partitioned sink reads it back as the partition column
    key = lambda r: str(r["date_key"])
    got_rows = {key(r): (r["total_orders"], r["total_revenue"], r["unique_customers"])
                for r in got.collect()}
    want_rows = {key(r): (r["total_orders"], r["total_revenue"], r["unique_customers"])
                 for r in want.collect()}
    assert got_rows == want_rows

    # restart over the same checkpoint: no new micro-batch may rewrite
    before = got.count()
    q2 = kpi_stream(
        spark.readStream.schema(views["orders"].schema).parquet(drop_dir),
        views["orders"], views["order_items"], out, ckpt, ledger,
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == before


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """Duplicate arrivals (same file landing twice) collapse to one row
    per event_id; state is watermark-bounded (dropDuplicatesWithinWatermark)."""
    import shutil

    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.pipeline import dedup_events

    src = tmp_path / "dup_events"
    src.mkdir()
    shutil.copy(f"{SF}/events.parquet", src / "events_a.parquet")
    shutil.copy(f"{SF}/events.parquet", src / "events_b.parquet")  # dup delivery

    batch = load_table(spark, SF, "events")
    raw_schema = spark.read.parquet(str(src / "events_a.parquet")).schema
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import (
        _normalize_nanos_ts,
    )

    stream = _normalize_nanos_ts(
        spark.readStream.schema(raw_schema).format("parquet").load(str(src)), "ts"
    )
    out = dedup_events(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup_out").first()
    want = batch.count()
    assert got["d"] == want  # every event survives exactly once
    assert got["n"] == want  # and no duplicate rows leak through


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-static broadcast join against the customer dim produces the
    same enriched rows as the batch twin."""
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.pipeline import (
        enrich_with_customer,
        stream_events,
    )

    customer = load_table(spark, SF, "customer")
    out = enrich_with_customer(stream_events(spark, SF), customer)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["event_id"], r["segment"], r["nation_key"])
        for r in spark.sql(
            "SELECT event_id, segment, nation_key FROM enrich_out"
        ).collect()
    }
    batch = enrich_with_customer(load_table(spark, SF, "events"), customer)
    want = {
        (r["event_id"], r["segment"], r["nation_key"]) for r in batch.collect()
    }
    assert got == want


def test_stream_stream_attribution_matches_batch(spark):
    """Stream-stream interval join (views × purchases, 30-min horizon)
    produces exactly the batch twin's rows in append mode."""
    from ecs_ecommerce_data_pipeline_spark.streaming.pipeline import (
        view_purchase_attribution,
    )

    stream = view_purchase_attribution(stream_events(spark, SF))
    run_to_memory(stream, "attrib_out", output_mode="append")
    got = {
        (r["view_id"], r["purchase_id"], r["view_ts"], r["purchase_ts"],
         r["purchase_value"])
        for r in spark.sql("SELECT * FROM attrib_out").collect()
    }

    from ecs_ecommerce_data_pipeline_spark.catalog import queries

    batch = queries()["events_attribution"](spark, SF)
    want = {
        (r["view_id"], r["purchase_id"], r["view_ts"], r["purchase_ts"],
         r["purchase_value"])
        for r in batch.collect()
    }
    assert len(want) > 0
    assert got == want


def test_kpi_state_stream_merges_to_recompute(spark, tmp_path):
    """Streaming mergeable-state maintenance: order items arrive over
    three micro-batches; each merges only its partials into the state
    table. The finalized state must equal the batch category_kpis
    recompute, and a checkpoint-reset rerun must be absorbed by the
    ledger (a re-merge would double-count)."""
    from ecs_ecommerce_data_pipeline_spark.operators.incremental_agg import (
        finalize_category_kpis,
    )
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import BatchLedger
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import ecommerce_views
    from ecs_ecommerce_data_pipeline_spark.streaming.kpi_stream import (
        kpi_state_stream,
    )

    views = ecommerce_views(spark, SF)
    drop_dir = str(tmp_path / "items_drop")
    views["order_items"].repartition(3).write.parquet(drop_dir)

    def start(ckpt):
        stream = (
            spark.readStream.schema(views["order_items"].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop_dir)
        )
        return kpi_state_stream(
            stream, views["orders"], views["products"],
            state_out, ckpt, ledger,
        )

    state_out = str(tmp_path / "kpi_state")
    ledger = BatchLedger(str(tmp_path / "ledger.json"))
    q = start(str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    from ecs_ecommerce_data_pipeline_spark.operators import kpis

    prepared = kpis.prepare_items(
        views["order_items"], views["orders"], views["products"]
    )
    want = kpis.category_kpis(prepared)
    got = finalize_category_kpis(spark.read.parquet(state_out))

    def rows(df):
        return sorted(
            (r["category"], str(r["order_date"]), round(r["daily_revenue"], 2))
            for r in df.collect()
        )

    assert rows(got) == rows(want)

    # fresh checkpoint, same ledger: every micro-batch is a replay the
    # ledger must absorb — state unchanged
    q2 = start(str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    got2 = finalize_category_kpis(spark.read.parquet(state_out))
    assert rows(got2) == rows(want)

    # crash-window replay: flip one applied batch back to 'running' (the
    # state write committed but mark_done never ran). The ledger will
    # re-admit it on the next restart — the per-partition _applied_batch
    # stamp must make the re-merge a no-op, not a double count.
    import json as _json

    ledger_path = str(tmp_path / "ledger.json")
    with open(ledger_path) as fh:
        lstate = _json.load(fh)
    victim = sorted(k for k in lstate if k.startswith("state-microbatch-"))[-1]
    lstate[victim] = "running"
    with open(ledger_path, "w") as fh:
        _json.dump(lstate, fh)
    q3 = start(str(tmp_path / "ckpt3"))
    q3.awaitTermination(120)
    got3 = finalize_category_kpis(spark.read.parquet(state_out))
    assert rows(got3) == rows(want)
    assert BatchLedger(ledger_path).status(victim) == "done"


def test_stateful_sessionizer_multi_batch(spark, tmp_path):
    """Custom stateful sessionizer: sessions fold across micro-batches,
    every batch emits the open session, and the union of CLOSED sessions
    plus final opens must reproduce the batch gap-sessionization."""
    import pandas as pd

    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        user_sessions_stateful,
    )

    # two users; sessions split by a > 10-minute silence; rows arrive in
    # time order across two files so one session SPANS the batch boundary
    base = 1_700_000_000_000  # epoch ms
    rows1 = [
        (1, base + 0), (1, base + 60_000),
        (2, base + 0),
    ]
    rows2 = [
        (1, base + 120_000),                    # continues user 1 session 1
        (1, base + 2_000_000),                  # > 10 min later: session 2
        (2, base + 3_000_000),                  # user 2 session 2
    ]
    src = str(tmp_path / "sess_parts")

    def to_df(rows):
        return spark.createDataFrame(
            [(u, pd.Timestamp(ms, unit="ms").to_pydatetime()) for u, ms in rows],
            "user_id long, ts timestamp",
        )

    to_df(rows1).coalesce(1).write.mode("append").parquet(src)
    to_df(rows2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 second")
    )
    q = (
        user_sessions_stateful(stream, gap="10 minutes")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.sql("SELECT * FROM sessions").toPandas()
    # the open-session view must have been emitted each batch
    assert (~emitted["closed"]).sum() >= 2

    # reconstruct final sessions: for each (user, start), the last
    # emission wins (update-mode semantics)
    final = (
        emitted.sort_values(["n_events"])
        .groupby(["user_id", "session_start_ms"])
        .last()
        .reset_index()
    )
    sess = {
        (r.user_id, r.session_start_ms): (r.session_end_ms, r.n_events)
        for r in final.itertuples()
    }
    assert sess[(1, base)] == (base + 120_000, 3)
    assert sess[(1, base + 2_000_000)] == (base + 2_000_000, 1)
    assert sess[(2, base)] == (base, 1)
    assert sess[(2, base + 3_000_000)] == (base + 3_000_000, 1)

    # sessions fully in the past must close via the event-time timeout
    closed = emitted[emitted["closed"]]
    assert ((closed["user_id"] == 1) & (closed["session_start_ms"] == base)).any()


def test_streaming_psi_drift_monitor(spark, tmp_path):
    """Per-micro-batch PSI status rows: an in-distribution batch must not
    alert, a shifted batch must; each batch's PSI must equal the batch
    recompute from the same rows."""
    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.streaming.drift_stream import (
        _bin_counts,
        psi_drift_monitor,
        psi_from_counts,
        reference_histogram,
    )

    ref_df = spark.range(10_000).select((F.col("id") % 1000).alias("v"))
    ref = reference_histogram(ref_df, "v", n_bins=10)
    assert len(ref.edges) == 9 and sum(ref.counts) == 10_000

    # batch 1: same distribution; batch 2: hard right shift
    src = str(tmp_path / "drift_src")
    spark.range(5_000).select((F.col("id") % 1000).alias("v")).coalesce(
        1
    ).write.mode("append").parquet(src)
    spark.range(5_000).select((F.col("id") % 100 + 900).alias("v")).coalesce(
        1
    ).write.mode("append").parquet(src)

    status = str(tmp_path / "drift_status")
    q = psi_drift_monitor(
        spark.readStream.schema("v long").option("maxFilesPerTrigger", 1).parquet(src),
        ref,
        "v",
        status,
        str(tmp_path / "drift_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        r["batch_id"]: r for r in spark.read.parquet(status).collect()
    }
    assert len(rows) == 2
    psis = sorted(r["psi"] for r in rows.values())
    assert psis[0] < 0.05          # in-distribution batch: quiet
    assert psis[1] > 0.2           # shifted batch: alert
    flags = {r["psi"]: r["drifted"] for r in rows.values()}
    assert flags[psis[0]] is False and flags[psis[1]] is True

    # cross-check one batch against a direct recompute
    shifted = spark.range(5_000).select((F.col("id") % 100 + 900).alias("v"))
    want = psi_from_counts(ref.counts, _bin_counts(shifted, "v", ref.edges))
    assert abs(psis[1] - want) < 1e-12


def test_transform_with_state_topk_multi_batch(spark, tmp_path):
    """Per-user top-k leaderboard folded across micro-batches."""
    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        user_topk_events,
    )

    batch = load_table(spark, SF, "events").select("user_id", "event_id", "value")
    src = str(tmp_path / "topk_parts")
    batch.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        user_topk_events(stream, k=3)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("topk_out")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 3

    # last emission per user wins (update mode); emissions are totally
    # ordered per user by the set of events folded so far, and each one
    # carries its own rnk column — dedupe by max event coverage: take the
    # rows from the final micro-batch per user via monotonically
    # increasing leaderboard values is fragile; instead recompute
    # expected and assert the final leaderboard of EVERY user appears as
    # the last k-rows group in the sink.
    emitted = spark.sql("SELECT * FROM topk_out").toPandas()

    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(
        F.desc_nulls_last("value"), F.asc("event_id")
    )
    want_df = (
        batch.withColumn("value", F.coalesce("value", F.lit(0.0)))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )
    want = {
        (r["user_id"], r["rnk"]): (r["event_id"], r["value"])
        for r in want_df.collect()
    }
    # for each (user, rnk) the LAST emitted row must match the batch answer
    last = emitted.groupby(["user_id", "rnk"]).last()
    for (uid, rnk), row in last.iterrows():
        assert (int(row["event_id"]), float(row["value"])) == want[(uid, rnk)], uid
    assert set(last.index) == set(want)


def test_scd2_stream_equals_sequential_batch_applies(spark, tmp_path):
    """Streaming SCD2 maintenance must equal applying the same update
    batches sequentially with the batch operator."""
    from ecs_ecommerce_data_pipeline_spark.operators.scd import scd2_apply
    from ecs_ecommerce_data_pipeline_spark.streaming.kpi_stream import scd2_stream

    dim_schema = (
        "id long, price double, category string, valid_from string, "
        "valid_to string, is_current boolean"
    )
    upd_schema = "id long, price double, category string, eff_date string"
    dim0 = spark.createDataFrame(
        [
            (1, 10.0, "a", "2023-01-01", None, True),
            (2, 20.0, "b", "2023-01-01", None, True),
        ],
        dim_schema,
    )
    batch1 = [(1, 11.0, "a", "2024-01-01"), (3, 30.0, "c", "2024-01-01")]
    batch2 = [
        (1, 12.0, "a", "2024-06-01"),
        (2, 20.0, "b", "2024-06-01"),      # no-op
        (1, 11.5, "a", "2024-05-01"),      # older dup in same batch: loses
    ]

    dim_path = str(tmp_path / "dim")
    dim0.write.parquet(dim_path)
    src = str(tmp_path / "updates")
    for b in (batch1, batch2):
        spark.createDataFrame(b, upd_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    q = scd2_stream(
        spark.readStream.schema(upd_schema).option("maxFilesPerTrigger", 1).parquet(src),
        dim_path,
        str(tmp_path / "ckpt"),
        key="id",
        attrs=["price", "category"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["id"], r["valid_from"]): (r["price"], r["valid_to"], r["is_current"])
        for r in spark.read.parquet(dim_path).collect()
    }

    # sequential batch twin (latest-per-key dedup inside batch 2)
    want_dim = dim0
    for b in (batch1, [batch2[1], batch2[0]]):  # latest eff wins for id=1
        updates = spark.createDataFrame(
            [r for r in b], upd_schema
        )
        want_dim = scd2_apply(want_dim, updates, key="id", attrs=["price", "category"])
    want = {
        (r["id"], r["valid_from"]): (r["price"], r["valid_to"], r["is_current"])
        for r in want_dim.collect()
    }
    assert got == want
    # id=1 history: 2023 closed, 2024-01 closed, 2024-06 current at 12.0
    assert got[(1, "2024-06-01")] == (12.0, None, True)
    assert got[(1, "2024-01-01")][2] is False


def test_scd2_stream_recovers_parked_dimension(spark, tmp_path):
    """A crash between scd2_stream's two swap renames leaves the
    dimension parked in __scd2_old with dim_path missing; the next
    micro-batch must restore it before applying."""
    import os

    from ecs_ecommerce_data_pipeline_spark.streaming.kpi_stream import scd2_stream

    dim_schema = (
        "id long, price double, category string, valid_from string, "
        "valid_to string, is_current boolean"
    )
    upd_schema = "id long, price double, category string, eff_date string"
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, 10.0, "a", "2023-01-01", None, True)], dim_schema
    ).write.parquet(dim_path)
    # simulate the crash window: dimension parked, dim_path gone
    os.replace(dim_path, dim_path + "__scd2_old")
    assert not os.path.exists(dim_path)

    src = str(tmp_path / "updates")
    spark.createDataFrame(
        [(1, 11.0, "a", "2024-01-01")], upd_schema
    ).coalesce(1).write.parquet(src)
    q = scd2_stream(
        spark.readStream.schema(upd_schema).parquet(src),
        dim_path,
        str(tmp_path / "ckpt"),
        key="id",
        attrs=["price", "category"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["id"], r["valid_from"]): (r["price"], r["is_current"])
        for r in spark.read.parquet(dim_path).collect()
    }
    assert got == {
        (1, "2023-01-01"): (10.0, False),
        (1, "2024-01-01"): (11.0, True),
    }


def test_sessionizer_tolerates_late_events(spark, tmp_path):
    """A late event (behind the open session's last timestamp) must be
    absorbed — counted, no session split, no backward timeout."""
    import pandas as pd

    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        user_sessions_stateful,
    )

    base = 1_700_000_000_000
    rows1 = [(1, base), (1, base + 60_000)]
    rows2 = [(1, base + 30_000)]   # LATE: inside the open session

    def to_df(rows):
        return spark.createDataFrame(
            [(u, pd.Timestamp(ms, unit="ms").to_pydatetime()) for u, ms in rows],
            "user_id long, ts timestamp",
        )

    src = str(tmp_path / "late_parts")
    to_df(rows1).coalesce(1).write.mode("append").parquet(src)
    to_df(rows2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 second")
    )
    q = (
        user_sessions_stateful(stream, gap="10 minutes")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("late_sessions")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    emitted = spark.sql("SELECT * FROM late_sessions").toPandas()
    final = emitted.sort_values("n_events").groupby(
        ["user_id", "session_start_ms"]
    ).last()
    # one session, 3 events, end unchanged by the late arrival
    assert len(final) == 1
    row = final.iloc[0]
    assert row["n_events"] == 3
    assert row["session_end_ms"] == base + 60_000


def test_statestore_reader_matches_batch_aggregate(spark, tmp_path):
    """The checkpoint's state, read offline via the statestore source,
    must equal the batch groupBy over the same rows — the audit an
    operator runs before trusting (or migrating) streaming state."""
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.state_reader import (
        read_group_state,
    )
    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        user_running_totals,
    )

    batch = load_table(spark, SF, "events").select("user_id", "value")
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "state_ckpt")
    batch.repartition(2).write.parquet(src)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        user_running_totals(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .format("noop")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    state = read_group_state(spark, ckpt).select("user_id", "groupState.*")
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in state.collect()
    }

    from pyspark.sql import functions as F

    want = {
        r["user_id"]: (r["n"], r["total"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for uid, (n, total) in want.items():
        assert got[uid][0] == n, uid
        # value parity too (same additions in a different order: tolerance)
        assert abs(got[uid][1] - total) < 1e-6, uid
    # and the batch-0 time-travel read never exceeds the final state
    first = read_group_state(spark, ckpt, batch_id=0)
    assert first.count() <= state.count()


def test_lsh_dedup_stream_union_equals_full_batch(spark, tmp_path):
    """Documents arrive over three micro-batches; the union of the
    per-batch incremental candidate outputs must equal the full-corpus
    LSH candidate set (cap set high so bucket capping cannot differ
    between the incremental and full runs), and a crash-window replay
    (ledger flipped back to 'running', fresh checkpoint) must leave the
    outputs unchanged — the batch-stamped dynamic overwrites are
    idempotent."""
    import json as _json

    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.operators import dedup
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import BatchLedger
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.kpi_stream import (
        lsh_dedup_stream,
    )

    doc = load_table(spark, SF, "documents").select("doc_id", "text")
    drop_dir = str(tmp_path / "docs_drop")
    doc.repartition(3).write.parquet(drop_dir)

    store, out = str(tmp_path / "sig_store"), str(tmp_path / "cands")
    ledger = BatchLedger(str(tmp_path / "ledger.json"))

    def start(ckpt):
        stream = (
            spark.readStream.schema(doc.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop_dir)
        )
        return lsh_dedup_stream(
            stream, store, out, ckpt, ledger, max_bucket=100_000
        )

    q = start(str(tmp_path / "ckpt"))
    q.awaitTermination(240)

    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(dedup.shingle_docs(doc, k=3), num_hashes=8),
            num_hashes=8,
            band_size=2,
            max_bucket=100_000,
        ).collect()
    }
    assert got == want and got

    # crash-window replay: last batch back to 'running', fresh checkpoint
    lpath = str(tmp_path / "ledger.json")
    with open(lpath) as fh:
        lstate = _json.load(fh)
    victim = sorted(k for k in lstate if k.startswith("lsh-microbatch-"))[-1]
    lstate[victim] = "running"
    with open(lpath, "w") as fh:
        _json.dump(lstate, fh)
    q2 = start(str(tmp_path / "ckpt2"))
    q2.awaitTermination(240)
    got2 = {
        (r["doc_a"], r["doc_b"]) for r in spark.read.parquet(out).collect()
    }
    assert got2 == want
    # store holds each doc's signature exactly once
    n_store = spark.read.parquet(store).select("doc_id").distinct().count()
    assert n_store == spark.read.parquet(store).count() == doc.count()


def test_stream_stream_outer_attribution(spark):
    """Left-outer stream-stream interval join: matched rows equal the
    inner batch twin exactly; every emitted NULL-purchase row is a view
    the batch twin also leaves unmatched (outer rows can only flush
    after the watermark passes view_ts + horizon, so trailing views of
    the bounded input legitimately never emit)."""
    from ecs_ecommerce_data_pipeline_spark.catalog import queries
    from ecs_ecommerce_data_pipeline_spark.streaming.pipeline import (
        view_purchase_attribution_outer,
    )

    stream = view_purchase_attribution_outer(stream_events(spark, SF))
    run_to_memory(stream, "attrib_outer_out", output_mode="append")
    rows = spark.sql("SELECT * FROM attrib_outer_out").collect()
    got_matched = {
        (r["view_id"], r["purchase_id"]) for r in rows
        if r["purchase_id"] is not None
    }
    got_unmatched = {r["view_id"] for r in rows if r["purchase_id"] is None}

    batch = queries()["events_attribution"](spark, SF)
    want_matched = {(r["view_id"], r["purchase_id"]) for r in batch.collect()}
    assert got_matched == want_matched

    matched_views = {v for v, _p in want_matched}
    # every flushed NULL row is genuinely unmatched in the batch twin...
    assert not (got_unmatched & matched_views)
    # ...and a view emits at most once as unmatched, never also matched
    assert len(got_unmatched) == len(
        [r for r in rows if r["purchase_id"] is None]
    )
    # non-vacuous: the event horizon spans far beyond the watermark, so
    # early unmatched views MUST have flushed
    assert got_unmatched


def test_quantile_state_stream_merges_to_batch_histogram(spark, tmp_path):
    """Union of per-micro-batch quantile states must equal the batch
    histogram over the full table, and estimates from the merged state
    must match the batch estimate exactly (same frozen bounds)."""
    from ecs_ecommerce_data_pipeline_spark.operators.sketch import (
        quantile_bin_state,
        quantile_from_bins,
        quantile_value_stats,
    )
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.pipeline import (
        stream_events,
    )
    from ecs_ecommerce_data_pipeline_spark.streaming.quantile_stream import (
        quantile_state_stream,
        read_quantile_state,
    )

    ev = load_table(spark, SF, "events")
    stats = quantile_value_stats(ev, "value")
    row = stats.collect()[0]
    vmin, vmax = row["_qvmin"], row["_qvmax"]

    state_path = str(tmp_path / "qstate")
    q = quantile_state_stream(
        stream_events(spark, SF),
        vmin,
        vmax,
        "value",
        state_path,
        str(tmp_path / "ckpt"),
        n_bins=16,
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    merged = {
        r["bin"]: r["c"] for r in read_quantile_state(spark, state_path).collect()
    }
    batch = {
        r["bin"]: r["c"]
        for r in quantile_bin_state(ev, "value", stats, 16).collect()
    }
    assert merged == batch and merged

    est_stream = {
        r["q"]: r["est"]
        for r in quantile_from_bins(
            read_quantile_state(spark, state_path), stats, [0.5, 0.9], 16
        ).collect()
    }
    est_batch = {
        r["q"]: r["est"]
        for r in quantile_from_bins(
            quantile_bin_state(ev, "value", stats, 16), stats, [0.5, 0.9], 16
        ).collect()
    }
    assert est_stream == est_batch


def test_vector_index_stream_equals_batch_assignment(spark, tmp_path):
    """Embeddings arrive over three micro-batches; the stream-maintained
    index must hold exactly the assignments the batch path produces
    against the SAME frozen centroids, a replayed crash window must
    change nothing (batch-stamped dynamic overwrites), and the loaded
    index must serve ivf_index_topk."""
    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.operators import similarity
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import BatchLedger
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.vector_index_stream import (
        load_stream_index,
        vector_index_stream,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    drop_dir = str(tmp_path / "emb_drop")
    emb.repartition(3).write.parquet(drop_dir)

    index_path = str(tmp_path / "vec_index")
    lpath = str(tmp_path / "ledger.json")
    ledger = BatchLedger(lpath)

    def start(ckpt):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop_dir)
        )
        return vector_index_stream(stream, index_path, ckpt, ledger)

    q = start(str(tmp_path / "ckpt"))
    q.awaitTermination(240)

    centroids, assignments = load_stream_index(spark, index_path)
    # batch reference: assign the WHOLE corpus against the stream's
    # frozen centroids (trained on whichever file formed batch 0)
    expect = {
        (r["vid"], r["cell"])
        for r in similarity.ivf_index_add_batch(centroids, emb).collect()
    }
    got = {(r["vid"], r["cell"]) for r in assignments.collect()}
    assert got == expect and len(got) == emb.count()

    # crash-window replay: flip the last batch back to 'running' and
    # re-run from a fresh checkpoint — outputs must be unchanged
    import json as _json

    state = _json.load(open(lpath))
    victim = sorted(k for k in state if k.startswith("vecidx-microbatch-"))[-1]
    state[victim] = "running"
    _json.dump(state, open(lpath, "w"))
    q2 = start(str(tmp_path / "ckpt2"))
    q2.awaitTermination(240)
    # reload: the replay dynamic-overwrote its partitions, so pre-replay
    # DataFrames hold stale file listings by design
    centroids2, again = load_stream_index(spark, index_path)
    assert {(r["vid"], r["cell"]) for r in again.collect()} == expect

    # the loaded index serves the batch query path
    topk = similarity.ivf_index_topk(
        centroids2, again, [0, 1, 2], k=5, nprobe=4
    )
    per_q = {r["query_id"] for r in topk.collect()}
    assert per_q == {0, 1, 2}


def test_vector_index_stream_maintains_pq_codes(spark, tmp_path):
    """IVF-PQ streaming face: the PQ codebook freezes when the coarse
    quantizer fills, earlier rows are back-filled once, later batches
    code only themselves — and the accumulated codes hash-equal a batch
    _pq_assign of the whole corpus against the stream's own codebook.
    A replayed crash window changes nothing, and the loaded index
    serves ivfpq_topk."""
    import json as _json

    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.operators import similarity
    from ecs_ecommerce_data_pipeline_spark.operators.similarity import (
        _pq_assign,
        as_double_array,
    )
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import BatchLedger
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.vector_index_stream import (
        load_stream_ivfpq,
        vector_index_stream,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    drop_dir = str(tmp_path / "drop")
    # batch 0 smaller than the quantizer -> codes must back-fill at freeze
    emb.filter(F.col("vec_id") < 8).coalesce(1).write.parquet(drop_dir)
    emb.filter(F.col("vec_id").between(8, 99)).coalesce(1).write.mode(
        "append"
    ).parquet(drop_dir)
    emb.filter(F.col("vec_id") >= 100).coalesce(1).write.mode("append").parquet(
        drop_dir
    )
    index_path = str(tmp_path / "idx")
    lpath = str(tmp_path / "ledger.json")

    def start(ckpt):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop_dir)
        )
        return vector_index_stream(
            stream, index_path, ckpt, BatchLedger(lpath),
            n_centroids=16, pq_m=8, pq_k=16,
        )

    start(str(tmp_path / "ckpt")).awaitTermination(240)

    cents, assigns, cb, codes = load_stream_ivfpq(spark, index_path)
    base = emb.select(
        F.col("vec_id").alias("vid"), as_double_array("embedding").alias("vec")
    )
    sub = len(cb.select("cv").first()["cv"])
    expect = {
        (r["vid"], r["s"], r["code"])
        for r in _pq_assign(base, cb, 8, sub).collect()
    }
    got = {(r["vid"], r["s"], r["code"]) for r in codes.collect()}
    assert got == expect and len(got) == emb.count() * 8

    # crash-window replay: unchanged
    state = _json.load(open(lpath))
    victim = sorted(k for k in state if k.startswith("vecidx-microbatch-"))[-1]
    state[victim] = "running"
    _json.dump(state, open(lpath, "w"))
    start(str(tmp_path / "ckpt2")).awaitTermination(240)
    # reload: the replay dynamic-overwrote its partitions, so pre-replay
    # DataFrames hold stale file listings by design
    cents2, assigns2, cb2, codes2 = load_stream_ivfpq(spark, index_path)
    assert {(r["vid"], r["s"], r["code"]) for r in codes2.collect()} == expect

    # serves the composed query path
    topk = similarity.ivfpq_topk(cents2, assigns2, cb2, codes2, [0, 1, 2], k=5)
    assert {r["query_id"] for r in topk.collect()} == {0, 1, 2}


def test_decontamination_stream_equals_batch_operator(spark, tmp_path):
    """Per-batch screening folded with MAX/SUM must equal the batch
    operator over the full corpus BIT-FOR-BIT: a train vector's LSH
    bucket is row-local, so per-batch candidate sets partition the
    full candidate set and max/sum/argmax distribute. A replayed crash
    window changes nothing."""
    import json as _json

    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.operators.similarity import (
        semantic_decontamination,
    )
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import BatchLedger
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import load_table
    from ecs_ecommerce_data_pipeline_spark.streaming.decon_stream import (
        decontamination_stream,
        load_decon_state,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    eval_df = emb.filter(F.col("vec_id") % 7 == 0)
    train = emb.filter(F.col("vec_id") % 7 != 0)
    drop_dir = str(tmp_path / "drop")
    train.repartition(3).write.parquet(drop_dir)
    state = str(tmp_path / "state")
    lpath = str(tmp_path / "ledger.json")

    def start(ckpt):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop_dir)
        )
        return decontamination_stream(
            stream, eval_df, state, ckpt, BatchLedger(lpath), threshold=0.2
        )

    start(str(tmp_path / "ckpt")).awaitTermination(240)

    got = {
        r["eval_id"]: (
            r["n_candidates"], r["max_cosine"], r["nearest_train_id"],
            r["contaminated"],
        )
        for r in load_decon_state(
            spark, state, eval_df, threshold=0.2
        ).collect()
    }
    expect = {
        r["eval_id"]: (
            r["n_candidates"], r["max_cosine"], r["nearest_train_id"],
            r["contaminated"],
        )
        for r in semantic_decontamination(
            emb, eval_pred=(F.col("vec_id") % 7 == 0), threshold=0.2
        ).collect()
    }
    assert got == expect and len(got) == eval_df.count()

    # crash-window replay: unchanged
    st = _json.load(open(lpath))
    victim = sorted(k for k in st if k.startswith("decon-microbatch-"))[-1]
    st[victim] = "running"
    _json.dump(st, open(lpath, "w"))
    start(str(tmp_path / "ckpt2")).awaitTermination(240)
    again = {
        r["eval_id"]: (
            r["n_candidates"], r["max_cosine"], r["nearest_train_id"],
            r["contaminated"],
        )
        for r in load_decon_state(
            spark, state, eval_df, threshold=0.2
        ).collect()
    }
    assert again == expect


def test_streaming_cusum_over_drift_status(spark, tmp_path):
    """CUSUM over the per-batch PSI series: quiet batches keep the
    statistic at ~0, a persistent shift accumulates past the alarm and
    STAYS up on later shifted batches (the persistence a per-batch
    threshold flag doesn't have), and the reference python fold agrees
    exactly."""
    import math

    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.streaming.drift_stream import (
        cusum_from_status,
        psi_drift_monitor,
        reference_histogram,
    )

    ref_df = spark.range(10_000).select((F.col("id") % 1000).alias("v"))
    ref = reference_histogram(ref_df, "v", n_bins=10)

    src = str(tmp_path / "src")
    # two quiet batches, then three persistently shifted ones
    for _ in range(2):
        spark.range(5_000).select((F.col("id") % 1000).alias("v")).coalesce(
            1
        ).write.mode("append").parquet(src)
    for _ in range(3):
        spark.range(5_000).select(
            (F.col("id") % 100 + 900).alias("v")
        ).coalesce(1).write.mode("append").parquet(src)

    status = str(tmp_path / "status")
    q = psi_drift_monitor(
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        ref,
        "v",
        status,
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    k_q = math.floor(0.05 * (1 << 20))   # absorb 0.05 PSI/batch
    h_q = math.floor(0.5 * (1 << 20))    # alarm at 0.5 accumulated PSI
    rows = sorted(
        cusum_from_status(spark, status, k_q=k_q, h_q=h_q).collect(),
        key=lambda r: r["batch_id"],
    )
    assert len(rows) == 5
    # quiet prefix: no alarm; shifted suffix: alarm fires and stays
    assert not rows[0]["alarm"] and not rows[1]["alarm"]
    assert rows[2]["alarm"] or rows[3]["alarm"]
    assert rows[4]["alarm"]
    first_alarm = min(i for i, r in enumerate(rows) if r["alarm"])
    assert all(r["alarm"] for r in rows[first_alarm:])
    # exact python fold over the stored psi values
    cum, mn, expect = 0, 0, []
    for r in rows:
        cum += math.floor(r["psi"] * (1 << 20)) - k_q
        mn = min(mn, cum)
        expect.append(cum - min(0, mn))
    assert [r["cusum_q"] for r in rows] == expect
