"""Fixture results of the keyed-state streaming operators in
``streaming.stateful`` — small hand-checkable inputs streamed across
several micro-batches, each pinned to its known answer:

* ``daily_kpi_running``: per-day orders, revenue cents, items, returned
  orders and exact distinct customers;
* ``user_topk_events``: the per-user leaderboard at ``k=2``;
* ``user_category_spend_running``: running (orders, cents) per
  (user, category) equal a batch ``groupBy``, with and without
  ``emit_full_map``;
* ``user_sessions_stateful``: session bounds and counts, including a
  split and at least one closed session.
"""

from __future__ import annotations

KPI_ROWS_SCHEMA = (
    "date_key string, kind string, user_id long, revenue_cents bigint, "
    "returned long"
)


def _kpi_fixture(spark):
    return spark.createDataFrame(
        [
            ("2024-03-01", "order", 7, 1000, 0),
            ("2024-03-01", "order", 7, 2500, 1),
            ("2024-03-01", "order", 9, 500, 0),
            ("2024-03-01", "item", None, 0, 0),
            ("2024-03-02", "item", None, 0, 0),
        ],
        KPI_ROWS_SCHEMA,
    )


def _run_daily(spark, tmp_path, name, rows_df):
    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        daily_kpi_running,
    )

    src = str(tmp_path / f"{name}_src")
    rows_df.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(rows_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        daily_kpi_running(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final: dict[str, tuple] = {}
    best: dict[str, int] = {}
    for r in spark.sql(f"select * from {name}").collect():
        score = r["total_orders"] + r["total_items_sold"]
        if score >= best.get(r["date_key"], -1):
            best[r["date_key"]] = score
            final[r["date_key"]] = (
                r["total_orders"],
                r["total_revenue_cents"],
                r["total_items_sold"],
                r["returned_orders"],
                r["unique_customers"],
            )
    return final


def test_daily_kpi_running_fixture(spark, tmp_path):
    got = _run_daily(spark, tmp_path, "kpi_fixture", _kpi_fixture(spark))
    assert got["2024-03-01"] == (3, 4000, 1, 1, 2)
    assert got["2024-03-02"] == (0, 0, 1, 0, 0)


def test_user_topk_events_fixture(spark, tmp_path):
    from ecs_ecommerce_data_pipeline_spark.streaming import stateful as st

    rows = spark.createDataFrame(
        [(1, 10, 5.0), (1, 11, 9.0), (1, 12, 7.0), (2, 20, 1.0)],
        "user_id long, event_id long, value double",
    )

    def run(name):
        src = str(tmp_path / f"{name}_src")
        rows.repartition(2).write.parquet(src)
        stream = (
            spark.readStream.schema(rows.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            st.user_topk_events(stream, k=2)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows_out = spark.sql(
            f"select * from {name}"
        ).collect()
        # update mode re-emits per touched batch: keep each user's last
        # leaderboard = the one containing the user's best value set
        final: dict[tuple, tuple] = {}
        for r in rows_out:
            final[(r["user_id"], r["rnk"])] = (r["event_id"], r["value"])
        return final

    got = run("topk_fixture")
    assert got[(1, 1)] == (11, 9.0)


def test_user_category_spend_running_fixture(spark, tmp_path):
    """Running per-(user, category) totals, emitted per touched category
    or as the user's whole map, end at the batch ``groupBy``."""
    from pyspark.sql import functions as F

    from ecs_ecommerce_data_pipeline_spark.streaming import stateful as st

    rows = spark.createDataFrame(
        [
            (1, "books", 500),
            (1, "games", 700),
            (1, "books", 300),
            (2, "books", 900),
            (1, "tools", 50),
            (2, "games", 20),
        ],
        "user_id long, category string, spend_cents bigint",
    )

    def run(name, full):
        src = str(tmp_path / f"{name}_src")
        rows.repartition(3).write.parquet(src)
        stream = (
            spark.readStream.schema(rows.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            st.user_category_spend_running(stream, emit_full_map=full)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        final: dict[tuple, tuple] = {}
        for r in spark.sql(f"select * from {name}").collect():
            k = (r["user_id"], r["category"])
            v = (r["orders"], r["spend_cents"])
            # update-mode re-emissions: running totals are monotone in
            # orders, so the max-orders row is the final state
            if k not in final or v[0] > final[k][0]:
                final[k] = v
        return final

    want = {
        (r["user_id"], r["category"]): (r["n"], r["cents"])
        for r in rows.groupBy("user_id", "category")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("spend_cents").cast("long").alias("cents"),
        )
        .collect()
    }

    assert run("spend_touched", False) == want
    assert run("spend_full_map", True) == want


def test_user_sessions_stateful_fixture(spark, tmp_path):
    """Gap sessions folded across two micro-batches: user 1's third
    event extends the open session, its fourth (33 min later) splits it,
    and the watermark or the split closes at least one session."""
    import pandas as pd

    from ecs_ecommerce_data_pipeline_spark.streaming import stateful as st

    base = 1_700_000_000_000
    rows1 = [(1, base + 0), (1, base + 60_000), (2, base + 0)]
    rows2 = [
        (1, base + 120_000),
        (1, base + 2_000_000),
        (2, base + 3_000_000),
    ]

    def to_df(rows):
        return spark.createDataFrame(
            [
                (u, pd.Timestamp(ms, unit="ms").to_pydatetime())
                for u, ms in rows
            ],
            "user_id long, ts timestamp",
        )

    def run(name):
        src = str(tmp_path / f"{name}_src")
        to_df(rows1).coalesce(1).write.mode("append").parquet(src)
        to_df(rows2).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "1 second")
        )
        q = (
            st.user_sessions_stateful(stream, gap="10 minutes")
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        emitted = spark.sql(f"select * from {name}").toPandas()
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
        n_closed = int(emitted["closed"].sum())
        return sess, n_closed

    sess, n_closed = run("sess_fixture")
    assert sess[(1, base)] == (base + 120_000, 3)
    assert sess[(1, base + 2_000_000)] == (base + 2_000_000, 1)
    # at least one session closed (split mid-stream or watermark-fired)
    assert n_closed >= 1
