"""Round-10: the running daily-KPI aggregation in the keyed state store
(verdict task 6).

``kpi_state_stream`` folds partial-aggregate state into a parquet table
by hand inside ``foreachBatch`` (ledger + ``_applied_batch`` stamps +
dynamic-overwrite choreography).  ``stateful.daily_kpi_running`` moves
that state INTO the engine's keyed state store as a native streaming
aggregation (``groupBy("date_key").agg(...)`` in update mode, folded
in the JVM).  Pinned here:

* fold-equals-batch: streaming the ``daily_kpi_rows`` grain in
  arbitrary micro-batch splits ends, per day, at exactly
  ``operators.kpis.daily_kpis`` on the full input — orders, items,
  returned counts and revenue CENTS bitwise equal, return-rate the
  same double division;
* exact cross-batch distinct: the same customer ordering twice on one
  day in two different batches counts once (the user-id set state).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _run_stream(spark, tmp_path, rows_df, name, n_files=3):
    src = str(tmp_path / f"{name}_parts")
    rows_df.repartition(n_files).write.parquet(src)
    stream = (
        spark.readStream.schema(rows_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        daily_kpi_running,
    )

    q = (
        daily_kpi_running(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    out = spark.sql(f"select * from {name}").collect()
    # update mode emits the running row once per (key, touched batch);
    # the fold is strictly monotone in (orders + items), so the final
    # state per day is the emission with the largest fold
    final: dict[str, dict] = {}
    for r in out:
        d = r.asDict()
        k = d["date_key"]
        if (
            k not in final
            or d["total_orders"] + d["total_items_sold"]
            > final[k]["total_orders"] + final[k]["total_items_sold"]
        ):
            final[k] = d
    return final, n_batches


def test_daily_kpi_running_fold_equals_batch(spark, tmp_path):
    from ecs_ecommerce_data_pipeline_spark.operators import kpis
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import ecommerce_views
    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        daily_kpi_rows,
    )

    t = ecommerce_views(spark, SF)
    orders, items = t["orders"], t["order_items"]
    rows = daily_kpi_rows(orders, items)

    final, n_batches = _run_stream(spark, tmp_path, rows, "kpi_tws")
    assert n_batches >= 3  # the fold actually crossed micro-batches

    batch = {
        str(r["date_key"]): r
        for r in kpis.daily_kpis(orders, items).collect()
    }
    # the batch query's grain is ORDER days (items_per_day left-joins
    # onto it); the running face also emits item-only days — those must
    # carry zero orders, and on the shared grain values are bitwise equal
    assert set(batch) <= set(final)
    for extra in set(final) - set(batch):
        assert final[extra]["total_orders"] == 0, extra
    for d, want in batch.items():
        got = final[d]
        assert got["total_orders"] == want["total_orders"], d
        assert got["total_items_sold"] == want["total_items_sold"], d
        assert got["unique_customers"] == want["unique_customers"], d
        # revenue folded as exact integer cents (the batch side casts
        # the exact decimal sum to DOUBLE — round to the nearest cent)
        want_cents = int(
            (Decimal(want["total_revenue"]) * 100).to_integral_value()
        )
        assert got["total_revenue_cents"] == want_cents, d
        # return_rate: the same integer division both sides
        got_rate = (
            got["returned_orders"] / got["total_orders"]
            if got["total_orders"]
            else 0.0
        )
        assert abs(got_rate - float(want["return_rate"])) < 1e-12, d


def test_daily_kpi_running_distinct_users_across_batches(spark, tmp_path):
    """User 7 orders twice on the same day, the two orders arrive in
    DIFFERENT micro-batches — unique_customers must still read 1 (the
    cross-batch user-id set), while total_orders reads 2."""
    rows = spark.createDataFrame(
        [
            ("2024-03-01", "order", 7, 1000, 0),
            ("2024-03-01", "order", 7, 2500, 1),
            ("2024-03-01", "order", 9, 500, 0),
            ("2024-03-01", "item", None, 0, 0),
            ("2024-03-01", "item", None, 0, 0),
        ],
        "date_key string, kind string, user_id long, revenue_cents bigint, "
        "returned long",
    )
    final, n_batches = _run_stream(
        spark, tmp_path, rows, "kpi_tws_distinct", n_files=5
    )
    assert n_batches >= 3
    got = final["2024-03-01"]
    assert got["total_orders"] == 3
    assert got["unique_customers"] == 2
    assert got["total_revenue_cents"] == 4000
    assert got["returned_orders"] == 1
    assert got["total_items_sold"] == 2
