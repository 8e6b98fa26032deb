"""Keyed-state streaming operators.

The reference's only cross-batch state is its DynamoDB batch ledger
(arrival flags + exactly-once trigger, ``Lambda/lambda_function.py:99-265``)
— state lives *outside* the engine. Spark's arbitrary-stateful-processing
API brings that state inside the stream: per-key state rows survive
across micro-batches in the state store (checkpointed, fault-tolerant),
and the update function sees Arrow-batched pandas frames per key.

Scale design: state is partitioned by the grouping key across executors;
each micro-batch shuffles only that batch's rows to their key's
partition (state itself never moves). Keys with no new rows cost
nothing. State size is O(distinct keys × state row width) — for the
running-totals operator below, two numbers per user.

Two shapes of state, both on the session's configured state store
(HDFS-backed by default):

* ``daily_kpi_running`` is a plain aggregate (integer sums and an exact
  distinct count per day), so it is a native streaming ``groupBy().agg()``
  whose state the JVM folds — no Python worker runs for it;
* every other operator here keeps state no built-in aggregation mode
  expresses (a top-k list, a category map, open sessions with
  timeouts) or, for ``user_running_totals``, a ``groupState`` layout
  the offline state-store reader audits, and has exactly one Python
  transport, ``applyInPandasWithState``.

Checkpoints written by the former ``transformWithState`` (TWS)
transport (RocksDB store, typed state variables) cannot be resumed by
these operators, and neither can a ``daily_kpi_running`` checkpoint
written while it ran on ``applyInPandasWithState``: the stateful
operator recorded in the checkpoint differs, so the query fails when
it starts (``STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA``).
Restart such a query from a fresh checkpoint location;
``kpi_stream.daily_kpi_commit_stream``'s replace-by-``date_key`` merge
then re-lands every day's rows.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update_running_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows for one user into the persisted
    (n_events, total_value) state and emit the new running totals."""
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (event count, value sum) maintained across
    micro-batches — a custom stateful operator no built-in aggregation
    mode expresses (each batch must emit the *cumulative* row per user
    seen in that batch, in update mode).

    Input: streaming events with (user_id, value). Output: one row per
    (micro-batch, user-with-new-events).
    """
    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _update_running_totals,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_ms", LongType()),
        StructField("session_end_ms", LongType()),
        StructField("n_events", LongType()),
        StructField("closed", BooleanType()),
    ]
)

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("last_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _update_sessions(gap_ms: int):
    """Build the per-key session fold. A closure so the gap rides into
    the worker inside the function object (no module import needed)."""
    import pandas as _pd

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = []
        if state.hasTimedOut:
            # watermark passed start of the silence gap: emit + drop
            start, last, n = state.get
            rows.append((key[0], start, last, n, True))
            state.remove()
            yield _pd.DataFrame(
                rows,
                columns=[
                    "user_id", "session_start_ms", "session_end_ms",
                    "n_events", "closed",
                ],
            )
            return
        ts = []
        for pdf in pdfs:
            ts.extend(int(v) for v in pdf["ts_ms"])
        ts.sort()
        if not ts and not state.exists:
            # defensive: a key invoked with neither rows nor state has
            # nothing to fold and no session to emit
            return
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = ts[0], ts[0] - 1, 0
        for t in ts:
            if t <= last:
                # late arrival inside the open session (the state API does
                # NOT watermark-filter inputs): count it, but never move
                # `last` backward — a regressed `last` would both split the
                # session on the next on-time event and set a timeout below
                # the watermark (which kills the query)
                n += 1
                continue
            if t - last > gap_ms and n > 0:
                rows.append((key[0], start, last, n, True))
                start, n = t, 0
            last = t
            n += 1
        state.update((start, last, n))
        # keep the open session alive until the watermark clears the gap;
        # clamped: setTimeoutTimestamp rejects values <= current watermark
        state.setTimeoutTimestamp(
            max(last + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        rows.append((key[0], start, last, n, False))
        yield _pd.DataFrame(
            rows,
            columns=[
                "user_id", "session_start_ms", "session_end_ms",
                "n_events", "closed",
            ],
        )

    return update


def user_sessions_stateful(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Custom stateful sessionizer: gap-based sessions folded across
    micro-batches with event-time timeout.

    Why not ``F.session_window``? The built-in emits only closed,
    fully-aggregated windows in append mode. This operator ALSO emits the
    open session per key each batch (``closed = false``) — the "live
    session so far" view a dashboard needs — then a final ``closed =
    true`` row when the watermark passes ``last_event + gap`` (the
    ``hasTimedOut`` branch). No built-in mode expresses that.

    Scale: state is one (start, last, n) triple per ACTIVE user —
    dormant keys are evicted by the timeout, so state size tracks
    concurrent activity, not corpus cardinality. Each batch shuffles
    only its own rows to the key's state partition.

    Watermark contract: callers must ``withWatermark("ts", ...)`` before
    this operator — ``EventTimeTimeout`` requires it; timestamps are
    folded as epoch millis to keep state fixed-width.
    """
    gap_ms = _parse_gap_ms(gap)
    prepared = events.select(
        "user_id",
        "ts",
        (F.unix_millis(F.col("ts"))).alias("ts_ms"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_sessions(gap_ms),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _parse_gap_ms(gap: str) -> int:
    qty, unit = gap.split()
    mult = {
        "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit]
    return int(qty) * mult


TOPK_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("rnk", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


_TOPK_STATE_SCHEMA = StructType(
    [
        StructField("event_ids", ArrayType(LongType())),
        StructField("values", ArrayType(DoubleType())),
    ]
)


def user_topk_events(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user top-k events by value, maintained across micro-batches.

    The per-key state holds AT MOST k (event_id, value) pairs as two
    parallel arrays — each batch merges its rows into the kept top-k
    and re-emits the key's current leaderboard (update mode), so state
    size is O(keys · k) regardless of stream length, and dormant keys
    cost nothing per batch.

    Determinism: ordering is (value desc, event_id asc) — a total order,
    so the leaderboard is independent of batch arrival interleaving
    within the same event set.
    """
    kk = int(k)

    def update(key, pdfs, state):
        import pandas as _pd

        cur: list[tuple[int, float]] = []
        if state.exists:
            ids, vals = state.get
            cur = list(zip((int(i) for i in ids), (float(v) for v in vals)))
        for pdf in pdfs:
            for eid, val in zip(pdf["event_id"], pdf["value"]):
                cur.append((int(eid), 0.0 if _pd.isna(val) else float(val)))
        cur.sort(key=lambda t: (-t[1], t[0]))
        cur = cur[:kk]
        state.update(([eid for eid, _ in cur], [val for _, val in cur]))
        uid = int(key[0])
        yield _pd.DataFrame(
            {
                "user_id": [uid] * len(cur),
                "rnk": list(range(1, len(cur) + 1)),
                "event_id": [eid for eid, _ in cur],
                "value": [val for _, val in cur],
            }
        )

    return (
        events.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=TOPK_SCHEMA,
            stateStructType=_TOPK_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- running daily KPIs in the engine's keyed state store ------------------

# the output contract of daily_kpi_running
DAILY_KPI_SCHEMA = StructType(
    [
        StructField("date_key", StringType()),
        StructField("total_orders", LongType()),
        StructField("total_revenue_cents", LongType()),
        StructField("total_items_sold", LongType()),
        StructField("returned_orders", LongType()),
        StructField("unique_customers", LongType()),
    ]
)


def daily_kpi_running(rows: DataFrame) -> DataFrame:
    """Running DailyKPIs maintained by the ENGINE's keyed state store —
    the processor-API face of ``kpi_stream.kpi_state_stream`` (which
    folds partial-aggregate state into a parquet table by hand inside
    ``foreachBatch``).  Here state eviction, checkpointing, and replay
    are the state store's business, not the pipeline's: no ledger, no
    ``_applied_batch`` stamps, no dynamic-overwrite choreography.

    Input grain (the ``daily_kpi_rows`` contract): one row per ORDER
    (kind='order': order_id, user_id, revenue_cents = the order's item
    revenue in exact cents, returned flag) plus one row per ITEM at the
    item's own created date (kind='item') — exactly the two scans
    ``operators.kpis.daily_kpis`` aggregates.  Every row whose kind is
    not 'order' (a null kind included) counts as an item; revenue,
    returned orders and customers come from order rows only, skipping
    nulls; an item-only day reads zeros, never nulls.

    A plain streaming aggregation keyed by ``date_key`` in update mode:
    the per-day state (four integer sums and the exact customer set
    behind ``size(collect_set(user_id))``) lives in the JVM state store,
    so a trigger starts no Python worker.  Output: ``DAILY_KPI_SCHEMA``
    (pinned by ``tests/test_state_transport_guard.py``).

    Fold-equals-batch (pinned in ``tests/test_round10_tws_kpis.py``):
    after any micro-batch split of the same input, the last emission
    per day equals ``daily_kpis`` on the full input — counts and cents
    are exact integers, so equality is bitwise."""
    is_order = F.col("kind") == "order"

    def order_sum(col: str):
        return F.coalesce(F.sum(F.when(is_order, F.col(col))), F.lit(0))

    return rows.groupBy(F.col("date_key").cast("string").alias("date_key")).agg(
        F.sum(F.when(is_order, 1).otherwise(0)).alias("total_orders"),
        order_sum("revenue_cents").cast("long").alias("total_revenue_cents"),
        # a null kind fails the test too, so it lands in otherwise(1)
        F.sum(F.when(is_order, 0).otherwise(1)).alias("total_items_sold"),
        order_sum("returned").cast("long").alias("returned_orders"),
        F.size(F.collect_set(F.when(is_order, F.col("user_id"))))
        .cast("long")
        .alias("unique_customers"),
    )


def daily_kpi_rows(orders: DataFrame, order_items: DataFrame) -> DataFrame:
    """The order-grain + item-grain input frame
    :func:`daily_kpi_running` folds — built from the same joins
    ``operators.kpis.daily_kpis`` runs (per-order item revenue, order's
    created date; item rows at the ITEM's created date).  Batch-side
    helper: in production the stream source delivers this grain
    directly (an order event with its line-item total); in tests it
    builds the fixture whose micro-batch splits must fold to the batch
    truth.  Revenue rides as exact cents (DECIMAL(18,2)·100 → BIGINT)
    so every stream-side add is integer-exact."""
    from ..functions.numeric import MONEY
    from ..operators.kpis import with_optional_column

    orders = with_optional_column(orders, "returned_at", "timestamp")
    # exact cents straight off the DECIMAL(18,2) sum — routing through
    # money_sum's DOUBLE here would truncate an ulp at *100
    rev = order_items.groupBy("order_id").agg(
        (F.sum(F.col("sale_price").cast(MONEY)) * 100)
        .cast("bigint")
        .alias("revenue_cents")
    )
    order_rows = (
        orders.join(rev, "order_id", "left")
        .na.fill(0, subset=["revenue_cents"])
        .select(
            F.to_date("created_at").cast("string").alias("date_key"),
            F.lit("order").alias("kind"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("revenue_cents"),
            F.when(F.col("returned_at").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("returned"),
        )
    )
    item_rows = order_items.select(
        F.to_date("created_at").cast("string").alias("date_key"),
        F.lit("item").alias("kind"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(0).cast("bigint").alias("revenue_cents"),
        F.lit(0).cast("long").alias("returned"),
    )
    return order_rows.unionByName(item_rows)


SPEND_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("category", StringType()),
        StructField("orders", LongType()),
        StructField("spend_cents", LongType()),
    ]
)

_SPEND_STATE_SCHEMA = StructType(
    [
        StructField("categories", ArrayType(StringType())),
        StructField("orders", ArrayType(LongType())),
        StructField("cents", ArrayType(LongType())),
    ]
)


def user_category_spend_running(
    rows: DataFrame, emit_full_map: bool = False
) -> DataFrame:
    """Running per-(user, category) spend on keyed state.

    The state carries ONE struct per user, so the per-user map
    (category → totals) rides as parallel sorted arrays rewritten
    wholesale every trigger the user is touched — state I/O is
    O(categories of that user) per touched user.

    Input grain: one row per purchased item/order line —
    (user_id, category, spend_cents).  Emission (update mode): for
    every (user, category) touched this trigger, that category's
    current running (orders, spend_cents); with ``emit_full_map`` the
    whole map re-emits per touched user (bounded by that user's
    category count).  Pinned against a batch ``groupBy`` in
    ``tests/test_stateful_fixtures.py``.
    """
    full = bool(emit_full_map)

    def update(key, pdfs, state: GroupState):
        cur: dict[str, tuple[int, int]] = {}
        if state.exists:
            cats, orders, cents = state.get
            for c, o, s in zip(cats, orders, cents):
                cur[str(c)] = (int(o), int(s))
        touched: dict[str, tuple[int, int]] = {}
        for pdf in pdfs:
            for cat, cents_v in zip(pdf["category"], pdf["spend_cents"]):
                o, c = touched.get(str(cat), (0, 0))
                touched[str(cat)] = (o + 1, c + int(cents_v))
        for cat, (do, dc) in touched.items():
            po, pc = cur.get(cat, (0, 0))
            cur[cat] = (po + do, pc + dc)
        cats_sorted = sorted(cur)
        state.update(
            (
                cats_sorted,
                [cur[c][0] for c in cats_sorted],
                [cur[c][1] for c in cats_sorted],
            )
        )
        emit = cats_sorted if full else sorted(touched)
        uid = int(key[0])
        yield pd.DataFrame(
            {
                "user_id": [uid] * len(emit),
                "category": emit,
                "orders": [cur[c][0] for c in emit],
                "spend_cents": [cur[c][1] for c in emit],
            }
        )

    return (
        rows.select("user_id", "category", "spend_cents")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SPEND_SCHEMA,
            stateStructType=_SPEND_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
