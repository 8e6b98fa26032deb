"""The benchmark's three closed-loop, one-client workloads.

* ``kpi_reports`` — the reference KPI and validation queries plus TPC-H
  q1-q22: Catalyst/JVM-bound scans, joins and shuffles.
* ``curation_search`` — LLM-data curation and search operators: eager
  plan-time jobs, Python kernels and the session index cache.
* ``daily_ingest`` — the reference pipeline: one-day batches appended to
  an at-rest store, ``plans.incremental.process_batch`` and one
  availableNow trigger of ``streaming.kpi_stream.daily_kpi_commit_stream``.

A workload exposes ``setup()``, ``passes`` of operations, ``run_op(op)``
(the timed part) and ``check()`` (outputs against an independent
computation, run after the timed loop).
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import datagen

KPI_QUERIES = [
    "daily_kpis",
    "category_kpis",
    "order_revenue",
    "category_kpis_corrected",
    "prepared_items",
    "validation_null_counts",
    "validation_referential_integrity",
] + [
    f"tpch_q{i}_{s}"
    for i, s in enumerate(
        [
            "pricing_summary", "min_cost_supplier", "shipping_priority",
            "order_priority", "local_supplier_volume", "revenue_forecast",
            "volume_shipping", "market_share", "product_profit",
            "returned_items", "important_values", "shipping_tiers",
            "customer_distribution", "promo_effect", "top_supplier",
            "supplier_counts", "small_quantity", "large_volume",
            "discounted_revenue", "dominant_suppliers", "waiting_supplier",
            "dormant_customers",
        ],
        start=1,
    )
]

# at least one query into each operator module the workload is about
CURATION_QUERIES = [
    "text_gopher_rules",  # operators.text
    "chunk_documents",  # operators.curation
    "dedup_minhash_candidates",  # operators.dedup
    "graph_pagerank_purchases",  # operators.graph, single-task gate
    "sim_fps_seeds",  # operators.similarity, single-task gate
    "bm25_retrieval",  # operators.retrieval
    "bpe_encode_corpus",  # operators.bpe
    "multimodal_image_neardup",  # operators.multimodal
]


@dataclass
class Op:
    name: str
    arg: object = None


@dataclass
class Context:
    """What the runner hands a workload."""

    spark: object
    seed: int
    sf: float | None
    data_dir: str
    work_dir: str
    tracer: object
    # Spark job groups of the operation in flight (the runner sets the
    # op's own group; a workload adds the groups its streams run under)
    job_groups: list[str] = field(default_factory=list)


class QueryWorkload:
    """Catalog queries at one scale factor; an op is plan build plus the
    noop-sink execution of one query.

    Set-up runs every query once, collecting its result and comparing it
    with the query's DuckDB oracle over the same parquet files (exact,
    after canonical row and column ordering): that pass is both the
    codegen warm-up and the output check."""

    queries: list[str] = []

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.input_bytes = 0
        self.verdicts: dict[str, str | None] = {}
        self.setup_detail: dict[str, float] = {}

    def make_inputs(self) -> None:
        self.input_bytes = datagen.write_star_schema(
            self.ctx.data_dir, self.ctx.seed, self.ctx.sf
        )

    def setup(self) -> None:
        from ecs_ecommerce_data_pipeline_spark import catalog
        from tests.oracle_utils import compare, duckdb_con

        self.catalog = catalog.queries()
        oracles = catalog.oracle_sql()
        con = duckdb_con(self.ctx.data_dir)
        try:
            for q in self.queries:
                t0 = time.perf_counter()
                try:
                    compare(self.build(Op(q)), oracles[q], con, q)
                    self.verdicts[q] = None
                except Exception as e:  # noqa: BLE001 — recorded as a failed output check
                    self.verdicts[q] = f"{type(e).__name__}: {str(e)[:300]}"
                self.setup_detail[q] = time.perf_counter() - t0
        finally:
            con.close()

    def next_pass(self) -> list[Op]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return [Op(q) for q in order]

    def build(self, op: Op):
        with self.ctx.tracer.span("queries.build", "queries"):
            return self.catalog[op.name](self.ctx.spark, self.ctx.data_dir)

    def run_op(self, op: Op) -> dict:
        self.build(op).write.format("noop").mode("overwrite").save()
        return {}

    def check(self) -> dict[str, str | None]:
        return self.verdicts

    def stored_bytes(self) -> int:
        return 0


class KpiReports(QueryWorkload):
    queries = KPI_QUERIES


class CurationSearch(QueryWorkload):
    queries = CURATION_QUERIES


# -- daily ingest ------------------------------------------------------------

REQUIRED = {
    "orders": ["order_id", "user_id", "created_at"],
    "order_items": ["order_id", "product_id", "sale_price", "created_at"],
    "products": ["id", "category"],
}


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _partition_files(path: str) -> dict[str, frozenset[str]]:
    """Partition directory -> its data file names."""
    out: dict[str, frozenset[str]] = {}
    if not os.path.isdir(path):
        return out
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if "=" in d and os.path.isdir(full):
            out[d] = frozenset(f for f in os.listdir(full) if f.endswith(".parquet"))
    return out


class DailyIngest:
    """Replay of one-day batches through the reference pipeline.

    Set-up lands ``HISTORY_DAYS`` days of history and runs them through
    the same three steps as one bootstrap batch, which also warms every
    code path a day batch takes. An op is one later
    day: from its files landing until both KPI tables and the stream
    sink are current. The output check runs after the timed loop."""

    HISTORY_DAYS = 60
    MAX_DAYS = 400
    ORDERS_PER_DAY = 200
    N_USERS = 3_000
    N_PRODUCTS = 2_000

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        w = ctx.work_dir
        self.landing = os.path.join(w, "landing")
        self.store_orders = os.path.join(w, "store", "orders")
        self.store_items = os.path.join(w, "store", "order_items")
        self.sinks = os.path.join(w, "sinks")
        self.daily_out = os.path.join(self.sinks, "daily_kpis")
        self.category_out = os.path.join(self.sinks, "category_kpis")
        self.stream_out = os.path.join(self.sinks, "daily_kpi_stream")
        self.stream_src = os.path.join(w, "stream_src")
        self.checkpoint = os.path.join(w, "checkpoints", "daily_kpi_stream")
        self.products_path = os.path.join(w, "products.parquet")
        self.day = 0
        self.batches: list[str] = []
        self.input_bytes = 0

    def make_inputs(self) -> None:
        self.days = datagen.ingest_days(
            self.ctx.seed,
            self.HISTORY_DAYS + self.MAX_DAYS,
            self.ORDERS_PER_DAY,
            self.N_USERS,
            self.N_PRODUCTS,
        )
        os.makedirs(self.ctx.work_dir, exist_ok=True)
        pq.write_table(
            datagen.ingest_products(self.ctx.seed, self.N_PRODUCTS), self.products_path
        )

    def _land(self, batch_id: str, days: range) -> str:
        """Write the batch's files to the landing zone (plain parquet,
        outside Spark, as an upstream exporter would)."""
        import pyarrow as pa

        d = os.path.join(self.landing, batch_id)
        os.makedirs(d, exist_ok=True)
        orders = pa.concat_tables([self.days[i][0] for i in days])
        items = pa.concat_tables([self.days[i][1] for i in days])
        pq.write_table(orders, os.path.join(d, "orders.parquet"))
        pq.write_table(items, os.path.join(d, "order_items.parquet"))
        self.input_bytes += _du(d)
        return d

    def setup(self) -> None:
        spark = self.ctx.spark
        self.products = spark.read.parquet(self.products_path)
        from ecs_ecommerce_data_pipeline_spark.plans.incremental import (
            BatchLedger,
            RunStatusLog,
        )

        self.ledger = BatchLedger(os.path.join(self.ctx.work_dir, "ledger.json"))
        self.status_log = RunStatusLog(os.path.join(self.ctx.work_dir, "status.jsonl"))
        self._ingest("history", self._land("history", range(self.HISTORY_DAYS)))
        self.day = self.HISTORY_DAYS

    def next_pass(self) -> list[Op]:
        if self.day >= self.HISTORY_DAYS + self.MAX_DAYS:
            raise RuntimeError("daily_ingest ran out of generated days")
        batch_id = f"day-{self.day:04d}"
        path = self._land(batch_id, range(self.day, self.day + 1))
        self.day += 1
        return [Op(batch_id, path)]

    def run_op(self, op: Op) -> dict:
        return self._ingest(op.name, op.arg)

    def _ingest(self, batch_id: str, landed: str) -> dict:
        from ecs_ecommerce_data_pipeline_spark.plans.incremental import process_batch
        from ecs_ecommerce_data_pipeline_spark.streaming.kpi_stream import (
            daily_kpi_commit_stream,
        )
        from ecs_ecommerce_data_pipeline_spark.streaming.stateful import daily_kpi_rows

        spark = self.ctx.spark
        tracer = self.ctx.tracer
        before = {p: _partition_files(p) for p in (self.daily_out, self.category_out, self.stream_out)}

        new_orders = spark.read.parquet(os.path.join(landed, "orders.parquet"))
        new_items = spark.read.parquet(os.path.join(landed, "order_items.parquet"))
        with tracer.span("ingest.append", "ingest"):
            new_orders.write.mode("append").parquet(self.store_orders)
            new_items.write.mode("append").parquet(self.store_items)

        ok = process_batch(
            spark,
            self.ledger,
            batch_id,
            spark.read.parquet(self.store_orders),
            spark.read.parquet(self.store_items),
            self.products,
            self.daily_out,
            self.category_out,
            new_orders=new_orders,
            required=REQUIRED,
            status_log=self.status_log,
        )
        if not ok:
            raise RuntimeError(f"process_batch refused batch {batch_id}")
        self.batches.append(batch_id)

        rows = daily_kpi_rows(new_orders, new_items)
        with tracer.span("ingest.stream_rows", "ingest"):
            rows.write.mode("append").parquet(self.stream_src)
        with tracer.span("streaming.trigger", "streaming"):
            stream = spark.readStream.schema(rows.schema).parquet(self.stream_src)
            q = daily_kpi_commit_stream(stream, self.stream_out, self.checkpoint, writer="bench")
            self.ctx.job_groups.append(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"KPI stream failed: {q.exception()}")

        stats = {
            "progress": [json.loads(p.json) for p in q.recentProgress],
            "partitions_rewritten": 0,
            "files_written": 0,
        }
        for p, old in before.items():
            for part, files in _partition_files(p).items():
                if files != old.get(part):
                    stats["partitions_rewritten"] += 1
                    stats["files_written"] += len(files - old.get(part, frozenset()))
        return stats

    def check(self) -> dict[str, str | None]:
        """Both KPI sinks against a full recompute over the final at-rest
        store, the stream sink against the same recompute, and every
        batch marked done in the ledger."""
        from ecs_ecommerce_data_pipeline_spark.operators import kpis
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        out: dict[str, str | None] = {}
        orders = spark.read.parquet(self.store_orders)
        items = spark.read.parquet(self.store_items)

        def rows(df) -> list[tuple]:
            pdf = df.toPandas()
            pdf = pdf.reindex(sorted(pdf.columns), axis=1)
            return sorted(tuple(str(v) for v in r) for r in pdf.itertuples(index=False))

        def same(name: str, got, want) -> None:
            g, w = rows(got), rows(want)
            if g == w:
                out[name] = None
                return
            diff = next((a, b) for a, b in zip(g + [()], w + [()]) if a != b)
            out[name] = f"{name}: {len(g)} sink rows vs {len(w)} recomputed, first diff {diff}"

        daily_want = kpis.daily_kpis(orders, items)
        daily_got = spark.read.parquet(self.daily_out)
        cols = daily_want.columns
        same(
            "daily_kpis_sink",
            daily_got.withColumn("date_key", F.col("date_key").cast("string")).select(cols),
            daily_want.withColumn("date_key", F.col("date_key").cast("string")).select(cols),
        )

        prepared = kpis.prepare_items(items, orders, self.products)
        cat_want = kpis.category_kpis(prepared).withColumn("date_key", F.col("order_date")).drop("order_date")
        cat_got = spark.read.parquet(self.category_out)
        ccols = sorted(cat_want.columns)
        same(
            "category_kpis_sink",
            cat_got.withColumn("date_key", F.col("date_key").cast("string")).select(ccols),
            cat_want.withColumn("date_key", F.col("date_key").cast("string")).select(ccols),
        )

        stream_got = spark.read.parquet(self.stream_out).filter("total_orders > 0").select(
            F.col("date_key").cast("string").alias("date_key"),
            "total_orders",
            F.col("total_revenue_cents").alias("revenue_cents"),
            "total_items_sold",
            F.round(F.col("returned_orders") / F.col("total_orders"), 12).alias("return_rate"),
            "unique_customers",
        )
        stream_want = daily_want.select(
            F.col("date_key").cast("string").alias("date_key"),
            "total_orders",
            (F.col("total_revenue").cast("decimal(18,2)") * 100).cast("bigint").alias("revenue_cents"),
            "total_items_sold",
            F.round(F.col("return_rate").cast("double"), 12).alias("return_rate"),
            "unique_customers",
        )
        same("daily_kpi_stream_sink", stream_got, stream_want)

        pending = [b for b in self.batches if self.ledger.status(b) != "done"]
        out["ledger"] = None if not pending else f"ledger: batches not done: {pending[:5]}"
        return out

    def stored_bytes(self) -> int:
        return _du(self.sinks) + _du(os.path.join(self.ctx.work_dir, "checkpoints"))


WORKLOADS = {
    "kpi_reports": KpiReports,
    "curation_search": CurationSearch,
    "daily_ingest": DailyIngest,
}
