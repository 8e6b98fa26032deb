"""End-to-end streaming KPI pipeline: the reference's whole control loop
(file arrival → completeness gate → incremental KPI recompute → keyed
upsert) as ONE Structured Streaming query.

The reference implements this loop across four AWS services (S3 events,
Lambda poll, DynamoDB conditional update, Step Functions dispatch —
``Lambda/lambda_function.py:45-265``, SURVEY §3.1). The Spark-native
re-expression:

* **arrival detection** — a file-source ``readStream`` over the orders
  drop directory; each discovered file set is a micro-batch
  (``Trigger.AvailableNow`` = "process everything that has arrived, then
  stop" — the poll cycle as a trigger mode);
* **incremental scope** — inside ``foreachBatch``, the micro-batch's
  distinct order dates (reference ``transform_task.py:389-399``) scope
  the recompute; the KPI query then partition-prunes the at-rest tables;
* **exactly-once** — two cooperating layers, mirroring the reference's
  ledger + idempotent keyed writes: the streaming checkpoint guarantees
  each file is *offered* once per query lineage, and the
  ``BatchLedger`` + dynamic partition overwrite make re-offers (after a
  checkpoint reset or a crash inside the batch) harmless re-runs that
  rewrite the same ``date_key`` partitions.

At 100 TB the stream only ever shuffles the new batch; the at-rest
orders/items inputs are read partition-pruned to the affected dates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.errors.exceptions.captured import AnalysisException

from ..operators import kpis
from ..plans.incremental import BatchLedger, target_dates, write_partitioned


def kpi_stream(
    orders_stream: DataFrame,
    orders_full: DataFrame,
    order_items_full: DataFrame,
    daily_out: str,
    checkpoint_dir: str,
    ledger: BatchLedger | None = None,
) -> StreamingQuery:
    """Start the availableNow KPI pipeline.

    ``orders_stream`` is a streaming DataFrame of newly arrived orders
    (the batch trigger); ``orders_full`` / ``order_items_full`` are the
    at-rest tables the KPIs aggregate (date-partitioned in production, so
    the incremental filter prunes partitions). Each affected ``date_key``
    partition of ``daily_out`` is atomically replaced.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        bid = f"microbatch-{batch_id}"
        if ledger is not None and not ledger.try_start(bid):
            return
        dates = target_dates(batch_df)
        if dates:
            daily = kpis.daily_kpis(
                orders_full, order_items_full, target_dates=dates
            )
            write_partitioned(daily, daily_out, "date_key")
        if ledger is not None:
            ledger.mark_done(bid)

    return (
        orders_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def kpi_state_stream(
    items_stream: DataFrame,
    orders_full: DataFrame,
    products: DataFrame,
    state_out: str,
    checkpoint_dir: str,
    ledger: BatchLedger | None = None,
) -> StreamingQuery:
    """Streaming mergeable-state maintenance: each micro-batch of newly
    arrived order items produces its partial-aggregate state
    (``incremental_agg.category_kpi_state``) from ONLY the batch rows and
    merges it into the at-rest state table — O(batch + affected state)
    per trigger, never a recompute over history (the scalable alternative
    to ``kpi_stream``'s scoped-recompute shape).

    Merge scope: only the ``order_date`` partitions present in the batch
    are read back, merged, and dynamically overwritten. Exactly-once is
    two layers deep, because a re-merge of the same delta WOULD
    double-count (unlike the recompute pipeline): the checkpoint dedups
    file offers and the ledger suppresses replays of batches marked
    done, and — since a crash between the state write committing and
    ``mark_done`` leaves the batch 'running', which the ledger would
    re-admit — the merge itself is idempotent: every state row carries
    the ``_applied_batch`` id that last merged into its partition, and a
    replay skips partitions already stamped with the current batch id
    (per-partition exactly-once even across ledger gaps).
    """
    from ..operators.incremental_agg import category_kpi_state, merge_kpi_states

    spark = orders_full.sparkSession

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        bid = f"state-microbatch-{batch_id}"
        if ledger is not None and not ledger.try_start(bid):
            return
        prepared = kpis.prepare_items(batch_df, orders_full, products)
        delta = category_kpi_state(prepared)
        dates = [r["order_date"] for r in delta.select("order_date").distinct().collect()]
        if dates:
            try:
                existing = spark.read.parquet(state_out).filter(
                    F.col("order_date").isin(dates)
                )
                # Idempotent replay: a partition stamped with THIS batch
                # id already holds the delta (crash landed between the
                # state write and mark_done) — merge only the rest.
                if "_applied_batch" in existing.columns:
                    done = {
                        r["order_date"]
                        for r in existing.filter(F.col("_applied_batch") == bid)
                        .select("order_date")
                        .distinct()
                        .collect()
                    }
                else:  # state predates the stamp column
                    done = set()
                remaining = [d for d in dates if d not in done]
                if not remaining:
                    merged = None
                else:
                    merged = merge_kpi_states([
                        existing.filter(F.col("order_date").isin(remaining)).drop(
                            "_applied_batch"
                        ),
                        delta.filter(F.col("order_date").isin(remaining)),
                    ])
            except AnalysisException:  # first batch: no state yet
                merged = delta
            if merged is not None:
                # break lineage before overwriting the path just read;
                # pin dynamic overwrite per-write so only the touched
                # date partitions swap regardless of session defaults
                merged.withColumn("_applied_batch", F.lit(bid)).localCheckpoint(
                    eager=True
                ).write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("order_date").parquet(state_out)
        if ledger is not None:
            ledger.mark_done(bid)

    return (
        items_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def daily_kpi_commit_stream(
    rows_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    writer: str = "kpi-stream",
    max_retries: int = 3,
    _pre_claim_hook=None,
) -> StreamingQuery:
    """Running daily KPIs written through the AUDITED exactly-once sink
    — the round-11 composition of the engine's two halves (round-10
    verdict task 4): per-day state lives in the keyed state store
    (``stateful.daily_kpi_running`` — no ledger, no ``_applied_batch``
    stamps, no hand-rolled overwrite choreography), and every trigger's
    updated day rows land via ``plans.incremental.merge_upsert``, i.e.
    through the sibling ``__commits`` write-audit with the
    version-claim conditional update.

    Multi-writer discipline (what the hand-folded ``kpi_state_stream``
    sink never had): a competing writer committing inside this
    trigger's read→promote window makes the claim fail — the merge
    rejects with :class:`ConcurrentWriteError` BEFORE touching any
    partition, the sink re-reads and retries (bounded by
    ``max_retries``), and both writers' rows land with no partial mix
    ever observable.  Two concurrent streams should pass distinct
    ``writer`` names (the write-audit records the writer per version).

    Replay safety: the running totals are state-store-backed (the
    streaming checkpoint replays the same emissions), and
    ``merge_upsert`` REPLACES by ``date_key`` — a replayed trigger
    re-lands identical day rows, so replays are idempotent without any
    stamping.  ``_pre_claim_hook`` is the deterministic race seam
    (first attempt only), as in the batch sink's tests.

    Checkpoint compatibility: the per-day state is kept by
    ``applyInPandasWithState``.  A checkpoint written while this sink
    ran on the former ``transformWithState`` (TWS) transport cannot
    be resumed — restart from a fresh ``checkpoint_dir``; the sink's
    replace-by-``date_key`` merge then re-lands each day's rows as the
    new stream re-folds them.

    Scale: per trigger the sink moves one row per TOUCHED day and
    rewrites only those days' partitions — O(affected days), never
    O(history); the state store carries O(days × users/day).  The key
    IS the partition column, so ``merge_upsert`` takes its direct
    partition-replace path (no target read, no staging copy), and the
    stateful plan executes once per trigger.
    """
    from ..plans.incremental import ConcurrentWriteError, merge_upsert
    from .stateful import daily_kpi_running

    updated = daily_kpi_running(rows_stream)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rows = batch_df.persist()
        try:
            # the ONE execution of the stateful plan this trigger: the
            # count fills the cache, and both the empty check and every
            # merge_upsert read (partition list, write, retries) are
            # served from it — an isEmpty() on the unpersisted batch
            # would re-run the state load + commit a second time
            if rows.count() == 0:
                return
            for attempt in range(max_retries + 1):
                try:
                    merge_upsert(
                        spark,
                        out_path,
                        rows,
                        ["date_key"],
                        partition_col="date_key",
                        writer=f"{writer}-t{batch_id}",
                        _pre_claim_hook=(
                            _pre_claim_hook if attempt == 0 else None
                        ),
                    )
                    return
                except ConcurrentWriteError:
                    if attempt == max_retries:
                        raise
        finally:
            rows.unpersist()

    return (
        updated.writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def scd2_stream(
    updates_stream: DataFrame,
    dim_path: str,
    checkpoint_path: str,
    key: str,
    attrs: list[str],
    eff_col: str = "eff_date",
):
    """Streaming SCD2 dimension maintenance: each micro-batch of change
    rows is applied to the parquet-backed dimension with the batch
    ``scd2_apply`` (close current version, open new one, insert new
    keys) inside ``foreachBatch``.

    Semantics contract with the batch path: applying batches B1..Bn in
    stream order equals one batch ``scd2_apply`` per batch in the same
    order — proven in ``tests/test_streaming.py`` by replaying the same
    updates through both paths. Late/duplicate-in-batch rows are deduped
    to latest-per-key (max eff, then attr tie-break) before the apply,
    mirroring the operator's at-most-one-row-per-key requirement.

    Scale: per trigger cost is O(|dim| + |batch|) — the dimension is
    rewritten once per batch (plain parquet has no row-level update);
    on a table format with MERGE (or the engine's partition-scoped
    ``merge_upsert``) only touched partitions rewrite. Checkpoint +
    full-rewrite keeps restarts idempotent: re-applying an already-
    applied batch is a no-op because closed versions no longer match.
    """
    from pyspark.sql import Window

    from ..operators.scd import scd2_apply

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        import os as _os
        import shutil as _shutil

        spark = batch_df.sparkSession
        # Crash recovery: the staged swap below is two renames, not one
        # atomic step — a crash between them leaves the dimension parked
        # in __scd2_old with dim_path missing. Restore it before reading.
        old_dir = dim_path.rstrip("/") + "__scd2_old"
        if not _os.path.exists(dim_path) and _os.path.exists(old_dir):
            _os.replace(old_dir, dim_path)
        if batch_df.isEmpty():
            return
        w = Window.partitionBy(key).orderBy(
            F.desc(eff_col), *[F.desc(a) for a in attrs]
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        dim = spark.read.parquet(dim_path)
        new_dim = scd2_apply(dim, latest, key, attrs, eff_col=eff_col)
        # plain parquet: stage the rewrite, then swap via two renames
        # (NOT one atomic step — the entry-time recovery above handles a
        # crash between them; a direct overwrite of dim_path would
        # delete-then-rewrite, and a crash in between loses the
        # dimension with nothing to recover from)
        staged = dim_path.rstrip("/") + "__scd2_staging"
        _shutil.rmtree(staged, ignore_errors=True)
        new_dim.write.mode("overwrite").parquet(staged)
        _shutil.rmtree(old_dir, ignore_errors=True)
        _os.replace(dim_path, old_dir)
        _os.replace(staged, dim_path)
        _shutil.rmtree(old_dir, ignore_errors=True)

    return (
        updates_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_apply)
        .start()
    )


def lsh_dedup_stream(
    docs_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    ledger: BatchLedger | None = None,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int = 50,
    shingle_k: int = 3,
):
    """Streaming near-duplicate detection: each micro-batch of newly
    arrived documents is LSH-checked against the ENTIRE corpus seen so
    far — the streaming face of ``operators.dedup.
    incremental_lsh_candidates``.

    Per trigger:

    1. MinHash-sign the batch docs (O(batch));
    2. candidates = incremental LSH against the persisted signature
       store — only buckets containing a batch doc do pair work, so
       per-batch cost tracks the batch, not the corpus;
    3. append the batch's candidate pairs to ``out_path`` and the
       batch's signatures to ``store_path``.

    Exactly-once: the checkpoint dedups file offers; both outputs are
    written as ``_batch_id``-PARTITIONED dynamic overwrites, so a
    crash-window replay rewrites exactly its own partition — idempotent
    by construction, no append duplication. The store read additionally
    filters ``_batch_id < current`` so a partially-persisted crashed
    batch can never pair against itself.
    """
    from ..operators.dedup import (
        incremental_lsh_candidates,
        minhash_signatures,
        shingle_docs,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        bid = f"lsh-microbatch-{batch_id}"
        if ledger is not None and not ledger.try_start(bid):
            return
        if batch_df.isEmpty():
            if ledger is not None:
                ledger.mark_done(bid)
            return
        spark = batch_df.sparkSession
        sigs = minhash_signatures(
            shingle_docs(batch_df, k=shingle_k), num_hashes=num_hashes
        ).localCheckpoint(eager=True)  # signed once; reused twice below
        new = sigs.withColumn("is_new", F.lit(1))
        try:
            old = (
                spark.read.parquet(store_path)
                .filter(F.col("_batch_id") < batch_id)
                .drop("_batch_id")
                # re-ingest of a known doc_id: the batch's signature wins
                # (content may have changed) and the store copy leaves the
                # union — otherwise the same id sits on both sides and
                # every (id, other) pair double-emits before the distinct
                .join(
                    F.broadcast(new.select("doc_id")), "doc_id", "left_anti"
                )
                .withColumn("is_new", F.lit(0))
            )
            union = old.unionByName(new)
        except AnalysisException:  # first batch: empty corpus
            union = new
        cands = incremental_lsh_candidates(
            union,
            num_hashes=num_hashes,
            band_size=band_size,
            max_bucket=max_bucket,
        )
        for frame, path in ((cands, out_path), (sigs, store_path)):
            frame.withColumn("_batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(
                "_batch_id"
            ).parquet(path)
        if ledger is not None:
            ledger.mark_done(bid)

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
