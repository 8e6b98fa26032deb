"""Incremental recompute + idempotent batch orchestration.

Replaces the reference's entire AWS control plane (SURVEY §3.1):

* Lambda completeness gate + DynamoDB ``BatchFileTracker`` conditional
  update (``Lambda/lambda_function.py:99-265``)  →  ``BatchLedger``, a
  tiny JSON ledger with the same exactly-once semantics (mark-running →
  process → mark-done; reruns of done batches are no-ops).
* S3 prefix choreography (raw/validated/processed)  →  date-partitioned
  Parquet + dynamic partition overwrite: recomputing a date atomically
  replaces exactly that date's partition
  (``spark.sql.sources.partitionOverwriteMode=dynamic``, set in
  ``session.get_spark``).
* Target-date discovery (``transform_task.py:389-399``)  →
  ``target_dates``: distinct order dates in the incoming batch; the KPI
  recompute then filters on those dates, which Catalyst turns into
  partition pruning against the partitioned store.

At 100 TB: a daily batch touches a bounded set of ``date_key``
partitions; recompute cost is O(batch), not O(history) — the single
biggest scale win over the reference, which re-reads all history every
run (``transform_task.py:409-413``).
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import os
import tempfile
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import kpis
from ..operators.validation import ValidationResult, validate_batch

logger = logging.getLogger(__name__)


class BatchLedger:
    """Idempotent batch ledger: the engine twin of the reference's
    DynamoDB conditional-update exactly-once gate
    (``lambda_function.py:174,250-265``).

    File-backed JSON (one small control file — NOT data-plane state; on a
    cluster this would live in any transactional store). States:
    absent → running → done.
    """

    def __init__(self, path: str):
        self.path = path

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as fh:
                return json.load(fh)
        return {}

    def _save(self, state: dict) -> None:
        d = os.path.dirname(self.path) or "."
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, self.path)  # atomic on POSIX

    def try_start(self, batch_id: str) -> bool:
        """Returns False if the batch already ran (exactly-once trigger,
        mirroring the DynamoDB ConditionExpression)."""
        state = self._load()
        if state.get(batch_id) == "done":
            return False
        state[batch_id] = "running"
        self._save(state)
        return True

    def mark_done(self, batch_id: str) -> None:
        state = self._load()
        state[batch_id] = "done"
        self._save(state)

    def mark_failed(self, batch_id: str) -> None:
        """A failed batch stays retryable: ``try_start`` only refuses
        ``done`` batches, so the next run re-attempts it (the reference's
        Step Functions retry-from-failed semantics)."""
        state = self._load()
        state[batch_id] = "failed"
        self._save(state)

    def status(self, batch_id: str) -> str | None:
        return self._load().get(batch_id)


RUN_STATUS_SCHEMA = (
    "batch_id string, stage string, status string, reasons array<string>, "
    "ts timestamp"
)


class RunStatusLog:
    """Queryable pipeline run status — the engine analogue of the
    reference's SNS failure notifications (the step function routes every
    stage failure to an alerting topic,
    ``infra/step-function-definition.json:86-97,169-181``).

    Instead of pushing opaque messages to a topic, each stage transition
    appends one JSON line to a control file (same storage class as
    ``BatchLedger`` — tiny, driver-side, transactional-store-shaped) and
    the whole history reads back as a DataFrame, so "which batches failed
    validation this week and why" is a query, not a log dive.
    """

    def __init__(self, path: str):
        self.path = path

    def record(
        self,
        batch_id: str,
        stage: str,
        status: str,
        reasons: list[str] | None = None,
    ) -> None:
        entry = {
            "batch_id": batch_id,
            "stage": stage,
            "status": status,
            "reasons": reasons or [],
            "ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }
        with open(self.path, "a") as fh:
            fh.write(json.dumps(entry) + "\n")

    def to_df(self, spark: SparkSession) -> DataFrame:
        """The run-status table: (batch_id, stage, status, reasons, ts)."""
        if not os.path.exists(self.path):
            return spark.createDataFrame([], RUN_STATUS_SCHEMA)
        df = spark.read.schema(RUN_STATUS_SCHEMA).json(self.path)
        return df


def target_dates(new_orders: DataFrame, created_col: str = "created_at") -> list[str]:
    """Distinct order dates in the incoming batch (reference A5,
    ``transform_task.py:397-399``). The one intentional driver boundary:
    result cardinality = #dates in the batch (tiny)."""
    rows = (
        new_orders.select(F.to_date(created_col).cast("string").alias("d"))
        .distinct()
        .collect()
    )
    return sorted(r["d"] for r in rows)


def write_partitioned(df: DataFrame, path: str, partition_col: str = "date_key") -> None:
    """Keyed KPI sink: Parquet partitioned by date, dynamic-overwrite mode
    — rewriting a date's KPIs replaces exactly that partition (the upsert
    semantics of the reference's keyed DynamoDB ``put_item``,
    ``transform_task.py:297,332``, without a driver collect).

    Dynamic overwrite is pinned per-write: under Spark's default
    ``partitionOverwriteMode=static`` an overwrite deletes EVERY
    partition, not just the batch's — correctness must not depend on
    which session built the writer."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(partition_col).parquet(path)


class ConcurrentWriteError(RuntimeError):
    """A competing writer committed to the same KPI table between this
    writer's target read and its promote — the merge result is based on
    a stale snapshot and is REJECTED (retry re-reads the new target, so
    no update is ever silently lost)."""


# Write-audit location: a SIBLING of the table directory, not inside it.
# Round 10 kept it inside (underscore-prefixed, invisible to parquet
# scans) — but the unpartitioned whole-table swap moves the table dir
# aside, and a concurrent ``_commit_version`` probing the moved-away
# audit read 0 and happily claimed v1 into a directory about to be
# replaced (round-10 advice).  A sibling dir never moves during any
# swap, so the audit is readable at every instant.  Legacy inside-dir
# audits are still read (and migrated on the next whole-table swap).
_COMMITS_SUFFIX = "__commits"
_LEGACY_COMMITS_DIR = "_commits"


def _commits_dir(target_path: str) -> str:
    return target_path.rstrip("/") + _COMMITS_SUFFIX


def _legacy_commits_dir(target_path: str) -> str:
    return os.path.join(target_path, _LEGACY_COMMITS_DIR)


def _commit_files(target_path: str) -> dict[int, str]:
    """version -> claim-file path, across the sibling audit dir and any
    legacy inside-table dir (sibling wins a version collision — legacy
    versions always predate sibling ones by the claim protocol)."""
    out: dict[int, str] = {}
    for cdir in (_legacy_commits_dir(target_path), _commits_dir(target_path)):
        try:
            names = os.listdir(cdir)
        except (FileNotFoundError, NotADirectoryError):
            continue
        for n in names:
            if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit():
                out[int(n[1:-5])] = os.path.join(cdir, n)
    return out


def _commit_version(target_path: str) -> int:
    """Highest committed (or claimed) version in the table's write-audit;
    0 for a table with no audit yet."""
    return max(_commit_files(target_path), default=0)


def _writer_alive(pid: int | None) -> bool:
    """Single-host liveness probe for a claim's writer process — the
    stand-in for a cluster lease/heartbeat.  Unknown pid counts as dead
    (a claim written by a build predating pid recording is from a
    process that no longer exists)."""
    if not pid:
        return False
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except (OverflowError, ValueError):
        return False
    return True


def _check_predecessor(target_path: str, version: int) -> None:
    """Reject the merge while commit ``version`` is still PROMOTING and
    its writer is alive: the target is mid-swap, so any read taken now
    is a torn/stale snapshot and a merge built on it would promote
    without the in-flight writer's rows (round-10 advice — the lost-rows
    window the version claim alone did not close, because
    ``_commit_version`` counts promoting claims).  A promoting claim
    whose writer is DEAD is the crash fingerprint: the next merge
    proceeds and repairs whatever partial promote the crash left."""
    if version <= 0:
        return
    path = _commit_files(target_path).get(version)
    if path is None:
        return
    try:
        with open(path) as fh:
            entry = json.load(fh)
    except (OSError, ValueError):
        return
    if entry.get("state") == "promoting" and _writer_alive(entry.get("pid")):
        raise ConcurrentWriteError(
            f"commit v{version} of {target_path} is mid-promote by live "
            f"writer {entry.get('writer')!r} (pid {entry.get('pid')}) — "
            "reading now would see a torn snapshot; retry after it "
            "finalizes"
        )


def _claim_commit(
    target_path: str, version: int, writer: str, meta: dict
) -> str:
    """Atomically claim commit ``version`` — the DynamoDB
    conditional-update twin (``lambda_function.py:174``) on the local
    filesystem: O_CREAT|O_EXCL on the version file means exactly ONE
    writer wins each version; the loser learns the table moved under it
    and must re-read.  The claim records state="promoting" plus the
    claiming pid (liveness probe for :func:`_check_predecessor`); the
    caller finalizes to "committed" after the partition swap (the
    vector store's write-then-marker discipline)."""
    cdir = _commits_dir(target_path)
    os.makedirs(cdir, exist_ok=True)
    path = os.path.join(cdir, f"v{version}.json")
    legacy = _commit_files(target_path).get(version)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        if legacy is not None and legacy != path:
            os.close(fd)
            os.remove(path)
            raise FileExistsError(path)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"commit v{version} of {target_path} was claimed by another "
            "writer after this writer read the table — rejecting the "
            "stale merge; retry to re-read"
        ) from None
    entry = {"state": "promoting", "writer": writer, "pid": os.getpid()}
    entry.update(meta)
    with os.fdopen(fd, "w") as fh:
        json.dump(entry, fh)
    return path


def _finalize_commit(claim_path: str) -> None:
    with open(claim_path) as fh:
        entry = json.load(fh)
    entry["state"] = "committed"
    entry["ts"] = _dt.datetime.now(_dt.timezone.utc).isoformat()
    tmp = claim_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
    os.replace(tmp, claim_path)


def read_commit_audit(spark: SparkSession, target_path: str) -> DataFrame:
    """The KPI sink's write-audit as a table: one row per claimed commit
    (version, state, writer, partitions, ts) — 'which writer last
    touched this table, and did its promote finish' is a query."""
    schema = (
        "version bigint, state string, writer string, "
        "partitions array<string>, ts string"
    )
    rows = []
    for v, path in sorted(_commit_files(target_path).items()):
        with open(path) as fh:
            e = json.load(fh)
        rows.append(
            (
                v,
                e.get("state"),
                e.get("writer"),
                [str(p) for p in e.get("partitions", [])],
                e.get("ts"),
            )
        )
    return spark.createDataFrame(rows, schema)


def abort_crashed_commit(target_path: str) -> int | None:
    """Flip the latest claim to ``aborted`` if it is stuck at
    ``promoting`` with a dead writer — an explicit repair hook for
    operators auditing a crashed promote (merges self-repair anyway;
    this just makes the audit row tell the story).  Returns the aborted
    version, or None if nothing needed repair.  Refuses (returns None)
    while the writer is still alive."""
    v = _commit_version(target_path)
    path = _commit_files(target_path).get(v)
    if path is None:
        return None
    with open(path) as fh:
        entry = json.load(fh)
    if entry.get("state") != "promoting" or _writer_alive(entry.get("pid")):
        return None
    entry["state"] = "aborted"
    entry["ts"] = _dt.datetime.now(_dt.timezone.utc).isoformat()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
    os.replace(tmp, path)
    return v


def _has_parquet_data(path: str) -> bool:
    """True if ``path`` contains at least one parquet data file —
    early-exit walk, so cost is O(1) for any real table.  A table dir
    with no data files is a creation-crash leftover (writer died after
    claiming v1, before the first write) and must take the creation
    path, not a doomed ``spark.read`` (round-10 advice: that state used
    to brick the table — every retry raised AnalysisException)."""
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                return True
    return False


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
    writer: str = "default",
    _pre_claim_hook=None,
) -> None:
    """Row-level MERGE (upsert) into a plain-Parquet table — the
    ``MERGE INTO`` capability without a transactional table format.

    Semantics: an update row replaces the target row with the same
    ``key_cols``; unmatched update rows append. Implementation is
    anti-join + union: ``target ⟕anti updates  ∪  updates``.

    Scale path (``partition_col`` given): only the partitions that
    contain updated keys are touched. The affected-partition list comes
    off the updates (distinct partition values — driver-side, cardinality
    = partitions in the batch, mirroring ``target_dates``); the target
    read prunes to those partitions; dynamic partition overwrite swaps
    exactly them. Cost is O(affected partitions), never O(table).

    Partition-replace path (``key_cols == [partition_col]``, e.g. the
    KPI stream sink's ``["date_key"]``): every target row in a touched
    partition matches an update, so the anti-join keeps none of them
    and the merge result IS ``updates``.  The target is then never
    read and nothing is staged — ``updates`` is written straight to
    the table under per-write dynamic overwrite, replacing exactly its
    partitions (two jobs: the partition list and the write).  Partition
    values land as given: ISO ``YYYY-MM-DD`` strings produce the same
    ``date_key=`` directories the anti-join path writes from the
    DATE-inferred target type.

    Without ``partition_col`` the whole table rewrites through staging —
    correct, but O(table); partition your tables.

    Atomicity: per-partition (the dynamic-overwrite guarantee). A crash
    mid-write can leave some partitions new and some old — reruns are
    safe because the merge is idempotent (same updates → same result);
    gate reruns with ``BatchLedger`` exactly like ``process_batch``.
    Spark refuses to overwrite a path it is reading, so the merged slice
    detours through a staging directory first (suffixed with the commit
    version + writer so concurrent writers never share staging).

    Concurrent writers (round-10, the verdict's exactly-once task): the
    ledger protects against DOUBLE-TRIGGER of the same batch, not two
    simultaneous drivers merging different batches — the second
    writer's target read would miss the first's rows and its promote
    would silently drop them.  Every merge therefore claims the next
    version in the table's sibling ``__commits`` write-audit via an
    atomic O_CREAT|O_EXCL create (the conditional-update discipline,
    ``lambda_function.py:174``) keyed to the version it READ: if any
    other writer committed in between, the claim fails and the merge
    raises :class:`ConcurrentWriteError` BEFORE touching a single
    partition — reject-and-retry semantics, no partial mix of two
    writers' outputs, no lost rows.  Two gates close the claim's blind
    spots (round-10 advice): (1) a read taken while the LATEST claim is
    still ``promoting`` with a live writer is a torn snapshot — the
    merge rejects up front instead of basing itself on it
    (:func:`_check_predecessor`; liveness = single-host pid probe, the
    stand-in for a cluster lease); (2) the audit lives in a sibling dir
    that never moves, so a concurrent version read stays correct even
    through the unpartitioned whole-table swap.  The claim finalizes to
    ``committed`` after the swap, so an audit row stuck at
    ``promoting`` with a DEAD writer is the fingerprint of a crashed
    promote — the next merge proceeds over it and repairs the partial
    state (or :func:`abort_crashed_commit` marks it explicitly).
    ``_pre_claim_hook`` is a test seam for deterministic race
    interleavings.
    """
    import shutil

    if not os.path.exists(target_path) or not _has_parquet_data(target_path):
        # creation path — also taken over a creation-crash leftover (dir
        # exists, zero data files).  Claim FIRST (O_EXCL is the race
        # gate: two simultaneous creators → one wins, one rejects), at
        # the version above any crashed claim so versions never reuse.
        read_version = _commit_version(target_path)
        _check_predecessor(target_path, read_version)
        claim = _claim_commit(
            target_path,
            read_version + 1,
            writer,
            {"partitions": [], "create": True},
        )
        w = updates.write.mode("append")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(target_path)
        _finalize_commit(claim)
        logger.debug(
            "merge_upsert %s: create path (v%d)", target_path, read_version + 1
        )
        return

    read_version = _commit_version(target_path)
    # torn-read gate: while the latest claim is PROMOTING with a live
    # writer, the table is mid-swap — reject before reading (a merge
    # built on this snapshot could promote without that writer's rows)
    _check_predecessor(target_path, read_version)

    if partition_col and list(key_cols) == [partition_col]:
        # partition-replace path: merged == updates (see docstring), so
        # skip the target read, the anti-join and the staging detour
        parts = [
            r["p"]
            for r in updates.select(F.col(partition_col).alias("p"))
            .distinct()
            .collect()
        ]
        if _pre_claim_hook is not None:
            _pre_claim_hook()  # test seam: interleave a competing writer
        claim = _claim_commit(
            target_path,
            read_version + 1,
            writer,
            {"partitions": [str(p) for p in parts]},
        )
        write_partitioned(updates, target_path, partition_col)
        _finalize_commit(claim)
        logger.debug(
            "merge_upsert %s: partition-replace path (v%d, %d partitions)",
            target_path, read_version + 1, len(parts),
        )
        return

    target = spark.read.parquet(target_path)
    if partition_col:
        # partition-directory type inference may widen the partition col
        # (e.g. '2024-01-01' → DATE); align the updates side so join keys
        # and union types agree
        updates = updates.withColumn(
            partition_col,
            F.col(partition_col).cast(target.schema[partition_col].dataType),
        )
        parts = [
            r["p"]
            for r in updates.select(
                F.col(partition_col).alias("p")
            ).distinct().collect()
        ]
        target_slice = target.filter(F.col(partition_col).isin(parts))
    else:
        target_slice = target

    merged = target_slice.join(updates, key_cols, "left_anti").unionByName(
        updates
    )

    # staging is per-(version, writer): two concurrent writers must
    # never share a staging dir (the old fixed name let one writer
    # delete the other's staged rows mid-flight)
    staging = (
        target_path.rstrip("/")
        + f"__merge_staging_v{read_version + 1}_{writer}"
    )
    merged.write.mode("overwrite").parquet(staging)
    merged_back = spark.read.parquet(staging)
    try:
        if _pre_claim_hook is not None:
            _pre_claim_hook()  # test seam: interleave a competing writer
        # conditional-update gate: claim (read_version + 1) — fails if
        # ANY writer committed after our target read, before we promote
        claim = _claim_commit(
            target_path,
            read_version + 1,
            writer,
            {"partitions": [str(p) for p in parts] if partition_col else []},
        )
        if partition_col:
            write_partitioned(merged_back, target_path, partition_col)
        else:
            final = target_path.rstrip("/") + "__merge_final"
            merged_back.write.mode("overwrite").parquet(final)
            # migrate any legacy inside-table audit to the sibling dir
            # before the table dir is replaced (the sibling audit itself
            # never moves, so concurrent _commit_version reads stay
            # correct through the whole swap)
            legacy = _legacy_commits_dir(target_path)
            if os.path.isdir(legacy):
                cdir = _commits_dir(target_path)
                os.makedirs(cdir, exist_ok=True)
                for n in os.listdir(legacy):
                    dst = os.path.join(cdir, n)
                    if not os.path.exists(dst):
                        shutil.move(os.path.join(legacy, n), dst)
            shutil.rmtree(target_path)
            os.replace(final, target_path)
        _finalize_commit(claim)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    logger.debug(
        "merge_upsert %s: anti-join path (v%d)", target_path, read_version + 1
    )


def process_batch(
    spark: SparkSession,
    ledger: BatchLedger,
    batch_id: str,
    orders: DataFrame,
    order_items: DataFrame,
    products: DataFrame,
    daily_out: str,
    category_out: str,
    new_orders: DataFrame | None = None,
    required: dict[str, list[str]] | None = None,
    status_log: RunStatusLog | None = None,
) -> bool:
    """One orchestrated batch run: gate → validate → scope → recompute →
    upsert → mark done. Returns False if the ledger suppressed a
    duplicate run OR validation failed (the failed batch stays retryable
    in the ledger; reasons land in ``status_log``).

    ``new_orders`` is the incremental slice (defaults to full recompute
    when None — the bootstrap path). ``required`` (table → critical
    columns) switches on the validation stage; ``status_log`` records
    every stage transition as the queryable twin of the reference's SNS
    failure route (step failures → alert topic,
    ``infra/step-function-definition.json:86-97``).
    """

    def emit(stage: str, status: str, reasons: list[str] | None = None) -> None:
        if status_log is not None:
            status_log.record(batch_id, stage, status, reasons)

    if not ledger.try_start(batch_id):
        emit("gate", "suppressed", ["batch already done"])
        return False
    emit("gate", "started")

    if required is not None:
        vres: ValidationResult = validate_batch(
            orders, order_items, products, required
        )
        if not vres.ok:
            emit("validate", "failed", vres.reasons)
            ledger.mark_failed(batch_id)
            return False
        emit("validate", "passed")

    try:
        dates: Iterable[str] | None = None
        if new_orders is not None:
            dates = target_dates(new_orders)
            if not dates:
                # empty batch: nothing to recompute; mark done so the rerun
                # gate still holds (reference tolerates empty prefixes)
                emit("done", "ok", ["empty batch"])
                ledger.mark_done(batch_id)
                return True

        daily = kpis.daily_kpis(orders, order_items, target_dates=dates)
        prepared = kpis.prepare_items(order_items, orders, products)
        category = kpis.category_kpis(prepared, target_dates=dates).withColumn(
            "date_key", F.col("order_date")
        )

        # free in-flight metrics: Observation accumulates DURING the sink
        # write (no second scan, no extra job) — the engine analogue of
        # the reference's CloudWatch counters around the DynamoDB writes
        from pyspark.sql import Observation

        daily_obs, category_obs = Observation("daily"), Observation("category")
        daily = daily.observe(
            daily_obs,
            F.count(F.lit(1)).alias("rows_written"),
            F.sum(F.col("total_revenue").cast("double")).alias("revenue_sum"),
        )
        category = category.observe(
            category_obs,
            F.count(F.lit(1)).alias("rows_written"),
            F.sum(F.when(F.col("daily_revenue").isNull(), 1).otherwise(0)).alias(
                "null_revenue_rows"
            ),
        )

        write_partitioned(daily, daily_out, "date_key")
        write_partitioned(category.drop("order_date"), category_out, "date_key")
        emit(
            "metrics",
            "ok",
            [
                f"daily: {daily_obs.get}",
                f"category: {category_obs.get}",
            ],
        )
    except Exception as e:  # noqa: BLE001 — any stage failure must alert
        emit("transform", "failed", [f"{type(e).__name__}: {e}"])
        ledger.mark_failed(batch_id)
        raise

    emit("done", "ok")
    ledger.mark_done(batch_id)
    return True
