"""Incremental recompute + batch-ledger orchestration tests (SURVEY §7.2
M4/M5): exactly-once triggering, partition-scoped recompute, dynamic
partition overwrite upserts."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ecs_ecommerce_data_pipeline_spark.plans.incremental import (
    BatchLedger,
    process_batch,
    target_dates,
    write_partitioned,
)
from ecs_ecommerce_data_pipeline_spark.sources.testdata import ecommerce_views

SF = "/root/testdata/sf0.001"


def test_ledger_exactly_once(tmp_path):
    ledger = BatchLedger(str(tmp_path / "ledger.json"))
    assert ledger.try_start("2024-01-01")
    ledger.mark_done("2024-01-01")
    assert not ledger.try_start("2024-01-01")  # duplicate suppressed
    assert ledger.try_start("2024-01-02")  # other batches unaffected
    assert ledger.status("2024-01-01") == "done"
    assert ledger.status("2024-01-02") == "running"


def test_target_dates_discovery(spark):
    t = ecommerce_views(spark, SF)
    # pick the two earliest dates actually present, so the test is
    # data-independent (sf0.001 has gaps in the date range)
    first_two = [
        r["d"]
        for r in t["orders"]
        .select(F.to_date("created_at").cast("string").alias("d"))
        .distinct()
        .orderBy("d")
        .limit(2)
        .collect()
    ]
    two_days = t["orders"].filter(F.to_date("created_at").isin(first_two))
    assert target_dates(two_days) == first_two


def test_incremental_scope_matches_full_recompute(spark):
    """Recomputing only the batch's dates must equal the same dates
    sliced out of a full recompute (reference P5 semantics)."""
    from ecs_ecommerce_data_pipeline_spark.operators import kpis

    t = ecommerce_views(spark, SF)
    dates = ["1995-01-01", "1995-01-02"]
    inc = kpis.daily_kpis(t["orders"], t["order_items"], target_dates=dates)
    full = kpis.daily_kpis(t["orders"], t["order_items"]).filter(
        F.col("date_key").cast("string").isin(dates)
    )
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))


def test_dynamic_partition_overwrite_upsert(spark, tmp_path):
    """Rewriting one date's partition must not clobber other dates —
    the keyed-upsert contract of the reference's DynamoDB sink."""
    out = str(tmp_path / "kpis")
    df1 = spark.createDataFrame(
        [("2024-01-01", 10), ("2024-01-02", 20)], "date_key string, total long"
    )
    write_partitioned(df1, out)
    df2 = spark.createDataFrame([("2024-01-02", 99)], "date_key string, total long")
    write_partitioned(df2, out)
    # partition-column type inference reads the string date_key back as a
    # DateType partition value — normalize to string for the comparison
    got = {
        (str(r["date_key"]), r["total"]) for r in spark.read.parquet(out).collect()
    }
    assert got == {("2024-01-01", 10), ("2024-01-02", 99)}


def test_partitioned_writes_dynamic_even_under_static_session(spark, tmp_path):
    """write_partitioned / merge_upsert pin partitionOverwriteMode=dynamic
    per-write: under Spark's default 'static' session conf an overwrite
    would silently delete every untouched partition."""
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import merge_upsert

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        out = str(tmp_path / "kpis_static")
        write_partitioned(
            spark.createDataFrame(
                [("2024-01-01", 10), ("2024-01-02", 20)],
                "date_key string, total long",
            ),
            out,
        )
        write_partitioned(
            spark.createDataFrame([("2024-01-02", 99)], "date_key string, total long"),
            out,
        )
        got = {
            (str(r["date_key"]), r["total"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == {("2024-01-01", 10), ("2024-01-02", 99)}

        mout = str(tmp_path / "merge_static")
        merge_upsert(
            spark,
            mout,
            spark.createDataFrame(
                [(1, "2024-01-01", 10), (2, "2024-01-02", 20)],
                "id long, date_key string, total long",
            ),
            ["id"],
            partition_col="date_key",
        )
        merge_upsert(
            spark,
            mout,
            spark.createDataFrame(
                [(2, "2024-01-02", 99)], "id long, date_key string, total long"
            ),
            ["id"],
            partition_col="date_key",
        )
        got = {
            (r["id"], str(r["date_key"]), r["total"])
            for r in spark.read.parquet(mout).collect()
        }
        assert got == {(1, "2024-01-01", 10), (2, "2024-01-02", 99)}
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_process_batch_end_to_end(spark, tmp_path):
    t = ecommerce_views(spark, SF)
    ledger = BatchLedger(str(tmp_path / "ledger.json"))
    # pick a date that actually exists at this SF (sf0.001 has gaps)
    day = t["orders"].select(F.to_date("created_at").cast("string").alias("d")).orderBy("d").first()["d"]
    new = t["orders"].filter(F.to_date("created_at") == day)
    ran = process_batch(
        spark,
        ledger,
        batch_id=day,
        orders=t["orders"],
        order_items=t["order_items"],
        products=t["products"],
        daily_out=str(tmp_path / "daily"),
        category_out=str(tmp_path / "category"),
        new_orders=new,
    )
    assert ran
    daily = spark.read.parquet(str(tmp_path / "daily"))
    assert daily.count() == 1  # exactly the one target date
    assert ledger.status(day) == "done"
    # rerun is suppressed
    assert not process_batch(
        spark, ledger, day, t["orders"], t["order_items"], t["products"],
        str(tmp_path / "daily"), str(tmp_path / "category"), new_orders=new,
    )


def test_merge_upsert_row_level(spark, tmp_path):
    """MERGE semantics on plain parquet: updated keys replaced, new keys
    appended, untouched partitions byte-identical (pruned, not
    rewritten)."""
    import os

    from ecs_ecommerce_data_pipeline_spark.plans.incremental import merge_upsert

    path = str(tmp_path / "kpis")
    base = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0), ("2024-01-02", 3, 30.0)],
        "date_key string, k int, v double",
    )
    merge_upsert(spark, path, base, ["date_key", "k"], partition_col="date_key")

    untouched_dir = os.path.join(path, "date_key=2024-01-02")
    before = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
        if f.endswith(".parquet")
    }

    updates = spark.createDataFrame(
        [("2024-01-01", 2, 99.0), ("2024-01-01", 4, 40.0), ("2024-01-03", 5, 50.0)],
        "date_key string, k int, v double",
    )
    merge_upsert(spark, path, updates, ["date_key", "k"], partition_col="date_key")

    got = {
        (str(r["date_key"]), r["k"]): r["v"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2024-01-01", 1): 10.0,  # untouched row in touched partition
        ("2024-01-01", 2): 99.0,  # replaced
        ("2024-01-01", 4): 40.0,  # appended into existing partition
        ("2024-01-02", 3): 30.0,  # untouched partition
        ("2024-01-03", 5): 50.0,  # brand-new partition
    }
    after = {
        f: os.path.getmtime(os.path.join(untouched_dir, f))
        for f in os.listdir(untouched_dir)
        if f.endswith(".parquet")
    }
    assert after == before, "unaffected partition was rewritten"


def test_merge_upsert_unpartitioned_fallback(spark, tmp_path):
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import merge_upsert

    path = str(tmp_path / "flat")
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"),
        ["k"],
    )
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, s string"),
        ["k"],
    )
    got = {(r["k"], r["s"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def _partition_mtimes(path, part):
    import os

    d = os.path.join(path, part)
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def test_merge_upsert_partition_replace(spark, tmp_path, monkeypatch):
    """key_cols == [partition_col] (the KPI stream sink's call): the
    merge result IS the updates, so merge_upsert writes them straight
    over their partitions — the target is never read, nothing is
    staged — with the full commit protocol and the same rows and
    ``date_key=`` directories the anti-join path produced.  Null keys
    replace the default partition; duplicate keys all land."""
    import glob
    import os

    from ecs_ecommerce_data_pipeline_spark.plans import incremental as inc

    schema = "date_key string, total long"
    path = str(tmp_path / "kpis")
    base = spark.createDataFrame(
        [("2024-01-01", 10), ("2024-01-02", 20), ("2024-01-03", 30), (None, 70)],
        schema,
    )
    # creation path: one committed create, ISO strings as partition dirs
    inc.merge_upsert(
        spark, path, base, ["date_key"], partition_col="date_key", writer="init"
    )
    parts = sorted(d for d in os.listdir(path) if d.startswith("date_key="))
    assert parts == [
        "date_key=2024-01-01",
        "date_key=2024-01-02",
        "date_key=2024-01-03",
        "date_key=__HIVE_DEFAULT_PARTITION__",
    ]
    # the existing partitions read back as DATE — the type the old path
    # cast the updates to before writing
    assert spark.read.parquet(path).schema["date_key"].dataType.typeName() == "date"
    untouched = {p: _partition_mtimes(path, p) for p in parts[1:3]}

    reads, writes, staged = [], [], []
    reader_cls = type(spark.read)
    writer_cls = type(base.write)
    orig_read, orig_write = reader_cls.parquet, writer_cls.parquet
    orig_claim, orig_finalize = inc._claim_commit, inc._finalize_commit

    def spy_read(self, *paths, **kw):
        reads.extend(paths)
        return orig_read(self, *paths, **kw)

    def spy_write(self, p, *a, **kw):
        writes.append(p)
        return orig_write(self, p, *a, **kw)

    def spy_claim(*a, **kw):
        staged.extend(glob.glob(path + "__merge_staging_*"))
        return orig_claim(*a, **kw)

    def spy_finalize(claim_path):
        staged.extend(glob.glob(path + "__merge_staging_*"))
        orig_finalize(claim_path)

    monkeypatch.setattr(reader_cls, "parquet", spy_read)
    monkeypatch.setattr(writer_cls, "parquet", spy_write)
    monkeypatch.setattr(inc, "_claim_commit", spy_claim)
    monkeypatch.setattr(inc, "_finalize_commit", spy_finalize)

    updates = spark.createDataFrame(
        [("2024-01-01", 11), ("2024-01-01", 12), (None, 77), ("2024-01-04", 40)],
        schema,
    )
    inc.merge_upsert(
        spark, path, updates, ["date_key"], partition_col="date_key", writer="w1"
    )
    monkeypatch.undo()

    assert reads == [], "partition replace must not read the target"
    assert writes == [path]
    assert staged == [] and not glob.glob(path + "__merge_staging_*")

    def by_key(t):
        return (str(t[0]), t[1])

    got = sorted(
        (
            (None if r["date_key"] is None else str(r["date_key"]), r["total"])
            for r in spark.read.parquet(path).collect()
        ),
        key=by_key,
    )
    assert got == sorted(
        [
            ("2024-01-01", 11),  # partition replaced by both duplicates
            ("2024-01-01", 12),
            ("2024-01-02", 20),  # untouched
            ("2024-01-03", 30),  # untouched
            ("2024-01-04", 40),  # new partition
            (None, 77),  # null key replaces the default partition
        ],
        key=by_key,
    )
    assert sorted(d for d in os.listdir(path) if d.startswith("date_key=")) == [
        "date_key=2024-01-01",
        "date_key=2024-01-02",
        "date_key=2024-01-03",
        "date_key=2024-01-04",
        "date_key=__HIVE_DEFAULT_PARTITION__",
    ]
    for p, before in untouched.items():
        assert _partition_mtimes(path, p) == before, f"{p} was rewritten"

    audit = {
        r["version"]: (r["state"], r["writer"], sorted(r["partitions"]))
        for r in inc.read_commit_audit(spark, path).collect()
    }
    assert audit == {
        1: ("committed", "init", []),
        2: ("committed", "w1", ["2024-01-01", "2024-01-04", "None"]),
    }


@pytest.mark.slow
def test_process_batch_failed_validation_hits_status_log(spark, tmp_path):
    """A batch with a critical-field violation must: not write outputs,
    leave the ledger retryable (failed, not done), and leave a queryable
    (batch_id, stage, status, reasons, ts) trail — the engine twin of the
    reference's SNS failure route."""
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import RunStatusLog

    t = ecommerce_views(spark, SF)
    # poison the orders slice: null out a critical column for some rows
    bad_orders = t["orders"].withColumn(
        "user_id",
        F.when(F.col("order_id") % 10 == 0, F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    ledger = BatchLedger(str(tmp_path / "ledger.json"))
    status_log = RunStatusLog(str(tmp_path / "status.jsonl"))
    ran = process_batch(
        spark,
        ledger,
        batch_id="poisoned",
        orders=bad_orders,
        order_items=t["order_items"],
        products=t["products"],
        daily_out=str(tmp_path / "daily"),
        category_out=str(tmp_path / "category"),
        required={
            "orders": ["order_id", "user_id", "created_at"],
            "order_items": ["order_id", "product_id", "sale_price"],
            "products": ["id", "category"],
        },
        status_log=status_log,
    )
    assert not ran
    assert ledger.status("poisoned") == "failed"
    assert not (tmp_path / "daily").exists()  # nothing written

    sdf = status_log.to_df(spark)
    assert sdf.columns == ["batch_id", "stage", "status", "reasons", "ts"]
    rows = {r["stage"]: r for r in sdf.collect()}
    assert rows["gate"]["status"] == "started"
    assert rows["validate"]["status"] == "failed"
    assert any("null values in critical field" in x for x in rows["validate"]["reasons"])
    assert rows["validate"]["ts"] is not None

    # a clean retry of the SAME batch id goes through (failed != done)
    ran2 = process_batch(
        spark, ledger, "poisoned", t["orders"], t["order_items"], t["products"],
        str(tmp_path / "daily"), str(tmp_path / "category"),
        required={"orders": ["order_id", "user_id"]}, status_log=status_log,
    )
    assert ran2
    assert ledger.status("poisoned") == "done"
    final = status_log.to_df(spark).filter(F.col("stage") == "done").count()
    assert final == 1


@pytest.mark.slow
def test_process_batch_records_observed_metrics(spark, tmp_path):
    """df.observe metrics accumulate during the sink write (no second
    scan) and land in the run-status log as the 'metrics' stage."""
    from ecs_ecommerce_data_pipeline_spark.plans.incremental import (
        BatchLedger,
        RunStatusLog,
        process_batch,
    )
    from ecs_ecommerce_data_pipeline_spark.sources.testdata import ecommerce_views

    views = ecommerce_views(spark, "/root/testdata/sf0.001")
    log = RunStatusLog(str(tmp_path / "status.jsonl"))
    ok = process_batch(
        spark,
        BatchLedger(str(tmp_path / "ledger.json")),
        "obs-batch-1",
        views["orders"],
        views["order_items"],
        views["products"],
        str(tmp_path / "daily"),
        str(tmp_path / "category"),
        status_log=log,
    )
    assert ok
    rows = log.to_df(spark).filter("stage = 'metrics'").collect()
    assert len(rows) == 1
    reasons = rows[0]["reasons"]
    joined = " ".join(reasons)
    assert "rows_written" in joined and "revenue_sum" in joined
    # rows_written must equal the actual sink row count
    import re

    m = re.search(r"daily: .*?'rows_written': (\d+)", joined)
    assert m
    assert int(m.group(1)) == spark.read.parquet(str(tmp_path / "daily")).count()
