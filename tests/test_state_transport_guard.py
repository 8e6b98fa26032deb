"""The engine keeps one Python streaming-state transport
(``applyInPandasWithState``): building a session leaves the process
environment alone, and the package carries no protobuf runtime or
second (transformWithState) code path.  The running daily KPIs need no
Python transport at all: their plan is a native state-store aggregate
with the ``DAILY_KPI_SCHEMA`` output."""

from __future__ import annotations

import os
import pathlib

import ecs_ecommerce_data_pipeline_spark as pkg
from ecs_ecommerce_data_pipeline_spark.session import get_spark


def test_get_spark_leaves_pythonpath_unchanged(spark):
    before = os.environ.get("PYTHONPATH")
    # the session fixture already ran get_spark once: nothing it added
    # may point into the package
    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    assert not any(
        p.startswith(pkg_dir) for p in (before or "").split(os.pathsep) if p
    )
    get_spark()
    assert os.environ.get("PYTHONPATH") == before


# spelled in pieces so a repository-wide grep for these names finds
# only real uses
_VENDOR_DIR = "_" + "vendor"
BANNED = ("google." + "protobuf", _VENDOR_DIR, "transformWithState" + "InPandas")


def test_package_has_no_second_state_transport():
    root = pathlib.Path(pkg.__file__).parent
    assert not (root / _VENDOR_DIR).exists()
    hits = [
        f"{path.relative_to(root)}: {word}"
        for path in sorted(root.rglob("*.py"))
        for word in BANNED
        if word in path.read_text(encoding="utf-8")
    ]
    assert hits == []


def _daily_kpi_stream(spark, tmp_path):
    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        daily_kpi_running,
    )

    src = tmp_path / "kpi_rows"
    src.mkdir()
    stream = spark.readStream.schema(
        "date_key string, kind string, user_id long, revenue_cents bigint, "
        "returned long"
    ).parquet(str(src))
    return daily_kpi_running(stream)


def test_daily_kpi_running_output_schema(spark, tmp_path):
    from ecs_ecommerce_data_pipeline_spark.streaming.stateful import (
        DAILY_KPI_SCHEMA,
    )

    got = _daily_kpi_stream(spark, tmp_path).schema
    assert [(f.name, f.dataType) for f in got.fields] == [
        (f.name, f.dataType) for f in DAILY_KPI_SCHEMA.fields
    ]


def test_daily_kpi_running_is_a_native_state_store_aggregate(spark, tmp_path):
    df = _daily_kpi_stream(spark, tmp_path)
    # the physical plan a started query would run (what explain() prints)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "StateStoreSave" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
