"""Negative-path validation tests mirroring the reference's manual
simulation runbook (README.md:446-453, FIXTURES.md §A negative fixtures):
missing required column, nulls in critical fields, orphan FKs."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from ecs_ecommerce_data_pipeline_spark.operators import validation
from ecs_ecommerce_data_pipeline_spark.schemas import REQUIRED_COLUMNS


@pytest.fixture(scope="module")
def frames(spark):
    ts = dt.datetime(2024, 1, 1)
    products = spark.createDataFrame(
        [(1, "sku1", 1.0, "toys", 2.0), (2, "sku2", 2.0, "games", 4.0)],
        "id long, sku string, cost double, category string, retail_price double",
    )
    orders = spark.createDataFrame(
        [(10, 100, ts, None), (11, 101, ts, ts)],
        "order_id long, user_id long, created_at timestamp, returned_at timestamp",
    )
    items = spark.createDataFrame(
        [(10, 1, 5.0, ts, None), (11, 2, 7.0, ts, None)],
        "order_id long, product_id long, sale_price double, created_at timestamp,"
        " returned_at timestamp",
    )
    return products, orders, items


_CLEAN_NULLS = [
    ("orders.order_id", 0),
    ("orders.user_id", 0),
    ("orders.created_at", 0),
    ("order_items.order_id", 0),
    ("order_items.product_id", 0),
    ("order_items.sale_price", 0),
    ("order_items.created_at", 0),
    ("products.id", 0),
    ("products.sku", 0),
    ("products.cost", 0),
    ("products.category", 0),
    ("products.retail_price", 0),
]


def _nulls(**nonzero):
    """The clean fixture's ordered null counts with some slots set."""
    return [(k, nonzero.get(k.replace(".", "__"), n)) for k, n in _CLEAN_NULLS]


def _items_row(spark, items, order_id, product_id):
    return spark.createDataFrame(
        [(order_id, product_id, 5.0, dt.datetime(2024, 1, 1), None)], items.schema
    )


def test_clean_batch_passes(frames, monkeypatch):
    """A passing batch is ONE Spark action: every null count and both
    orphan counts come back in a single collect."""
    products, orders, items = frames
    cls = type(orders)
    calls = []
    orig = cls.collect

    def counting_collect(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    res = validation.validate_batch(orders, items, products, REQUIRED_COLUMNS)
    assert len(calls) == 1
    assert res.ok, res.reasons
    assert res.reasons == [] and res.orphans == {}
    assert list(res.null_counts.items()) == _CLEAN_NULLS


def test_missing_required_column_rejected(frames):
    products, orders, items = frames
    res = validation.validate_batch(
        orders.drop("order_id"), items, products, REQUIRED_COLUMNS
    )
    assert not res.ok
    assert res.reasons == ["orders: missing required columns ['order_id']"]
    assert res.null_counts == {} and res.orphans == {}


def test_nulls_in_critical_field_rejected(spark, frames):
    products, orders, items = frames
    bad_orders = orders.withColumn(
        "created_at",
        F.when(F.col("order_id") == 10, F.lit(None).cast("timestamp")).otherwise(
            F.col("created_at")
        ),
    )
    res = validation.validate_batch(bad_orders, items, products, REQUIRED_COLUMNS)
    assert not res.ok
    assert res.null_counts["orders.created_at"] == 1
    assert list(res.null_counts.items()) == _nulls(orders__created_at=1)
    assert res.reasons == ["orders.created_at: 1 null values in critical field"]
    assert res.orphans == {}


def test_orphan_order_ids_rejected(spark, frames):
    products, orders, items = frames
    orphan = _items_row(spark, items, 99, 1)
    res = validation.validate_batch(
        orders, items.unionByName(orphan), products, REQUIRED_COLUMNS
    )
    assert not res.ok
    assert res.orphans == {"order_items->orders": [99]}
    assert res.reasons == ["order_items->orders: orphan keys e.g. [99]"]
    assert list(res.null_counts.items()) == _CLEAN_NULLS


def test_orphan_product_ids_rejected(spark, frames):
    products, orders, items = frames
    orphan = _items_row(spark, items, 10, 77)
    res = validation.validate_batch(
        orders, items.unionByName(orphan), products, REQUIRED_COLUMNS
    )
    assert not res.ok
    assert res.orphans == {"order_items->products": [77]}
    assert res.reasons == ["order_items->products: orphan keys e.g. [77]"]
    assert list(res.null_counts.items()) == _CLEAN_NULLS


def test_null_fks_surface_as_none_orphans(spark, frames):
    """A null FK never matches a parent key: it counts as a null in the
    critical field AND surfaces as a ``None`` orphan sample."""
    products, orders, items = frames
    res = validation.validate_batch(
        orders,
        items.unionByName(_items_row(spark, items, None, None)),
        products,
        REQUIRED_COLUMNS,
    )
    assert not res.ok
    assert res.orphans == {
        "order_items->orders": [None],
        "order_items->products": [None],
    }
    assert res.reasons == [
        "order_items.order_id: 1 null values in critical field",
        "order_items.product_id: 1 null values in critical field",
        "order_items->orders: orphan keys e.g. [None]",
        "order_items->products: orphan keys e.g. [None]",
    ]
    assert list(res.null_counts.items()) == _nulls(
        order_items__order_id=1, order_items__product_id=1
    )


def test_every_failure_reported_in_order(spark, frames):
    """Null counts of every table, then both orphan checks — reason
    order is table order, column order, then check order; a parent with
    a null key matches no child, and ``orphan_sample`` caps the sample."""
    products, orders, items = frames
    bad_products = products.withColumn(
        "sku", F.when(F.col("id") == 2, F.lit(None)).otherwise(F.col("sku"))
    ).unionByName(
        spark.createDataFrame(
            [(None, "sku3", 1.0, "toys", 2.0)], products.schema
        )
    )
    bad_orders = orders.withColumn("user_id", F.lit(None).cast("long"))
    bad_items = items.unionByName(_items_row(spark, items, 98, 3)).unionByName(
        _items_row(spark, items, 98, 1)
    )
    res = validation.validate_batch(
        bad_orders, bad_items, bad_products, REQUIRED_COLUMNS, orphan_sample=1
    )
    assert not res.ok
    assert res.reasons == [
        "orders.user_id: 2 null values in critical field",
        "products.id: 1 null values in critical field",
        "products.sku: 1 null values in critical field",
        "order_items->orders: orphan keys e.g. [98]",
        "order_items->products: orphan keys e.g. [3]",
    ]
    assert res.orphans == {
        "order_items->orders": [98],
        "order_items->products": [3],
    }
    assert list(res.null_counts.items()) == _nulls(
        orders__user_id=2, products__id=1, products__sku=1
    )


def test_optional_column_synthesis(spark, frames):
    """Reference P8: absent returned_at synthesized as typed null
    (transform_task.py:177-186)."""
    from ecs_ecommerce_data_pipeline_spark.operators.kpis import with_optional_column

    products, orders, items = frames
    no_ret = orders.drop("returned_at")
    fixed = with_optional_column(no_ret, "returned_at", "timestamp")
    assert "returned_at" in fixed.columns
    assert fixed.schema["returned_at"].dataType.typeName() == "timestamp"
    assert fixed.filter(F.col("returned_at").isNotNull()).count() == 0
