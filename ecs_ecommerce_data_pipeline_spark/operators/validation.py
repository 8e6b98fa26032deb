"""Data-quality validation as a Spark operator.

The reference's validation stage (``ecs/validation/validate_task.py``) is a
pandas container that reads full CSVs, checks required columns
(:154-159), null counts on critical columns (:161-177), and referential
integrity (:179-217), then *moves files* between S3 prefixes and signals
via process exit code.

The engine re-expresses that as ``validate(...) → ValidationResult`` — a
pure, distributed operator (SURVEY §3.3):

* **required-column check** — a schema (metadata) predicate, no data pass;
* **null counts** — one ``sum(col IS NULL)`` aggregate per table over
  all its critical columns, instead of pandas per-column scans;
* **referential integrity** — orphan counts from left joins against the
  distinct parent keys (reference J5/J6 are pandas ``~isin``); the join
  shuffles on the FK, or broadcasts when the PK side is a dimension.
  ``validate_batch`` folds every null count and both orphan counts into
  ONE collected row; the ``left_anti`` :func:`orphan_keys` samples run
  only for a failing check;
* **quarantine, not file moves** — rejected rows/files become DataFrames
  with a ``reason`` column (the reference's ``_reason.json`` sidecar,
  validate_task.py:101-110, as data).

At 100 TB: null counts are a single map-side-combinable aggregation; the
RI checks are the only shuffles, and they prune to the FK column only.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


@dataclass
class ValidationResult:
    ok: bool
    reasons: list[str] = field(default_factory=list)
    # per-column null counts over critical columns
    null_counts: dict[str, int] = field(default_factory=dict)
    # orphan FK samples per check name (reference caps report at 5,
    # validate_task.py:195,204)
    orphans: dict[str, list] = field(default_factory=dict)


def missing_required(df: DataFrame, required: list[str]) -> list[str]:
    """Reference validate_task.py:153-159 — schema-level, no data pass."""
    return [c for c in required if c not in df.columns]


def orphan_keys(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str,
    broadcast_parent: bool = False,
) -> DataFrame:
    """Distinct FK values in ``child`` with no match in ``parent`` —
    reference validate_task.py:191-207 as a ``left_anti`` join (J5/J6).

    ``broadcast_parent=True`` for dimension parents (products): the anti
    join then never shuffles the child fact table.
    """
    parent_keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    if broadcast_parent:
        parent_keys = F.broadcast(parent_keys)
    return (
        child.select(child_key)
        .distinct()
        .join(parent_keys, child_key, "left_anti")
    )


def validate_batch(
    orders: DataFrame,
    order_items: DataFrame,
    products: DataFrame,
    required: dict[str, list[str]],
    orphan_sample: int = 5,
) -> ValidationResult:
    """Full batch validation mirroring validate_task.main() semantics:
    schema → nulls → referential integrity, with the reference's
    first-failure reasons, but computed distributed and without file moves.

    A passing batch costs ONE Spark action: every table's critical-column
    null counts and both FK orphan counts come back in a single one-row
    collect — ``order_items`` left-joined to the distinct
    ``orders.order_id``s and to the broadcast distinct ``products.id``s
    (the parents are distinct, so the joins never multiply item rows),
    cross-joined with the ``orders`` and ``products`` null aggregates.
    An item row whose FK found no parent key (null FKs included) is an
    orphan.  Only when an orphan count is above zero does the
    :func:`orphan_keys` ``limit(orphan_sample)`` query run per failing
    check to fetch the reported samples.
    """
    res = ValidationResult(ok=True)

    frames = {"orders": orders, "order_items": order_items, "products": products}
    for name, df in frames.items():
        miss = missing_required(df, required.get(name, []))
        if miss:
            res.ok = False
            res.reasons.append(f"{name}: missing required columns {miss}")
    if not res.ok:
        # schema failure short-circuits like the reference's exit-1 at
        # validate_task.py:158-159 — downstream checks would reference
        # columns that don't exist
        return res

    # null counts: one aggregate per table, slots n<i> in reason order
    slots: list[tuple[str, str]] = []
    null_aggs: dict[str, list] = {name: [] for name in frames}
    for name, df in frames.items():
        for c in dict.fromkeys(required.get(name, [])):
            if c in df.columns:
                null_aggs[name].append(
                    F.sum(F.col(c).isNull().cast("long")).alias(f"n{len(slots)}")
                )
                slots.append((name, c))

    # orphan counts: item rows whose FK matched no distinct parent key
    checks = {
        "order_items->orders": (orders, "order_id", "order_id", False),
        "order_items->products": (products, "product_id", "id", True),
    }
    items, orphan_aggs = order_items, []
    for i, (parent, child_key, parent_key, bcast) in enumerate(checks.values()):
        keys = parent.select(F.col(parent_key).alias(f"__ri{i}")).distinct()
        items = items.join(
            F.broadcast(keys) if bcast else keys,
            F.col(child_key) == F.col(f"__ri{i}"),
            "left",
        )
        orphan_aggs.append(
            F.sum(F.col(f"__ri{i}").isNull().cast("long")).alias(f"o{i}")
        )

    combined = items.agg(*null_aggs["order_items"], *orphan_aggs)
    for name in ("orders", "products"):
        if null_aggs[name]:
            combined = combined.crossJoin(frames[name].agg(*null_aggs[name]))
    row = combined.collect()[0]

    for i, (name, col) in enumerate(slots):
        n = int(row[f"n{i}"] or 0)
        res.null_counts[f"{name}.{col}"] = n
        if n > 0:
            res.ok = False
            res.reasons.append(f"{name}.{col}: {n} null values in critical field")

    for i, (check, (parent, child_key, parent_key, bcast)) in enumerate(checks.items()):
        if not row[f"o{i}"]:
            continue
        logger.debug(
            "validate_batch: %d orphan rows in %s; sampling up to %d keys",
            row[f"o{i}"], check, orphan_sample,
        )
        orphans = orphan_keys(
            order_items, parent, child_key, parent_key, broadcast_parent=bcast
        )
        sample = [r[0] for r in orphans.limit(orphan_sample).collect()]
        if sample:
            res.ok = False
            res.orphans[check] = sample
            res.reasons.append(f"{check}: orphan keys e.g. {sample}")

    return res


def null_count_report(frames: dict[str, DataFrame], required: dict[str, list[str]]) -> DataFrame:
    """Long-form (table, column, null_count) report DataFrame — the
    queryable equivalent of the reference's per-file log lines."""
    parts = []
    for name, df in frames.items():
        cols = [c for c in required.get(name, []) if c in df.columns]
        if not cols:
            continue
        agg = df.agg(
            *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]
        )
        stacked = agg.select(
            F.expr(
                "stack({n}, {pairs}) as (column_name, null_count)".format(
                    n=len(cols),
                    pairs=", ".join(f"'{c}', `{c}`" for c in cols),
                )
            )
        ).select(F.lit(name).alias("table_name"), "column_name", "null_count")
        parts.append(stacked)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
