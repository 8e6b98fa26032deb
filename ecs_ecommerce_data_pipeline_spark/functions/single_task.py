"""The one size gate between a single-task kernel and the distributed path.

Several operators have an exact single-task form: PageRank/PPR,
connected components, farthest-point seeding and the k-means||
oversample chain each run as one ``mapInPandas`` task that reproduces
the distributed result bit for bit.  Below a size the distributed form
is pure scheduling floor (one driver-synchronized job per round); above
it the state no longer fits one task.  Every such choice goes through
:func:`fits_one_task`, sized in BYTES of the state the kernel holds
(the REPOSE local-versus-global argument), not in rows:

* edge kernels pass ``n_edges * 32`` — two int64 ids plus the two int64
  code arrays the kernel builds per edge;
* vector kernels pass ``8 * n * width`` — the float64 matrix they hold.

The ceiling is 128 MiB (4 Mi edges, 16 Mi doubles), the task-sizing
band.  It does not yet count the fixed cost of starting a Python-worker
task: ``pyspark.worker_util.setup_spark_files`` runs
``importlib.invalidate_caches()``, measured at 0.08-0.15 s of CPU per
task on Python 3.11 in a quiet process, so a JVM path cheaper than that
would win below the gate.  Every decision equals the one the former
per-operator edge/double ceilings made.

Tests force the distributed path with
``monkeypatch.setattr(single_task, "SINGLE_TASK_BYTES", 0)``: the
predicate reads the constant on every call.
"""

from __future__ import annotations

import logging

logger = logging.getLogger(__name__)

SINGLE_TASK_BYTES = 128 * 1024 * 1024


def fits_one_task(state_bytes: int, name: str) -> bool:
    """True when ``state_bytes`` of kernel state fit one task (run the
    single-task kernel), False for the distributed path.  ``name`` only
    labels the logged decision."""
    fits = state_bytes <= SINGLE_TASK_BYTES
    logger.debug(
        "%s: %d state bytes, ceiling %d -> %s",
        name,
        state_bytes,
        SINGLE_TASK_BYTES,
        "single-task kernel" if fits else "distributed",
    )
    return fits
