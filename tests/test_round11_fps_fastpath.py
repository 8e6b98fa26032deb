"""The single-task Arrow kernel of ``farthest_point_seeds`` must be
bit-identical to the distributed running-max chain (same picks, same
centroids, same order), and the dispatch between them is the one byte
ceiling of ``functions.single_task``.
"""

from __future__ import annotations

import logging

import pytest

from ecs_ecommerce_data_pipeline_spark.functions import single_task
from ecs_ecommerce_data_pipeline_spark.operators import similarity

from .conftest import SF_SMOKE as SF
from .test_single_task_gate import (
    DISTRIBUTED,
    KERNEL,
    _decisions,
    _fps_rows,
    assert_single_task_and_distributed_equal,
)


@pytest.fixture()
def fx(spark):
    from ecs_ecommerce_data_pipeline_spark.queries.similarity_q import _clustered_fx

    return _clustered_fx(spark, SF)


def test_fast_path_matches_distributed_chain(fx, monkeypatch, caplog):
    out = assert_single_task_and_distributed_equal(
        lambda: _fps_rows(similarity.farthest_point_seeds(fx, k=16)),
        monkeypatch,
        caplog,
    )
    assert len(out) == 16


def test_dispatch_threshold_env(fx, monkeypatch, caplog):
    # The retired SPARK_GRAFT_FPS_SINGLE_TASK_DOUBLES no longer moves the
    # dispatch; only the byte ceiling does, and both paths pick the same.
    caplog.set_level(logging.DEBUG, logger=single_task.__name__)
    monkeypatch.setenv("SPARK_GRAFT_FPS_SINGLE_TASK_DOUBLES", "0")
    fast = _fps_rows(similarity.farthest_point_seeds(fx, k=2))
    assert _decisions(caplog) == [("farthest_point_seeds", KERNEL)]
    monkeypatch.setattr(single_task, "SINGLE_TASK_BYTES", 0)
    slow = _fps_rows(similarity.farthest_point_seeds(fx, k=2))
    assert _decisions(caplog) == [("farthest_point_seeds", DISTRIBUTED)]
    assert fast == slow and len(fast) == 2
