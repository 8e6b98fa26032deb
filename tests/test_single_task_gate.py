"""Every single-task kernel equals its distributed twin, and the one size
gate (``functions.single_task``) picks between them.

Each case runs an operator at the default ceiling (the single-task
kernel) and again with ``SINGLE_TASK_BYTES`` monkeypatched to 0 (the
distributed path), then asserts the collected outputs are identical —
ids, order and float bits — in the manner of spark-rapids'
``assert_gpu_and_cpu_are_equal_collect``.  The logged decisions prove
which path each run took.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from ecs_ecommerce_data_pipeline_spark.functions import single_task
from ecs_ecommerce_data_pipeline_spark.operators import similarity
from ecs_ecommerce_data_pipeline_spark.operators.dedup import connected_components
from ecs_ecommerce_data_pipeline_spark.operators.graph import (
    pagerank,
    personalized_pagerank,
)

from .conftest import SF_SMOKE as SF

KERNEL, DISTRIBUTED = "single-task kernel", "distributed"


def _decisions(caplog) -> list[tuple[str, str]]:
    """(operator, path) of every logged gate decision since the last call."""
    out = [
        (m.split(":", 1)[0], m.rsplit("-> ", 1)[1])
        for m in (r.getMessage() for r in caplog.records if r.name == single_task.__name__)
    ]
    caplog.clear()
    return out


def assert_single_task_and_distributed_equal(run, monkeypatch, caplog):
    """Collect ``run()`` on the single-task kernel, then on the
    distributed path; assert identical output and return it."""
    caplog.set_level(logging.DEBUG, logger=single_task.__name__)
    fast = run()
    fast_paths = {path for _, path in _decisions(caplog)}
    monkeypatch.setattr(single_task, "SINGLE_TASK_BYTES", 0)
    slow = run()
    slow_paths = {path for _, path in _decisions(caplog)}
    assert fast_paths == {KERNEL} and slow_paths == {DISTRIBUTED}
    assert fast == slow
    return fast


# -- farthest-point seeding -------------------------------------------------


def _fps_rows(df):
    return [
        (r.cluster_id, r.seed_vid, tuple(r.centroid))
        for r in df.orderBy("cluster_id").collect()
    ]


# The clustered k=16 case and the dispatch test live in
# test_round11_fps_fastpath.py, on the helpers above.


def fps_k_exceeds_rows(spark):
    small = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)],
        "vec_id bigint, embedding array<double>",
    )
    return lambda: _fps_rows(similarity.farthest_point_seeds(small, k=4))


def check_fps_k_exceeds_rows(out):
    assert len(out) == 3
    assert out[0][1] == 0  # seed_0 = smallest id
    assert sorted(r[0] for r in out) == list(range(3))


# -- k-means|| oversampling -------------------------------------------------


def _kpar_fixture(spark, n, dims=6):
    # md5-analytic deterministic vectors, a few near-duplicate ridges so
    # the cost distribution is non-trivial across rounds
    vec = (
        f"transform(sequence(0, {dims - 1}), d -> "
        f"CAST(conv(substr(md5(concat('kpt:', cast(vec_id as string), ':', "
        f"cast(d as string))), 1, 15), 16, 10) AS DOUBLE) / 1152921504606846976.0"
        f" + CAST(vec_id % 4 AS DOUBLE))"
    )
    return spark.range(n).select(
        F.col("id").cast("bigint").alias("vec_id"),
        F.expr(vec).alias("embedding"),
    )


def _kpar(emb, l, rounds):
    def run():
        cands, stats = similarity.kmeans_parallel_oversample(emb, l=l, rounds=rounds)
        rows = sorted(
            (int(r["vid"]), tuple(r["vec"]), float(r["nrm"]), int(r["weight"]))
            for r in cands.collect()
        )
        return rows, stats

    return run


def kpar_stats_and_candidates(spark):
    return _kpar(_kpar_fixture(spark, 240), l=8, rounds=3)


def check_kpar_stats_and_candidates(out):
    rows, stats = out
    assert rows and len(stats) == 3


def kpar_small(spark):
    return _kpar(_kpar_fixture(spark, 40), l=4, rounds=1)


def check_kpar_small(out):
    rows, stats = out
    assert stats[0]["psi_q"] > 0
    assert len(rows) >= 1


# -- PageRank / personalized PageRank ---------------------------------------

# a hub, a chain, a 2-cycle and a DANGLING sink (9 only ever a dst):
# exercises outdeg variety and the leak-is-accepted path
_PR_EDGES = [
    (1, 2), (1, 3), (1, 4), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4),
    (7, 8), (8, 7), (3, 9),
]


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def pr_global(spark):
    edges = spark.createDataFrame(_PR_EDGES, "src bigint, dst bigint")
    return lambda: _ranks(pagerank(edges, iters=3))


def check_pr_global(out):
    assert set(out) == set(range(1, 10))


def ppr_out_of_graph_seed(spark):
    edges = spark.createDataFrame(_PR_EDGES, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,), (7,), (99,)], "node bigint")
    return lambda: _ranks(personalized_pagerank(edges, seeds, iters=3))


def check_ppr_out_of_graph_seed(out):
    # seed 99 has no node to restart into: it is dropped, but it still
    # counts in n_seeds = 3, so the in-graph seeds carry rank
    assert 99 not in out
    assert out[1] > 0 and out[7] > 0


def ppr_string_ids_empty_seeds(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    seeds = spark.createDataFrame([], "node string")
    return lambda: _ranks(personalized_pagerank(edges, seeds, iters=2))


def check_ppr_string_ids_empty_seeds(out):
    assert set(out) == {"a", "b", "c"}
    assert all(v == 0.0 for v in out.values())  # no seeds -> no mass


# -- connected components ---------------------------------------------------


def _cc(spark, pairs, schema):
    edges = spark.createDataFrame(pairs, schema)
    return lambda: {
        (r["node"], r["component"]) for r in connected_components(edges).collect()
    }


def _lcg_edges(n_nodes=120, n_edges=200, seed=7):
    # deterministic LCG so the graph is stable across runs
    x, out = seed, []
    for _ in range(n_edges):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = x % n_nodes
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append((a, x % n_nodes))
    return out


def cc_int_ids(spark):
    return _cc(spark, _lcg_edges(), "doc_a bigint, doc_b bigint")


def check_cc_int_ids(out):
    # min-label contract: a component is its smallest member
    comp_of = dict(out)
    assert all(c <= n for n, c in out)
    assert all(comp_of[c] == c for _, c in out)


def cc_string_ids(spark):
    pairs = [("d1", "d2"), ("d2", "d3"), ("x9", "x8"), ("m5", "m5")]
    return _cc(spark, pairs, "doc_a string, doc_b string")


def check_cc_string_ids(out):
    assert ("d3", "d1") in out and ("x9", "x8") in out


def cc_path_diameter_9(spark):
    # diameter 9 forces several propagation rounds on the distributed
    # path: it must still reach the fixpoint
    return _cc(spark, [(i, i + 1) for i in range(1, 10)], "doc_a bigint, doc_b bigint")


def check_cc_path_diameter_9(out):
    assert out == {(i, 1) for i in range(1, 11)}


CASES = [
    (fps_k_exceeds_rows, check_fps_k_exceeds_rows),
    (kpar_stats_and_candidates, check_kpar_stats_and_candidates),
    (kpar_small, check_kpar_small),
    (pr_global, check_pr_global),
    (ppr_out_of_graph_seed, check_ppr_out_of_graph_seed),
    (ppr_string_ids_empty_seeds, check_ppr_string_ids_empty_seeds),
    (cc_int_ids, check_cc_int_ids),
    (cc_string_ids, check_cc_string_ids),
    (cc_path_diameter_9, check_cc_path_diameter_9),
]


@pytest.mark.parametrize(
    "build, check", CASES, ids=[build.__name__ for build, _ in CASES]
)
def test_single_task_equals_distributed(spark, monkeypatch, caplog, build, check):
    check(assert_single_task_and_distributed_equal(build(spark), monkeypatch, caplog))


def _no_vectors(spark):
    return spark.createDataFrame([], "vec_id bigint, embedding array<double>")


def _no_edges(spark):
    return spark.createDataFrame([], "src bigint, dst bigint")


# Empty inputs have no second path to compare: FPS and k-means|| return
# before the gate, and PageRank and CC hold 0 state bytes, which fit
# even a 0-byte ceiling.
@pytest.mark.parametrize(
    "run, expected",
    [
        pytest.param(
            lambda s: similarity.farthest_point_seeds(_no_vectors(s), k=4).count(),
            0,
            id="fps",
        ),
        pytest.param(
            lambda s: _kpar(_no_vectors(s), l=8, rounds=2)(),
            ([], [{"round": r, "psi_q": 0, "n_sampled": 0, "vids": []} for r in (1, 2)]),
            id="kpar",
        ),
        pytest.param(lambda s: pagerank(_no_edges(s), iters=2).count(), 0, id="pagerank"),
        pytest.param(
            lambda s: _cc(s, [], "doc_a bigint, doc_b bigint")(), set(), id="cc"
        ),
    ],
)
def test_empty_input(spark, run, expected):
    assert run(spark) == expected


# -- the gate itself --------------------------------------------------------

MI = 1024 * 1024


def test_ceiling_keeps_the_former_edge_and_double_limits():
    fits = single_task.fits_one_task
    # 4 Mi edges at 32 bytes an edge, 16 Mi doubles at 8 bytes a double
    assert fits(4 * MI * 32, "edges") and not fits((4 * MI + 1) * 32, "edges")
    assert fits(16 * MI * 8, "doubles") and not fits((16 * MI + 1) * 8, "doubles")
    # the former gates: n_edges <= 4 Mi and n * width <= 16 Mi doubles
    for n in (0, 1, 4 * MI - 1, 4 * MI, 4 * MI + 1, 8 * MI):
        assert fits(n * 32, "edges") is (n <= 4 * MI)
    for n in (1, 1000, 2 * MI, 2 * MI + 1, 16 * MI, 16 * MI + 1):
        for width in (1, 8, 25, 64):
            assert fits(8 * n * width, "doubles") is (n * width <= 16 * MI)


@pytest.mark.parametrize(
    "query, operator",
    [
        ("graph_pagerank_purchases", "pagerank"),
        ("sim_fps_seeds", "farthest_point_seeds"),
    ],
)
def test_curation_queries_take_the_kernel(spark, caplog, query, operator):
    from ecs_ecommerce_data_pipeline_spark import catalog

    caplog.set_level(logging.DEBUG, logger=single_task.__name__)
    catalog.queries()[query](spark, SF)
    assert _decisions(caplog) == [(operator, KERNEL)]
