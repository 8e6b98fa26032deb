"""Round-11 optimization pin: the grouped-Arrow MMR kernel must
reproduce the greedy MMR reference (picks, order, scores), and its
injected frames are checked at build time and in the kernel.  The
connected-components fast==distributed cases live in
``test_single_task_gate.py``.
"""

from __future__ import annotations


def test_mmr_kernel_matches_greedy_reference(spark):
    import math

    from ecs_ecommerce_data_pipeline_spark.operators.similarity import (
        mmr_diversified_topk,
    )

    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.9, 0.1, 0.0],  # near-copy of 0: MMR must demote it
        2: [0.0, 1.0, 0.0],
        3: [0.0, 0.9, 0.2],
        4: [0.5, 0.5, 0.5],
        5: [0.1, 0.0, 1.0],
        100: [1.0, 0.05, 0.0],  # query A
        101: [0.0, 1.0, 0.1],  # query B
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<double>"
    )
    k, shortlist, lam = 4, 6, 0.5
    got = [
        (r.query_id, r.mmr_rank, r.corpus_id, r.mmr_score)
        for r in mmr_diversified_topk(
            emb, [100, 101], k=k, shortlist=shortlist, lam=lam
        )
        .orderBy("query_id", "mmr_rank")
        .collect()
    ]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    expect = []
    for q in (100, 101):
        cand = sorted(
            ((cos(vecs[q], vecs[c]), c) for c in vecs if c not in (100, 101)),
            key=lambda t: (-t[0], t[1]),
        )[:shortlist]
        rel = {c: r for r, c in cand}
        ms = {c: 0.0 for c in rel}
        picked = []
        for rank in range(1, k + 1):
            avail = [c for c in rel if c not in picked]
            best = max(avail, key=lambda c: (lam * rel[c] - (1 - lam) * ms[c], -c))
            picked.append(best)
            expect.append((q, rank, best, lam * rel[best] - (1 - lam) * ms[best]))
            for c in avail:
                if c != best:
                    ms[c] = max(ms[c], cos(vecs[c], vecs[best]))

    assert [(q, r, c) for q, r, c, _ in got] == [(q, r, c) for q, r, c, _ in expect]
    for (_, _, _, s_got), (_, _, _, s_exp) in zip(got, expect):
        assert abs(s_got - s_exp) < 1e-12


def _mmr_inputs(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (9, [0.5, 0.2])],
        "vec_id bigint, embedding array<double>",
    )
    vectors = spark.createDataFrame(
        [(c, [1.0, float(c)], (1.0 + c * c) ** 0.5) for c in (0, 1, 2)],
        "corpus_id bigint, cvec array<double>, cnrm double",
    )
    return emb, vectors


def test_mmr_injected_frames_schema_checked_at_build(spark):
    import pytest

    from ecs_ecommerce_data_pipeline_spark.operators.similarity import (
        mmr_diversified_topk,
    )

    emb, vectors = _mmr_inputs(spark)
    sl = spark.createDataFrame(
        [(9, 0, 0.9), (9, 1, 0.5)], "query_id bigint, corpus_id bigint, rel double"
    )
    with pytest.raises(TypeError, match=r"shortlist_df\.rel is missing"):
        mmr_diversified_topk(
            emb, [9], k=1, shortlist=2,
            shortlist_df=sl.withColumnRenamed("rel", "score"),
            vectors_df=vectors,
        )
    with pytest.raises(TypeError, match=r"vectors_df\.cvec is array<string>"):
        mmr_diversified_topk(
            emb, [9], k=1, shortlist=2, shortlist_df=sl,
            vectors_df=vectors.withColumn("cvec", vectors["cvec"].cast("array<string>")),
        )


def test_mmr_injected_shortlist_row_bound_enforced_in_kernel(spark):
    import pytest

    from ecs_ecommerce_data_pipeline_spark.operators.similarity import (
        mmr_diversified_topk,
    )

    emb, vectors = _mmr_inputs(spark)
    sl = spark.createDataFrame(
        [(9, 0, 0.9), (9, 1, 0.5), (9, 2, 0.7)],
        "query_id bigint, corpus_id bigint, rel double",
    )
    # within the bound the injected frames are consumed as given
    got = mmr_diversified_topk(
        emb, [9], k=1, shortlist=3, shortlist_df=sl, vectors_df=vectors
    ).collect()
    assert [(r.corpus_id, r.mmr_rank) for r in got] == [(0, 1)]
    with pytest.raises(Exception, match="query 9 has 3 shortlist rows, more than shortlist=2"):
        mmr_diversified_topk(
            emb, [9], k=1, shortlist=2, shortlist_df=sl, vectors_df=vectors
        ).collect()
