"""The session IVF-PQ index caches in ``queries.similarity_q`` are keyed
by the embeddings files' (size, mtime_ns): a table rewritten under the
same directory misses instead of serving the index of its old rows."""

from __future__ import annotations

import os
import shutil

SF = "/root/testdata/sf0.001"


def test_rewritten_embeddings_miss_the_session_index_caches(
    spark, tmp_path, monkeypatch
):
    from ecs_ecommerce_data_pipeline_spark.queries import similarity_q as q

    builds = []

    def fake_build(df, **kw):
        builds.append(kw["path"])
        return (len(builds),)

    monkeypatch.setattr(q.similarity, "build_ivfpq_index", fake_build)
    monkeypatch.setattr(q, "_IVFPQ_CACHE", {})
    monkeypatch.setattr(q, "_CL_CACHE", {})
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    emb = os.path.join(sf, "embeddings.parquet")
    shutil.copyfile(os.path.join(SF, "embeddings.parquet"), emb)

    first = q._ivfpq_index_cached(spark, sf)
    first_cl = q._clustered_index_cached(spark, sf, trained=False)
    assert q._ivfpq_index_cached(spark, sf) is first
    assert q._clustered_index_cached(spark, sf, trained=False) is first_cl
    assert len(builds) == 2

    # regenerate the table in place: same path, new contents and stamp
    spark.read.parquet(emb).limit(50).write.mode("overwrite").parquet(
        str(tmp_path / "regen")
    )
    os.remove(emb)
    shutil.copytree(str(tmp_path / "regen"), emb)

    assert q._ivfpq_index_cached(spark, sf) != first
    assert q._clustered_index_cached(spark, sf, trained=False) != first_cl
    assert len(builds) == 4
