"""Iterative graph analytics on DataFrames: PageRank.

Complements the connected-components operator (``operators.dedup``): CC
finds duplicate clusters; PageRank ranks nodes by link structure — here
the user↔product purchase bipartite graph (both directions, so rank
circulates), the standard collaborative-popularity signal.

Determinism contract (same discipline as ``similarity.kmeans_refine``):

* FIXED iteration count — no convergence probe, no driver boundary, a
  single static plan;
* per-node contribution sums are POWER-OF-TWO integer-scaled:
  ``floor(contrib · 2^40)`` summed as exact BIGINT, then divided back by
  ``2^40`` (an exact binary scaling). Integer sums are order-independent,
  and — unlike a DECIMAL(38,20) route — the quantization step rounds
  identically in every engine (decimal rounding modes for double→decimal
  casts differ between engines by an ulp, which compounds across
  iterations). Total rank mass is ≤ 1, so the scaled sum stays ≤ 2^40,
  far inside exact-double range;
* rank updates are pure IEEE double ops on those exact sums.

Scale shape per iteration: one equi-join (edges ⨝ ranks on src) + one
map-side-combinable aggregation on dst — the textbook distributed
PageRank step. Degrees are precomputed once, and the degree-weighted
edge list is REPARTITIONED ON src BEFORE its lineage cut: every
iteration's join then finds the (large) edge side already hash-
partitioned on the join key, so only the (small) ranks side shuffles —
the edge list crosses the network once for the whole run, not once per
iteration. Callers should use compact integer node ids (see
``queries.graph_q``'s 2k/2k+1 encoding) — shuffle bytes per iteration
are dominated by node-id width. No collect, no accumulating lineage
problem at small fixed iters (checkpoint if iters grows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.single_task import fits_one_task

_DAMPING = 0.85
_SCALE = 1099511627776.0  # 2^40 — exact binary scaling factor


def _pr_single_task(
    E: DataFrame,
    iters: int,
    damping: float,
    seeds: list | None = None,
    n_seeds: int = 0,
) -> DataFrame:
    """Exact PageRank over the (materialized) edge list in ONE
    ``mapInPandas`` task — bit-identical to the distributed loop.

    Identity argument: the per-edge contribution ``floor((rank[src] /
    outdeg[src]) · 2^40)`` is an elementwise IEEE double chain numpy
    reproduces op-for-op; the per-dst sum is an exact int64 sum of
    integers ≤ 2^40 (order-free by exactness); the rank update
    ``(1−d)/N + d·(sum/2^40)`` (or the seeded ``(1−d)·r + …``) is again
    elementwise IEEE with the same literals and the same
    power-of-two-exact division.  No BLAS, no reassociation anywhere.

    ``seeds``/``n_seeds`` select the personalized form: restart vector
    r = 1/n_seeds on in-graph seed nodes, 0 elsewhere (n_seeds counts
    ALL distinct seeds, matching the distributed base join)."""
    import numpy as np
    import pandas as pd

    node_t = E.schema["src"].dataType.simpleString()
    d = float(damping)
    it = int(iters)

    def pr_kernel(batches):
        srcs: list = []
        dsts: list = []
        for pdf in batches:
            srcs.append(pdf["src"])
            dsts.append(pdf["dst"])
        if not srcs or sum(len(s) for s in srcs) == 0:
            yield pd.DataFrame({"node": [], "rank": []})
            return
        src = pd.concat(srcs, ignore_index=True)
        dst = pd.concat(dsts, ignore_index=True)
        m = len(src)
        codes, nodes = pd.factorize(
            pd.concat([src, dst], ignore_index=True), sort=False
        )
        src_c, dst_c = codes[:m], codes[m:]
        n = len(nodes)
        outdeg = np.zeros(n, dtype=np.int64)
        np.add.at(outdeg, src_c, 1)
        # every src has outdeg >= 1; pure sinks never appear as src
        outdeg_f = np.where(outdeg == 0, 1, outdeg).astype(np.float64)
        if seeds is None:
            r = None
            rank = np.full(n, 1.0 / float(n), dtype=np.float64)
            base = (1.0 - d) / float(n)
        else:
            is_seed = pd.Index(nodes).isin(seeds)
            # empty seed set: the distributed CASE never fires -> r = 0
            rv = 1.0 / float(n_seeds) if n_seeds else 0.0
            r = np.where(is_seed, rv, 0.0)
            rank = r.copy()
        for _ in range(it):
            contrib = np.floor(
                (rank[src_c] / outdeg_f[src_c]) * _SCALE
            ).astype(np.int64)
            acc = np.zeros(n, dtype=np.int64)
            np.add.at(acc, dst_c, contrib)
            in_mass = acc.astype(np.float64) / _SCALE
            if seeds is None:
                rank = base + d * in_mass
            else:
                rank = (1.0 - d) * r + d * in_mass
        yield pd.DataFrame({"node": nodes, "rank": rank})

    return (
        E.coalesce(1)
        .mapInPandas(pr_kernel, f"node {node_t}, rank double")
        .localCheckpoint()
    )


def pagerank(
    edges: DataFrame,
    iters: int = 2,
    damping: float = _DAMPING,
    distinct_edges: bool = True,
) -> DataFrame:
    """PageRank over directed ``edges(src, dst)`` (STRING node ids —
    callers encode typed nodes as 'type:id'). Returns (node, rank).

    rank_0(v) = 1/N;
    rank_{t+1}(v) = (1-d)/N + d · Σ_{u→v} rank_t(u) / outdeg(u).

    Dangling nodes (no out-edges) leak their rank mass — acceptable for
    ranking use; the bipartite construction in ``queries.graph_q`` has
    none (every edge is mirrored).

    ``distinct_edges=False`` skips the defensive edge dedup (a full
    shuffle of the edge list) when the caller guarantees uniqueness —
    e.g. a mirrored union of an already-distinct pair set, where the
    'u:'/'p:' prefixes make collisions impossible.  Duplicate edges
    would silently double contribution mass, so keep the default unless
    the guarantee is structural.
    """
    edges = edges.select("src", "dst")
    if distinct_edges:
        edges = edges.distinct()
    # the edge list feeds the degree agg and the degree join — without
    # a reuse point the upstream derivation (often a join itself)
    # re-executes per consumer
    edges = edges.persist()
    # Round-11 (the connected-components pattern): the
    # distributed loop costs ~8 jobs / ~6 exchanges of setup plus 2 per
    # iteration — pure scheduling floor when the graph fits one task.
    # The 2^40 integer-scaled sums make the result order-free, so the
    # single-task kernel is bit-identical; the gating count doubles as
    # the materializing action the persist wanted anyway, and beyond the
    # gate the distributed form below runs unchanged (the 100 TB shape)
    # on the already-warm cache.
    if fits_one_task(edges.count() * 32, "pagerank"):
        result = _pr_single_task(edges, iters, damping)
        edges.unpersist()
        return result
    # Pre-join the out-degree onto the edge list ONCE and pin the
    # result: each iteration then needs a single join (ranks) instead
    # of two. persist() — NOT localCheckpoint — is the reuse primitive
    # here: InMemoryRelation advertises the cached plan's
    # outputPartitioning/-Ordering (hashpartitioning(src) + sorted from
    # the degree SMJ), so every iteration's join finds the big edge
    # side pre-partitioned AND pre-sorted — zero exchange, zero sort;
    # a localCheckpoint under AQE forgets partitioning (LogicalRDD of
    # an unfinalized adaptive plan reports UnknownPartitioning) and
    # re-shuffled the whole edge list EVERY iteration.
    wedges = edges.join(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src"
    ).persist()
    nodes = (
        wedges.select(F.col("src").alias("node"))
        .unionByName(wedges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # referenced in the initial ranks AND every iteration's left join;
    # cached partitioning (hashpartitioning(node)) lines up with the
    # contribution agg's output, so the per-iteration rank-update join
    # shuffles nothing
    nodes = nodes.persist()
    # N and the base term ride along as columns of a 1-row broadcast —
    # never collected to the driver
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))

    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )

    for _ in range(iters):
        contribs = (
            wedges.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    (F.col("rank") / F.col("outdeg").cast("double"))
                    * F.lit(_SCALE)
                )
                .cast("bigint")
                .alias("contrib_scaled"),
            )
            .groupBy("node")
            .agg(
                (F.sum("contrib_scaled").cast("double") / F.lit(_SCALE))
                .alias("in_mass")
            )
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("n_nodes")
                    + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    # Materialize the final ranks (truncating the iters-deep lineage
    # that referenced the pinned relations), then release the cached
    # blocks — otherwise every pagerank() call leaks executor storage
    # for the session lifetime and callers must clearCache() around it.
    ranks = ranks.localCheckpoint(eager=True)
    for pinned in (nodes, wedges, edges):
        pinned.unpersist()
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 2,
    damping: float = _DAMPING,
    distinct_edges: bool = True,
) -> DataFrame:
    """Personalized PageRank: the restart mass returns to the SEED set
    instead of spreading uniformly — rank_{t+1}(v) = (1−d)·r(v) +
    d·Σ_{u→v} rank_t(u)/outdeg(u), with r = 1/|S| on ``seeds(node)``
    and 0 elsewhere, rank_0 = r.  The recommendation/affinity form of
    :func:`pagerank` (scores concentrate around the seeds' neighborhood
    instead of global popularity), sharing its plan shape exactly: one
    edges⨝ranks join + one combinable dst-agg per iteration, the same
    2^40 integer-scaled contribution sums, the same persist discipline.
    Dangling-node leakage is acceptable here for the same reason.

    ``seeds`` is deduplicated before use (duplicate seed rows would fan
    out the base join and double-count restart mass).  Seeds absent
    from the edge set carry no node to restart INTO, so their 1/|S|
    share of restart mass is dropped and Σ r < 1 — documented contract
    (the caller decides whether an out-of-graph seed is an error; the
    engine stays total).
    """
    seeds = seeds.select("node").distinct()
    edges = edges.select("src", "dst")
    if distinct_edges:
        edges = edges.distinct()
    edges = edges.persist()
    # same single-task gate as :func:`pagerank`; the seed set is bounded
    # (it IS the restart distribution's support — collected once, one
    # small job) and n_seeds counts ALL distinct seeds, matching the
    # distributed base join's out-of-graph drop
    if fits_one_task(edges.count() * 32, "personalized_pagerank"):
        seed_vals = [r["node"] for r in seeds.collect()]
        result = _pr_single_task(
            edges, iters, damping, seeds=seed_vals, n_seeds=len(seed_vals)
        )
        edges.unpersist()
        return result
    wedges = edges.join(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src"
    ).persist()
    nodes = (
        wedges.select(F.col("src").alias("node"))
        .unionByName(wedges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_seeds = seeds.agg(F.count(F.lit(1)).cast("double").alias("n_seeds"))
    base = (
        nodes.join(
            seeds.select(F.col("node"), F.lit(1).alias("_is_seed")),
            "node",
            "left",
        )
        .crossJoin(F.broadcast(n_seeds))
        .select(
            "node",
            F.when(
                F.col("_is_seed") == 1, F.lit(1.0) / F.col("n_seeds")
            ).otherwise(F.lit(0.0)).alias("r"),
        )
    ).persist()
    ranks = base.select("node", F.col("r").alias("rank"))
    for _ in range(iters):
        contribs = (
            wedges.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    (F.col("rank") / F.col("outdeg").cast("double"))
                    * F.lit(_SCALE)
                )
                .cast("bigint")
                .alias("contrib_scaled"),
            )
            .groupBy("node")
            .agg(
                (F.sum("contrib_scaled").cast("double") / F.lit(_SCALE))
                .alias("in_mass")
            )
        )
        ranks = (
            base.join(contribs, "node", "left")
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) * F.col("r")
                    + F.lit(damping)
                    * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    ranks = ranks.localCheckpoint(eager=True)
    for pinned in (base, wedges, edges):
        pinned.unpersist()
    return ranks
