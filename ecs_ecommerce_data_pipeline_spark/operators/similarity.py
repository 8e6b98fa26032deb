"""Similarity search over embedding columns (ARRAY<FLOAT>).

Two paths over ``embeddings(vec_id, embedding, label)``:

* **Brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the corpus, per-row sequential dot product
  via ``F.zip_with`` + ``F.aggregate`` (JVM-side, codegen), window top-k.
  Cost O(|corpus| × |queries|) — fine when queries are few; the corpus
  side stays distributed and is scanned once.
* **Random-hyperplane LSH buckets** — the scale path: H deterministic
  md5-derived hyperplanes map every vector to an H-bit bucket; neighbor
  candidates share a bucket (Charikar SimHash-LSH). Bucketing is a
  per-row map (no shuffle); candidate generation is an equi-join on
  bucket id instead of a cross join.

Determinism: hyperplane weights derive from md5(plane:dim) — the oracle
SQL reproduces them exactly; per-row fold order (array index order) is
identical in Spark ``aggregate`` and DuckDB ``list_dot_product``
(verified empirically), so cosine values are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.single_task import fits_one_task


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two ARRAY<DOUBLE> columns.

    Oracle equivalent: ``list_dot_product(a, b)`` (same index-order
    accumulation in double).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """L2 norm, same fold order as ``dot``. Oracle: sqrt(list_dot_product(a, a))."""
    return F.sqrt(dot(a, a))


def as_double_array(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    The query side (|query_ids| rows) is broadcast; the corpus is scanned
    once with no shuffle until the final per-query top-k window over
    |queries| × k candidate rows. Ties break on corpus id — fully
    deterministic output set.
    """
    from pyspark.sql import Window as W

    v = as_double_array(vec_col)
    # precompute per-row norms BEFORE the join: computing cosine() per
    # pair would re-fold each vector's norm |queries| times
    corpus = embeddings.select(
        F.col(id_col).alias("corpus_id"), v.alias("corpus_vec")
    ).withColumn("corpus_norm", norm(F.col("corpus_vec")))
    queries = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), v.alias("query_vec"))
        .withColumn("query_norm", norm(F.col("query_vec")))
    )
    scored = corpus.join(F.broadcast(queries), F.col("corpus_id") != F.col("query_id")).select(
        "query_id",
        "corpus_id",
        (
            dot(F.col("query_vec"), F.col("corpus_vec"))
            / (F.col("query_norm") * F.col("corpus_norm"))
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def hyperplane_weight(plane: Column, dim: Column) -> Column:
    """Deterministic pseudo-random weight in [-1, 1) for (plane, dim):
    md5-derived 60-bit uniform scaled. Oracle reproduces with the same
    string formula. (Column form — kept for ad-hoc use; the hot path
    precomputes the same weights driver-side, see
    ``_hyperplane_weights_py``.)"""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", plane.cast("string"), dim.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("double")
    return h / F.lit(float(2**60)) * 2.0 - 1.0


def _hyperplane_weights_py(plane: int, dims: int) -> list[float]:
    """Python twin of ``hyperplane_weight``: w(p, d) for d in [0, dims).

    Bit-identical to the Column/oracle formula — the 60-bit md5 prefix is
    converted int→double (IEEE round-to-nearest, same as Spark's cast and
    DuckDB's ``::BIGINT`` division) then scaled with the same operation
    order ``h / 2^60 * 2.0 - 1.0``.
    """
    import hashlib

    out = []
    for d in range(dims):
        h = int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:15], 16)
        out.append(float(h) / 1152921504606846976.0 * 2.0 - 1.0)
    return out


def _vector_dims(embeddings: DataFrame, vec_col: str) -> int:
    """Fixed dimensionality of the embedding column.

    One tiny driver lookup (first row's array length) — the weight
    matrix is H×D literals and must be known at plan time. At scale this
    is metadata (a real deployment pins dims in the table schema).
    """
    row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        return 0  # empty input: caller produces an empty result
    if row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer dimensionality of {vec_col!r}")
    return int(row["d"])


def _proj_sql_expr(vec_col: str, p: int, dims: int) -> str:
    """Integerized hyperplane projection of plane ``p`` as ONE SQL string.

    'D' suffix: bare decimal literals parse as DECIMAL in Spark SQL;
    repr() is Python's shortest-roundtrip form, so the parsed double is
    bit-identical to the weight F.lit() used to embed.  Each term is
    integerized per element (floor of the double product scaled by 2^40)
    BEFORE summation, so the sum is exact integer arithmetic — order-free,
    partitioning- and engine-independent — at BIGINT speed.
    """
    v_sql = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    w = ", ".join(f"{x!r}D" for x in _hyperplane_weights_py(p, dims))
    return (
        f"aggregate(zip_with({v_sql}, array({w}),"
        " (x, wd) -> CAST(FLOOR((x * wd) * 1099511627776.0D) AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )


def _with_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """``embeddings`` + a ``bucket`` column, computed INLINE on each row.

    This is the composition point for every LSH consumer: because the
    bucket is a row-local expression, downstream operators (top-k,
    near-dup pairs) keep the vector and its bucket on the same row for
    free. Joining the id→bucket projection back to the corpus — the
    shape this replaced — re-scanned and re-shuffled the whole table
    just to recover a column the scan already had (measured 1.8× slower
    on ``sim_lsh_topk`` at sf0.1, and at 100 TB it would shuffle the
    full vector payload once per consumer).
    """
    if dims is None:
        dims = _vector_dims(embeddings, vec_col)
    if dims == 0:  # empty input: empty assignment, stable schema
        return embeddings.withColumn("bucket", F.lit(None).cast("bigint"))

    # The whole bucket expression is assembled as ONE SQL string and
    # parsed JVM-side. Building it with Column algebra cost ~1 s of
    # driver time PER CALL (hundreds of Py4J round trips for the 8×dims
    # literal weight arrays and lambda conversions) — 6× the actual
    # cluster-side execution at sf0.1. One expr() parse is ~10 ms.
    #
    # Each term is integerized per element (floor of the double product
    # scaled by 2^40) BEFORE summation, so the sum is exact integer
    # arithmetic — order-free, partitioning- and engine-independent — at
    # BIGINT speed instead of DECIMAL. 64-dim terms of magnitude ≲2^40
    # keep the sum far inside int64.
    def proj_sql(p: int) -> str:
        return _proj_sql_expr(vec_col, p, dims)

    bits = " + ".join(
        f"IF({proj_sql(p)} > 0, CAST({1 << p} AS BIGINT), CAST(0 AS BIGINT))"
        for p in range(n_planes)
    )
    # the embedded weight matrix is dims-wide: a ragged vector would
    # zip_with-pad with nulls and silently zero its sign bits — fail
    # LOUDLY instead (same philosophy as the multimodal codec guard).
    # Size is checked on the RAW column: size(cast(v)) would materialize
    # a fresh double array per row just to measure its length (cast
    # preserves length, so the check is identical and ~free).
    bucket_sql = (
        f"CASE WHEN size(`{vec_col}`) = {dims} THEN CAST(({bits}) AS BIGINT) "
        f"ELSE CAST(raise_error(concat("
        f"'embedding length != inferred dims={dims} for ', "
        f"CAST(`{id_col}` AS STRING))) AS BIGINT) END"
    )
    return embeddings.withColumn("bucket", F.expr(bucket_sql))


def lsh_bucket_assignments(
    embeddings: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """(id, bucket) — bucket = integer of sign bits of ⟨w_p, v⟩ over
    ``n_planes`` hyperplanes (Charikar random-hyperplane LSH).

    MAP-ONLY: the H×D hyperplane weight matrix is precomputed driver-side
    (bit-identical md5 derivation, see ``_hyperplane_weights_py``) and
    embedded as literal arrays; each projection is a per-row
    ``zip_with`` product + integer ``aggregate`` fold, and the
    bucket id is a ``when``-chain over the sign bits. Zero shuffles,
    zero runtime md5, no row explosion — at 100 TB this stage is a pure
    scan that pipelines into the downstream bucket join. (The previous
    shape posexploded dims × planes rows per vector and shuffled twice —
    768-dim × 8 planes = 6,144 rows per vector of pure overhead.)

    Projection terms are integerized per element (floor of the scaled
    double product) before summation, so the sign — and therefore the
    bucket — is exact integer arithmetic: partitioning- and
    engine-independent, and ~3× faster than the DECIMAL(25,15) fold it
    replaced; the DuckDB oracle reproduces it bit-for-bit.

    Operators that need the vector AND its bucket should use
    ``_with_buckets`` (inline column) rather than joining this
    projection back to the corpus.
    """
    return _with_buckets(embeddings, n_planes, id_col, vec_col, dims).select(
        F.col(id_col), F.col("bucket")
    )


def multiband_bucket_rows(
    embeddings: DataFrame,
    n_bands: int = 4,
    band_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """(id, band_idx, bucket) — OR-amplified hyperplane LSH blocking:
    band ``b`` hashes planes ``[b·band_bits, (b+1)·band_bits)`` into one
    integer bucket, and a candidate pair is any pair sharing ANY band's
    bucket.  This is the SimHash/image-band family's blocking geometry
    (``operators.multimodal.fuse_bands``) transplanted to raw embedding
    vectors: wide bands cut the random-collision floor from n²/2^w to
    n·(n/2^(bits)) per band (×``n_bands``), while the band UNION keeps
    recall on genuinely-close vectors (a near neighbor only needs one
    intact band — the pigeonhole trade).  With the 4×16 default the
    floor is n²/65536 per band vs the single-8-plane bucket's n²/256 —
    the measured 59× collision cut the image family bought at 5k docs,
    available to every vector-space k-NN consumer
    (``queries.curation_q.q_label_noise`` is the first).

    MAP-ONLY like ``_with_buckets``: all ``n_bands × band_bits``
    projections are integerized row-local expressions parsed from ONE
    SQL string; the only row growth is the ×``n_bands`` posexplode of
    2-integer rows (never the vector payload).  Ragged vectors fail
    loudly (same guard as ``_with_buckets``)."""
    if dims is None:
        dims = _vector_dims(embeddings, vec_col)
    if dims == 0:
        return embeddings.select(
            F.col(id_col),
            F.lit(None).cast("int").alias("band_idx"),
            F.lit(None).cast("bigint").alias("bucket"),
        ).limit(0)

    def band_sql(b: int) -> str:
        bits = " + ".join(
            f"IF({_proj_sql_expr(vec_col, b * band_bits + j, dims)} > 0,"
            f" CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
            for j in range(band_bits)
        )
        return f"CAST(({bits}) AS BIGINT)"

    arr = f"array({', '.join(band_sql(b) for b in range(n_bands))})"
    guarded = (
        f"CASE WHEN size(`{vec_col}`) = {dims} THEN {arr} "
        f"ELSE CAST(raise_error(concat("
        f"'embedding length != inferred dims={dims} for ', "
        f"CAST(`{id_col}` AS STRING))) AS ARRAY<BIGINT>) END"
    )
    return embeddings.select(
        F.col(id_col), F.posexplode(F.expr(guarded)).alias("band_idx", "bucket")
    )


def band_policy(
    n_rows: int,
    n_bands: int = 4,
    target_candidates_per_point: float = 8.0,
    min_band_bits: int = 8,
    max_band_bits: int = 30,
) -> int:
    """Pick the LSH band width from corpus size and a random-collision
    budget — the round-10 scale-adaptive replacement for registering
    band widths as constants (SCALING's own note recorded banded
    candidate volume growing ~n² with density at FIXED widths:
    ``label_noise_decomposition`` went 502 → 230k candidates at 10×).

    Model: a band of width ``w`` hashes ``n`` near-uniform rows into
    2^w buckets, so the expected RANDOM (non-near) candidates per point
    per band is ~n/2^w, and with ``n_bands`` OR-amplified bands the
    per-point random floor is ~``n_bands``·n/2^w.  Holding that at
    ``target_candidates_per_point`` solves

        w = ceil(log2(n_bands · n / target))

    which makes total random candidate volume ~n·target — LINEAR in
    corpus size — while genuinely-near pairs keep colliding through the
    band union (a near pair needs only ONE intact band; widening w
    lowers per-band recall smoothly rather than cliff-ing, so callers
    fix ``n_bands`` for the recall they need and let w carry scale).
    Clamped to [``min_band_bits``, ``max_band_bits``]: below 8 bits the
    floor is never binding at any interesting n, and beyond ~30 bits
    per-band recall decays with no collision-floor left to buy.

    Cost to use: one ``count()`` of the corpus at plan-build time —
    production would read the table statistics instead.  Used by the
    SCALING harness's auto-width re-reads and available to every
    multiband caller (:func:`multiband_bucket_rows` here, the image
    family's ``fuse_bands`` ladder via
    ``operators.multimodal.dhash_band_policy``)."""
    import math

    if n_bands < 1:
        raise ValueError("n_bands must be >= 1")
    if target_candidates_per_point <= 0:
        raise ValueError("target_candidates_per_point must be > 0")
    n = max(1, int(n_rows))
    need = math.log2(
        max(1.0, n_bands * n / float(target_candidates_per_point))
    )
    return max(min_band_bits, min(max_band_bits, int(math.ceil(need))))


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-based near-duplicate pairs: (id_a < id_b) with cosine >=
    ``threshold``, candidates blocked by LSH bucket — the embedding
    member of the dedup family (exact / MinHash / SimHash / n-gram /
    embedding).

    The pair join is an equi-join on bucket id: cost Σ|bucket|²
    instead of n². More planes → smaller buckets → higher speed, lower
    recall (standard LSH trade-off).
    """
    v = as_double_array(vec_col)
    side = (
        _with_buckets(embeddings, n_planes, id_col, vec_col)
        .select(F.col(id_col).alias("vid"), v.alias("vec"), "bucket")
        .withColumn("nrm", norm(F.col("vec")))
    )
    a = side.select(
        F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"), "bucket",
    )
    b = side.select(
        F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"), "bucket",
    )
    # each vector has exactly one bucket, so a pair arises at most once —
    # no distinct needed (and no extra shuffle)
    pairs = a.join(b, ["bucket"]).filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        (dot(F.col("vec_a"), F.col("vec_b")) / (F.col("nrm_a") * F.col("nrm_b")))
        .alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= threshold)


def semantic_decontamination(
    embeddings: DataFrame,
    eval_pred,
    threshold: float = 0.3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-based eval-set decontamination: for every held-out
    eval vector, the maximum cosine similarity any TRAIN vector reaches
    against it — the semantic sibling of the shingle
    ``contamination_pairs`` check (paraphrased eval leakage shares no
    n-grams but still embeds nearby).

    Candidates are LSH-bucket-blocked (eval × train within a shared
    hyperplane bucket — never an eval × corpus dense product), and the
    eval side is broadcast: benchmark sets are orders of magnitude
    smaller than the corpus, so the train scan joins map-side.  Eval
    vectors whose bucket contains no train vector report 0 candidates
    and contaminated = false (a recall miss is possible exactly as in
    every LSH path; lower ``n_planes`` to widen buckets).

    Returns one row per eval vector: (eval_id, n_candidates,
    max_cosine, nearest_train_id, contaminated) — max_cosine/nearest
    are NULL when no candidate shared a bucket.
    """
    v = as_double_array(vec_col)
    side = (
        _with_buckets(embeddings, n_planes, id_col, vec_col)
        .select(
            F.col(id_col).alias("vid"),
            v.alias("vec"),
            "bucket",
            eval_pred.alias("_ev"),
        )
        .withColumn("nrm", norm(F.col("vec")))
    )
    # The eval side feeds TWO consumers (the candidate join and the
    # all-evals report spine); it is benchmark-sized AFTER the filter
    # but its derivation scans the corpus — eagerly materialize it once
    # (localCheckpoint: bounded rows, no lingering cache pin) so the
    # corpus is scanned twice total (train + eval derivation), never
    # once per consumer.
    ev = (
        side.filter(F.col("_ev"))
        .select(
            F.col("vid").alias("eval_id"),
            F.col("vec").alias("evec"),
            F.col("nrm").alias("enrm"),
            "bucket",
        )
        .localCheckpoint()
    )
    tr = side.filter(~F.col("_ev")).select(
        F.col("vid").alias("train_id"),
        F.col("vec").alias("tvec"),
        F.col("nrm").alias("tnrm"),
        "bucket",
    )
    scored = tr.join(F.broadcast(ev), "bucket").select(
        "eval_id",
        "train_id",
        (
            dot(F.col("evec"), F.col("tvec")) / (F.col("enrm") * F.col("tnrm"))
        ).alias("cos"),
    )
    # argmax as max(struct(cos, -train_id)): lexicographic struct order
    # IS the (similarity, tie-to-smallest-train-id) rule, map-side
    # combinable — and DuckDB's struct max is lexicographic too
    agg = scored.groupBy("eval_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.max("cos").alias("max_cosine"),
        (-F.max(F.struct(F.col("cos"), (-F.col("train_id")).alias("nid")))
         .getField("nid")).cast("bigint").alias("nearest_train_id"),
    )
    evl = ev.select("eval_id")  # from the checkpointed frame — no rescan
    # agg is eval-bounded (≤ one row per eval vector) — broadcast it so
    # the report join never sort-merges two benchmark-sized frames
    return evl.join(F.broadcast(agg), "eval_id", "left").select(
        "eval_id",
        F.coalesce("n_candidates", F.lit(0).cast("bigint")).alias("n_candidates"),
        "max_cosine",
        "nearest_train_id",
        F.coalesce(
            F.col("max_cosine") >= F.lit(threshold), F.lit(False)
        ).alias("contaminated"),
    )


def ivf_centroid_scores(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Rank every vector against the IVF coarse quantizer's centroids.

    Centroids are the vectors of the ``n_centroids`` smallest ids — a
    deterministic, training-free quantizer the oracle can reproduce (a
    production build would k-means these; the search-path plumbing is
    identical). Returns (vid, vec, nrm, cid, cos, rn) where rn=1 is the
    vector's cell. The centroid side is tiny and broadcast; the corpus
    scan stays distributed, followed by one per-vid window (a single
    shuffle on vid — map-side combinable at scale).

    ``keep_cols`` threads extra row attributes (e.g. a filter label)
    through the ranking at zero cost — they ride the scan instead of
    being joined back on vid afterwards (which would shuffle a second
    corpus-sized projection).
    """
    from pyspark.sql import Window as W

    keep = list(keep_cols or [])
    v = as_double_array(vec_col)
    base = embeddings.select(
        F.col(id_col).alias("vid"), v.alias("vec"), *keep
    ).withColumn("nrm", norm(F.col("vec")))
    centroids = (
        base.orderBy("vid")
        .limit(n_centroids)
        .select(
            F.col("vid").alias("cid"),
            F.col("vec").alias("cvec"),
            F.col("nrm").alias("cnrm"),
        )
    )
    scored = base.crossJoin(F.broadcast(centroids)).select(
        "vid",
        "vec",
        "nrm",
        *keep,
        "cid",
        (dot(F.col("vec"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))).alias(
            "cos"
        ),
    )
    w = W.partitionBy("vid").orderBy(F.desc("cos"), F.asc("cid"))
    return scored.withColumn("rn", F.row_number().over(w))


def _nprobe_cut(ranked: DataFrame, nprobe, rank_col: str = "rn") -> DataFrame:
    """Apply the probe cutoff to a per-query centroid ranking: a static
    int keeps ranks ≤ nprobe; a (query_id, nprobe) DataFrame — the
    ``auto_nprobe`` face — joins the per-query cutoff in (broadcast:
    |Q| rows), the ``_ivfpq_adc_scored`` discipline shared by every
    exact-IVF search path.  ``ranked`` must carry the query id in
    ``vid`` and the probe rank in ``rank_col``."""
    if isinstance(nprobe, DataFrame):
        return (
            ranked.join(
                F.broadcast(
                    nprobe.select(
                        F.col("query_id").alias("vid"),
                        F.col("nprobe").alias("_np"),
                    )
                ),
                "vid",
            )
            .filter(F.col(rank_col) <= F.col("_np"))
            .drop("_np")
        )
    return ranked.filter(F.col(rank_col) <= nprobe)


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int | DataFrame = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: each corpus vector lives in exactly one
    cell (its nearest centroid); a query probes its ``nprobe`` nearest
    cells and runs exact cosine only there.

    Scale shape: candidate generation is an equi-join on cell id —
    cost Σ(probed-cell sizes), never |corpus| × |queries|. Recall/cost
    is tuned by (n_centroids, nprobe), independent of corpus size.
    """
    from pyspark.sql import Window as W

    ranked = ivf_centroid_scores(embeddings, n_centroids, id_col, vec_col)
    cells = ranked.filter(F.col("rn") == 1).select(
        F.col("vid").alias("corpus_id"),
        F.col("vec").alias("corpus_vec"),
        F.col("nrm").alias("corpus_norm"),
        F.col("cid").alias("cell"),
    )
    probes = (
        _nprobe_cut(ranked.filter(F.col("vid").isin(query_ids)), nprobe)
        .select(
            F.col("vid").alias("query_id"),
            F.col("vec").alias("query_vec"),
            F.col("nrm").alias("query_norm"),
            F.col("cid").alias("cell"),
        )
    )
    scored = cells.join(
        F.broadcast(probes),
        (cells["cell"] == probes["cell"]) & (F.col("corpus_id") != F.col("query_id")),
    ).select(
        "query_id",
        "corpus_id",
        (
            dot(F.col("query_vec"), F.col("corpus_vec"))
            / (F.col("query_norm") * F.col("corpus_norm"))
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def ivf_filtered_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    pred,
    pred_cols: list[str],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int | DataFrame = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Filtered search THROUGH the IVF index — the production shape for
    'top-k nearest WHERE <predicate>' (FAISS calls it an IDSelector):
    the index is built over the FULL corpus; at query time the
    predicate masks rows inside the probed cells only.

    This is the third filtered-search strategy next to
    ``filtered_brute_topk`` (pre-filter exact: full filtered scan per
    query set) and the post-filter shortcut (whose recall collapses
    unless the shortlist is ~k/selectivity deep).  Here cost stays
    Σ(probed-cell sizes) — independent of corpus size and of the
    filter's selectivity — and the only recall loss is cell probing:
    a qualifying neighbor is missed ONLY if its cell wasn't probed,
    never because non-qualifying rows crowded a shortlist.

    ``pred_cols`` names the row attributes the predicate reads; they
    ride the ranking scan (``keep_cols``) instead of a second
    corpus-sized join.  Queries come from the unfiltered set by id.
    """
    from pyspark.sql import Window as W

    ranked = ivf_centroid_scores(
        embeddings, n_centroids, id_col, vec_col, keep_cols=pred_cols
    )
    cells = (
        ranked.filter(F.col("rn") == 1)
        .filter(pred)
        .select(
            F.col("vid").alias("corpus_id"),
            F.col("vec").alias("corpus_vec"),
            F.col("nrm").alias("corpus_norm"),
            F.col("cid").alias("cell"),
        )
    )
    probes = (
        _nprobe_cut(ranked.filter(F.col("vid").isin(query_ids)), nprobe)
        .select(
            F.col("vid").alias("query_id"),
            F.col("vec").alias("query_vec"),
            F.col("nrm").alias("query_norm"),
            F.col("cid").alias("cell"),
        )
    )
    scored = cells.join(
        F.broadcast(probes),
        (cells["cell"] == probes["cell"]) & (F.col("corpus_id") != F.col("query_id")),
    ).select(
        "query_id",
        "corpus_id",
        (
            dot(F.col("query_vec"), F.col("corpus_vec"))
            / (F.col("query_norm") * F.col("corpus_norm"))
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def build_ivf_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index ONCE: (centroids, assignments), optionally
    persisted to parquet so queries stop re-deriving the coarse
    quantizer per call (the round-4 gap: ``ivf_topk`` recomputed
    centroids + cell assignments on every query).

    * ``centroids``: (cell, cvec, cnrm) — the deterministic smallest-id
      quantizer of ``ivf_centroid_scores`` (a production build would
      k-means; see ``kmeans_refine`` — the index plumbing is identical).
    * ``assignments``: (vid, vec, nrm, cell) — each corpus vector in
      exactly one cell, written ``partitionBy("cell")`` so a query that
      probes P cells READS only P partitions (parquet partition
      pruning), never the whole corpus — the on-disk analogue of an IVF
      inverted list.

    Returns the two DataFrames; when ``path`` is given they are
    re-loaded from the written files so downstream plans scan the index,
    not the build lineage.
    """
    ranked = ivf_centroid_scores(embeddings, n_centroids, id_col, vec_col)
    assignments = ranked.filter(F.col("rn") == 1).select(
        "vid", "vec", "nrm", F.col("cid").alias("cell")
    )
    v = as_double_array(vec_col)
    centroids = (
        embeddings.select(F.col(id_col).alias("cell"), v.alias("cvec"))
        .withColumn("cnrm", norm(F.col("cvec")))
        .orderBy("cell")
        .limit(n_centroids)
    )
    if path is None:
        return centroids, assignments
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    assignments.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/assignments"
    )
    return load_ivf_index(embeddings.sparkSession, path)


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted IVF index: (centroids, assignments).  Vectors
    were written as ARRAY<DOUBLE>, so reloaded cosines are bit-identical
    to build-time values (parquet doubles round-trip exactly)."""
    centroids = spark.read.parquet(f"{path}/centroids")
    assignments = spark.read.parquet(f"{path}/assignments").select(
        "vid", "vec", "nrm", F.col("cell").cast("long").alias("cell")
    )
    return centroids, assignments


def ivf_index_topk(
    centroids: DataFrame,
    assignments: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int | DataFrame = 4,
) -> DataFrame:
    """Query a prebuilt IVF index: rank the query vectors against the
    (broadcast) centroid table, probe the top-``nprobe`` cells, run
    exact cosine only inside those cells.

    The probed cell ids are collected to the driver — a bounded
    |queries| × nprobe list, never data-sized — and pushed into the
    assignments scan as an IN-filter, so a partitionBy("cell") index on
    disk prunes to exactly the probed partitions.  Results are identical
    to ``ivf_topk`` with the same (n_centroids, nprobe): the index
    changes WHERE the plan reads, not what it computes.
    """
    queries = assignments.filter(F.col("vid").isin(query_ids)).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("query_vec"),
        F.col("nrm").alias("query_norm"),
    )
    scored_q = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "query_vec",
        "query_norm",
        F.col("cell"),
        (
            dot(F.col("query_vec"), F.col("cvec"))
            / (F.col("query_norm") * F.col("cnrm"))
        ).alias("cos"),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cell"))
    ranked_q = scored_q.withColumn("rn", F.row_number().over(wq)).withColumn(
        "vid", F.col("query_id")
    )
    probes = _nprobe_cut(ranked_q, nprobe).select(
        "query_id", "query_vec", "query_norm", "cell"
    )
    # bounded driver collect: |queries| × nprobe cell ids → static
    # partition pruning on the on-disk inverted lists
    probe_cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    cells = assignments.filter(F.col("cell").isin(probe_cells)).select(
        F.col("vid").alias("corpus_id"),
        F.col("vec").alias("corpus_vec"),
        F.col("nrm").alias("corpus_norm"),
        "cell",
    )
    scored = cells.join(
        F.broadcast(probes),
        (cells["cell"] == probes["cell"])
        & (F.col("corpus_id") != F.col("query_id")),
    ).select(
        "query_id",
        "corpus_id",
        (
            dot(F.col("query_vec"), F.col("corpus_vec"))
            / (F.col("query_norm") * F.col("corpus_norm"))
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return scored.withColumn("rnk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def ivf_index_add_batch(
    centroids: DataFrame,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    path: str | None = None,
) -> DataFrame:
    """Incremental IVF maintenance: assign a NEW batch of vectors to the
    EXISTING centroids — O(|batch| × n_centroids) map work against a
    broadcast centroid table, never a corpus rescan (mirrors the
    incremental LSH signature store: per-batch cost tracks the batch).
    With ``path``, the new rows are APPENDED to the persisted inverted
    lists (same partitionBy("cell") layout — append-only maintenance;
    periodic centroid re-training is a separate offline rebuild, exactly
    as production IVF indexes do it)."""
    v = as_double_array(vec_col)
    base = new_embeddings.select(F.col(id_col).alias("vid"), v.alias("vec")).withColumn(
        "nrm", norm(F.col("vec"))
    )
    scored = base.crossJoin(F.broadcast(centroids)).select(
        "vid",
        "vec",
        "nrm",
        "cell",
        (dot(F.col("vec"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))).alias(
            "cos"
        ),
    )
    w = W.partitionBy("vid").orderBy(F.desc("cos"), F.asc("cell"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", "vec", "nrm", "cell")
    )
    if path is not None:
        assigned.write.mode("append").partitionBy("cell").parquet(
            f"{path}/assignments"
        )
    return assigned


def synth_clustered_embeddings(
    ids: DataFrame,
    dims: int = 16,
    k_true: int = 8,
    eps: float = 0.25,
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, embedding, cluster_true): an md5-analytic CLUSTERED
    embedding corpus — the fixture the trained-quantizer experiments
    need (the testdata embeddings are near-uniform: no cluster
    structure for k-means to find, so training measurably could not
    help there; real embedding corpora are clustered).

    v(i, d) = center(cluster(i), d) + eps · noise(i, d), where
    cluster(i) = md5('cl:i') % k_true (pseudorandom — the k smallest
    ids do NOT cover all clusters, so smallest-id quantizer seeding is
    genuinely imperfect and training has something to fix), and center/
    noise are the 60-bit md5-uniform in [-1, 1) the LSH hyperplanes
    use.  Every value is a fixed-order composition of exact md5-derived
    doubles — the DuckDB oracle reproduces the corpus bit-for-bit, no
    vectors are shipped or stored.  ``eps`` must be an exact binary
    fraction (0.25 default) so the literal parses identically in both
    engines.

    Map-only: one SQL expression per row over the id column; scales as
    a pure scan."""
    u = (
        "(CAST(CONV(SUBSTRING(MD5({s}), 1, 15), 16, 10) AS DOUBLE)"
        " / 1152921504606846976.0D * 2.0D - 1.0D)"
    )
    cluster = (
        f"(CAST(CONV(SUBSTRING(MD5(CONCAT('cl:', CAST(`{id_col}` AS STRING))),"
        f" 1, 4), 16, 10) AS BIGINT) % {k_true})"
    )
    ctr = u.format(
        s=f"CONCAT('ctr:', CAST({cluster} AS STRING), ':', CAST(d AS STRING))"
    )
    noise = u.format(
        s=f"CONCAT('cn:', CAST(`{id_col}` AS STRING), ':', CAST(d AS STRING))"
    )
    vec_sql = (
        f"transform(sequence(0, {dims - 1}), d -> {ctr} + {eps!r}D * {noise})"
    )
    return ids.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.expr(vec_sql).alias("embedding"),
        F.expr(cluster).cast("bigint").alias("cluster_true"),
    )


# reconstruction-error quantum for cross-engine PQ sums: FLOOR(d² · 2^20)
# BIGINT per subspace, summed exactly — 2^20 keeps the last-ulp
# bin-flip probability ~1e-10/row (2^40 would be a real hazard)
_PQ_SCALE = float(1 << 20)


def _pq_codebook(base: DataFrame, m: int, k: int, sub: int) -> DataFrame:
    """(cw, s, cv): the deterministic training-free PQ codebook — the
    subvectors of the ``k`` smallest-id vectors, codeword index = dense
    id rank (a production build would k-means per subspace; the
    assignment/ADC plumbing is identical).  ``base`` is (vid, vec);
    output is m·k tiny rows, always broadcast by consumers."""
    cb_vecs = base.orderBy("vid").limit(k)
    cw = W.orderBy("vid")  # k rows only — the single-partition window is fine
    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    return (
        cb_vecs.withColumn("cw", F.row_number().over(cw) - 1)
        .select("cw", F.explode(subspaces).alias("s"), "vec")
        .select(
            "cw",
            "s",
            F.slice(F.col("vec"), F.col("s") * sub + 1, sub).alias("cv"),
        )
    )


def _pq_codebook_trained(
    base: DataFrame, m: int, k: int, sub: int, iters: int
) -> DataFrame:
    """(cw, s, cv): per-subspace Lloyd's k-means refinement of the
    training-free codebook — the build option the nprobe-sweep and
    trained-recall experiments called for (the measured recall floor of
    the smallest-id codebook is quantization, not probing).

    Deterministic by the same discipline as :func:`kmeans_refine`:
    fixed iteration count (no convergence probe), smallest-id init,
    decimal-exact codeword means (partitioning-independent, so every
    downstream argmin decision is bit-reproducible cross-engine), and
    an empty codeword KEEPS its previous vector (standard k-means
    practice; a dropped row would shrink the codebook).

    Scale shape per iteration: one O(n·m·k) subspace assignment (the
    broadcast-codebook join of ``_pq_assign``) + one explode-aggregate
    of m·k·sub decimal sums — both map-side-combinable; the codebook is
    localCheckpoint-pinned between iterations so its tiny (m·k rows)
    state never re-executes the training lineage per consumer."""
    cb = _pq_codebook(base, m, k, sub).localCheckpoint()
    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    corpus = base.select("vid", F.explode(subspaces).alias("s"), "vec").select(
        "vid",
        "s",
        F.slice(F.col("vec"), F.col("s") * sub + 1, sub).alias("vs"),
    )
    for _ in range(iters):
        assigned = _pq_assign(base, cb, m, sub).select("vid", "s", "code")
        el = corpus.join(assigned, ["vid", "s"]).select(
            "s", "code", F.posexplode("vs")
        )
        means = el.groupBy("s", "code", "pos").agg(
            (
                F.sum(F.col("col").cast("decimal(25,12)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_val")
        )
        newcv = means.groupBy("s", F.col("code").alias("cw")).agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "mean_val"))),
                lambda t: t.mean_val,
            ).alias("cv_new")
        )
        cb = (
            cb.join(newcv, ["s", "cw"], "left")
            .select("cw", "s", F.coalesce("cv_new", "cv").alias("cv"))
            .localCheckpoint()
        )
    return cb


def _pq_assign(base: DataFrame, codebook: DataFrame, m: int, sub: int) -> DataFrame:
    """(vid, s, code, dist2): nearest codeword per (vector, subspace).

    Scale shape: explode to |base|·m subvector rows joined against the
    broadcast codebook — O(n·m·k) subspace distances; the argmin is
    min(struct(dist2, cw)) so the scored rows hash-aggregate map-side
    and never shuffle (a window row_number would sort-shuffle all of
    them).  Distances are the same sequential fold on both engines, so
    every argmin decision is bit-reproducible."""
    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    corpus = base.select("vid", F.explode(subspaces).alias("s"), "vec").select(
        "vid",
        "s",
        F.slice(F.col("vec"), F.col("s") * sub + 1, sub).alias("vs"),
    )
    diff = F.zip_with(F.col("vs"), F.col("cv"), lambda x, y: x - y)
    scored = corpus.join(F.broadcast(codebook), "s").select(
        "vid", "s", "cw", dot(diff, diff).alias("dist2")
    )
    return (
        scored.groupBy("vid", "s")
        .agg(F.min(F.struct("dist2", "cw")).alias("m"))
        .select(
            "vid",
            "s",
            F.col("m.cw").alias("code"),
            F.col("m.dist2").alias("dist2"),
        )
    )


def _pq_query_lut(
    queries: DataFrame, codebook: DataFrame, m: int, sub: int
) -> DataFrame:
    """(query_id, s, code, dq): each query's ADC lookup table — the
    quantized squared distance from its subvectors to EVERY codeword.
    |Q|·m·k rows; consumers broadcast it.  ``queries`` is (vid, vec)."""
    subspaces = F.sequence(F.lit(0), F.lit(m - 1))
    qsub = queries.select(
        F.col("vid").alias("query_id"), F.explode(subspaces).alias("s"), "vec"
    ).select(
        "query_id",
        "s",
        F.slice(F.col("vec"), F.col("s") * sub + 1, sub).alias("qs"),
    )
    qdiff = F.zip_with(F.col("qs"), F.col("cv"), lambda x, y: x - y)
    return qsub.join(F.broadcast(codebook), "s").select(
        "query_id",
        "s",
        F.col("cw").alias("code"),
        F.floor(dot(qdiff, qdiff) * F.lit(_PQ_SCALE)).cast("bigint").alias("dq"),
    )


def _ivf_residuals(assignments: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vid, vec): each vector's residual against its OWN cell centroid
    — the quantity IVFADC encodes.  Broadcast centroid join + one
    row-local zip_with; exact elementwise float subtraction, identical
    in any engine."""
    return assignments.join(F.broadcast(centroids), "cell").select(
        "vid",
        F.zip_with(F.col("vec"), F.col("cvec"), lambda x, y: x - y).alias(
            "vec"
        ),
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    pq_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    path: str | None = None,
    residual: bool = False,
    train_iters: int = 0,
    coarse_iters: int = 0,
    coarse_seed: str = "smallest_id",
    keep_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Build a COMPOSED IVF-PQ index: the coarse quantizer routes a
    query to a few cells, PQ codes stand in for the raw vectors inside
    them — the billion-vector serving layout (Jégou et al.): probe
    top-P inverted lists, then ADC over 8-byte codes instead of
    512-byte floats.

    Four parts, all reloaded from the written files when ``path`` is
    given (downstream plans scan the index, not the build lineage):

    * ``centroids`` (cell, cvec, cnrm) — as :func:`build_ivf_index`;
    * ``assignments`` (vid, vec, nrm, cell), ``partitionBy(cell)`` —
      raw vectors kept for exact re-ranking and as the query-vector
      lookup;
    * ``pq_codebook`` (cw, s, cv) — m·k tiny rows;
    * ``pq_codes`` (vid, s, code, cell), ``partitionBy(cell)`` — the
      compressed inverted lists ADC search scans; a query probing P
      cells READS only P code partitions (parquet partition pruning).

    The PQ codebook derives from the same corpus (``pq_k`` smallest-id
    vectors), so a full-corpus build is bit-identical to the standalone
    ``pq_codes`` path.

    Trained quantizers (the round-6 recall diagnosis said quantization
    — not probing — caps the training-free ladder at 0.36):

    * ``coarse_iters > 0`` — the coarse quantizer is Lloyd-trained
      (:func:`kmeans_refine`, decimal-exact means) instead of the
      smallest-id table; ``coarse_seed`` picks the Lloyd init:
      ``"smallest_id"`` (default, the historical seeding) or ``"fps"``
      (:func:`farthest_point_seeds` max-min seeding — fixes the
      measured duplicate-seed failure mode where smallest-id seeds
      land several in one true cluster and leave others unseeded);
    * ``train_iters > 0`` — the PQ codebook is per-subspace
      Lloyd-trained (:func:`_pq_codebook_trained`) on the raw vectors
      or — with ``residual=True``, the configuration that pays — on the
      residual statistics, the textbook IVFADC build.

    Both trainings are deterministic (fixed iteration counts,
    lexicographic tie-breaks, decimal sufficient statistics), so the
    trained index is bit-reproducible cross-engine.

    ``keep_cols`` stores filter-attribute payload columns WITH the PQ
    codes (one build-time corpus join) — the FAISS-IDSelector shape for
    predicate search on the compressed path: at query time the mask
    rides the pruned codes scan (:func:`ivfpq_filtered_topk`), never a
    second corpus-sized join against the raw store.
    """
    dims = _vector_dims(embeddings, vec_col)
    if dims % m != 0:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    sub = dims // m
    if coarse_seed not in ("smallest_id", "fps", "kmeans_par"):
        raise ValueError(f"unknown coarse_seed {coarse_seed!r}")
    if coarse_iters > 0:
        if coarse_seed == "fps":
            init = farthest_point_seeds(
                embeddings, k=n_centroids, id_col=id_col, vec_col=vec_col
            ).select("cluster_id", "centroid")
        elif coarse_seed == "kmeans_par":
            # cost-proportional oversampling (rounds independent of k)
            # then max-min reduction over the BOUNDED candidate set —
            # the seeding that still works at thousands of cells where
            # corpus-wide FPS would pay one scan per cell
            cands, _ = kmeans_parallel_oversample(
                embeddings, l=2 * n_centroids, rounds=3,
                id_col=id_col, vec_col=vec_col,
            )
            init = farthest_point_seeds(
                cands, k=n_centroids, id_col="vid", vec_col="vec"
            ).select("cluster_id", "centroid")
        else:
            init = None
        assignment = kmeans_refine(
            embeddings, k=n_centroids, iters=coarse_iters,
            id_col=id_col, vec_col=vec_col, init_centroids=init,
        )
        centroids = (
            recompute_centroids(embeddings, assignment, id_col, vec_col)
            .select(
                F.col("cluster_id").alias("cell"),
                F.col("centroid").alias("cvec"),
            )
            .withColumn("cnrm", norm(F.col("cvec")))
        )
        if path is not None:
            centroids.write.mode("overwrite").parquet(f"{path}/centroids")
            centroids = embeddings.sparkSession.read.parquet(f"{path}/centroids")
        else:
            # n_centroids rows; pin so consumers (assignment, residuals,
            # probes) never re-run the k-means lineage
            centroids = centroids.localCheckpoint()
        assignments = ivf_index_add_batch(
            centroids, embeddings, id_col=id_col, vec_col=vec_col
        )
        if path is not None:
            assignments.write.mode("overwrite").partitionBy("cell").parquet(
                f"{path}/assignments"
            )
            _, assignments = load_ivf_index(embeddings.sparkSession, path)
    else:
        centroids, assignments = build_ivf_index(
            embeddings, n_centroids, id_col, vec_col, path=path
        )
    if residual:
        # textbook IVFADC (Jégou et al.): quantize the RESIDUAL
        # v − centroid(cell) — residuals cluster near the origin across
        # cells, so one shared codebook covers them far better than raw
        # vectors; the training-free codebook is the pq_k smallest-id
        # residuals, train_iters>0 Lloyd-refines it on the residual
        # statistics (the combination the trained-recall experiment
        # shows pays: within-cell structure is what residual codewords
        # must resolve)
        base = _ivf_residuals(assignments, centroids)
    else:
        v = as_double_array(vec_col)
        base = embeddings.select(F.col(id_col).alias("vid"), v.alias("vec"))
    codebook = (
        _pq_codebook_trained(base, m, pq_k, sub, train_iters)
        if train_iters > 0
        else _pq_codebook(base, m, pq_k, sub)
    )
    # cells come from the (already materialized, when path is set)
    # assignments — the code build never re-derives the coarse ranking
    codes = _pq_assign(base, codebook, m, sub).select(
        "vid", "s", "code"
    ).join(assignments.select("vid", "cell"), "vid")
    if keep_cols:
        # payload columns ride the codes store (duplicated ×m rows of
        # small scalars) — filtered serving masks the pruned codes scan
        # directly instead of joining the corpus back in
        codes = codes.join(
            embeddings.select(F.col(id_col).alias("vid"), *keep_cols), "vid"
        )
    if path is None:
        return centroids, assignments, codebook, codes
    codebook.write.mode("overwrite").parquet(f"{path}/pq_codebook")
    codes.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/pq_codes")
    # record the encoding mode: searching residual codes with a raw LUT
    # (or vice versa) is silently meaningless — consumers validate via
    # load_ivfpq_meta before picking their scoring mode
    embeddings.sparkSession.createDataFrame(
        [(bool(residual), int(m), int(pq_k))],
        "residual boolean, m int, pq_k int",
    ).write.mode("overwrite").parquet(f"{path}/pq_meta")
    return load_ivfpq_index(embeddings.sparkSession, path, keep_cols=keep_cols)


def load_ivfpq_index(
    spark, path: str, keep_cols: list[str] | None = None
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Load a persisted IVF-PQ index: (centroids, assignments,
    pq_codebook, pq_codes).  ``keep_cols`` surfaces payload columns the
    build stored with the codes (filtered-serving attributes); indexes
    built without them simply don't have the columns to select."""
    centroids, assignments = load_ivf_index(spark, path)
    codebook = spark.read.parquet(f"{path}/pq_codebook")
    codes = spark.read.parquet(f"{path}/pq_codes").select(
        "vid", "s", "code", F.col("cell").cast("long").alias("cell"),
        *(keep_cols or []),
    )
    return centroids, assignments, codebook, codes


def load_ivfpq_meta(spark, path: str) -> dict:
    """Encoding metadata of a persisted IVF-PQ index:
    ``{"residual": bool, "m": int, "pq_k": int}``.  Search paths pass
    ``residual`` through to the scorer — joining a raw-vector LUT
    against residual codes (or vice versa) yields a syntactically valid
    but meaningless ADC shortlist, so the mode travels WITH the index,
    never as caller folklore.  Pre-meta indexes (no ``pq_meta`` file)
    report ``residual=False`` — the historical default."""
    try:
        row = spark.read.parquet(f"{path}/pq_meta").first()
    except Exception:
        return {"residual": False, "m": 8, "pq_k": 16}
    if row is None:
        return {"residual": False, "m": 8, "pq_k": 16}
    return {
        "residual": bool(row["residual"]),
        "m": int(row["m"]),
        "pq_k": int(row["pq_k"]),
    }


def ivfpq_topk(
    centroids: DataFrame,
    assignments: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int | DataFrame = 4,
    m: int = 8,
    residual: bool = False,
) -> DataFrame:
    """Composed IVF-PQ search: rank the query vectors against the
    broadcast centroids, probe the top-``nprobe`` cells, ADC-score ONLY
    those cells' PQ codes against the query's broadcast lookup table —
    never a full-corpus code scan (``pq_adc_topk``'s weakness) and
    never a raw-vector scan inside the probed cells
    (``ivf_index_topk``'s).

    Scale shape: query vectors are fetched by a bounded vid IN-filter
    on the assignments store; the probed cell ids are a driver-side
    |queries|·nprobe list pushed into the codes scan as an IN-filter
    (static partition pruning on the partitionBy(cell) layout); scoring
    is Σ(probed-cell code rows)·1 lookup joins against a |Q|·m·k
    broadcast LUT plus one hash aggregation.  All-integer after
    quantization — ranks are bit-reproducible cross-engine.
    """
    scored = _ivfpq_adc_scored(
        centroids, assignments, codebook, codes, query_ids, nprobe, m,
        residual=residual,
    )[0]
    wt = W.partitionBy("query_id").orderBy(F.asc("adc_q"), F.asc("corpus_id"))
    return scored.withColumn("rnk", F.row_number().over(wt).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def ivfpq_nprobe_sweep_topk(
    centroids: DataFrame,
    assignments: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    query_ids: list[int],
    nprobes: list[int],
    k: int = 10,
    m: int = 8,
    residual: bool = False,
) -> DataFrame:
    """Per-rung top-``k`` of :func:`ivfpq_topk` for a LADDER of nprobe
    values from ONE scoring pass: (nprobe, query_id, corpus_id, adc_q).

    Round-11 (guide §1.2 "don't compute things you throw away"): a
    corpus vector's ADC score never depends on nprobe — only its
    CELL's rank in the query's probe ordering decides inclusion — so
    scoring once at max(nprobes) with the probe rank carried, then
    filtering ``probe_rn <= p`` per rung, reproduces every rung's
    candidate set and scores exactly (the rung-p score is the same
    Σdq over the same rows).  One chain + one bounded checkpoint
    replaces |ladder| full scoring chains (each with its own
    probe-cell collect and LUT build)."""
    scored = _ivfpq_adc_scored(
        centroids, assignments, codebook, codes, query_ids,
        max(nprobes), m, residual=residual, carry_probe_rank=True,
    )[0].localCheckpoint()
    wt = W.partitionBy("query_id").orderBy(F.asc("adc_q"), F.asc("corpus_id"))
    outs = []
    for p in sorted(nprobes):
        outs.append(
            scored.filter(F.col("probe_rn") <= p)
            .withColumn("rnk", F.row_number().over(wt).cast("bigint"))
            .filter(F.col("rnk") <= k)
            .select(
                F.lit(p).cast("bigint").alias("nprobe"),
                "query_id",
                "corpus_id",
                "adc_q",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def ivfpq_filtered_topk(
    centroids: DataFrame,
    assignments: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    query_ids: list[int],
    pred: Column,
    k: int = 10,
    nprobe: int | DataFrame = 4,
    m: int = 8,
    residual: bool = False,
) -> DataFrame:
    """Predicate search on the COMPRESSED serving path — the round-7
    verdict's missing face: :func:`ivfpq_topk` with a filter applied
    INSIDE the probed cells' code scan (FAISS ``IDSelector`` over the
    inverted lists), completing the filtered-search ladder
    (brute pre-filter → post-filter shortcut → filtered-through-IVF on
    raw vectors → filtered-through-IVF-PQ on codes, this rung).

    ``pred`` references payload columns the BUILD stored with the codes
    (``build_ivfpq_index(keep_cols=…)``) — a production vector store
    keeps filterable attributes in the inverted-list entries for
    exactly this reason.  Plan shape is ``ivfpq_topk``'s unchanged:
    probed-cell partition pruning, broadcast |Q|·m·k LUT, one hash
    aggregation; the mask is one more row-local predicate on the pruned
    scan, so cost is Σ(probed-cell code rows) independent of filter
    selectivity, and — unlike the post-filter shortcut — non-qualifying
    rows can never crowd qualifying ones out of the shortlist.
    """
    scored = _ivfpq_adc_scored(
        centroids, assignments, codebook, codes, query_ids, nprobe, m,
        residual=residual, codes_pred=pred,
    )[0]
    wt = W.partitionBy("query_id").orderBy(F.asc("adc_q"), F.asc("corpus_id"))
    return scored.withColumn("rnk", F.row_number().over(wt).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def auto_nprobe(
    centroids: DataFrame,
    assignments: DataFrame,
    query_ids: list[int],
    target_num: int = 95,
    target_den: int = 100,
    margin_scale: float = 8.0,
) -> DataFrame:
    """(query_id, nprobe) — the per-query probe count estimated to reach
    ``target_num/target_den`` neighbor-mass coverage, closing the
    round-9 staircase's residual gap (BASELINE: the filtered+rerank
    misses at k=64 are PROBE misses — "nprobe, not shortlist depth, is
    the recovery knob" — but nprobe was a fixed constant).

    Estimator (cell-occupancy × centroid-distance margin, over the
    same query-vs-centroid ranking the search itself probes with):

    * rank ALL cells per query by cosine (ties by cell id — bit-for-bit
      the probe ordering in :func:`_ivfpq_adc_scored`, so "nprobe = p"
      here means exactly "the first p probes there");
    * weight cell j by ``occ_j / (1 + margin_scale·margin_j)²`` where
      ``margin_j = cos_1 − cos_j`` — occupancy says how much corpus
      mass the cell could contribute, the rational margin discount (one
      squaring — no transcendental calls) says how unlikely that mass
      is to contain true neighbors;
    * coverage(p) = Σ_{j≤p} w_j / Σ_j w_j; nprobe = min p with
      coverage ≥ target.

    Calibration (measured on the k=64 clustered fixture, sf0.01,
    attr-filtered + rerank serving): sharper discounts (power 8, or a
    1/rank factor) under-probe — the queries whose qualifying
    neighbors sit OUTSIDE the home cluster (the filter thins the home
    cells, pushing true top-k into far cells) stay at recall 0.7-0.8;
    the chosen (scale 8, power 2, target 0.95) form reads per-query
    nprobe 19-45 of 64 with per-query recall 1.0 — vs the fixed-8
    staircase's 0.86 mean — while still probing ~half the cells.

    Cross-engine determinism (the oracle re-derives this in DuckDB):
    weights are quantized FLOOR(w·2^30) BEFORE the cumulative sum, so
    the running total is exact integer arithmetic (windowed FLOAT sums
    are engine-ordering-dependent — the PSI-quantization discipline),
    and the threshold test is the integer cross-multiplication
    ``cum·den ≥ tot·num`` — no float comparison anywhere.

    Cost: |Q| × n_centroids rows through one broadcast crossJoin + two
    windows — the same asymptotic shape as the probe-selection step the
    search already runs."""
    occ = assignments.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    )
    queries = assignments.filter(F.col("vid").isin(query_ids)).select(
        "vid", "vec", "nrm"
    )
    scored = queries.crossJoin(F.broadcast(centroids)).select(
        F.col("vid").alias("query_id"),
        F.col("cell"),
        (
            dot(F.col("vec"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))
        ).alias("cosd"),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("cosd"), F.asc("cell"))
    wall = W.partitionBy("query_id")
    ranked = (
        scored.withColumn("rk", F.row_number().over(wq))
        .withColumn("cos1", F.max("cosd").over(wall))
        .join(occ, "cell", "left")
        .withColumn("n_occ", F.coalesce("n_occ", F.lit(0)))
    )
    g = F.lit(1.0) + F.lit(float(margin_scale)) * (
        F.col("cos1") - F.col("cosd")
    )
    denom = g * g
    weighted = ranked.withColumn(
        "wq",
        F.floor(
            (F.col("n_occ").cast("double") / denom) * F.lit(float(1 << 30))
        ).cast("bigint"),
    )
    wcum = W.partitionBy("query_id").orderBy("rk")
    cov = (
        weighted.withColumn("cum", F.sum("wq").over(wcum))
        .withColumn("tot", F.sum("wq").over(wall))
        .withColumn("max_rk", F.max("rk").over(wall))
    )
    hit = cov.filter(
        F.col("cum") * F.lit(int(target_den))
        >= F.col("tot") * F.lit(int(target_num))
    )
    return (
        cov.select("query_id", "max_rk")
        .distinct()
        .join(
            hit.groupBy("query_id").agg(F.min("rk").alias("np_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.coalesce("np_hit", "max_rk").cast("bigint").alias("nprobe"),
        )
    )


def _ivfpq_adc_scored(
    centroids: DataFrame,
    assignments: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    query_ids: list[int],
    nprobe: int | DataFrame,
    m: int,
    residual: bool = False,
    codes_pred: Column | None = None,
    carry_probe_rank: bool = False,
) -> tuple[DataFrame, list]:
    """Shared IVF-PQ scoring core: ((query_id, corpus_id, adc_q),
    probed cell list) — see :func:`ivfpq_topk` for the plan shape.

    ``residual`` must match how the codes were built.  Raw mode builds
    one |Q|·m·k LUT per query; residual mode (IVFADC) builds a
    per-PROBED-CELL LUT from the query's residual against THAT cell's
    centroid — |Q|·nprobe·m·k rows, still trivially broadcast — and the
    score join adds ``cell`` to the lookup key.

    ``codes_pred`` is the FAISS-IDSelector face: a predicate over
    payload columns the build stored with the codes
    (``build_ivfpq_index(keep_cols=…)``), applied ON the pruned codes
    scan — cell pruning and the broadcast-LUT shape are untouched, and
    no second corpus-sized relation enters the plan."""
    sub_row = codebook.select(F.size("cv").alias("s")).first()
    sub = int(sub_row["s"]) if sub_row is not None else 0
    queries = assignments.filter(F.col("vid").isin(query_ids)).select(
        "vid", "vec", "nrm"
    )
    scored_q = queries.crossJoin(F.broadcast(centroids)).select(
        F.col("vid").alias("query_id"),
        F.col("cell"),
        (
            dot(F.col("vec"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))
        ).alias("cos"),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cell"))
    if isinstance(nprobe, DataFrame):
        # per-query probe counts (the auto_nprobe face): same ranking,
        # the cutoff joins in from the (query_id, nprobe) frame —
        # bounded |Q| rows, broadcast
        probes = (
            scored_q.withColumn("rn", F.row_number().over(wq))
            .join(F.broadcast(nprobe), "query_id")
            .filter(F.col("rn") <= F.col("nprobe"))
            .select("query_id", "cell")
        )
    else:
        probes = (
            scored_q.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= nprobe)
            .select(
                "query_id",
                "cell",
                *(["rn"] if carry_probe_rank else []),
            )
        )
    # bounded driver collect: |queries| × nprobe cell ids → static
    # partition pruning on the on-disk compressed inverted lists
    probe_cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    pruned = codes.filter(F.col("cell").isin(probe_cells))
    if codes_pred is not None:
        # the mask rides the pruned codes scan (pushed to the parquet
        # reader alongside the cell IN-filter) — cost stays
        # Σ(probed-cell code rows) regardless of filter selectivity
        pruned = pruned.filter(codes_pred)
    cand = (
        pruned
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vid") != F.col("query_id"))
    )
    if residual:
        subspaces = F.sequence(F.lit(0), F.lit(m - 1))
        qres = (
            probes.join(
                queries.select(F.col("vid").alias("query_id"), "vec"),
                "query_id",
            )
            .join(F.broadcast(centroids.select("cell", "cvec")), "cell")
            .select(
                "query_id",
                "cell",
                F.zip_with(
                    F.col("vec"), F.col("cvec"), lambda x, y: x - y
                ).alias("rv"),
            )
            .select(
                "query_id",
                "cell",
                F.explode(subspaces).alias("s"),
                "rv",
            )
            .select(
                "query_id",
                "cell",
                "s",
                F.slice(F.col("rv"), F.col("s") * sub + 1, sub).alias("qs"),
            )
        )
        qdiff = F.zip_with(F.col("qs"), F.col("cv"), lambda x, y: x - y)
        lut = qres.join(F.broadcast(codebook), "s").select(
            "query_id",
            "cell",
            "s",
            F.col("cw").alias("code"),
            F.floor(dot(qdiff, qdiff) * F.lit(_PQ_SCALE))
            .cast("bigint")
            .alias("dq"),
        )
        join_keys = ["query_id", "cell", "s", "code"]
    else:
        lut = _pq_query_lut(queries.select("vid", "vec"), codebook, m, sub)
        join_keys = ["query_id", "s", "code"]
    rank_aggs = (
        # every row of one (query, corpus) group shares the corpus
        # vector's single cell, so min() just carries that cell's
        # probe rank through the agg
        [F.min("rn").alias("probe_rn")] if carry_probe_rank else []
    )
    scored = (
        cand.join(F.broadcast(lut), join_keys)
        .groupBy("query_id", F.col("vid").alias("corpus_id"))
        .agg(F.sum("dq").cast("bigint").alias("adc_q"), *rank_aggs)
    )
    return scored, probe_cells


def ivfpq_rerank_topk(
    centroids: DataFrame,
    assignments: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    query_ids: list[int],
    k: int = 10,
    shortlist: int = 50,
    nprobe: int | DataFrame = 4,
    m: int = 8,
    residual: bool = False,
    codes_pred: Column | None = None,
) -> DataFrame:
    """Search-then-refine, the final ANN-ladder rung: the compressed
    IVF-PQ path shortlists ``shortlist`` candidates per query by ADC,
    then EXACT cosine over the shortlist's raw vectors re-ranks to the
    final top-``k`` — recovering most of the quantization-lost recall
    while touching raw floats for only |Q|·shortlist rows.

    ``residual`` must match how the index was built (as in
    :func:`ivfpq_topk` — a raw-mode LUT joined against residual codes
    would produce a meaningless shortlist with no error); persisted
    builds record the mode in ``pq_meta`` and
    :func:`load_ivfpq_meta` recovers it.

    Plan shape: the ADC stage is :func:`ivfpq_topk`'s (pruned code
    partitions, broadcast LUT); the refine stage fetches raw vectors
    from the SAME probed cells of the assignments store (cell IN-filter
    → partition pruning again — shortlist members live in probed cells
    by construction) via one broadcast semi-join of the |Q|·shortlist
    id pairs.  No corpus-sized raw-vector scan anywhere.

    ``codes_pred`` composes the filtered face (FAISS IDSelector over
    the inverted lists — see :func:`ivfpq_filtered_topk`) with the
    refine stage: the mask rides the pruned codes scan, so the
    shortlist contains ONLY qualifying rows and the rerank needs no
    second predicate — the full production filtered-serving stack
    (filter → ADC shortlist → exact rerank) in one plan.
    """
    scored, probe_cells = _ivfpq_adc_scored(
        centroids, assignments, codebook, codes, query_ids, nprobe, m,
        residual=residual, codes_pred=codes_pred,
    )
    ws = W.partitionBy("query_id").orderBy(F.asc("adc_q"), F.asc("corpus_id"))
    short = (
        scored.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "corpus_id")
    )
    cells = assignments.filter(F.col("cell").isin(probe_cells)).select(
        F.col("vid").alias("corpus_id"),
        F.col("vec").alias("cvec_raw"),
        F.col("nrm").alias("cnrm_raw"),
    )
    qvecs = assignments.filter(F.col("vid").isin(query_ids)).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    rr = (
        cells.join(F.broadcast(short), "corpus_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "corpus_id",
            (
                dot(F.col("qvec"), F.col("cvec_raw"))
                / (F.col("qnrm") * F.col("cnrm_raw"))
            ).alias("cosine_sim"),
        )
    )
    wt = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return rr.withColumn("rnk", F.row_number().over(wt).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def filtered_brute_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    pred,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FILTERED vector search (the vector-DB problem every serving
    stack hits: 'top-k nearest WHERE <predicate>'), pre-filter
    strategy: the predicate restricts the CORPUS side before any
    scoring — pushed into the scan, so cost tracks the filtered
    cardinality — while query vectors come from the UNFILTERED set by
    id (a query need not satisfy its own filter).  Exact within the
    predicate; the baseline the post-filter shortcut is measured
    against."""
    from pyspark.sql import Window as W

    v = as_double_array(vec_col)
    corpus = (
        embeddings.filter(pred)
        .select(F.col(id_col).alias("corpus_id"), v.alias("corpus_vec"))
        .withColumn("corpus_norm", norm(F.col("corpus_vec")))
    )
    queries = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), v.alias("query_vec"))
        .withColumn("query_norm", norm(F.col("query_vec")))
    )
    scored = corpus.join(
        F.broadcast(queries), F.col("corpus_id") != F.col("query_id")
    ).select(
        "query_id",
        "corpus_id",
        (
            dot(F.col("query_vec"), F.col("corpus_vec"))
            / (F.col("query_norm") * F.col("corpus_norm"))
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rnk") <= k)


def sq8_quantize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, q): per-dimension 8-bit scalar quantization (the FAISS SQ8
    rung of the compression ladder — 1 byte/dim vs PQ's 1 byte per
    SUBSPACE, a gentler accuracy/size trade): q[d] = FLOOR((v[d] −
    min_d) · 255 / (max_d − min_d)) clamped to [0, 255], with per-dim
    corpus min/max as the trained range.

    Determinism: min/max are data values (no arithmetic), and the
    quantization expression is one fixed-order sub/mul/div/floor chain
    — IEEE-identical cross-engine (no transcendentals, so no last-ulp
    bin-flip hazard).  A constant dimension quantizes to 0.

    Scale shape: one posexplode aggregation for the 2·dims stats
    (map-side combinable), collected into two dims-length arrays on a
    ONE-ROW broadcast frame; quantization is then a row-local
    expression on a single corpus scan."""
    dims = _vector_dims(embeddings, vec_col)
    stats = (
        embeddings.select(F.posexplode(as_double_array(vec_col)))
        .groupBy("pos")
        .agg(F.min("col").alias("mn"), F.max("col").alias("mx"))
    )
    ranges = stats.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mn"))), lambda s: s.mn
        ).alias("mns"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mx"))), lambda s: s.mx
        ).alias("mxs"),
    )
    q_sql = (
        f"transform(sequence(0, {dims - 1}), d -> "
        "CASE WHEN mxs[d] > mns[d] THEN "
        "LEAST(CAST(FLOOR(((_v[d] - mns[d]) * 255.0D) / (mxs[d] - mns[d]))"
        " AS BIGINT), CAST(255 AS BIGINT)) "
        "ELSE CAST(0 AS BIGINT) END)"
    )
    return (
        embeddings.select(
            F.col(id_col).alias("vid"), as_double_array(vec_col).alias("_v")
        )
        .crossJoin(F.broadcast(ranges))
        .select("vid", F.expr(q_sql).alias("q"))
    )


def sq8_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by 8-bit scalar-quantized L2: corpus and queries quantized
    by :func:`sq8_quantize`, distance = Σ (qa−qb)² — ALL-INTEGER, so
    ranks are bit-reproducible cross-engine.  One corpus scan against
    the broadcast quantized queries; 64 int ops/pair instead of 64
    float mul-adds, and the serving copy is 1 byte/dim.  Returns
    (query_id, corpus_id, sq_dist, rnk)."""
    qz = sq8_quantize(embeddings, id_col, vec_col)
    queries = qz.filter(F.col("vid").isin(query_ids)).select(
        F.col("vid").alias("query_id"), F.col("q").alias("qq")
    )
    diff2 = F.zip_with(F.col("qq"), F.col("q"), lambda x, y: (x - y) * (x - y))
    scored = qz.join(
        F.broadcast(queries), F.col("vid") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vid").alias("corpus_id"),
        F.aggregate(
            diff2, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("sq_dist"),
    )
    w = W.partitionBy("query_id").orderBy(F.asc("sq_dist"), F.asc("corpus_id"))
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rnk") <= k)


def truncated_rerank_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    prefix_dims: int = 16,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dimension-adaptive retrieval (the Matryoshka serving trick):
    shortlist by cosine over the FIRST ``prefix_dims`` dimensions —
    prefix_dims/dims of the scoring arithmetic — then exact full-dim
    cosine re-ranks the shortlist to the final top-k.

    ONE corpus scan: the full vector rides the row through the prefix
    scoring, so the rerank touches full floats only for the
    |Q|·shortlist surviving rows — no second scan, no id fetch join.
    Returns (query_id, corpus_id, cosine_sim, rnk); both stages break
    ties on corpus_id, fully deterministic."""
    v = as_double_array(vec_col)
    pv = F.slice(v, 1, prefix_dims)
    corpus = embeddings.select(
        F.col(id_col).alias("corpus_id"),
        v.alias("cvec"),
        norm(v).alias("cnrm"),
        pv.alias("cpv"),
        norm(pv).alias("cpnrm"),
    )
    queries = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        v.alias("qvec"),
        norm(v).alias("qnrm"),
        pv.alias("qpv"),
        norm(pv).alias("qpnrm"),
    )
    scored = corpus.join(
        F.broadcast(queries), F.col("corpus_id") != F.col("query_id")
    ).select(
        "query_id",
        "corpus_id",
        "cvec",
        "cnrm",
        "qvec",
        "qnrm",
        (
            dot(F.col("qpv"), F.col("cpv")) / (F.col("qpnrm") * F.col("cpnrm"))
        ).alias("pcos"),
    )
    ws = W.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("corpus_id"))
    short = scored.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= shortlist
    )
    rr = short.select(
        "query_id",
        "corpus_id",
        (
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qnrm") * F.col("cnrm"))
        ).alias("cosine_sim"),
    )
    wt = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("corpus_id")
    )
    return rr.withColumn("rnk", F.row_number().over(wt).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def pq_subspace_assignments(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization assignment: split each vector into ``m``
    equal subspaces; in each subspace, code = the nearest of ``k``
    codewords (deterministic training-free codebook: the subvectors of
    the ``k`` smallest-id vectors, codeword index = dense id rank — a
    production build would k-means per subspace; the assignment/ADC
    plumbing is identical).

    Scale shape: the codebook is m·k tiny rows, broadcast; corpus work
    is an explode to |corpus|·m subvector rows joined against it —
    O(n·m·k) subspace distances, never vector-dimension² and never
    corpus×corpus.  Distances are the same sequential fold on both
    engines, so every argmin decision is bit-reproducible; the
    per-subspace squared error is quantized FLOOR(d²·2^20) for exact
    BIGINT summation.

    Returns (vid, s, code, dist2, dq) — one row per vector × subspace.
    """
    dims = _vector_dims(embeddings, vec_col)
    if dims % m != 0:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    sub = dims // m
    v = as_double_array(vec_col)
    base = embeddings.select(F.col(id_col).alias("vid"), v.alias("vec"))
    codebook = _pq_codebook(base, m, k, sub)
    return _pq_assign(base, codebook, m, sub).select(
        "vid",
        "s",
        "code",
        "dist2",
        F.floor(F.col("dist2") * F.lit(_PQ_SCALE)).cast("bigint").alias("dq"),
    )


def pq_codes(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector PQ code string + quantized reconstruction error:
    (vec_id, codes_csv, err_q).  ``codes_csv`` joins the m subspace
    codes in subspace order (scalar output — the driver canonicalizer
    contract forbids array columns); ``err_q`` is the exact BIGINT sum
    of FLOOR(d²·2^20) over subspaces (order-independent, cross-engine
    exact)."""
    a = pq_subspace_assignments(embeddings, m, k, id_col, vec_col)
    return a.groupBy(F.col("vid").alias(id_col)).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "code"))),
                lambda x: x["code"].cast("string"),
            ),
        ).alias("codes_csv"),
        F.sum("dq").cast("bigint").alias("err_q"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    topk: int = 10,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance-computation top-k over PQ codes: each query
    precomputes its m×k lookup table of quantized subspace distances to
    every codeword; a corpus vector's approximate distance is the exact
    BIGINT sum of m table lookups on its codes — the classic PQ search
    (Jégou et al.), never touching corpus vectors at query time.

    Scale shape: the LUT is |Q|·m·k rows (broadcast); scoring is an
    equi-join of the |corpus|·m code rows against it plus one hash
    aggregation — O(n·m) lookup work per query set.  All-integer after
    quantization, so ranks are bit-reproducible cross-engine.
    """
    codes = pq_subspace_assignments(embeddings, m, k, id_col, vec_col).select(
        "vid", "s", "code"
    )
    dims = _vector_dims(embeddings, vec_col)
    sub = dims // m
    v = as_double_array(vec_col)
    base = embeddings.select(F.col(id_col).alias("vid"), v.alias("vec"))
    codebook = _pq_codebook(base, m, k, sub)
    lut = _pq_query_lut(
        base.filter(F.col("vid").isin(query_ids)), codebook, m, sub
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", F.col("vid").alias("corpus_id"))
        .agg(F.sum("dq").cast("bigint").alias("adc_q"))
    )
    wt = W.partitionBy("query_id").orderBy(F.asc("adc_q"), F.asc("corpus_id"))
    return scored.withColumn("rnk", F.row_number().over(wt).cast("bigint")).filter(
        F.col("rnk") <= topk
    )


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine, but only within the query's LSH
    bucket — the join is on bucket id, never a cross join."""
    from pyspark.sql import Window as W

    v = as_double_array(vec_col)
    with_bucket = (
        _with_buckets(embeddings, n_planes, id_col, vec_col)
        .select(F.col(id_col).alias("corpus_id"), v.alias("corpus_vec"), "bucket")
        .withColumn("corpus_norm", norm(F.col("corpus_vec")))
    )
    queries = with_bucket.filter(F.col("corpus_id").isin(query_ids)).select(
        F.col("corpus_id").alias("query_id"),
        F.col("corpus_vec").alias("query_vec"),
        F.col("bucket").alias("qbucket"),
        F.col("corpus_norm").alias("query_norm"),
    )
    scored = with_bucket.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("qbucket")) & (F.col("corpus_id") != F.col("query_id")),
    ).select(
        "query_id",
        "corpus_id",
        (
            dot(F.col("query_vec"), F.col("corpus_vec"))
            / (F.col("query_norm") * F.col("corpus_norm"))
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def lsh_multiprobe_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
    n_extra: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB 2007): each query probes
    its home bucket PLUS the ``n_extra`` buckets reached by flipping the
    sign bits whose projection magnitude is smallest — the planes where
    the vector lies closest to the boundary, hence the likeliest
    misassignments.  Recall rises toward the multi-table level without
    duplicating the corpus into more hash tables.

    Scale shape: the corpus side is IDENTICAL to ``lsh_topk`` (one scan,
    inline bucket column, no explosion); only the |Q|-row query side
    fans out to |Q|·(n_extra+1) probe rows, broadcast into the bucket
    equi-join.  Probe buckets are distinct by construction (home XOR a
    distinct single bit each) and a corpus vector lives in exactly one
    bucket, so no candidate dedup pass is needed.  The flip ranking is
    exact integer arithmetic over the same integerized projections that
    define the bucket — deterministic, engine-independent.

    Recall dominance over single-probe is EXACT, not statistical: the
    candidate set is a superset and a candidate that displaces a true
    top-k member from the window must itself rank inside the true top-k
    (same cosine/tie ordering both sides) — test-pinned.
    """
    from pyspark.sql import Window as W

    dims = _vector_dims(embeddings, vec_col)
    v = as_double_array(vec_col)
    corpus = (
        _with_buckets(embeddings, n_planes, id_col, vec_col, dims)
        .select(F.col(id_col).alias("corpus_id"), v.alias("corpus_vec"), "bucket")
        .withColumn("corpus_norm", norm(F.col("corpus_vec")))
    )
    qside = _with_buckets(
        embeddings.filter(F.col(id_col).isin(query_ids)),
        n_planes,
        id_col,
        vec_col,
        dims,
    )
    if dims == 0:  # empty corpus: stable empty result
        probes_sql = "array(bucket)"
    else:
        projs = ", ".join(
            _proj_sql_expr(vec_col, p, dims) for p in range(n_planes)
        )
        # flip rank: ascending |projection|, plane id as the tie-break —
        # array_sort on (ap, p) structs is exactly that lexicographic
        # order. bucket ^ (1 << p) flips one sign bit per extra probe.
        probes_sql = (
            f"concat(array(bucket), transform("
            f"slice(array_sort(transform(array({projs}),"
            f" (pr, p) -> struct(abs(pr) AS ap, p AS p))), 1, {n_extra}),"
            f" s -> bucket ^ shiftleft(CAST(1 AS BIGINT), s.p)))"
        )
    queries = (
        qside.select(
            F.col(id_col).alias("query_id"),
            v.alias("query_vec"),
            F.explode(F.expr(probes_sql)).alias("pbucket"),
        )
        .withColumn("query_norm", norm(F.col("query_vec")))
    )
    scored = corpus.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("pbucket"))
        & (F.col("corpus_id") != F.col("query_id")),
    ).select(
        "query_id",
        "corpus_id",
        (
            dot(F.col("query_vec"), F.col("corpus_vec"))
            / (F.col("query_norm") * F.col("corpus_norm"))
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def assign_to_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (ties → smallest
    centroid id). ``centroids`` is (cluster_id, centroid ARRAY<DOUBLE>)
    — tiny, broadcast; the corpus side streams through one scan, the
    argmax is a per-vector window over k scored rows."""
    scored = (
        embeddings.select(id_col, as_double_array(vec_col).alias("_v"))
        .crossJoin(F.broadcast(centroids))
        .select(
            id_col,
            "cluster_id",
            cosine(F.col("_v"), F.col("centroid")).alias("_cos"),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.desc("_cos"), F.asc("cluster_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, "cluster_id")
    )


def recompute_centroids(
    embeddings: DataFrame,
    assignment: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster element-wise mean → new centroids, with EXACT decimal
    sums so the result is partitioning-independent and bit-identical to
    the oracle (a running double sum would drift in the last ulps and
    flip downstream argmax decisions).

    Shape: posexplode to (cluster, dim, val) → one map-side-combinable
    aggregation → re-assemble arrays with an order-pinned collect
    (sort_array over (pos, val) structs — collect_list alone has no
    deterministic order)."""
    el = (
        embeddings.select(id_col, F.posexplode(as_double_array(vec_col)))
        .join(assignment, id_col)
        .select("cluster_id", "pos", "col")
    )
    dims = el.groupBy("cluster_id", "pos").agg(
        (
            F.sum(F.col("col").cast("decimal(25,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_val")
    )
    return dims.groupBy("cluster_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s.mean_val,
        ).alias("centroid")
    )


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _check_columns(df: DataFrame, arg: str, want: dict[str, tuple]) -> None:
    """Raise TypeError unless every column in ``want`` is in ``df`` with
    one of the listed types (schema only — no Spark job)."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for col, ok in want.items():
        if types.get(col) not in ok:
            raise TypeError(
                f"{arg}.{col} is {types.get(col, 'missing')}; expected {ok}"
            )


def mmr_diversified_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    shortlist: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist_df: DataFrame | None = None,
    vectors_df: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    greedily pick k results from an exact-cosine shortlist maximizing
    ``lam·rel − (1−lam)·max-sim-to-already-picked`` — the
    diversification rung of the retrieval family (RRF fuses channels,
    hard-negatives mine the boundary; MMR stops the top-k from being k
    near-copies of one document, the failure mode a dedup-light corpus
    shows immediately).

    Determinism + exactness: ``lam`` must be a binary-exact fraction
    (default 0.5) so the score expression is reproducible cross-engine;
    ms starts at the constant 0.0, making pick 1 the pure-relevance
    argmax (the textbook convention); ties to the smaller corpus id.

    Shape: shortlist = one corpus scan (``brute_force_topk``); the
    greedy chain is per-query-independent over a BOUNDED |Q|·S state,
    so it runs as ONE grouped Arrow kernel (``applyInPandas`` by
    query_id) — sequential-fold similarities and the identical score
    expression in-kernel, one shuffle, one job after the corpus stage.

    Injected-frame contract: ``shortlist_df`` is (query_id, corpus_id:
    integral, rel: double) with at most ``shortlist`` rows per query;
    ``vectors_df`` is (corpus_id: integral, cvec: array<double>, cnrm:
    double) with one row per corpus id.  Schemas are checked here, at
    build time (TypeError); the row bound is checked per query inside
    the grouped kernel (the job fails with a ValueError), so it adds no
    Spark job.
    """
    import numpy as np
    import pandas as pd

    if shortlist_df is not None:
        _check_columns(shortlist_df, "shortlist_df", {
            "query_id": _INTEGRAL, "corpus_id": _INTEGRAL, "rel": ("double",),
        })
    if vectors_df is not None:
        _check_columns(vectors_df, "vectors_df", {
            "corpus_id": _INTEGRAL, "cvec": ("array<double>",),
            "cnrm": ("double",),
        })
    one_minus = 1.0 - lam
    kk = int(k)
    max_rows = int(shortlist)
    # the |Q|·S shortlist feeds TWO subtrees (the distinct-corpus-id
    # broadcast and the probe side) — checkpoint it so the corpus-sized
    # brute_force_topk stage runs once, not once per subtree.
    # Round 12 (VERDICT r11 item 1): a caller that ALREADY materialized
    # the same shortlist (and, optionally, the shortlist members'
    # vectors) passes them via ``shortlist_df`` (query_id, corpus_id,
    # rel) / ``vectors_df`` (corpus_id, cvec, cnrm) — without this,
    # q_mmr_diversity_gain ran the corpus-sized brute-force scan TWICE
    # (once for its own readout, once in here) plus a duplicate
    # shortlist-vector scan.  Values are identical either way: the
    # kernel consumes the same (rel, cvec, cnrm) doubles.
    if shortlist_df is not None:
        sl = shortlist_df.select("query_id", "corpus_id", "rel")
    else:
        sl = brute_force_topk(
            embeddings, query_ids, k=shortlist, id_col=id_col, vec_col=vec_col
        ).select(
            "query_id", "corpus_id", F.col("cosine_sim").alias("rel")
        ).localCheckpoint()
    if vectors_df is not None:
        cv = vectors_df.select("corpus_id", "cvec", "cnrm")
    else:
        v = as_double_array(vec_col)
        cv = (
            embeddings.select(F.col(id_col).alias("corpus_id"), v.alias("cvec"))
            .join(
                F.broadcast(
                    sl.select("corpus_id").distinct()
                ),
                "corpus_id",
            )
            .withColumn("cnrm", norm(F.col("cvec")))
        )
    enriched = sl.join(F.broadcast(cv), "corpus_id")

    # Round-11 (guide §2.4 "remove shuffles outright", §4.2): the old
    # form ran k greedy rounds as 2 eagerly-checkpointed jobs each over
    # the BOUNDED |Q|·S state plus a |Q|S × |Q|S sims self-join — ~20
    # driver-synchronized jobs and 4 shuffles for frames of a few
    # hundred rows.  The per-query greedy chain is embarrassingly
    # parallel across queries and bounded per query, so it now runs in
    # ONE grouped Arrow kernel: the S×S similarities are computed
    # in-kernel with np.cumsum sequential folds over the SAME engine-fed
    # vectors and norms (bit-identical to the zip_with/aggregate sims
    # the self-join produced), the score is the identical
    # lam·rel − (1−lam)·ms float expression, the running max is
    # np.maximum, and the argmax orders by (score desc, corpus_id asc)
    # exactly like the old window rank.  One shuffle (groupBy query_id),
    # one job, same rows.
    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "corpus_id": [], "mmr_rank": [], "mmr_score": []}
            )
        qid = int(pdf["query_id"].iloc[0])
        if len(pdf) > max_rows:
            raise ValueError(
                f"mmr_diversified_topk: query {qid} has {len(pdf)} "
                f"shortlist rows, more than shortlist={max_rows}"
            )
        cid = pdf["corpus_id"].to_numpy(dtype=np.int64)
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        V = np.array(list(pdf["cvec"]), dtype=np.float64)
        nr = pdf["cnrm"].to_numpy(dtype=np.float64)
        n = cid.shape[0]
        ms = np.zeros(n, dtype=np.float64)
        avail = np.ones(n, dtype=bool)
        out_q, out_c, out_r, out_s = [], [], [], []
        for i in range(1, kk + 1):
            idx = np.flatnonzero(avail)
            if idx.size == 0:
                break
            score = lam * rel[idx] - one_minus * ms[idx]
            j = int(idx[np.lexsort((cid[idx], -score))[0]])
            out_q.append(qid)
            out_c.append(int(cid[j]))
            out_r.append(i)
            out_s.append(lam * rel[j] - one_minus * ms[j])
            avail[j] = False
            if i < kk:
                sim = np.cumsum(V * V[j][None, :], axis=1)[:, -1] / (nr * nr[j])
                ms = np.maximum(ms, sim)
        return pd.DataFrame(
            {
                "query_id": np.array(out_q, dtype=np.int64),
                "corpus_id": np.array(out_c, dtype=np.int64),
                "mmr_rank": np.array(out_r, dtype=np.int64),
                "mmr_score": np.array(out_s, dtype=np.float64),
            }
        )

    # eager checkpoint (the old per-round picks were all checkpointed):
    # consumers self-join this |Q|·k frame — without it each subtree
    # re-runs the corpus scan + kernel
    return (
        enriched.groupBy("query_id")
        .applyInPandas(
            greedy,
            "query_id bigint, corpus_id bigint, mmr_rank bigint,"
            " mmr_score double",
        )
        .localCheckpoint()
    )


_KPAR_COST_SCALE = 1 << 20  # cost quantum: FLOOR((1 − maxcos)·2^20)
_KPAR_U_SCALE = 1 << 60     # md5-uniform resolution (15 hex chars)


def _kpar_chain_single_task(
    base: DataFrame, l: int, rounds: int, seed_tag: str
) -> tuple[DataFrame, list[dict]]:
    """The full k-means|| oversample chain in ONE ``mapInPandas`` task
    over ``base(vid BIGINT, vec ARRAY<DOUBLE>)`` — bit-identical to the
    distributed loop (the ``_fps_chain_single_task`` contract):

    * norms / dots are ``np.cumsum`` sequential IEEE folds (never BLAS),
      the running max-cos is ``np.maximum`` / per-candidate max — both
      exact and order-free, matching ``greatest``/``array_max``;
    * costq = FLOOR((1 − mx)·2^20) clamped at 0, ψ = exact int sum;
    * the Bernoulli draw is the SAME exact integer comparison
      u60·ψ < l·costq·2^60 with u60 from the identical md5 string;
    * attraction weights argmax by (cos desc, vid asc) — the struct-max
      tie-break of the distributed form.

    Returns the same ``(candidates LocalRelation, stats)`` pair; only
    the candidate ROW ORDER may differ from the distributed collect
    order (every consumer aggregates, and stats vids are sorted)."""
    import hashlib

    import numpy as np
    import pandas as pd

    cost_scale = float(_KPAR_COST_SCALE)
    ll = int(l)

    def kpar_kernel(batches):
        ids_l, vecs_l = [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_l.append(pdf["vid"].to_numpy(dtype=np.int64))
            vecs_l.append(np.array(list(pdf["vec"]), dtype=np.float64))
        if not ids_l:
            return
        ids = np.concatenate(ids_l)
        M = np.vstack(vecs_l)
        nrm = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
        j0 = int(np.argmin(ids))
        cand_idx = [j0]
        cnrm0 = nrm[j0]
        cos0 = np.cumsum(M * M[j0][None, :], axis=1)[:, -1] / (nrm * cnrm0)
        mx = cos0.copy()
        # round-12 (ADVICE r11, medium): the final attraction-weight
        # argmax used to column_stack one full n-row cosine column PER
        # candidate plus an equally-sized int64 tie matrix — ~(1+l·R)/dims
        # times the n·dims state the dispatch gate bounds.  Max with
        # smallest-vid tie-break is order-free, so a running
        # (best cos, best vid) pair folded candidate-by-candidate is
        # bit-identical (exact float compares) and keeps peak memory at
        # O(n·dims).
        best = cos0
        bvid = np.full(ids.shape[0], int(ids[j0]), dtype=np.int64)
        stat_rows = []
        for r in range(1, rounds + 1):
            costq = np.maximum(
                np.floor((1.0 - mx) * cost_scale), 0.0
            ).astype(np.int64)
            psi = int(costq.sum())
            if psi <= 0:
                stat_rows.append((r, 0, 0, []))
                continue
            picked = []
            for i in range(ids.shape[0]):
                cq = int(costq[i])
                if cq <= 0:
                    continue
                u60 = int(
                    hashlib.md5(
                        f"{seed_tag}:{r}:{int(ids[i])}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                if u60 * psi < ll * cq * _KPAR_U_SCALE:
                    picked.append(i)
            vids = sorted(int(ids[i]) for i in picked)
            stat_rows.append((r, psi, len(picked), vids))
            if not picked:
                continue
            newmax = None
            for i in picked:
                cos_i = (
                    np.cumsum(M * M[i][None, :], axis=1)[:, -1]
                    / (nrm * nrm[i])
                )
                vid_i = int(ids[i])
                take = (cos_i > best) | ((cos_i == best) & (vid_i < bvid))
                best = np.where(take, cos_i, best)
                bvid = np.where(take, np.int64(vid_i), bvid)
                newmax = cos_i if newmax is None else np.maximum(newmax, cos_i)
            cand_idx.extend(picked)
            mx = np.maximum(mx, newmax)
        # attraction weights: per row, argmax over candidates of
        # (cos, -cand_vid) — max cos, smallest candidate vid on ties —
        # already folded incrementally into (best, bvid) above
        winner = bvid
        uniq, cnt = np.unique(winner, return_counts=True)
        wmap = dict(zip(uniq.tolist(), cnt.tolist()))
        out = {
            "cand_vid": [int(ids[i]) for i in cand_idx],
            "cvec": [list(M[i]) for i in cand_idx],
            "cnrm": [float(nrm[i]) for i in cand_idx],
            "weight": [
                int(wmap.get(int(ids[i]), 0)) for i in cand_idx
            ],
            "rnd": [None] * len(cand_idx),
            "psi_q": [None] * len(cand_idx),
            "n_sampled": [None] * len(cand_idx),
            "picked_vids": [None] * len(cand_idx),
        }
        for r, psi, n_s, vids in stat_rows:
            out["cand_vid"].append(None)
            out["cvec"].append(None)
            out["cnrm"].append(None)
            out["weight"].append(None)
            out["rnd"].append(r)
            out["psi_q"].append(psi)
            out["n_sampled"].append(n_s)
            out["picked_vids"].append(vids)
        yield pd.DataFrame(out)

    rows = (
        base.repartition(1)  # see the FPS kernel note: never coalesce(1)
        .mapInPandas(
            kpar_kernel,
            "cand_vid bigint, cvec array<double>, cnrm double, "
            "weight bigint, rnd bigint, psi_q bigint, n_sampled bigint, "
            "picked_vids array<bigint>",
        )
        .collect()
    )
    spark = base.sparkSession
    cands = [
        (int(r["cand_vid"]), list(r["cvec"]), float(r["cnrm"]), int(r["weight"]))
        for r in rows
        if r["cand_vid"] is not None
    ]
    stats = [
        {
            "round": int(r["rnd"]),
            "psi_q": int(r["psi_q"]),
            "n_sampled": int(r["n_sampled"]),
            "vids": [int(v) for v in (r["picked_vids"] or [])],
        }
        for r in rows
        if r["rnd"] is not None
    ]
    stats.sort(key=lambda s: s["round"])
    out = spark.createDataFrame(
        cands, "vid BIGINT, vec ARRAY<DOUBLE>, nrm DOUBLE, weight BIGINT"
    )
    return out, stats


def kmeans_parallel_oversample(
    embeddings: DataFrame,
    l: int = 32,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_tag: str = "kpar",
) -> tuple[DataFrame, list[dict]]:
    """k-means|| oversampling (Bahmani et al., VLDB'12) — the seeding
    whose ROUND COUNT is independent of k: each round samples ~``l``
    new centers at once with probability ∝ current cost, so a k in the
    thousands needs the same ``rounds`` O(n·dims) scans where
    farthest-point seeding needs k of them.  The two now bracket the
    seeding design space: FPS = deterministic max-min, one seed per
    round (``farthest_point_seeds``); k-means|| = cost-proportional
    oversampling, ~l seeds per round, reduced to k afterwards.

    Deterministic, oracle-reproducible form:

    * cost(x) = FLOOR((1 − maxcos(x, C))·2^20) — the cosine-distance
      cost quantized to an integer, so ψ = Σ cost is an ORDER-FREE
      integer sum (a raw double ψ would depend on partition fold
      order and break cross-engine equality);
    * sampling: include x iff u60(x, r)·ψ < l·cost(x)·2^60, where
      u60 = the 60-bit md5 uniform of ``{seed_tag}:{r}:{vid}`` — the
      Bernoulli(l·cost/ψ) draw as one exact integer comparison
      (DECIMAL(38,0) / HUGEINT products, no floats anywhere);
    * the running max-cos column is MATERIALIZED per round and folds
      in only the new candidates (broadcast join + one GREATEST — the
      ``farthest_point_seeds`` running-max machinery, batched).

    Returns ``(candidates, stats)``: candidates = (vid, vec, nrm,
    weight) with weight = |{x : argmax-cos assigns x to this
    candidate}| (smallest-vid ties); stats = one dict per round
    {round, psi_q, n_sampled} (bounded driver metadata).  NOTE: the
    engine's consumers (``build_ivfpq_index(coarse_seed="kmeans_par")``
    and the kpar queries) reduce the candidates to k with UNWEIGHTED
    max-min (``farthest_point_seeds``) — a deliberate divergence from
    Bahmani's weighted recluster: max-min on the oversampled set is
    deterministic, oracle-expressible, and empirically matches the
    weighted recluster's purity on the measured fixtures (purity 1.0,
    recall parity with corpus-FPS), whereas a weighted Lloyd reduce
    would add a second stochastic stage to hash-verify.  The weights
    are still returned for callers that want the textbook reduction
    (weighted Lloyd over the bounded candidate frame).  Already-
    sampled rows stay in the frame with cost 0, the textbook
    no-resample property, with no id-exclusion lists anywhere.
    """
    # Round-11 job/shuffle diet (guide §1.2, §2.4): the old loop ran ~5
    # jobs and 2 shuffles per round (eager picked-checkpoint, vids
    # collect, cands union-checkpoint, crossJoin→groupBy(vid)→join fold).
    # Candidates are BOUNDED quantizer metadata (~l rows/round, the same
    # driver-boundary class as the FPS seed picks), so they now live in a
    # driver-side list and re-enter each fold as a one-row broadcast
    # array — the fold becomes greatest(mx, array_max(transform(...)))
    # with NO exchange (max is exact and order-free, so the value is
    # bit-identical to the groupBy-max form), and each round runs TWO
    # jobs: the ψ aggregate (which also materializes the previous
    # round's lazily-checkpointed fold) and the picked-rows collect.
    #
    # Round-11 part 2 (the `farthest_point_seeds` single-task pattern):
    # one fused head job gives (row count, smallest-id row); when the
    # whole candidate state fits one task the ENTIRE oversample chain —
    # all R rounds of cost/ψ/Bernoulli picks plus the attraction-weight
    # argmax — runs inside a single ``mapInPandas`` kernel with the same
    # IEEE op order (np.cumsum dots, np.maximum folds, exact-int
    # sampling compares), so rounds cost one job instead of two each and
    # the weights collect disappears.  Beyond the threshold the
    # distributed loop below runs unchanged (the 100 TB shape: R corpus
    # scans, bounded driver metadata).
    head = (
        embeddings.select(
            F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct(F.col("vid"), F.col("vec"))).alias("f"),
        )
        .first()
    )
    first = [head["f"]] if head is not None and head["n"] > 0 else []
    spark = embeddings.sparkSession
    cand_schema = "cand_vid BIGINT, cvec ARRAY<DOUBLE>, cnrm DOUBLE"
    if not first:
        # empty corpus: every round sees ψ=0 (the old loop's behavior)
        return (
            spark.createDataFrame(
                [], "vid BIGINT, vec ARRAY<DOUBLE>, nrm DOUBLE, weight BIGINT"
            ),
            [
                {"round": r, "psi_q": 0, "n_sampled": 0, "vids": []}
                for r in range(1, rounds + 1)
            ],
        )
    import math

    def _seq_norm(vec: list[float]) -> float:
        sd = 0.0
        for x in vec:
            sd += x * x
        return math.sqrt(sd)

    dims = len(first[0]["vec"])
    # Gate on 8·n·max(dims, 1 + l·rounds) bytes (ADVICE r11): dims
    # bounds the kernel's O(n·dims) matrix, and 1 + l·rounds — the
    # candidate-count ceiling — proxies the per-round interpreter work
    # (one md5 draw per costly row per round), so a low-dim many-row
    # corpus cannot sneak millions of pure-Python hash calls into one
    # task.  The distributed loop above the gate is the 100 TB shape
    # and handles it unchanged.
    if fits_one_task(
        8 * int(head["n"]) * max(dims, 1 + l * rounds, 1),
        "kmeans_parallel_oversample",
    ):
        return _kpar_chain_single_task(
            embeddings.select(
                F.col(id_col).cast("bigint").alias("vid"),
                as_double_array(vec_col).alias("vec"),
            ),
            l=l,
            rounds=rounds,
            seed_tag=seed_tag,
        )

    cand_rows: list[tuple[int, list[float], float]] = [
        (int(first[0]["vid"]), list(first[0]["vec"]), _seq_norm(list(first[0]["vec"])))
    ]

    def _cand_arr(rows: list[tuple[int, list[float], float]]) -> F.Column:
        # the newest picks as a literal array of (cvec, cnrm) structs —
        # assembled as ONE SQL string (single JVM parse, the
        # verify-skill Py4J lesson)
        items = ", ".join(
            "named_struct('cvec', array(%s), 'cnrm', %sD)"
            % (", ".join(f"{x!r}D" for x in vec), repr(nrm))
            for _vid, vec, nrm in rows
        )
        return F.expr(f"array({items})")

    def _cand_arr_with_vid(rows: list[tuple[int, list[float], float]]) -> F.Column:
        items = ", ".join(
            "named_struct('cand_vid', %dL, 'cvec', array(%s), 'cnrm', %sD)"
            % (vid, ", ".join(f"{x!r}D" for x in vec), repr(nrm))
            for vid, vec, nrm in rows
        )
        return F.expr(f"array({items})")

    base = (
        embeddings.select(
            F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec")
        )
        .withColumn("nrm", norm(F.col("vec")))
    )

    def _fold_cos(p: F.Column) -> F.Column:
        return dot(F.col("vec"), p["cvec"]) / (F.col("nrm") * p["cnrm"])

    state = base.select(
        "vid",
        "vec",
        "nrm",
        F.array_max(
            F.transform(_cand_arr(cand_rows), _fold_cos)
        ).alias("mx"),
    ).localCheckpoint(eager=False)
    stats: list[dict] = []
    for r in range(1, rounds + 1):
        # clamped at 0: cos(x, x) can exceed 1.0 by an ulp (nrm·nrm vs
        # dot), and a −1 cost row would leak into ψ
        costq = F.greatest(
            F.floor(
                (F.lit(1.0) - F.col("mx")) * F.lit(float(_KPAR_COST_SCALE))
            ).cast("bigint"),
            F.lit(0).cast("bigint"),
        )
        scored = state.withColumn("costq", costq)
        psi_row = scored.agg(F.sum("costq").alias("p")).first()
        psi_q = int(psi_row["p"]) if psi_row["p"] is not None else 0
        if psi_q <= 0:
            stats.append(
                {"round": r, "psi_q": 0, "n_sampled": 0, "vids": []}
            )
            continue
        u60 = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{seed_tag}:{r}:"),
                        F.col("vid").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        picked_rows = (
            scored.withColumn("u60", u60)
            .filter(
                F.col("u60").cast("decimal(38,0)")
                * F.lit(psi_q).cast("decimal(38,0)")
                < F.lit(l).cast("decimal(38,0)")
                * F.col("costq").cast("decimal(38,0)")
                * F.lit(_KPAR_U_SCALE).cast("decimal(38,0)")
            )
            .select("vid", "vec", "nrm")
            .collect()
        )
        new_rows = [
            (int(x["vid"]), list(x["vec"]), float(x["nrm"])) for x in picked_rows
        ]
        vids = sorted(v for v, _vec, _nrm in new_rows)
        n_sampled = len(vids)
        stats.append(
            {"round": r, "psi_q": psi_q, "n_sampled": n_sampled, "vids": vids}
        )
        if n_sampled == 0:
            continue
        cand_rows.extend(new_rows)
        state = state.select(
            "vid",
            "vec",
            "nrm",
            F.greatest(
                F.col("mx"),
                F.array_max(F.transform(_cand_arr(new_rows), _fold_cos)),
            ).alias("mx"),
        ).localCheckpoint(eager=False)
    # attraction weights: one scan, argmax-cos with smallest-vid ties —
    # the per-row argmax is an exact array fold over the bounded
    # candidate array (struct max is lexicographic on (cos, -vid), the
    # same tie-break the old groupBy-max-struct computed), so the only
    # exchange left is the map-side-combinable count by winner
    best = base.select(
        "vid",
        (
            -F.array_max(
                F.transform(
                    _cand_arr_with_vid(cand_rows),
                    lambda p: F.struct(
                        _fold_cos(p).alias("cos"),
                        (-p["cand_vid"]).alias("nid"),
                    ),
                )
            ).getField("nid")
        ).cast("bigint").alias("cand_vid"),
    )
    # the per-winner counts are |candidates| bounded rows — collect them
    # and emit the result as a pure LocalRelation: consumers (FPS
    # reduce, Lloyd init, weighted recluster) re-execute the candidate
    # frame several times, and a local row set costs them nothing
    # (coalesce(weight, 0) of the old left join = dict default 0)
    wmap = {
        int(r["cand_vid"]): int(r["weight"])
        for r in best.groupBy("cand_vid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
        .collect()
    }
    out = spark.createDataFrame(
        [(vid, vec, nrm, wmap.get(vid, 0)) for vid, vec, nrm in cand_rows],
        "vid BIGINT, vec ARRAY<DOUBLE>, nrm DOUBLE, weight BIGINT",
    )
    return out, stats


def _fps_chain_single_task(base: DataFrame, k: int) -> list[tuple]:
    """Run the full farthest-point pick chain in ONE ``mapInPandas``
    task over ``base(vid BIGINT, vec ARRAY<DOUBLE>)`` and return the
    ≤k collected (cluster_id, seed_vid, centroid) tuples.

    Bit-exactness contract (the ``brute_force_topk_arrow`` discipline):
    norms and dots are ``np.cumsum`` sequential IEEE folds — never
    ``np.dot``/BLAS — the running max is ``np.maximum`` (exact), the
    per-round argmin orders by (mx asc, vid asc) exactly like the
    distributed ``orderBy(mx, vid).limit(1)``, and the seed self-norm is
    ``sqrt(cumsum(s·s))`` — the same value the literal-chain form folds
    in.  Compute stays on an executor; the driver receives only the
    bounded k·dims seed rows (the same boundary the distributed chain
    already crossed one row per round)."""
    import numpy as np
    import pandas as pd

    kk = int(k)

    def fps_kernel(batches):
        ids_l, vecs_l = [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_l.append(pdf["vid"].to_numpy(dtype=np.int64))
            vecs_l.append(np.array(list(pdf["vec"]), dtype=np.float64))
        if not ids_l:
            return
        ids = np.concatenate(ids_l)
        M = np.vstack(vecs_l)
        nrm = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
        picked = np.zeros(ids.shape[0], dtype=bool)
        j = int(np.argmin(ids))  # seed_0: smallest id (ids are unique)
        order = [j]
        picked[j] = True
        s = M[j]
        snrm = np.sqrt(np.cumsum(s * s)[-1])
        mx = np.cumsum(M * s[None, :], axis=1)[:, -1] / (nrm * snrm)
        for _ in range(1, kk):
            avail = np.flatnonzero(~picked)
            if avail.size == 0:
                break
            j = int(avail[np.lexsort((ids[avail], mx[avail]))[0]])
            order.append(j)
            picked[j] = True
            s = M[j]
            snrm = np.sqrt(np.cumsum(s * s)[-1])
            cos = np.cumsum(M * s[None, :], axis=1)[:, -1] / (nrm * snrm)
            mx = np.maximum(mx, cos)
        yield pd.DataFrame(
            {
                "cluster_id": np.arange(len(order), dtype=np.int64),
                "seed_vid": ids[order],
                "centroid": [list(M[i]) for i in order],
            }
        )

    # repartition(1), NOT coalesce(1): a coalesced task evaluates each
    # parent partition's Arrow conversion serially (~0.2 s apiece — a
    # 32-partition LocalRelation cost ~6 s), while the one-partition
    # exchange of a ≤threshold state is cheap; FPS is row-order
    # independent, so the round-robin placement is semantics-free
    rows = (
        base.repartition(1)
        .mapInPandas(
            fps_kernel,
            "cluster_id bigint, seed_vid bigint, centroid array<double>",
        )
        .collect()
    )
    return [(int(r["cluster_id"]), int(r["seed_vid"]), list(r["centroid"])) for r in rows]


def farthest_point_seeds(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic farthest-point (max-min) seeding for the coarse
    quantizer — the k-means++-family fix for the measured smallest-id
    failure mode (``sim_cluster_purity``: two of eight cells mixed
    because the k smallest ids landed duplicate seeds in one true
    cluster).  seed_0 is the smallest-id vector; each subsequent seed is
    the not-yet-picked vector MINIMIZING its maximum cosine to the seeds
    so far (= farthest in cosine distance), ties to the smallest id.  A
    near-duplicate of an existing seed has max-cos ≈ 1 and sorts last,
    so clustered mass can never claim two seeds while another cluster
    is unseeded.

    Scale shape — the RUNNING-MAX form: the per-row "max cosine to any
    seed so far" is a MATERIALIZED column of the candidate state
    (``localCheckpoint`` per round, the standard iterative-algorithm
    lineage cut, same discipline as ``connected_components``).  Round i
    scores every remaining row against ONLY the newest seed (one
    O(dims) literal — SQL text is constant per round, never the full
    seed list) and folds it in with one exact ``greatest``; max is
    associative, so the running form is bit-identical to re-scoring all
    i seeds.  k rounds × one O(n·dims) scan = **O(k·n·dims) total** —
    one Lloyd-iteration-equivalent per seed, flat in k per round, so
    the pick chain works at production cell counts (k in the thousands)
    where the literal-chain form's O(k²·n·dims) compute and O(k·dims)
    per-round SQL text could not.

    Driver boundary: ONE (vid, vector) row is collected per round —
    k·dims doubles total, bounded quantizer metadata (the same class as
    ``_vector_dims``; a production build broadcasts the quantizer
    anyway).  Collected doubles re-enter the plan as shortest-roundtrip
    literals (bit-identical, the hyperplane-weights discipline), and
    every cosine/fold stays engine-side, so the DuckDB oracle reproduces
    the pick chain exactly.

    Returns (cluster_id, seed_vid, centroid), cluster_id = pick order
    0..k-1, ready for ``assign_to_centroids`` /
    ``ivf_topk_with_centroids`` / ``kmeans_refine(init_centroids=…)``.

    Round-11 (optimization guide §1.2/§4.2): the chain is k SEQUENTIAL
    global argmins — in Spark that is k driver-synchronized jobs, and at
    the bench scales the ~0.1 s/job floor (scheduling + planning)
    dominated the microseconds of per-round compute (measured: 64 seeds
    = 128 jobs = 7.3 s for 2000×16 doubles of state).  When the whole
    n·dims float64 candidate state fits ONE task
    (``functions.single_task.fits_one_task``), the identical pick chain
    now runs inside a single ``mapInPandas`` kernel: ``np.cumsum``
    sequential folds (the ``brute_force_topk_arrow`` bit-exactness
    contract), ``np.maximum`` for the running max, lexsort-(mx, vid)
    argmins — every float op in the same IEEE order, so the picks and centroids are bit-identical
    and the same DuckDB oracle verifies both paths.  Beyond the
    threshold the distributed running-max form below engages unchanged
    (k global barriers are fundamental to exact FPS; at 100 TB the scan
    dominates and the per-round driver overhead is noise).
    """
    # one job for (row count, smallest-id row): the count sizes the
    # single-task dispatch, the min-struct IS the old orderBy(vid)
    # limit(1) first pick (vid is the leading struct field and unique)
    head = (
        embeddings.select(F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct(F.col("vid"), F.col("vec"))).alias("f"),
        )
        .first()
    )
    spark = embeddings.sparkSession
    out_schema = "cluster_id BIGINT, seed_vid BIGINT, centroid ARRAY<DOUBLE>"
    if head is None or head["n"] == 0:
        return spark.createDataFrame([], out_schema)
    first = [head["f"]]
    dims = len(first[0]["vec"])
    if k > 1 and fits_one_task(
        8 * int(head["n"]) * max(dims, 1), "farthest_point_seeds"
    ):
        rows = _fps_chain_single_task(
            embeddings.select(
                F.col(id_col).cast("bigint").alias("vid"),
                as_double_array(vec_col).alias("vec"),
            ),
            k,
        )
        return spark.createDataFrame(rows, out_schema)
    seeds: list[tuple[int, list[float]]] = [(int(first[0]["vid"]), list(first[0]["vec"]))]

    def cos_lit(vec: list[float]) -> str:
        # cosine of the state's pre-cast `vec`/`nrm` against one literal
        # seed vector — the same dot / (nrm * sqrt(selfdot)) shape (and
        # double-op order) the unrolled form used, so values are
        # bit-identical round for round.  The seed's self-norm is folded
        # DRIVER-SIDE (same sequential IEEE-double adds as the engine's
        # aggregate fold, then one IEEE sqrt — bit-identical) and enters
        # as a single literal: round-11 measurement showed the engine
        # form re-evaluated the constant sqrt(selfdot) fold PER ROW and
        # tripled the per-round plan's literal count (guide §1/§2.3:
        # smaller plans, fewer bytes per row of work).
        import math

        sd = 0.0
        for x in vec:
            sd += x * x
        snrm = math.sqrt(sd)
        arr = ", ".join(f"{x!r}D" for x in vec)
        d = (
            f"aggregate(zip_with(vec, array({arr}), (x, y) -> x * y),"
            " CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
        )
        return f"(({d}) / (nrm * {snrm!r}D))"

    # candidate state: (vid, vec, nrm, mx) with mx = max cosine to the
    # seeds picked so far — materialized each round so round i never
    # re-executes rounds 0..i-1 (the lineage cut that makes per-round
    # cost flat in k).  The checkpoints are LAZY (round-11, guide §1.2
    # "remove unnecessary passes"): each round's argmin collect is the
    # job that also materializes that round's fold, so the loop runs ONE
    # Spark job per seed instead of the two (eager checkpoint + collect)
    # it ran before — same picks, same floats, half the job count.
    state = (
        embeddings.filter(F.col(id_col) != seeds[0][0])
        .select(F.col(id_col).alias("vid"), as_double_array(vec_col).alias("vec"))
        .withColumn("nrm", norm(F.col("vec")))
        .withColumn("mx", F.expr(cos_lit(seeds[0][1])))
        .localCheckpoint(eager=False)
    )
    for i in range(1, k):
        nxt = state.orderBy(F.asc("mx"), F.asc("vid")).limit(1).collect()
        if not nxt:  # fewer than k distinct rows: return what exists
            break
        vid_i, vec_i = int(nxt[0]["vid"]), list(nxt[0]["vec"])
        seeds.append((vid_i, vec_i))
        if i < k - 1:
            # fold the newest seed into the running max; materialization
            # happens inside the NEXT round's argmin job (lazy
            # checkpoint), and the previous round's checkpoint blocks
            # are released by the context cleaner once unreferenced
            state = (
                state.filter(F.col("vid") != vid_i)
                .withColumn(
                    "mx", F.greatest(F.col("mx"), F.expr(cos_lit(vec_i)))
                )
                .localCheckpoint(eager=False)
            )

    return spark.createDataFrame(
        [(i, vid, vec) for i, (vid, vec) in enumerate(seeds)], out_schema
    )


def kmeans_refine(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_centroids: DataFrame | None = None,
    round_cuts: bool = True,
) -> DataFrame:
    """Lloyd's k-means for ``iters`` FIXED iterations (no convergence
    probe → no per-iteration driver boundary at all, and a deterministic
    plan) refining the IVF coarse quantizer: init = the k smallest-id
    vectors (same deterministic seeding as ``ivf_centroid_scores``) or
    an explicit ``init_centroids`` (cluster_id, centroid) frame — e.g.
    ``farthest_point_seeds`` — then assign → recompute per round.
    Returns the final (vec_id, cluster_id) assignment.

    Per iteration: one broadcast-scored scan + one explode-aggregate —
    both map-side-combinable shuffles of k·dims rows, O(n·k·dims) work,
    no state on the driver (centroids never leave the cluster)."""
    # round 11 (guide §2.4/§5): without a cut, every later assign's
    # broadcast re-executes the whole nested assign→recompute chain
    # below it (depth² corpus passes by the last iteration).  Per-round
    # lazy checkpoints of the BOUNDED k×dims centroid frames make the
    # chain below each broadcast run exactly once.  ``round_cuts=False``
    # skips them: a SHALLOW chain whose consumer also runs other
    # full-corpus channels can lose more to the materialization barrier
    # than the cut saves (measured on sim_ivf_trained_recall).

    def _cut(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=False) if round_cuts else df

    if init_centroids is not None:
        centroids = init_centroids.select("cluster_id", "centroid")
    else:
        centroids = _cut(
            embeddings.orderBy(id_col)
            .limit(k)
            .select(
                F.col(id_col).cast("bigint").alias("_seed_id"),
                as_double_array(vec_col).alias("centroid"),
            )
            .withColumn(
                "cluster_id",
                F.row_number()
                .over(W.orderBy("_seed_id"))
                .cast("bigint") - 1,
            )
            .select("cluster_id", "centroid")
        )
    assignment = assign_to_centroids(embeddings, centroids, id_col, vec_col)
    for _ in range(iters):
        centroids = _cut(
            recompute_centroids(embeddings, assignment, id_col, vec_col)
        )
        assignment = assign_to_centroids(embeddings, centroids, id_col, vec_col)
    return assignment


def split_ivf_cell(
    centroids: DataFrame,
    assignments: DataFrame,
    cell: int,
    new_cell: int | None = None,
    iters: int = 1,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Rebalance ONE overful IVF inverted list: split ``cell`` into two
    by LOCAL 2-means over only that cell's members — max-min
    (:func:`farthest_point_seeds`) seeds, ``iters`` Lloyd iterations,
    decimal-exact means — and reroute only those rows.

    This is the skew answer a 100 TB serving index needs: inverted
    lists drift overful as data accumulates (appends route to existing
    cells; the quantizer never moves), and probing one fat list costs
    what probing should have amortized.  The split is O(|cell|): only
    the target cell's members are scanned for seeding/Lloyd/re-encode,
    and on a ``partitionBy("cell")`` store the persist is a dynamic
    overwrite of one partition plus one new one — the rest of the index
    is untouched bytes.  Completes the lifecycle ladder: append
    (``ivf_index_add_batch``), delete/compact
    (``streaming.vector_index_stream``), rebalance (here).

    The split cell keeps its id for sub-cluster 0 (probes that ranked
    it still find mass there); sub-cluster 1 gets ``new_cell`` (default
    max(cell)+1 — one bounded 1-row metadata collect).  Degenerate
    cells (one member, or all-duplicate vectors) split into a single
    sub-cluster: the id is retired from the centroid table only if
    empty, never silently.

    Returns (centroids', assignments') with ``build_ivf_index`` schemas
    — the split is invisible to every consumer except that searches now
    probe two tighter lists where one fat one was.

    Fan-out note: the 2-means consumes ``members`` several times (seed
    collects, assign/recompute rounds, the re-route join).  On a
    path-backed index each consumption is a pruned one-partition read —
    the production form, and what the catalog query uses.  For a
    LAZY-lineage index that fan-out would re-execute the full corpus
    assignment per consumer, so ``materialize=True`` pins the cell's
    rows ONCE (bounded |cell| persist, released before returning) and
    returns lineage-cut outputs — the store face
    (``rebalance_store_cell``) uses this.
    """
    members = assignments.filter(F.col("cell") == cell)
    if materialize:
        members = members.persist()
    if new_cell is None:
        new_cell = int(centroids.agg(F.max("cell")).first()[0]) + 1
    seeds = farthest_point_seeds(members, k=2, id_col="vid", vec_col="vec")
    # round 12 (VERDICT r11 item 4, guide §2.4/§5): the 2-means outputs
    # are BOUNDED frames consumed by multiple subtrees — sub_assign
    # (|cell| id pairs) feeds the centroid recompute AND the re-route
    # join, and the ≤2-row sub-centroids feed the centroid-table union
    # AND (in the residual split) the re-encode broadcast.  Without
    # lineage cuts every consumer re-executed the whole nested
    # assign→recompute chain over the members scan (the kmeans_refine
    # depth² lesson one level deeper).  Lazy localCheckpoints make each
    # run exactly once; values are unchanged.
    sub_assign = kmeans_refine(
        members, iters=iters, id_col="vid", vec_col="vec",
        init_centroids=seeds.select("cluster_id", "centroid"),
    ).localCheckpoint(eager=False)
    sub_cents = recompute_centroids(
        members, sub_assign, id_col="vid", vec_col="vec"
    )
    cellmap = (
        F.when(F.col("cluster_id") == 0, F.lit(cell))
        .otherwise(F.lit(new_cell))
        .cast("long")
    )
    new_cent_rows = sub_cents.select(
        cellmap.alias("cell"), F.col("centroid").alias("cvec")
    ).withColumn("cnrm", norm(F.col("cvec")))
    if not materialize:
        # (the materialize branch below cuts it eagerly instead)
        new_cent_rows = new_cent_rows.localCheckpoint(eager=False)
    moved = members.join(sub_assign, "vid").select(
        "vid", "vec", "nrm", cellmap.alias("cell")
    )
    if materialize:
        # one execution of the 2-means chain, then the cell cache goes
        moved = moved.localCheckpoint()
        new_cent_rows = new_cent_rows.localCheckpoint()
        members.unpersist()
    centroids2 = centroids.filter(F.col("cell") != cell).unionByName(
        new_cent_rows
    )
    assignments2 = assignments.filter(F.col("cell") != cell).unionByName(moved)
    return centroids2, assignments2


def split_ivfpq_cell(
    centroids: DataFrame,
    assignments: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    cell: int,
    new_cell: int | None = None,
    iters: int = 1,
    residual: bool = True,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Rebalance one overful cell of the COMPOSED IVF-PQ index — the
    residual-aware face of :func:`split_ivf_cell`.

    Raw-vector codes don't depend on the centroid, so a raw split only
    re-routes code rows.  RESIDUAL codes (IVFADC) do: a moved vector's
    code quantizes v − centroid(cell), and the split replaces that
    centroid for every member — so the split cell's codes are
    RE-ENCODED against the two new sub-centroids using the SAME shared
    codebook (the codebook never retrains on a split; it covers
    residuals near the origin regardless of which centroid produced
    them).  Work stays O(|cell|·m·k): only the split cell's members
    re-encode; every other inverted list — raw vectors and codes — is
    untouched bytes.

    Returns (centroids', assignments', codebook, codes') with
    ``build_ivfpq_index`` schemas.
    """
    if new_cell is None:
        new_cell = int(centroids.agg(F.max("cell")).first()[0]) + 1
    c2, a2 = split_ivf_cell(
        centroids, assignments, cell, new_cell=new_cell, iters=iters,
        materialize=materialize,
    )
    # bounded |cell| rows consumed by the residual re-encode AND the
    # code re-route join — cut once (round 12, same class as above)
    moved = a2.filter(F.col("cell").isin([cell, new_cell])).localCheckpoint(
        eager=False
    )
    code_cols = [c for c in codes.columns]
    if residual:
        dims = _vector_dims(assignments, "vec")
        m = int(codebook.select("s").distinct().count())
        sub = dims // m
        base = _ivf_residuals(moved, c2)
        new_codes = (
            _pq_assign(base, codebook, m, sub)
            .select("vid", "s", "code")
            .join(moved.select("vid", "cell"), "vid")
        )
    else:
        new_codes = (
            codes.filter(F.col("cell") == cell)
            .drop("cell")
            .join(moved.select("vid", "cell"), "vid")
        )
    codes2 = codes.filter(F.col("cell") != cell).unionByName(
        new_codes.select(*code_cols)
    )
    return c2, a2, codebook, codes2


def ivf_topk_with_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    query_ids: list[int],
    k: int = 10,
    nprobe: int | DataFrame = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against an EXTERNAL quantizer — ``centroids`` is
    (cluster_id, centroid ARRAY<DOUBLE>), e.g. the k-means-refined
    table from :func:`recompute_centroids` — so trained and
    training-free quantizers run through one identical search path.
    Same shape as :func:`ivf_topk`: broadcast centroid scoring, one
    cell per corpus vector, nprobe-cell probing, exact cosine inside
    probed cells.

    Fan-out note: the corpus×centroids scoring scan runs ONCE, for the
    rn=1 cell assignment; the probe side re-scores ONLY the query
    vectors (a vid IN-filter pushed to the scan — |Q|·k work) instead
    of filtering a second consumer of the same lazy ranked frame, which
    would re-execute the full corpus scoring once per consumer."""
    v = as_double_array(vec_col)
    base = embeddings.select(F.col(id_col).alias("vid"), v.alias("vec")).withColumn(
        "nrm", norm(F.col("vec"))
    )
    cents = centroids.select(
        F.col("cluster_id").alias("cell"), F.col("centroid").alias("cvec")
    ).withColumn("cnrm", norm(F.col("cvec")))
    scored_c = base.crossJoin(F.broadcast(cents)).select(
        "vid",
        "vec",
        "nrm",
        "cell",
        (dot(F.col("vec"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))).alias(
            "cos"
        ),
    )
    w = W.partitionBy("vid").orderBy(F.desc("cos"), F.asc("cell"))
    cells = (
        scored_c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vid").alias("corpus_id"),
            F.col("vec").alias("corpus_vec"),
            F.col("nrm").alias("corpus_norm"),
            "cell",
        )
    )
    scored_q = (
        base.filter(F.col("vid").isin(query_ids))
        .crossJoin(F.broadcast(cents))
        .select(
            "vid",
            "vec",
            "nrm",
            "cell",
            (
                dot(F.col("vec"), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))
            ).alias("cos"),
        )
    )
    probes = (
        scored_q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("vid").alias("query_id"),
            F.col("vec").alias("query_vec"),
            F.col("nrm").alias("query_norm"),
            "cell",
        )
    )
    scored = cells.join(
        F.broadcast(probes),
        (cells["cell"] == probes["cell"]) & (F.col("corpus_id") != F.col("query_id")),
    ).select(
        "query_id",
        "corpus_id",
        (
            dot(F.col("query_vec"), F.col("corpus_vec"))
            / (F.col("query_norm") * F.col("corpus_norm"))
        ).alias("cosine_sim"),
    )
    wt = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return scored.withColumn("rnk", F.row_number().over(wt).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def brute_force_topk_arrow(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k, Arrow-vectorized: the throughput twin of
    ``brute_force_topk`` (same results, same oracle).

    The JVM fold in ``brute_force_topk`` evaluates one multiply-add per
    Catalyst expression node; at 100 TB the scoring CPU dominates. This
    path ships corpus batches to a numpy kernel via ``mapInPandas``
    (Arrow, zero-copy columns) and scores a whole batch against all
    queries with vectorized elementwise ops.

    Float-exactness contract: every reduction uses ``np.cumsum`` (strict
    left-to-right IEEE accumulation) — NOT ``np.dot``/BLAS (pairwise/SIMD
    reassociation) — so scores are bit-identical to the sequential
    ``F.aggregate`` fold and DuckDB's ``list_dot_product``. Verified by
    sharing ``_BRUTE_SQL`` with the fold path.

    Plan shape: query matrix is collected driver-side (|queries| rows —
    the same small-side boundary the LSH hyperplanes use) and serialized
    into the kernel closure; the corpus is scanned once, each task emits
    at most |queries|·k candidate rows (batch-local top-k), and one final
    window selects the global top-k. No shuffle before the candidate
    window, and the window input is O(tasks · queries · k), not corpus-
    sized.
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).cast("bigint"), as_double_array(vec_col))
        .collect()
    )
    if not q_rows:
        # fold twin returns an empty frame here; an empty query matrix
        # would crash np.cumsum(axis=1) driver-side
        spark = embeddings.sparkSession
        return spark.createDataFrame(
            [], "query_id bigint, corpus_id bigint, cosine_sim double, rnk bigint"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    # sequential-fold query norms (cumsum, matching the JVM fold order)
    q_norm = np.sqrt(np.cumsum(q_mat * q_mat, axis=1)[:, -1])
    kk = int(k)

    def score_batches(batches):
        # self-contained closure: workers must not need this package on
        # their import path (see verify-skill gotcha on cloudpickle)
        for pdf in batches:
            ids = pdf["_cid"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["_cvec"]), dtype=np.float64)
            c_norm = np.sqrt(np.cumsum(c * c, axis=1)[:, -1])
            out_q, out_c, out_s = [], [], []
            for qi in range(q_mat.shape[0]):
                dots = np.cumsum(c * q_mat[qi][None, :], axis=1)[:, -1]
                cos = dots / (q_norm[qi] * c_norm)
                mask = ids != q_ids[qi]
                cid, cs = ids[mask], cos[mask]
                if cid.size == 0:
                    continue
                top = np.lexsort((cid, -cs))[:kk]
                out_q.append(np.full(top.size, q_ids[qi], dtype=np.int64))
                out_c.append(cid[top])
                out_s.append(cs[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "corpus_id": np.concatenate(out_c),
                        "cosine_sim": np.concatenate(out_s),
                    }
                )

    corpus = embeddings.select(
        F.col(id_col).cast("bigint").alias("_cid"),
        as_double_array(vec_col).alias("_cvec"),
    )
    cands = corpus.mapInPandas(
        score_batches, "query_id bigint, corpus_id bigint, cosine_sim double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("corpus_id"))
    return (
        cands.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= kk)
    )


def covariance_pair_partials_arrow(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Quantized upper-triangle pair-product partial sums, Arrow-
    vectorized: the throughput twin of the Catalyst explode in
    ``queries.similarity_q.q_embedding_covariance`` (same oracle).

    The Catalyst path explodes dims²/2 structs PER ROW and evaluates one
    floor/multiply per expression node — correct, but scoring CPU grows
    as rows·dims². This kernel computes whole-batch outer products in
    numpy (row-chunked so the n×d×d intermediate stays ~32 MB), floors
    to the same 2^40 fixed point, and int64-sums within the partition —
    each task emits ONE d·(d+1)/2-row partial, so the shuffle is
    O(tasks · dims²) regardless of row count.

    Float-exactness: ``floor((x_i·x_j)·2^40)`` is a single IEEE multiply
    chain evaluated identically by numpy and the JVM, and all summation
    is exact int64 — no BLAS (``np.dot`` would reassociate; elementwise
    outer products do not).

    Returns (i, j, s_ij, n) partials; callers groupBy(i, j).sum to merge.
    """
    import numpy as np
    import pandas as pd

    scale = float(2**40)

    def partials(batches):
        S = None
        n = 0
        dims = None
        for pdf in batches:
            x = np.array(list(pdf["_v"]), dtype=np.float64)
            if x.size == 0:
                continue
            if dims is None:
                dims = x.shape[1]
                S = np.zeros((dims, dims), dtype=np.int64)
            elif x.shape[1] != dims:
                raise ValueError(
                    f"ragged embeddings: {x.shape[1]} != {dims}"
                )
            chunk = max(1, (4 << 20) // (dims * dims))  # ~32 MB float64
            for lo in range(0, x.shape[0], chunk):
                xc = x[lo : lo + chunk]
                prod = xc[:, :, None] * xc[:, None, :]
                S += np.floor(prod * scale).astype(np.int64).sum(axis=0)
            n += x.shape[0]
        if S is not None:
            iu, ju = np.triu_indices(S.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int64),
                    "j": ju.astype(np.int64),
                    "s_ij": S[iu, ju],
                    "n": np.full(iu.size, n, dtype=np.int64),
                }
            )

    return embeddings.select(as_double_array(vec_col).alias("_v")).mapInPandas(
        partials, "i bigint, j bigint, s_ij bigint, n bigint"
    )


def synth_token_embeddings(
    ids: DataFrame,
    n_tokens: int = 4,
    dims: int = 16,
    k_true: int = 8,
    eps: float = 0.25,
    id_col: str = "vec_id",
    materialize: bool = True,
) -> DataFrame:
    """(doc_id, tok_idx, tvec, cluster_true): an md5-analytic
    MULTI-VECTOR corpus — every document carries ``n_tokens`` token
    embeddings, the representation late-interaction retrievers
    (ColBERT) index.  Token vectors share the document's cluster center
    (the ``synth_clustered_embeddings`` 'cl:' assignment, so the two
    fixtures agree on cluster_true) plus per-(doc, token) noise —
    same-cluster documents genuinely have similar token sets, so MaxSim
    has structure to find.  Same determinism contract: every value is a
    fixed-order composition of 60-bit md5 uniforms, reproduced
    bit-for-bit by the oracle; map-only scan."""
    u = (
        "(CAST(CONV(SUBSTRING(MD5({s}), 1, 15), 16, 10) AS DOUBLE)"
        " / 1152921504606846976.0D * 2.0D - 1.0D)"
    )
    cluster = (
        f"(CAST(CONV(SUBSTRING(MD5(CONCAT('cl:', CAST(`{id_col}` AS STRING))),"
        f" 1, 4), 16, 10) AS BIGINT) % {k_true})"
    )
    ctr = u.format(
        s=f"CONCAT('ctr:', CAST({cluster} AS STRING), ':', CAST(d AS STRING))"
    )
    noise = u.format(
        s=(
            f"CONCAT('mtk:', CAST(`{id_col}` AS STRING), ':',"
            " CAST(t AS STRING), ':', CAST(d AS STRING))"
        )
    )
    vec_sql = (
        f"transform(sequence(0, {dims - 1}), d -> {ctr} + {eps!r}D * {noise})"
    )
    out = (
        ids.select(
            F.col(id_col).cast("bigint").alias("doc_id"),
            F.expr(cluster.replace(f"`{id_col}`", id_col)).cast("bigint").alias(
                "cluster_true"
            ),
            F.explode(F.sequence(F.lit(0), F.lit(n_tokens - 1))).alias("t"),
        )
        .withColumn("tvec", F.expr(vec_sql.replace(f"`{id_col}`", "doc_id")))
        .select(
            "doc_id",
            F.col("t").cast("bigint").alias("tok_idx"),
            "tvec",
            "cluster_true",
        )
    )
    if materialize:
        # round 11 (guide §2.4): MaxSim consumers reference the token
        # corpus on several plan paths (query side, corpus side, exact +
        # pruned channels) and each reference re-ran the n_tokens × dims
        # md5 synthesis — materialize once per call (lazy; recomputed
        # from the parquet inputs every invocation).  Single-consumer
        # callers (the fixture-dump query) pass False: for one pass the
        # materialization job costs more than it saves.
        out = out.localCheckpoint(eager=False)
    return out


def maxsim_topk(
    token_embs: DataFrame,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """Late-interaction (ColBERT MaxSim) top-k over a multi-vector
    corpus: score(q, d) = Σ over q's tokens of max over d's tokens of
    cosine — each query token finds its best-matching document token,
    the interaction single-vector retrieval collapses away.

    Exactness: the per-(query, doc, query-token) max is an exact
    double (max is order-free); each max is quantized to
    FLOOR(·2^20) BIGINT BEFORE the per-pair sum, so the score is an
    order-free integer and ranks are bit-reproducible cross-engine
    (the drift-family quantization discipline — a raw double sum of 4
    maxes could differ in the last ulp between engines).

    Scale shape: ONE corpus-token scan joined against the broadcast
    |Q|·n_tokens query-token set (never corpus × corpus), then two
    hash aggregations (max per query-token, integer sum per pair) and
    a per-query top-k window.  Linear in corpus tokens.
    """
    base = token_embs.select(
        "doc_id", "tok_idx", F.col("tvec").alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    qt = base.filter(F.col("doc_id").isin(query_ids)).select(
        F.col("doc_id").alias("query_id"),
        F.col("tok_idx").alias("qt"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    scored = base.join(
        F.broadcast(qt), F.col("doc_id") != F.col("query_id")
    ).select(
        "query_id",
        "doc_id",
        "qt",
        (
            dot(F.col("qvec"), F.col("vec")) / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos"),
    )
    per_qt = scored.groupBy("query_id", "doc_id", "qt").agg(
        F.floor(F.max("cos") * F.lit(1048576.0)).cast("bigint").alias("mq")
    )
    pair = per_qt.groupBy("query_id", "doc_id").agg(
        F.sum("mq").cast("bigint").alias("maxsim_q")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("maxsim_q"), F.asc("doc_id"))
    return pair.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rnk") <= k)


def maxsim_pruned_topk(
    token_embs: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """Late-interaction serving with token-level candidate pruning —
    the PLAID-shaped scale path for :func:`maxsim_topk`: every token
    (corpus and query) gets its random-hyperplane LSH bucket inline
    (``_with_buckets`` — map-only), candidate documents are those
    owning a corpus token in the SAME bucket as any of the query's
    tokens (one equi-join on bucket — never a corpus-token × query-
    token cross product), and exact MaxSim scores ONLY the candidates.

    Returns the same (query_id, doc_id, maxsim_q, rnk) shape as the
    exact operator; recall vs the exact ranking is the candidate
    generation's to lose (token-level bucket collision = the document
    is findable), priced by ``retrieval_maxsim_pruned_recall``.

    Scale shape: bucket assignment is a pure scan; the candidate join
    shuffles (bucket, doc_id) pairs against a broadcast |Q|·T probe
    set; exact scoring touches Σ_q |cand(q)|·T token rows instead of
    the full corpus-token table.
    """
    # the bucketed token frame feeds THREE consumers (query side,
    # candidate probe, exact scoring) — pin it, or a derived input
    # (e.g. the md5-analytic fixture: ~64 md5 calls per document)
    # re-executes once per consumer (measured 9.0 s → 2.2 s at sf0.1)
    bucketed = _with_buckets(
        token_embs, n_planes, id_col="doc_id", vec_col="tvec"
    ).select(
        "doc_id", "tok_idx", F.col("tvec").alias("vec"), "bucket"
    ).withColumn("nrm", norm(F.col("vec"))).localCheckpoint()
    qt = bucketed.filter(F.col("doc_id").isin(query_ids)).select(
        F.col("doc_id").alias("query_id"),
        F.col("tok_idx").alias("qt"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnrm"),
        "bucket",
    )
    cand = (
        bucketed.select("doc_id", "bucket")
        .join(F.broadcast(qt.select("query_id", "bucket").distinct()), "bucket")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
        .distinct()
    )
    scored = (
        bucketed.select("doc_id", "vec", "nrm")
        .join(cand, "doc_id")
        .join(
            F.broadcast(qt.select("query_id", "qt", "qvec", "qnrm")),
            "query_id",
        )
        .select(
            "query_id",
            "doc_id",
            "qt",
            (
                dot(F.col("qvec"), F.col("vec"))
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("cos"),
        )
    )
    per_qt = scored.groupBy("query_id", "doc_id", "qt").agg(
        F.floor(F.max("cos") * F.lit(1048576.0)).cast("bigint").alias("mq")
    )
    pair = per_qt.groupBy("query_id", "doc_id").agg(
        F.sum("mq").cast("bigint").alias("maxsim_q")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("maxsim_q"), F.asc("doc_id"))
    return pair.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rnk") <= k)


def recompute_centroids_weighted(
    cands: DataFrame,
    assignment: DataFrame,
    id_col: str = "vid",
    vec_col: str = "vec",
    weight_col: str = "weight",
) -> DataFrame:
    """Per-cluster WEIGHTED element-wise mean — the recompute step of
    Bahmani's recluster: centroid[d] = Σ w·v[d] / Σ w over the bounded
    candidate frame.  Same exact-decimal discipline as
    :func:`recompute_centroids` (each w·v[d] product is one IEEE double
    op identical on both engines, summed as DECIMAL(25,12) so the fold
    is order-free)."""
    el = (
        cands.select(
            id_col, weight_col, F.posexplode(as_double_array(vec_col))
        )
        .join(assignment, id_col)
        .select("cluster_id", weight_col, "pos", "col")
    )
    dims = el.groupBy("cluster_id", "pos").agg(
        (
            F.sum(
                (F.col("col") * F.col(weight_col).cast("double")).cast(
                    "decimal(25,12)"
                )
            ).cast("double")
            / F.sum(F.col(weight_col)).cast("double")
        ).alias("mean_val")
    )
    return dims.groupBy("cluster_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s.mean_val,
        ).alias("centroid")
    )


def weighted_candidate_reduce(
    cands: DataFrame,
    k: int,
    iters: int = 1,
) -> DataFrame:
    """Bahmani's WEIGHTED recluster of the k-means|| candidate set —
    the textbook reduction the engine's default (unweighted max-min,
    see :func:`kmeans_parallel_oversample`) deliberately diverges from:
    drop zero-weight candidates (they attracted no point, so they carry
    no recluster mass), seed with deterministic max-min over the
    survivors, then run ``iters`` WEIGHTED Lloyd iterations + a final
    weighted recompute on the bounded (≈ R·l-row) candidate frame —
    all driver-free, all decimal-exact, cost independent of corpus
    size.  Returns (cluster_id, centroid).  The two reductions are
    priced against each other by ``sim_kmeanspar_weighted_purity``
    (measured: equal purity on the clustered fixture — the engine's
    divergence costs nothing where it is measurable)."""
    live = cands.filter(F.col("weight") > 0)
    init = farthest_point_seeds(
        live, k=k, id_col="vid", vec_col="vec"
    ).select("cluster_id", "centroid")
    assignment = assign_to_centroids(live, init, "vid", "vec")
    for _ in range(iters):
        cents = recompute_centroids_weighted(live, assignment)
        assignment = assign_to_centroids(live, cents, "vid", "vec")
    return recompute_centroids_weighted(live, assignment)


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    n_bands: int = 4,
    band_bits: int = 16,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based parallel-pair mining between two embedding sets —
    the bitext-mining score of Artetxe & Schwenk ('Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings'),
    the standard op for harvesting translation pairs from two
    monolingual corpora at web scale.

    score(x, y) = cos(x, y) / ((avg_k-NN-cos(x→tgt) +
    avg_k-NN-cos(y→src)) / 2) — the RATIO margin: a pair counts only
    relative to what each side's neighborhood offers, which kills the
    hub vectors a raw-cosine threshold admits.  Mined pairs are the
    MUTUAL best candidates (y is x's argmax and x is y's, ties by id).

    Scale shape: candidates come from the OR-amplified multiband
    blocking (:func:`multiband_bucket_rows` — never an all-pairs
    src×tgt join); k-NN statistics are computed over the candidates.
    Determinism: cosines quantize FLOOR(cos·2^20) BEFORE any
    aggregation, so the k-NN sums are exact integers and the final
    margin is ONE integer→double division —
    ``cq·2·m_x·m_y / (sum_x·m_y + sum_y·m_x)`` with m = min(k,
    |candidates|) handling short neighborhoods exactly (engines agree
    bit-for-bit; the PSI-quantization discipline).

    Returns (src_id, tgt_id, cos_q, margin_q) for mutual-best pairs,
    margin_q = FLOOR(margin·2^20)."""
    sb = multiband_bucket_rows(
        src, n_bands=n_bands, band_bits=band_bits,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col(id_col).alias("sid"), "band_idx", "bucket")
    tb = multiband_bucket_rows(
        tgt, n_bands=n_bands, band_bits=band_bits,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col(id_col).alias("tid"), "band_idx", "bucket")
    cand = sb.join(tb, ["band_idx", "bucket"]).select("sid", "tid").distinct()

    v = as_double_array(vec_col)
    sfe = src.select(
        F.col(id_col).alias("sid"), v.alias("sv")
    ).withColumn("sn", norm(F.col("sv")))
    tfe = tgt.select(
        F.col(id_col).alias("tid"), v.alias("tv")
    ).withColumn("tn", norm(F.col("tv")))
    scored = (
        cand.join(sfe, "sid")
        .join(tfe, "tid")
        .select(
            "sid",
            "tid",
            F.floor(
                (dot(F.col("sv"), F.col("tv")) / (F.col("sn") * F.col("tn")))
                * F.lit(1048576.0)
            )
            .cast("bigint")
            .alias("cq"),
        )
    )

    wf = W.partitionBy("sid").orderBy(F.desc("cq"), F.asc("tid"))
    wb = W.partitionBy("tid").orderBy(F.desc("cq"), F.asc("sid"))
    ranked = scored.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rb", F.row_number().over(wb)
    )
    fstat = (
        ranked.filter(F.col("rf") <= k)
        .groupBy("sid")
        .agg(
            F.sum("cq").cast("bigint").alias("sum_f"),
            F.count(F.lit(1)).cast("bigint").alias("m_f"),
        )
    )
    bstat = (
        ranked.filter(F.col("rb") <= k)
        .groupBy("tid")
        .agg(
            F.sum("cq").cast("bigint").alias("sum_b"),
            F.count(F.lit(1)).cast("bigint").alias("m_b"),
        )
    )
    mutual = ranked.filter((F.col("rf") == 1) & (F.col("rb") == 1))
    return (
        mutual.join(fstat, "sid")
        .join(bstat, "tid")
        .select(
            F.col("sid").alias("src_id"),
            F.col("tid").alias("tgt_id"),
            F.col("cq").alias("cos_q"),
            F.floor(
                (
                    F.col("cq")
                    * F.lit(2)
                    * F.col("m_f")
                    * F.col("m_b")
                ).cast("double")
                / (
                    F.col("sum_f") * F.col("m_b")
                    + F.col("sum_b") * F.col("m_f")
                ).cast("double")
                * F.lit(1048576.0)
            )
            .cast("bigint")
            .alias("margin_q"),
        )
    )
