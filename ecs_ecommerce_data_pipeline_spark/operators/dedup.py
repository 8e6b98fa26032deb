"""Deduplication operators for LLM training-data pipelines.

Five dedup families over ``documents(doc_id, text, ...)``:

* **exact**        — md5(normalized text) groupBy. One shuffle on the
  16-byte hash, not the full text.
* **MinHash + LSH**— shingle → per-seed min-md5 signature → band →
  bucket self-join. Candidate pairs only ever compare within a bucket,
  so the cost is Σ|bucket|², not n².
* **n-gram Jaccard** — exact Jaccard over shingle sets for candidate
  pairs (verification stage after LSH blocking).
* **SimHash**      — 32-bit sign-aggregated token-hash fingerprint;
  near-dups have small Hamming distance.
* **embedding cosine** — see ``operators.similarity``.

Portability: ALL hashing is md5-based (``functions.textfn``) so DuckDB
oracle SQL reproduces every signature bit-for-bit. Spark's murmur
``hash()``/``minhash`` MLlib would be faster per-byte but unverifiable
against an independent engine; at 100 TB the md5 cost is still scan-
dominated and the pipeline shape (explode → min-agg → band join) is
identical.

Scale design:

* shingling/explode is a flatMap — no shuffle;
* signatures are one groupBy(doc_id) — the only full shuffle;
* the LSH self-join shuffles on (band_idx, band_key): hot buckets (very
  common bands) are the skew risk — AQE skew-join handles moderate skew,
  and ``max_bucket`` caps pathological buckets (boilerplate docs) the
  same way production dedup pipelines drop mega-clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.single_task import fits_one_task
from ..functions.textfn import tokens, word_shingles


def normalize_text(text_col: str = "text") -> F.Column:
    """Canonical form for exact dedup: lowercase, trim, collapse runs of
    whitespace."""
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def exact_duplicates(doc: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: hash-groupBy on md5(normalized text).

    Returns one row per distinct content: (text_hash, n_docs,
    canonical_doc_id = min doc_id). Shuffles 16-byte hashes + ids only.
    """
    return (
        doc.select("doc_id", F.md5(normalize_text(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def shingle_docs(doc: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded pairs — distinct k-word shingles.

    Tokenization is staged as a named column before shingling:
    ``word_shingles`` references its token array 4× and inlining would
    make Catalyst re-run the regex split per reference.
    """
    toks = doc.select("doc_id", tokens(text_col).alias("toks"))
    return toks.select(
        "doc_id", F.explode(word_shingles(F.col("toks"), k)).alias("shingle")
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """Per-doc MinHash signature via Kirsch-Mitzenmacher double hashing:
    ONE md5 per shingle → two independent 60-bit ints (h1 = hex[1:15],
    h2 = hex[16:30]) → hash_i = h1 + i·h2; sig_i = min(hash_i).

    Shape: one projection (single md5 per shingle — not per seed) +
    one groupBy(doc_id) carrying ``num_hashes`` min-aggregates. No seed
    explode, so the shuffle moves |shingles| rows, not |shingles|×seeds.
    Max value h1 + 7·h2 < 8·2^60 = 2^63 — fits signed BIGINT exactly in
    both engines.
    """
    return minhash_signatures_from_hashes(
        shingle_hashes(shingles), num_hashes=num_hashes
    )


def shingle_hashes(shingles: DataFrame) -> DataFrame:
    """(doc_id, h1, h2): the two independent 60-bit md5 halves per
    shingle — ONE md5 per shingle, shared by the signature build
    (h_i = h1 + i·h2) and the exact-Jaccard verify (whose
    ``md5_bigint`` key IS h1), so a query running both stages can hash
    the token stream once and checkpoint this frame."""
    h1 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(F.md5(F.col("shingle")), 16, 15), 16, 10).cast("bigint")
    return shingles.select("doc_id", h1.alias("h1"), h2.alias("h2"))


def minhash_signatures_from_hashes(
    hashed: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """MinHash signatures from a pre-built :func:`shingle_hashes` frame
    — the groupBy half of :func:`minhash_signatures`."""
    aggs = [
        F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_band_policy(
    n_rows: int,
    num_hashes: int = 8,
    target_candidates_per_point: float = 8.0,
    slot_match_bits: int = 4,
) -> int:
    """Pick the MinHash-LSH rows-per-band ``r`` from corpus size — the
    MinHash face of ``operators.similarity.band_policy`` (round-10
    verdict: banded families must register the POLICY, not a width
    constant, so candidate volume stays linear in n).

    Model: unlike bit-banding, a MinHash band's bucket space is not
    2^w — unrelated docs collide on a band only when all ``r`` of its
    signature slots agree, which for background (non-near) pairs
    happens with probability ~p^r where p is the background per-slot
    agreement rate (= the expected Jaccard of unrelated documents).
    With ``p`` modeled as 2^-``slot_match_bits`` (1/16 by default — a
    deliberately generous bound for k-word shingles of unrelated
    prose), a band behaves like an ``slot_match_bits``·r-bit hash, and
    the OR-amplified random floor is (num_hashes/r)·n·2^(-s·r).
    Holding that at ``target_candidates_per_point`` picks the smallest
    ``r`` on the divisor ladder {2, 4, 8} that fits — r=2 until ~500
    docs at the defaults, r=4 to ~2M, r=8 beyond — which is exactly
    the production trade: fewer, stricter bands as the corpus grows,
    recall carried by the verify stage's threshold rather than the
    blocking stage's generosity.  ``r`` must divide ``num_hashes``
    (bands partition the signature); r=1 is never offered (its floor
    n/2^s is unbounded in n — the same reason ``band_policy`` clamps
    at ``min_band_bits``).

    Cost to use: one ``count()`` at plan-build time — production reads
    table statistics instead.  The oracle re-derives the same ladder in
    SQL, so the pick itself is hash-checked cross-engine."""
    if target_candidates_per_point <= 0:
        raise ValueError("target_candidates_per_point must be > 0")
    if slot_match_bits < 1:
        raise ValueError("slot_match_bits must be >= 1")
    n = max(1, int(n_rows))
    ladder = [r for r in (2, 4, 8) if num_hashes % r == 0 and r <= num_hashes]
    if not ladder:
        raise ValueError(f"no ladder divisor of num_hashes={num_hashes}")
    for r in ladder:
        floor = (num_hashes // r) * n / float(1 << (slot_match_bits * r))
        if floor <= target_candidates_per_point:
            return r
    return ladder[-1]


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int = 50,
    prefilter_buckets: bool = False,
) -> DataFrame:
    """LSH banding: band key = md5(concat of band's signature slots);
    docs sharing any band key become candidate pairs (doc_a < doc_b).

    Pair generation is ONE aggregation per bucket (sorted collect_list)
    followed by an in-bucket pair explode — not a bucket self-join. The
    self-join form duplicates the whole upstream plan (shingle → md5 →
    min-aggs) on both sides and costs two extra shuffles; here the
    pipeline is shuffle(doc_id for signatures) → shuffle(band key) →
    shuffle(pair distinct), and Σ|bucket|² work happens inside the
    explode with no second pass over the input.

    ``max_bucket`` drops buckets above the cap — the standard guard
    against boilerplate mega-clusters that would otherwise quadratically
    dominate. The cap is applied to the collected bucket (cheap: a
    10M-doc degenerate bucket is still only ~80 MB of ids in one agg
    buffer). For corpora where a single band bucket might exceed agg
    memory (billions of identical-boilerplate docs), set
    ``prefilter_buckets=True`` to count-and-drop oversized buckets in a
    separate pass *before* any list is collected.
    """
    n_bands = num_hashes // band_size
    band_cols = []
    for b in range(n_bands):
        slots = [F.col(f"sig_{b * band_size + j}") for j in range(band_size)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *slots)).alias("band_key"))
        )
    banded = signatures.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")

    if prefilter_buckets and max_bucket is not None:
        counts = banded.groupBy("band_idx", "band_key").agg(
            F.count(F.lit(1)).alias("_n")
        )
        banded = banded.join(
            counts.filter(F.col("_n") <= max_bucket).drop("_n"),
            ["band_idx", "band_key"],
        )

    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("docs")
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("docs") <= max_bucket)
    return (
        buckets.filter(F.size("docs") >= 2)
        .select(F.posexplode("docs").alias("pos", "doc_a"), F.col("docs"))
        .select(
            "doc_a",
            F.explode(F.slice("docs", F.col("pos") + 2, F.size("docs"))).alias("doc_b"),
        )
        .distinct()
    )


def incremental_lsh_candidates(
    signatures: DataFrame,
    new_col: str = "is_new",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int = 50,
) -> DataFrame:
    """LSH candidates for a NEW document batch against an existing
    corpus: pairs (doc_a < doc_b) sharing a band bucket where at least
    one side is from the batch (``new_col`` = 1).

    The incremental-dedup shape a daily-ingest pipeline needs: only
    buckets CONTAINING a new document survive to the pair explode
    (``max(is_new)`` filter on the collected bucket), and within a
    surviving bucket only new×old and new×new pairs emit — existing
    corpus pairs were already adjudicated in prior batches. Per-batch
    candidate work is therefore Σ|affected bucket|², independent of how
    many historical buckets exist. (In production the banded signature
    store is a materialized table the batch's band keys semi-join-prune;
    here both sides band inside one plan so the DuckDB oracle can state
    the complete semantics.)

    ``signatures``: ``minhash_signatures`` output + an integer
    ``new_col`` flag (1 = this batch, 0 = existing corpus).
    Returns distinct (doc_a, doc_b).
    """
    n_bands = num_hashes // band_size
    band_cols = []
    for b in range(n_bands):
        slots = [F.col(f"sig_{b * band_size + j}") for j in range(band_size)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *slots)).alias("band_key"),
            )
        )
    banded = signatures.select(
        "doc_id",
        F.col(new_col).alias("_new"),
        F.explode(F.array(*band_cols)).alias("band"),
    ).select("doc_id", "_new", "band.band_idx", "band.band_key")

    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "_new"))
            ).alias("docs"),
            F.max("_new").alias("_has_new"),
        )
        .filter(
            (F.size("docs") >= 2)
            & (F.size("docs") <= max_bucket)
            & (F.col("_has_new") == 1)
        )
    )
    pairs = (
        buckets.select(F.posexplode("docs").alias("pos", "da"), F.col("docs"))
        .select(
            "da",
            F.explode(
                F.slice("docs", F.col("pos") + 2, F.size("docs"))
            ).alias("db"),
        )
        .filter((F.col("da._new") == 1) | (F.col("db._new") == 1))
        # a doc_id present on BOTH sides (re-ingest of an existing doc)
        # appears twice in the sorted bucket and would pair with itself,
        # violating the doc_a < doc_b contract
        .filter(F.col("da.doc_id") != F.col("db.doc_id"))
        .select(
            F.col("da.doc_id").alias("doc_a"), F.col("db.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return pairs


def jaccard_pairs(
    shingles: DataFrame | None,
    candidates: DataFrame,
    threshold: float = 0.5,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify stage after
    LSH blocking): |A ∩ B| / |A ∪ B| over distinct shingle sets.

    Exactly ONE of ``shingles`` / ``hashes`` supplies the shingle sets:

    * ``shingles``: (doc_id, shingle) text rows — hashed here via
      ``md5_bigint``;
    * ``hashes``: a prebuilt :func:`shingle_hashes` frame (doc_id, h1,
      …) whose ``h1`` IS the ``md5_bigint`` key — pass this when the
      caller already hashed the token stream for blocking, so it is
      hashed exactly once across blocking AND verify.  When ``hashes``
      is given, ``shingles`` is IGNORED (pass ``None``): supplying a
      hashes frame built from a different/filtered shingle set than a
      non-None ``shingles`` would silently change the Jaccard values,
      so the API keeps the two sources structurally exclusive.

    Computed via the exploded representation: join candidates to both
    sides' shingles, count matches, combine with per-doc set sizes —
    set-arithmetic only, no array materialization of big docs. The
    shingle itself is carried as a 60-bit ``md5_bigint`` key through the
    two joins (8-byte rows instead of k-word strings — the verify stage
    shuffles |candidates| × shingles-per-doc rows, so key width is the
    dominant cost); the oracle hashes identically, so even a hash
    collision cannot diverge the engines.
    """
    from ..functions.textfn import md5_bigint

    # round 11 (guide §2.4): the hashed shingle rows feed the size agg
    # AND both sides of the candidate join — cut the 16-byte (doc, hash)
    # rows once instead of re-running tokenize+shingle+md5 three times
    # (the frame `prefix_filter_join` pins for the same reason).  A
    # caller that already built :func:`shingle_hashes` (whose h1 IS the
    # ``md5_bigint`` key) passes it via ``hashes`` so the token stream
    # is hashed exactly once across blocking AND verify.
    if hashes is not None:
        sh = hashes.select("doc_id", F.col("h1").alias("sh_h"))
    elif shingles is None:
        raise ValueError(
            "jaccard_pairs: pass exactly one of shingles / hashes"
        )
    else:
        sh = shingles.select(
            "doc_id", md5_bigint(F.col("shingle")).alias("sh_h")
        ).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh_h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh_h")
    inter = (
        candidates.join(a, "doc_a")
        .join(b, ["doc_b", "sh_h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sized = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_shingles": "size_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_shingles": "size_b"}), "doc_b")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return sized.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def simhash(doc: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per distinct token take a 32-bit md5-derived
    hash; each output bit is the sign of Σ(±1) over tokens; near-duplicate
    texts land at small Hamming distance.

    Shape: explode(distinct tokens) → groupBy(doc_id) with ``bits``
    conditional sums → bit-pack. All integer arithmetic — exact.
    """
    tok = doc.select(
        "doc_id", F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    )
    # first 8 hex chars -> 32-bit non-negative int
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
    tok = tok.select("doc_id", h.alias("h"))
    # Round-11 (the verify-skill Py4J lesson): the per-bit aggregates
    # and the packing are assembled as SQL strings (one JVM parse per
    # expression) instead of ~6 Py4J round trips per bit — the Column-
    # algebra form cost ~1 s of driver time PER CALL.  The ±1 sum is
    # folded to the exact integer identity Σ±1 = 2·Σbit − n (no CASE in
    # the per-row loop).
    aggs = [F.expr("COUNT(1)").alias("n")] + [
        F.expr(f"SUM(shiftright(h, {i}) & 1)").alias(f"s{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*aggs)
    packed = " + ".join(
        f"CASE WHEN 2 * s{i} - n > 0 THEN CAST({2 ** i} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return agg.select("doc_id", F.expr(packed).alias("simhash"))


def simhash_bands(doc: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit WEIGHTED SimHash (Charikar) emitted as 8 little-endian
    8-bit band rows (doc_id, band_idx, band_val) — the exact shape of
    ``multimodal.image_dhash_bands``, so the image family's band-fusion
    blocking and Hamming verify (``fuse_bands`` /
    ``image_neardup_pairs``) apply to TEXT unchanged.

    Differences from :func:`simhash` (the 32-bit fingerprint):
    64 bits (the web-crawl standard width), and weights = term
    FREQUENCY rather than presence — each token occurrence contributes
    ±1 per bit, so Σ over occurrences equals the count-weighted Σ over
    distinct terms with no distinct pass and no second shuffle.

    Shape: explode(tokens) → one md5 per occurrence (bits 0-59 from
    hex[1:15], 60-63 from hex[16]) → ONE groupBy(doc_id) carrying 64
    conditional sums → pack 8 bands row-locally.  All integer
    arithmetic; the DuckDB oracle reproduces every bit.
    """
    tok = doc.select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    md = F.md5(F.col("tok"))
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(md, 1, 15), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(md, 16, 1), 16, 10).cast("bigint").alias("h2"),
    )

    # Round-11 (the verify-skill Py4J lesson): measured 2.4 s of driver
    # time PER CALL assembling the 64 aggregates + 8-band packing via
    # Column algebra (~900 Py4J round trips) vs ~0.1 s as SQL strings
    # (one JVM parse per expression); the per-row CASE is folded to the
    # exact integer identity Σ±1 = 2·Σbit − n.
    def bit_sql(i: int) -> str:
        if i < 60:
            return f"shiftright(h1, {i}) & 1"
        return f"shiftright(h2, {i - 60}) & 1"

    aggs = [F.expr("COUNT(1)").alias("n")] + [
        F.expr(f"SUM({bit_sql(i)})").alias(f"s{i}") for i in range(64)
    ]
    agg = hashed.groupBy("doc_id").agg(*aggs)

    def band_val_sql(b: int) -> str:
        return " + ".join(
            f"CASE WHEN 2 * s{8 * b + j} - n > 0 THEN CAST({2 ** j} AS"
            f" BIGINT) ELSE CAST(0 AS BIGINT) END"
            for j in range(8)
        )

    inline = ", ".join(
        f"named_struct('band_idx', CAST({b} AS BIGINT),"
        f" 'band_val', {band_val_sql(b)})"
        for b in range(8)
    )
    return agg.selectExpr("doc_id", f"inline(array({inline}))")


def simhash_neardup_pairs(
    doc: DataFrame,
    max_hamming: int = 6,
    band_bits: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Text near-dup pairs by SimHash distance — the bit-vector rung of
    the text-dedup ladder (MinHash≈Jaccard on shingle sets,
    PPJoin=exact set similarity, SimHash≈cosine on term vectors: the
    classic web-crawl combination).  Delegates blocking + verify to the
    image family's band machinery (``image_neardup_pairs``): band-equal
    candidates (pigeonhole-exact to n_bands−1, LSH recall above), exact
    Hamming over the full 64-bit signature, ``band_bits=16`` as the
    scale-safe n²/2¹⁶ collision-floor default — every scaling argument
    measured for images (SCALING ``image_neardup_decomposition``)
    transfers verbatim because the plan IS the same plan."""
    from .multimodal import image_neardup_pairs

    return image_neardup_pairs(
        simhash_bands(doc, text_col), max_hamming, band_bits=band_bits
    )


def fuzzy_verify_pairs(
    doc: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    prefix_len: int = 80,
) -> DataFrame:
    """Edit-distance verification over candidate pairs (the character-
    level sibling of :func:`jaccard_pairs`): Levenshtein on a bounded
    normalized prefix, plus a normalized similarity in [0, 1].

    Levenshtein is O(L²) per comparison, so it NEVER runs all-pairs —
    only on the LSH-filtered candidate set, and only on the first
    ``prefix_len`` normalized characters. Both caps hold at any corpus
    size: cost is |candidates| · prefix_len², independent of document
    length and of n². ``F.levenshtein`` is a JVM codegen expression —
    no UDF in the loop.
    """
    nt = doc.select(
        "doc_id",
        F.substring(normalize_text(text_col), 1, prefix_len).alias("prefix"),
    )
    a = nt.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    b = nt.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    d = F.levenshtein("pa", "pb")
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            d.cast("bigint").alias("edit_distance"),
            (
                F.lit(1.0)
                - d.cast("double")
                / F.greatest(F.length("pa"), F.length("pb"), F.lit(1))
            ).alias("prefix_similarity"),
        )
    )


def _large_star(E: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond'): every node connects its strictly-LARGER
    neighbors to the minimum of its closed neighborhood.  Input/output
    edges are canonical (a > b).  One shuffle (window min by u)."""
    from pyspark.sql import Window

    B = E.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    # m <= u < v, so (v, m) is already canonically oriented
    return (
        B.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )


def _small_star(E: DataFrame) -> DataFrame:
    """One small-star round: every node re-points its smaller-or-equal
    neighbors (and itself) at the minimum of those.  Input edges must be
    canonical (a > b); output is canonical and deduplicated."""
    from pyspark.sql import Window

    D = E.select(F.col("a").alias("u"), F.col("b").alias("v"))
    D = D.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    rewired = D.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("a"), F.col("m").alias("b")
    )
    parent = D.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return rewired.unionByName(parent).distinct()


def _cc_single_task(E: DataFrame) -> DataFrame:
    """Exact connected components of the (materialized) canonical edge
    list ``E(a, b)`` via union-find in ONE ``mapInPandas`` task.

    The output contract — every edge endpoint labeled with the MINIMUM
    node id reachable from it — is a pure connectivity fact with a
    unique answer, so this is identical (not just equivalent) to the
    star-contraction + min-label-propagation result for any input.
    Node ids may be integers or strings; ``min`` is the column type's
    own ordering (numeric / lexicographic), matching ``F.min``."""
    import pandas as pd

    node_t = E.schema["a"].dataType.simpleString()

    def uf_kernel(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        def union(x, y):
            if x not in parent:
                parent[x] = x
            if y not in parent:
                parent[y] = y
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[rx] = ry

        saw = False
        for pdf in batches:
            saw = True
            for x, y in zip(pdf["a"], pdf["b"]):
                union(x, y)
        if not saw or not parent:
            yield pd.DataFrame({"node": [], "component": []})
            return
        comp_min: dict = {}
        for x in parent:
            r = find(x)
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        nodes = list(parent)
        yield pd.DataFrame(
            {"node": nodes, "component": [comp_min[find(x)] for x in nodes]}
        )

    return (
        # coalesce, not repartition: one task reads the checkpointed
        # blocks in place — no shuffle write/read, no pre-shuffle sort
        E.coalesce(1)
        .mapInPandas(uf_kernel, f"node {node_t}, component {node_t}")
        .localCheckpoint()
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    star_rounds: int = 3,
) -> DataFrame:
    """Connected components over a pair graph — turns near-dup candidate
    PAIRS into duplicate CLUSTERS (pick one canonical doc per component;
    drop the rest).

    Two phases:

    1. ``star_rounds`` rounds of alternating large-star / small-star
       contraction (the MapReduce CC algorithm of Kiveris et al.) —
       each round is two bounded shuffles and collapses path lengths
       roughly geometrically, so long chains (measured diameter 19 in
       the sf0.1 LSH candidate graph — near-dup graphs are NOT
       near-cliques once transitive chains appear) become near-stars in
       a constant number of rounds.  Edge counts are non-increasing
       (distinct-bounded), never node²: scale-safe at 100 TB.
    2. Exact min-label propagation to a PROVEN fixpoint: every node
       offers its current label to its neighbors, keeps the min, stops
       when zero labels changed — the airtight terminator; the star
       phase only reduces how many rounds this needs (19 → ~2 measured),
       never what it returns.

    Driver boundary: ONE scalar per propagation iteration (the
    changed-label count — the idiomatic driver loop of iterative Spark
    algorithms). ``localCheckpoint`` truncates lineage each round so the
    plan doesn't deepen with iterations.

    Returns (node, component) with component = min node id reachable.

    Round-11 (optimization guide §1.2/§4.2, the ``farthest_point_seeds``
    pattern): the star + propagation machinery is ~15 driver-
    synchronized jobs / a dozen exchanges, which at small edge counts is
    pure scheduling overhead.  Connected components has a UNIQUE answer
    (component = min reachable node id — no floats, no order
    sensitivity), so when the canonical edge list fits one task
    (``functions.single_task.fits_one_task`` on 32 bytes per edge: 4 Mi
    edges at the 128 MiB ceiling) it is computed by an exact union-find
    kernel in a single ``mapInPandas`` pass over the once-materialized
    edge list — provably identical labels, 3 jobs total.  Beyond the threshold the distributed
    star-contraction + fixpoint propagation below runs unchanged (it is
    the 100 TB shape; edge lists there dwarf any single task).
    """
    E = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("a"),
        F.least(F.col(src), F.col(dst)).alias("b"),
    ).filter(F.col("a") != F.col("b"))
    E = E.localCheckpoint(eager=False)
    n_edges = E.count()  # materializes the upstream candidate pipeline ONCE
    if fits_one_task(n_edges * 32, "connected_components"):
        return _cc_single_task(E)
    prev_edges = n_edges
    for _ in range(star_rounds):
        # eager checkpoint per round: the star pipeline is 3-4 shuffles
        # deep per round and measured FASTER materialized stepwise than
        # as one 12-shuffle lazy plan
        E = _small_star(_large_star(E)).localCheckpoint()
        # early stop on edge-count plateau — near-clique graphs (e.g.
        # embedding-LSH clusters) contract to stars in one round, and
        # further rounds would be pure overhead; this is a SKIP
        # heuristic only (the count is a cached-RDD scan), never a
        # correctness gate — the propagation fixpoint below is exact
        n_edges = E.count()
        if n_edges == prev_edges:
            break
        prev_edges = n_edges
    src, dst = "a", "b"
    edges = E
    # Pin the undirected edge list ONCE, pre-partitioned on the join
    # key: without the persist the upstream derivation (typically the
    # whole LSH candidate pipeline) re-executes EVERY iteration, and
    # the cached hashpartitioning(u) means per-iteration joins shuffle
    # only the (one-row-per-node) labels side, never the edge list.
    # labels itself keeps localCheckpoint — the convergence loop needs
    # its lineage truncated each round, and its per-iteration shuffle is
    # the small side.
    #
    # Both directions come from ONE explode over a 2-element array, not
    # union(edges.select(a,b), edges.select(b,a)): Spark has no common-
    # subexpression elimination across union branches, so the union form
    # executed the entire upstream candidate pipeline (shingle → minhash
    # → LSH bucket join) TWICE while filling this cache — measured at
    # ~40 % of dedup_keep_best_quality's round-4 wall clock.
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .repartition("u")
        .persist()
    )
    # Initial labels fuse init (component = node) with the FIRST
    # propagation round: component0 = min over the closed neighborhood.
    # und is already hash-partitioned on u, so this agg is shuffle-free,
    # and LSH near-cliques (diameter ≤ 2) now converge one round sooner.
    labels = (
        und.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("mv")).alias("component"),
        )
        .localCheckpoint()
    )

    # the carried-old column mirrors the component column's OWN type: a
    # hard "long" cast would NULL out non-numeric node ids (string doc
    # keys), making component != old never true and silently breaking
    # after one iteration on any graph with diameter > 2
    comp_type = labels.schema["component"].dataType
    for _ in range(max_iter):
        # Carry each node's OLD label through the same union+agg (the
        # self row is the only one with old non-null, max() recovers it)
        # so the convergence test is a scan of the freshly checkpointed
        # result — no per-iteration labels⋈labels shuffle join.
        offered = und.join(labels, und.u == labels.node).select(
            F.col("v").alias("node"),
            "component",
            F.lit(None).cast(comp_type).alias("old"),
        )
        new_full = (
            labels.select(
                "node", "component", F.col("component").alias("old")
            )
            .unionByName(offered)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max("old").alias("old"),
            )
        ).localCheckpoint()
        changed = new_full.filter(F.col("component") != F.col("old")).count()
        labels = new_full.select("node", "component")
        if changed == 0:
            break
    # every labels round is eagerly checkpointed (materialized blocks),
    # so the result no longer depends on the cached edge list
    und.unpersist()
    return labels


def incremental_components(
    labels_old: DataFrame,
    new_edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Merge a NEW batch of near-dup edges into an EXISTING component
    labeling without re-walking historical edges.

    Historical connectivity is fully captured by the star edges
    (node → its component label): connected components over
    (star edges ∪ new edges) reach the same fixpoint as over
    (all historical edges ∪ new edges), because contracting a component
    to a star preserves reachability. Per-batch cost is therefore
    O(|labeled nodes| + |batch edges|) through the same min-label loop
    — never O(historical edges) — and stars have diameter 2, so the
    loop converges in a handful of rounds. This is the cluster-
    maintenance step downstream of ``incremental_lsh_candidates``:
    candidates tell you the new pairs; this folds them into yesterday's
    clustering.

    ``labels_old``: (node, component) from a prior
    ``connected_components`` run. Returns the updated (node, component)
    covering old nodes, new nodes, and any merged components.
    """
    star = labels_old.select(
        F.col("node").alias(src), F.col("component").alias(dst)
    )
    edges = star.unionByName(new_edges.select(src, dst))
    return connected_components(edges, src=src, dst=dst, max_iter=max_iter)


def exact_substring_spans(
    doc: DataFrame,
    k: int = 20,
    min_span: int = 50,
    max_df: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact repeated-substring detection across documents (the signal
    behind suffix-array dedup à la Lee et al., 'Deduplicating Training
    Data Makes Language Models Better'): find cross-document runs of
    identical text ≥ ``min_span`` characters.

    Method (Spark-shaped, no suffix array): hash EVERY k-char gram of
    every document (one md5-derived 60-bit key per position — linear in
    corpus characters, same cost class as the shingle explode the
    MinHash path already pays); drop grams occurring in more than
    ``max_df`` documents (boilerplate guard — the standard df-cap that
    keeps the self-join off quadratic hub grams); equi-join on the gram
    key to get matched position pairs; then a shared substring of
    length L appears as L−k+1 CONSECUTIVE positions on one diagonal
    (pa − pb constant), so per (pair, diagonal) the classic
    gaps-and-islands trick (pos − row_number is constant within a run)
    turns runs into groups: span = run_length + k − 1.

    Every window is partitioned by (doc_a, doc_b, diagonal) — bounded
    by a single pair's overlap, never corpus-sized.  Returns one row
    per document pair with any qualifying run: (doc_a, doc_b,
    max_span_chars, n_runs).
    """
    from pyspark.sql import Window

    n = F.length(F.col(text_col))
    grams = (
        doc.filter(n >= k)
        .select(
            F.col(id_col).alias("d"),
            F.explode(F.sequence(F.lit(0), n - k)).alias("pos"),
            F.col(text_col).alias("_t"),
        )
        .select(
            "d",
            "pos",
            F.conv(
                F.substring(F.md5(F.expr(f"substring(_t, pos + 1, {k})")), 1, 15),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
    )
    keep = (
        grams.groupBy("h")
        .agg(F.count_distinct("d").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("h")
    )
    gk = grams.join(keep, "h")
    a = gk.select(F.col("d").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = gk.select(F.col("d").alias("doc_b"), F.col("pos").alias("pb"), "h")
    m = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
    w = Window.partitionBy(
        "doc_a", "doc_b", (F.col("pa") - F.col("pb")).alias("diag")
    ).orderBy("pa")
    isl = m.select(
        "doc_a",
        "doc_b",
        (F.col("pa") - F.col("pb")).alias("diag"),
        (F.col("pa") - F.row_number().over(w)).alias("island"),
    )
    runs = (
        isl.groupBy("doc_a", "doc_b", "diag", "island")
        .agg((F.count(F.lit(1)) + F.lit(k - 1)).cast("bigint").alias("span"))
        .filter(F.col("span") >= min_span)
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("span").alias("max_span_chars"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
    )


def exact_substring_anchored(
    doc: DataFrame,
    k: int = 20,
    anchor_mod: int = 4,
    max_df: int = 20,
    max_gap: int = 100,
    min_anchors: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The PRODUCTION first pass for cross-document repeated-substring
    detection — the stride-sampled-anchor design
    :func:`exact_substring_spans`'s own cost note promises (hashing
    EVERY position is the honest-but-quadratic-constant shape; suffix
    arrays don't distribute).

    Content-defined anchors: a position is an anchor iff its k-gram's
    FIRST character code satisfies ``ascii % anchor_mod == 0`` — a
    property of the TEXT, not the offset, so a substring shared by two
    documents selects the SAME anchors in both copies regardless of
    where it starts (the winnowing/MOSS fingerprinting insight; a
    fixed-stride ``pos % s`` sample would misalign the copies and find
    nothing).  Only anchored k-grams are md5-hashed and joined —
    ~1/``anchor_mod`` of the full pass's hash volume AND join volume.

    Matched anchors on one (pair, diagonal) are grouped into runs
    wherever consecutive anchors sit ≤ ``max_gap`` apart (sum-of-new-
    run-flags over a pair-bounded window); a run with ≥ ``min_anchors``
    anchors is reported with its span estimate
    ``last_anchor − first_anchor + k``.  Guarantee: any shared
    substring containing ≥ ``min_anchors`` anchors with gaps ≤
    ``max_gap`` IS found (anchors align by content); spans too short to
    contain that many anchors are the recall trade — the exact
    every-position pass (or a per-candidate re-check with it) is the
    verify rung.  Returns (doc_a, doc_b, est_max_span, n_runs,
    n_anchors).
    """
    from pyspark.sql import Window

    n = F.length(F.col(text_col))
    # Anchor DISCOVERY is ONE Arrow kernel over (doc_id, text) — round
    # 12 (VERDICT r11 item 5, guide §4.2).  A position p ∈ [0, len−k]
    # is an anchor iff its character is in the ASCII class
    # {c : 1 <= c <= 127, c % anchor_mod == 0} — the oracle's own
    # per-position formulation, a property of the TEXT, not the offset
    # (the winnowing/MOSS insight; see the docstring).  The previous
    # form derived the same positions by splitting on the class and
    # running TWO per-doc windows over the fragment explode — which
    # shuffled every fragment row CARRYING THE FULL DOCUMENT TEXT
    # through a per-doc exchange.  (A Catalyst
    # filter(sequence(..), p -> ascii(substring(_t, p+1, 1)) …) form
    # was measured first and rejected: each substring call re-scans the
    # UTF-8 bytes to the offset, O(len²) per document — warm build went
    # 2.8 s → 7.0 s.)  The kernel walks each text once
    # (``re.finditer`` over the identical ASCII class — linear,
    # C-speed), md5-hashes ONLY the anchored k-grams (``hashlib`` over
    # the UTF-8 bytes — the exact md5 contract, 15 hex chars → the same
    # 60-bit BIGINT as conv(substr(md5(…),1,15),16,10)), and emits
    # (d, pos, h): zero exchanges and no full-text bytes beyond the
    # scan stage.  Positions are Python str indices = codepoints,
    # matching Spark's character-based substring/length semantics.
    import re as _re

    import pandas as _pd

    id_type = doc.schema[id_col].dataType.simpleString()
    cls_chars = "".join(
        _re.escape(chr(c)) for c in range(1, 128) if c % anchor_mod == 0
    )

    def _anchor_kernel(batches):
        import hashlib

        cls_re = _re.compile("[" + cls_chars + "]")
        for pdf in batches:
            ds: list = []
            ps: list = []
            hs: list = []
            for d, t in zip(pdf["d"], pdf["_t"]):
                t = t or ""
                lim = len(t) - k
                if lim < 0:
                    continue
                for m in cls_re.finditer(t):
                    p = m.start()
                    if p > lim:
                        break
                    ds.append(d)
                    ps.append(p)
                    hs.append(
                        int(
                            hashlib.md5(
                                t[p:p + k].encode("utf-8")
                            ).hexdigest()[:15],
                            16,
                        )
                    )
            yield _pd.DataFrame(
                {"d": ds, "pos": _pd.Series(ps, dtype="int64"),
                 "h": _pd.Series(hs, dtype="int64")}
            )

    anchors = (
        doc.filter(n >= k)
        .select(F.col(id_col).alias("d"), F.col(text_col).alias("_t"))
        .mapInPandas(
            _anchor_kernel, f"d {id_type}, pos bigint, h bigint"
        )
    )
    # the anchor scan feeds the df-cap AND both join orientations — a
    # lazy frame re-runs the split/window/md5 kernel once per consumer
    # (the prefix_filter_join pin discipline); lineage-cut once
    anchors = anchors.localCheckpoint()
    keep = (
        anchors.groupBy("h")
        .agg(F.count_distinct("d").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("h")
    )
    # round 11: the df-capped anchor set feeds BOTH join orientations —
    # cut it too, or the df-cap agg + join replays per side
    ak = anchors.join(keep, "h").localCheckpoint(eager=False)
    a = ak.select(F.col("d").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = ak.select(F.col("d").alias("doc_b"), F.col("pos").alias("pb"), "h")
    m = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
    base = m.select(
        "doc_a",
        "doc_b",
        (F.col("pa") - F.col("pb")).alias("diag"),
        "pa",
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    # two window stages (engines reject nested window calls): flag run
    # breaks with lag, then a running sum of flags numbers the runs
    gaps = base.withColumn(
        "new_run",
        F.when(F.col("pa") - F.lag("pa", 1).over(w) > max_gap, 1).otherwise(
            0
        ),
    )
    runs_src = gaps.withColumn("run_id", F.sum("new_run").over(w))
    runs = (
        runs_src.groupBy("doc_a", "doc_b", "diag", "run_id")
        .agg(
            (F.max("pa") - F.min("pa") + F.lit(k))
            .cast("bigint")
            .alias("span"),
            F.count(F.lit(1)).cast("bigint").alias("n_anch"),
        )
        .filter(F.col("n_anch") >= min_anchors)
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("span").alias("est_max_span"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.sum("n_anch").cast("bigint").alias("n_anchors"),
    )


def prefix_filter_join(
    shingles: DataFrame, threshold: float = 0.5, materialize: bool = True
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. WWW'07): every pair of documents with
    shingle-Jaccard ≥ ``threshold`` — no false negatives, unlike the
    MinHash/LSH candidate path (``lsh_candidate_pairs``), which trades
    recall for bucket-bounded cost and needs a recall gate.

    The filter: order every doc's shingle hashes by a GLOBAL canonical
    order (corpus document-frequency ascending, hash ascending — rare
    tokens first), keep only each doc's first ``s − ⌈t·s⌉ + 1`` tokens
    (its prefix). Any pair with J ≥ t must share a prefix token, so the
    join on prefix tokens generates a candidate superset; a size filter
    (``t·|a| ≤ |b|``) and the exact Jaccard verify finish the job.
    Rare-first ordering is what keeps prefix buckets small — the
    quadratic term concentrates in the rarest tokens.

    The POSITIONAL filter (the "P" in PPJoin, Xiao et al. WWW'08)
    prunes candidates before the verify join at identical exactness.
    Both prefixes are sorted by the same total order, so the shared
    tokens of any pair appear in the same relative order on both sides;
    every shared token that is NOT a prefix-join match must then sit
    strictly AFTER the last match in BOTH arrays (were it earlier, it
    would lie inside both prefixes and be a match itself). Hence, with
    ``c`` matches and last-match positions (i, j):

        overlap(a,b) ≤ c + min(|a| − i, |b| − j)

    and J ≥ t requires overlap ≥ t·(|a|+|b|)/(1+t); pairs whose upper
    bound cannot reach it are dropped without touching their full sets.
    The comparison keeps an epsilon of slack so float rounding can only
    UNDER-prune — exactness (no false negatives) is preserved by
    construction and pinned by the brute-force-equality invariant test.

    Scale shape: the hashed-shingle frame is built ONCE and
    persist-pinned (the ``graph.py`` edge-list discipline), one df
    aggregation (vocab-sized), one per-doc sort of its own hash array
    (array_sort on (df, hash) structs — row-local), one explode of
    ~(1−t)·corpus prefix tokens, a self-join on 8-byte hashed tokens,
    then a ROW-LOCAL array verify: each surviving candidate joins the
    two per-doc hash arrays and computes the exact overlap with one
    array_intersect — no corpus re-explode, no Σ(|a|+|b|) per-token
    shuffle. Everything shuffles hashes, never shingle text. The result
    is materialized before returning and the pinned frames are
    UNPERSISTED — repeated catalog / bench invocations must not
    accumulate cached blocks.

    Suffix-filter close-out (PPJoin+, Xiao et al.): the suffix filter
    bounds overlap by probing the non-prefix suffix — worth it in
    index-based engines where suffix access is random I/O.  Here any
    suffix bound must ship the same per-candidate arrays the exact
    verify consumes, so the array verify dominates it: same data
    motion, exact answer, one expression.  Measured at sf0.1: the
    positional filter's 120k survivors verify 1.87x faster array-local
    than via the explode join, with bit-identical output.
    """
    from ..functions.textfn import md5_bigint

    sh = shingles.select(
        "doc_id", md5_bigint(F.col("shingle")).alias("sh_h")
    ).persist()
    df_counts = sh.groupBy("sh_h").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    ranked = sh.join(df_counts, "sh_h")
    # per_doc feeds THREE consumers (prefix explode + both verify
    # sides) — pinned like the shingle frame, released with it
    per_doc = ranked.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("df"), F.col("sh_h")))
        ).alias("ordered"),
        F.count(F.lit(1)).cast("bigint").alias("set_size"),
    ).persist()
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(threshold) * F.col("set_size"))
        + 1
    ).cast("int")
    # posexplode: 1-based in-prefix position rides along for the
    # positional filter (the canonical order is the array order)
    prefixes = per_doc.select(
        "doc_id",
        "set_size",
        F.posexplode(
            F.transform(
                F.slice(F.col("ordered"), F.lit(1), prefix_len),
                lambda x: x["sh_h"],
            )
        ).alias("pos0", "tok"),
    ).select(
        "doc_id", "set_size", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    a = prefixes.select(
        F.col("doc_id").alias("doc_a"),
        F.col("set_size").alias("size_a"),
        F.col("pos").alias("pos_a"),
        "tok",
    )
    b = prefixes.select(
        F.col("doc_id").alias("doc_b"),
        F.col("set_size").alias("size_b"),
        F.col("pos").alias("pos_b"),
        "tok",
    )
    matched = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.col("size_b") * F.lit(1.0) >= F.lit(threshold) * F.col("size_a")
        )
        .filter(
            F.col("size_a") * F.lit(1.0) >= F.lit(threshold) * F.col("size_b")
        )
    )
    # one agg replaces the old .distinct(): same shuffle keys, and the
    # aggregated (c, last-match positions) feed the positional bound
    ubound = F.col("c") + F.least(
        F.col("size_a") - F.col("ia"), F.col("size_b") - F.col("jb")
    )
    cands = (
        matched.groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.max("pos_a").alias("ia"),
            F.max("pos_b").alias("jb"),
        )
        .filter(
            ubound * F.lit(1.0 + threshold)
            >= F.lit(threshold) * (F.col("size_a") + F.col("size_b"))
            - F.lit(1e-9)
        )
        .select("doc_a", "doc_b")
    )
    # ROW-LOCAL array verify — the measured end of the filter ladder.
    # PPJoin+'s suffix filter exists for index-based engines where
    # touching a record's suffix is random I/O worth bounding; in a
    # bulk-join engine any suffix bound must SHIP the same per-candidate
    # arrays the exact verify needs, so the honest next rung is to make
    # the verify itself array-local: join each candidate pair to the two
    # (already pinned) per-doc hash arrays and compute the exact overlap
    # with one array_intersect — no corpus re-explode, no shuffle of
    # Σ(|a|+|b|) per-token rows (measured 1.87x over the explode-join
    # verify at sf0.1 on identical output; see the SCALING
    # ppjoin_decomposition note for the suffix-filter close-out).
    harr = per_doc.select(
        "doc_id",
        F.transform("ordered", lambda x: x["sh_h"]).alias("h"),
        "set_size",
    )
    pa = harr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("h").alias("ha"),
        F.col("set_size").alias("size_a"),
    )
    pb = harr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("h").alias("hb"),
        F.col("set_size").alias("size_b"),
    )
    withv = cands.join(pa, "doc_a").join(pb, "doc_b")
    overlap = F.size(F.array_intersect("ha", "hb")).cast("double")
    jac = overlap / (
        F.col("size_a").cast("double") + F.col("size_b").cast("double")
        - overlap
    )
    result = withv.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
    if not materialize:
        # plan-inspection escape hatch: the caller sees the full lazy
        # pipeline (and must release the pins itself, e.g. via
        # spark.catalog.clearCache())
        return result
    # materialize (pair-sized, tiny relative to the input), then release
    # the pinned caches: without this the cached blocks outlive the
    # call and accumulate across catalog / bench invocations in a
    # long-lived session (same discipline as graph.py's edge list and
    # connected_components' und frame)
    result = result.localCheckpoint()
    per_doc.unpersist()
    sh.unpersist()
    return result
