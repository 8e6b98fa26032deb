"""N-gram language-model quality scoring for corpus curation.

CCNet/Gopher-style pipelines score every document with a small n-gram LM
and drop the tails (junk scores low, boilerplate scores implausibly
high). The classic formulation is per-token log-probability — but
cross-engine float logs are not reproducible bit-for-bit (libm ``ln``
differs by ulps between the JVM and DuckDB), so this operator computes
the score in **exact integer arithmetic**: the "surprise" of a bigram is
the bit length of its corpus frequency — ``length(bin(c))`` =
⌊log2 c⌋ + 1 — summed per document as BIGINTs (order-independent,
overflow-free) and divided once at the end. The ranking it induces is
the same frequency ranking an ln-based LM gives; the values are
hash-stable across engines.

Reference scope note: the reference pipeline
(ecs/transformation/transform_task.py) has no corpus-LM stage — this is
part of the training-data-pipeline surface this engine adds on top.

Scale design (100 TB corpus):
* tokenize + bigram expansion is a per-row map (no shuffle);
* per-(doc, bigram) multiplicities are pre-aggregated BEFORE the
  frequency join, so the join carries distinct doc-bigrams, not every
  token occurrence;
* the bigram frequency table and the score join shuffle on a
  ``md5_bigint`` 60-bit key, not the bigram string — 8-byte shuffle
  rows instead of ~15-char strings (the vocabulary grows with corpus
  size, so key width is the dominant shuffle cost). Measured trade at
  sf0.1: the per-row md5 costs ~0.2-0.3 s on a ~1.2 s query — a
  deliberate local regression bought for the narrow shuffle at corpus
  scale, where the vocabulary (and thus both join sides) is orders of
  magnitude larger. The oracle hashes identically, so even the ~1e-7
  chance of a hash collision cannot diverge the engines — both would
  merge the same pair;
* final per-document aggregation shuffles doc_id + three counters.
Three shuffles total, all on pre-aggregated rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import tokens


def bigram_multiplicities(
    doc: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, bigram, m): every adjacent whitespace-token pair per document
    with its within-document multiplicity ``m``.

    Documents with fewer than two tokens have no bigrams and drop out
    (the guard also protects ``sequence(1, n-1)`` from the descending-
    sequence trap when n = 1).
    """
    t = tokens(text_col)
    base = doc.select(F.col(id_col), t.alias("_t")).filter(F.size("_t") >= 2)
    bg = base.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, 2)),
            )
        ).alias("bigram"),
    )
    return bg.groupBy(id_col, "bigram").agg(F.count("*").alias("m"))


def bigram_lm_scores(
    doc: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bigram-LM quality score over the corpus itself.

    Output columns (one row per document with ≥ 2 tokens):

    * ``n_bigrams``  — bigram occurrences in the doc (BIGINT);
    * ``sum_bits``   — Σ over occurrences of bitlen(corpus frequency);
    * ``avg_bigram_bits`` — sum_bits / n_bigrams (the LM score; higher =
      built from commoner bigrams). One exact-integer division — IEEE
      correctly-rounded, so DuckDB reproduces it bit-for-bit;
    * ``rare_bigrams`` / ``rare_ratio`` — occurrences of corpus-unique
      (frequency 1) bigrams; the OOV-rate analogue.
    """
    from ..functions.textfn import md5_bigint

    db = bigram_multiplicities(doc, text_col, id_col).select(
        id_col, md5_bigint(F.col("bigram")).alias("bg_h"), "m"
    )
    # db feeds BOTH the frequency aggregation and the score join —
    # without a lineage cut Catalyst evaluates the tokenize+explode
    # subtree twice. Values are unchanged (same oracle). The 24-byte
    # (doc, hash, m) rows are cheaper to materialize once than the
    # tokenize+md5 is to run twice at any scale.
    db = db.localCheckpoint(eager=False)
    freq = db.groupBy("bg_h").agg(F.sum("m").cast("bigint").alias("c"))
    bits = F.length(F.bin(F.col("c"))).cast("bigint")
    scored = db.join(freq, "bg_h").groupBy(id_col).agg(
        F.sum("m").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("m") * bits).cast("bigint").alias("sum_bits"),
        F.sum(F.when(F.col("c") == 1, F.col("m")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("rare_bigrams"),
    )
    n = F.col("n_bigrams").cast("double")
    return scored.select(
        id_col,
        "n_bigrams",
        "sum_bits",
        (F.col("sum_bits").cast("double") / n).alias("avg_bigram_bits"),
        "rare_bigrams",
        (F.col("rare_bigrams").cast("double") / n).alias("rare_ratio"),
    )
