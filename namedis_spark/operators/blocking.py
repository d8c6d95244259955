"""Blocking, candidate-pair generation and the bucket grid (SURVEY.md §7 M2).

The reference clusters strictly within one ambiguous name's pub set
(clust.pl:895-896); our blocking key is the normalized focus-speaker name.
Pairs are routed by block size (``ScoringParams.small_block_size``):

* **small blocks**, where O(n²) is affordable, materialize no pair table:
  ``scoring.score_blocks_exhaustive`` enumerates every pair of a block
  inside the scoring worker, over the bucket grid below so one block never
  lands on one task.
* **big blocks** get candidate pairs from ``evidence_pairs``, two
  equi-joins unioned and deduped:

  1. **shared-coauthor equi-join** — the reference's stage-1 trigger
     (mergeSharingCoauthor, NLPUtil.pm:3904-3941): explode (conv,
     coauthor), self-join on (block_key, coauthor). Coauthors whose
     within-block document frequency exceeds ``max_evidence_df`` are
     excluded from pair *generation* (skew guard, the analog of
     TOKEN_MAX_MATCH_TERMS, ConceptNet.pm:33) — they still participate in
     scoring.
  2. **shared-rare-term equi-join** — stage-2 recall: terms with
     within-block df ≤ ``max_evidence_df``.

At 10^12 turns the evidence joins are the scale path: pair count grows with
Σ df² per evidence key (bounded by the df cap), not with block size².

**The bucket grid** (the 'wei wang' skew duty, SURVEY.md §4) is the one
within-block pair enumerator. A block's conversations hash into ``nb``
buckets (``bucket``); a pair of buckets (bi, bj), bi ≤ bj, is one grid
cell, and every pair of the block belongs to exactly one cell. A block's
O(n²) pairs thus spread over nb(nb+1)/2 tasks while each row replicates
only nb times (``salt_rows``). Inside a cell, ``cell_pairs`` lists the
cell's row-index pairs. ``nb`` comes from the block's row count
(``row_buckets``: the in-worker enumerators — ``score_blocks_exhaustive``
and the CSLR-family verification queries) or from its candidate-pair count
(``pair_buckets``: ``score_pairs_grouped``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

PAIR_KEY_COLS = ["block_key", "conv_id1", "conv_id2"]

# Bucket-grid geometry. Read at call time, so a test may monkeypatch them.
BUCKET_ROWS = 96  # rows per bucket when a cell enumerates its own pairs
TARGET_PAIRS_PER_CELL = 10_000  # candidate pairs per cell (score_pairs_grouped)
MAX_BUCKETS = 32  # bound on nb for candidate pairs


def bucket(conv_col: str, nb) -> Column:
    """Bucket in [0, nb) of a conversation id column (``nb`` a column)."""
    return F.pmod(F.xxhash64(conv_col), nb).cast("int")


def row_buckets(n) -> Column:
    """nb for a block of ``n`` rows (a column): ceil(n / BUCKET_ROWS)."""
    return F.ceil(n / F.lit(BUCKET_ROWS)).cast("int")


def pair_buckets(n_pairs) -> Column:
    """nb for a block of ``n_pairs`` candidate pairs (a column):
    ceil(sqrt(2·n_pairs / TARGET_PAIRS_PER_CELL)), clamped to
    [1, MAX_BUCKETS], so a cell holds about TARGET_PAIRS_PER_CELL pairs."""
    nb = F.ceil(F.sqrt(2.0 * n_pairs / F.lit(TARGET_PAIRS_PER_CELL)))
    return F.least(F.lit(MAX_BUCKETS), F.greatest(F.lit(1), nb)).cast("int")


def salt_rows(df: DataFrame, nb) -> DataFrame:
    """Hash each row's conversation into bucket ``b`` of ``nb`` (a column
    expression) and replicate the row to the ``nb`` grid cells
    (bi, bj) = (min(b, j), max(b, j)) its bucket touches, so every pair of
    the block meets in exactly one cell (column ``j`` is the replica index)."""
    return (
        df.withColumn("b", bucket("conv_id", nb))
        .withColumn("j", F.explode(F.sequence(F.lit(0), nb - 1)))
        .withColumn("bi", F.least(F.col("b"), F.col("j")))
        .withColumn("bj", F.greatest(F.col("b"), F.col("j")))
    )


def cell_pairs(b, bi: int, bj: int):
    """Row-index pairs (i1, i2) of grid cell (bi, bj), given the bucket
    ``b`` (a numpy array) of each row ``salt_rows`` sent to the cell: every
    unordered pair within bucket bi on a diagonal cell, the full cross
    product of buckets bi and bj off it."""
    import numpy as np

    if bi == bj:
        members = np.nonzero(b == bi)[0]
        ii, jj = np.triu_indices(members.size, k=1)
        return members[ii], members[jj]
    m1 = np.nonzero(b == bi)[0]
    m2 = np.nonzero(b == bj)[0]
    return np.repeat(m1, m2.size), np.tile(m2, m1.size)


def _canonical_pairs(df: DataFrame) -> DataFrame:
    """Keep one row per unordered pair: conv_id1 < conv_id2
    (symmetric-pair dedup, NLPUtil.pm:3814-3815)."""
    return df.where(F.col("conv_id1") < F.col("conv_id2"))


def evidence_pairs(
    features: DataFrame,
    max_evidence_df: int = 50,
    min_shared_coauthors: int = 1,
) -> DataFrame:
    """Candidate pairs sharing >= 1 coauthor or >= 1 rare term within the
    same block. Returns (block_key, conv_id1, conv_id2, n_shared_coauthors,
    n_shared_terms)."""
    co = features.select(
        "block_key", "conv_id", F.explode("coauthors").alias("ev")
    ).withColumn("kind", F.lit("c"))
    te = features.select(
        "block_key", "conv_id", F.explode(F.map_keys("term_freq")).alias("ev")
    ).withColumn("kind", F.lit("t"))
    ev = co.unionByName(te)

    # within-block evidence-key document frequency cap: hot keys (a coauthor
    # or term present in most of the block) generate O(df²) pairs and no
    # discriminative signal — drop them from pair generation.
    df_counts = ev.groupBy("block_key", "ev", "kind").agg(
        F.count(F.lit(1)).alias("df")
    )
    ev = ev.join(
        df_counts.where(F.col("df") <= max_evidence_df).select("block_key", "ev", "kind"),
        ["block_key", "ev", "kind"],
    )

    a = ev.select("block_key", "ev", "kind", F.col("conv_id").alias("conv_id1"))
    b = ev.select("block_key", "ev", "kind", F.col("conv_id").alias("conv_id2"))
    pairs = _canonical_pairs(a.join(b, ["block_key", "ev", "kind"]))

    agg = pairs.groupBy("block_key", "conv_id1", "conv_id2").agg(
        F.sum(F.when(F.col("kind") == "c", 1).otherwise(0)).alias("n_shared_coauthors"),
        F.sum(F.when(F.col("kind") == "t", 1).otherwise(0)).alias("n_shared_terms"),
    )
    return agg.where(
        (F.col("n_shared_coauthors") >= min_shared_coauthors)
        | (F.col("n_shared_terms") >= 1)
    )
