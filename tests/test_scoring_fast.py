"""Parity: both production scorers must reproduce the per-pair oracle
(``score_one_pair``) channel-for-channel on real generated blocks, with
side tables from ``corpus.side_tables``, the function the pipeline uses.

* ``score_pairs_grouped`` scores every pair it is given: here all pairs of
  the small blocks plus the ``evidence_pairs`` of the hot block.
* ``score_blocks_exhaustive`` enumerates the small blocks' pairs itself and
  must emit exactly those the oracle marks stage-1 mergeable or scores at
  or above the emit floor."""

from __future__ import annotations

from types import SimpleNamespace

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from namedis_spark.datagen import generate_transcripts
from namedis_spark.operators import blocking, corpus
from namedis_spark.operators.blocking import PAIR_KEY_COLS, evidence_pairs
from namedis_spark.operators.features import conversation_features
from namedis_spark.operators.scoring import (
    EMIT_FLOOR_FRAC,
    SCORE_SCHEMA,
    ScoringParams,
    prepare_scoring,
    score_blocks_exhaustive,
    score_one_pair,
    score_pairs_grouped,
)

BOOL_COLS = ["stage1_mergeable", "gate_passed"]
STR_COLS = ["stage1_reason"]
NUM_COLS = [
    "cslr_coauthor", "cslr_tool", "jw", "content_cos", "taxonomy_cos",
    "year_discount", "coauthor_boost", "ic_sum", "score",
]
BUCKET_ROWS = 32  # several buckets per small block: off-diagonal cells run


def oracle_scores(spark, pairs, features, side, params):
    """``score_one_pair`` mapped over (block_key, conv_id1, conv_id2)."""
    fcols = [c for c in features.columns if c != "block_key"]
    f1 = features.select(
        "block_key", F.col("conv_id").alias("conv_id1"), F.struct(*fcols).alias("f1")
    )
    f2 = features.select(
        "block_key", F.col("conv_id").alias("conv_id2"), F.struct(*fcols).alias("f2")
    )
    joined = pairs.join(f1, ["block_key", "conv_id1"]).join(f2, ["block_key", "conv_id2"])
    bc = spark.sparkContext.broadcast(
        dict(
            ambig=side.ambig, cn_counts=side.cn_counts,
            ambig_sum_total=side.ambig_sum_total, idf=side.idf,
            tool_simi_map=side.tool_simi_map, cat_ic=side.cat_ic,
            n_docs=side.n_docs, max_df=side.max_df,
            surname_lp=side.surname_lp, given_lp=side.given_lp, params=params,
        )
    )
    score_names = [f.name for f in SCORE_SCHEMA.fields]
    out_schema = T.StructType(
        [pairs.schema[c] for c in PAIR_KEY_COLS] + list(SCORE_SCHEMA.fields)
    )

    def score(batches):
        kw = bc.value
        for pdf in batches:
            res = pd.DataFrame(
                [score_one_pair(a, b, **kw) for a, b in zip(pdf["f1"], pdf["f2"])],
                columns=score_names,
            )
            yield pd.concat([pdf[PAIR_KEY_COLS].reset_index(drop=True), res], axis=1)

    return joined.mapInPandas(score, schema=out_schema)


def _by_key(df) -> dict:
    return {tuple(r[k] for k in PAIR_KEY_COLS): r for r in df.collect()}


@pytest.fixture(scope="module")
def scored(spark):
    t, _ = generate_transcripts(spark, n_blocks=3, seed=7, hot_blocks=1)
    f = conversation_features(t).persist()
    params = ScoringParams()
    sizes = f.groupBy("block_key").agg(F.count(F.lit(1)).alias("n")).persist()
    side = corpus.side_tables(f, f.count(), sizes, params)
    prep = prepare_scoring(spark, f, side).persist()

    is_small = F.col("n") <= params.small_block_size
    small_f = f.join(F.broadcast(sizes.where(is_small).select("block_key")), "block_key")
    big_f = f.join(F.broadcast(sizes.where(~is_small).select("block_key")), "block_key")
    a = small_f.select("block_key", F.col("conv_id").alias("conv_id1"))
    b = small_f.select("block_key", F.col("conv_id").alias("conv_id2"))
    small_pairs = a.join(b, "block_key").where(F.col("conv_id1") < F.col("conv_id2"))
    big_pairs = evidence_pairs(big_f, max_evidence_df=params.max_evidence_df)
    pairs = small_pairs.unionByName(big_pairs.select(*PAIR_KEY_COLS)).persist()

    oracle = _by_key(oracle_scores(spark, pairs, f, side, params))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(blocking, "TARGET_PAIRS_PER_CELL", 200)  # force salting
        mp.setattr(blocking, "BUCKET_ROWS", BUCKET_ROWS)
        grouped = _by_key(score_pairs_grouped(spark, pairs, prep, side, params))
        exhaustive = _by_key(score_blocks_exhaustive(spark, prep, side, sizes, params))
    size_of = {r["block_key"]: r["n"] for r in sizes.collect()}
    return SimpleNamespace(
        oracle=oracle,
        grouped=grouped,
        exhaustive=exhaustive,
        small_sizes=[n for n in size_of.values() if n <= params.small_block_size],
        small_keys={k for k in oracle if size_of[k[0]] <= params.small_block_size},
        n_big_pairs=big_pairs.count(),
        emit_floor=EMIT_FLOOR_FRAC * params.threshold,
    )


def test_same_pair_set(scored):
    assert len(scored.oracle) > 200
    assert scored.n_big_pairs > 0 and scored.small_keys  # both routes run
    assert len(scored.small_keys) == sum(n * (n - 1) // 2 for n in scored.small_sizes)
    assert set(scored.grouped) == set(scored.oracle)


def test_exhaustive_emits_exactly_the_kept_pairs(scored):
    assert max(scored.small_sizes) > BUCKET_ROWS  # some block spans several buckets
    oracle = scored.oracle
    kept = {
        k for k in scored.small_keys
        if oracle[k]["stage1_mergeable"] or oracle[k]["score"] >= scored.emit_floor
    }
    assert 0 < len(kept) < len(scored.small_keys)
    assert set(scored.exhaustive) == kept


def test_booleans_and_reasons_exact(scored):
    for other in (scored.grouped, scored.exhaustive):
        for k, ro in other.items():
            rs = scored.oracle[k]
            for c in BOOL_COLS + STR_COLS:
                assert rs[c] == ro[c], (k, c, rs[c], ro[c])


def test_numeric_channels_close(scored):
    for other in (scored.grouped, scored.exhaustive):
        for k, ro in other.items():
            rs = scored.oracle[k]
            for c in NUM_COLS:
                a, b = rs[c], ro[c]
                assert a == pytest.approx(b, rel=1e-9, abs=1e-12), (k, c, a, b)
