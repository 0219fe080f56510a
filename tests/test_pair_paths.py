"""Both sides of the size gates in the near-dup pair operators: the
inline-carry verify of `cosine_pairs_lsh` (past the broadcast budget),
the stacked single-exchange block join of `minhash_lsh_pairs` and
`hamming_pairs` (past the block-row gate), and the LSH operators'
vector length read from the data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.operators import dedup, similarity
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.dedup import (
    hamming_pairs,
    minhash_lsh_pairs,
    simhash,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.similarity import (
    cosine_pairs,
    cosine_pairs_lsh,
    cross_cosine_lsh,
)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _triples(df) -> set:
    return {(r.a_id, r.b_id, r.cos) for r in df.collect()}


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    """The oracle corpus plus a +0.05-perturbed copy of every 29th
    vector: planted pairs near the 0.95 threshold."""
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    pert = base.filter(F.col("vec_id") % 29 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "v", lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x)
        ).alias("v"),
    )
    return base.unionByName(pert)


def test_cosine_pairs_lsh_inline_carry_equals_broadcast(vecs, monkeypatch):
    bcast = cosine_pairs_lsh(vecs, "vec_id", "v", 0.95)
    monkeypatch.setattr(similarity, "_LSH_BCAST_MB", 0)
    inline = cosine_pairs_lsh(vecs, "vec_id", "v", 0.95)
    # the budget picked the path: only the inline-carry plan joins
    assert "Join" not in _physical(bcast)
    assert "Join" in _physical(inline)
    exact = _triples(cosine_pairs(vecs, "vec_id", "v", 0.95))
    assert exact
    assert _triples(inline) == _triples(bcast) == exact


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz qqq")).alias("text"),
    )
    return docs.unionByName(dup)


def test_block_self_join_stacked_shape_same_pairs(spark, docs, monkeypatch):
    fps = simhash(docs, "doc_id", "text").persist()

    def run():
        mh = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.6)
        hp = hamming_pairs(fps, "id", "simhash", max_distance=3)
        return mh, hp

    small = run()
    monkeypatch.setattr(dedup, "_STACKED_JOIN_ROWS", 0)
    stacked = run()
    for s, t in zip(small, stacked):
        assert "ShuffledHashJoin" not in _physical(s)
        assert "ShuffledHashJoin" in _physical(t)
    mh_small, hp_small = ({tuple(r) for r in df.collect()} for df in small)
    mh_stacked, hp_stacked = ({tuple(r) for r in df.collect()} for df in stacked)
    assert mh_small and hp_small
    assert mh_stacked == mh_small
    assert hp_stacked == hp_small
    fps.unpersist()


def _rows(mat, first_id=0):
    return [(first_id + i, [float(x) for x in v]) for i, v in enumerate(mat)]


def test_lsh_operators_read_the_vector_length(spark):
    rng = np.random.RandomState(11)
    base = rng.randn(60, 32)
    near = base[:6].copy()
    near[:, 0] += 0.05
    rows = _rows(base) + _rows(near, first_id=1000)
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    assert _triples(cosine_pairs_lsh(df, "vec_id", "v", 0.95)) == _triples(
        cosine_pairs(df, "vec_id", "v", 0.95)
    )

    left = spark.createDataFrame(rows[10:], "vec_id long, v array<double>")
    right = spark.createDataFrame(rows[:10], "vec_id long, v array<double>")
    got = {
        (r.left_id, r.right_id)
        for r in cross_cosine_lsh(left, right, "vec_id", "v", 0.95).collect()
    }
    unit = {i: np.asarray(v) / np.linalg.norm(v) for i, v in rows}
    want = {
        (li, ri)
        for li, _ in rows[10:]
        for ri, _ in rows[:10]
        if round(float(unit[li] @ unit[ri]), 4) >= 0.95
    }
    assert {(1000 + j, j) for j in range(6)} <= want
    assert got == want


def test_lsh_operators_reject_mixed_vector_lengths(spark):
    rng = np.random.RandomState(3)
    short = spark.createDataFrame(_rows(rng.randn(5, 32)), "vec_id long, v array<double>")
    long_ = spark.createDataFrame(
        _rows(rng.randn(5, 64), first_id=100), "vec_id long, v array<double>"
    )
    with pytest.raises(ValueError, match="mixed lengths"):
        cosine_pairs_lsh(short.unionByName(long_), "vec_id", "v")
    with pytest.raises(ValueError, match="mixed lengths"):
        cross_cosine_lsh(short, long_, "vec_id", "v")


def test_lsh_operators_on_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, v array<double>")
    assert cosine_pairs_lsh(empty, "vec_id", "v").count() == 0
    assert cross_cosine_lsh(empty, empty, "vec_id", "v").count() == 0
