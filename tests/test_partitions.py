"""One partition-count rule (`session.partitions_for`) behind every
explicit count, and AQE coalescing the shuffle under a cached frame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.operators.graph import sized_shuffle
from azure_airbnb_cdc_ingestion_pipeline_spark.session import (
    fan_out,
    partitions_for,
)

ROW_GRID = [0, 1, 39_999, 40_000, 40_001, 1_000_000, 2_999_999, 3_000_001,
            50_000_000, 12_345_678_901, 20_000_000_000]


@pytest.fixture(scope="module")
def dp(spark):
    return spark.sparkContext.defaultParallelism


def test_helper_edges(spark, dp):
    r = 1000
    assert partitions_for(spark, 0, r) == dp
    assert partitions_for(spark, 1, r) == dp
    assert partitions_for(spark, r, r) == dp
    assert partitions_for(spark, r * dp, r) == dp
    assert partitions_for(spark, r * dp + 1, r) == dp + 1
    assert partitions_for(spark, r * (dp + 7), r, cap=dp + 3) == dp + 3
    assert partitions_for(spark, r * 10**6, r) == 10**6  # no cap, no ceiling
    # the cap wins over the parallelism floor too
    assert partitions_for(spark, 0, r, cap=1) == 1


@pytest.mark.parametrize("rows", ROW_GRID)
def test_sized_shuffle_keeps_its_counts(spark, dp, rows):
    def old(input_rows, rows_per_task=3_000_000, cap=4096):
        return min(cap, max(dp, -(-max(input_rows, 1) // rows_per_task)))

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    with sized_shuffle(spark, rows) as p_n:
        assert p_n == old(rows)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(p_n)
    with sized_shuffle(spark, rows, rows_per_task=1_500_000) as p_n:
        assert p_n == old(rows, rows_per_task=1_500_000)
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved


@pytest.mark.parametrize("rows", ROW_GRID[:6])
def test_fan_out_keeps_its_counts(spark, dp, rows):
    def old(rows, rows_per_task=40_000):
        return max(dp, -(-rows // rows_per_task))

    one = spark.range(10).coalesce(1)  # one scan partition: always fans out
    assert fan_out(one, rows=rows).rdd.getNumPartitions() == old(rows)
    assert fan_out(one).rdd.getNumPartitions() == dp


def test_lsh_skinny_stage_count(spark, dp, monkeypatch):
    from azure_airbnb_cdc_ingestion_pipeline_spark import session
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators import similarity

    calls = []

    def spy(spark_, rows, rows_per_task, cap=None):
        got = partitions_for(spark_, rows, rows_per_task, cap)
        calls.append((rows, rows_per_task, cap, got))
        return got

    monkeypatch.setattr(session, "partitions_for", spy)
    vecs = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    similarity.cosine_pairs_lsh(vecs).collect()
    # the broadcast-verify stage: n vectors × T tables, capped at 2048
    (rows, per_task, cap, got), = [c for c in calls if c[2] is not None]
    _, tables, _ = similarity._adaptive_lsh_params(
        200, similarity._LSH_PLANES, similarity._LSH_TABLES
    )
    assert (rows, per_task, cap, got) == (200 * tables, 1_500_000, 2048, dp)

    def p_skinny(n):
        t = similarity._adaptive_lsh_params(
            n, similarity._LSH_PLANES, similarity._LSH_TABLES
        )[1]
        return n * t, partitions_for(spark, n * t, per_task, cap)

    assert p_skinny(20_000)[1] == dp  # sf1's 20 k vectors: one task per core
    # past 1.5 M (vector × table) rows per core the row term governs
    rows, got = p_skinny(2_000_000)
    assert rows > 1_500_000 * dp and got == -(-rows // 1_500_000) > dp


def test_cached_frame_after_shuffle_is_coalesced(spark):
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert ceiling > 1
    df = (
        spark.range(2000)
        .groupBy((F.col("id") % 50).alias("g"))
        .agg(F.count("*").alias("n"))
        .persist()
    )
    try:
        assert df.count() == 50
        assert df.rdd.getNumPartitions() < ceiling
    finally:
        df.unpersist()
