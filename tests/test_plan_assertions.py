"""Physical-plan assertions guarding the 100 TB posture claims: pushdown
reaches the parquet scan, projections prune the read schema, small dims
broadcast, and map-only operators stay exchange-free. A regression here
is invisible at sf0.001 correctness but fatal at scale."""

import pyspark.sql.functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.plans.queries import QUERIES


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") < 100)
        .select("o_orderkey", "o_totalprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)" in plan
    # column pruning: the scan must read ONLY the two projected columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_orderdate" not in read_schema and "o_orderstatus" not in read_schema


def test_flagship_agg_broadcasts_the_dim(spark, sf_dir):
    plan = _plan(QUERIES["agg_groupby_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_map_only_queries_have_no_exchange(spark, sf_dir):
    for name in ("text_pii_redact", "text_quality_score", "text_token_stats"):
        plan_str = _plan(QUERIES[name](spark, sf_dir))
        physical = plan_str.split("== Physical Plan ==")[-1]
        assert "Exchange" not in physical, f"{name} plans a shuffle:\n{physical}"


def test_topk_per_group_single_window_shuffle(spark, sf_dir):
    physical = _plan(QUERIES["topk_per_group"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    assert physical.count("Exchange hashpartitioning") == 1


def test_bm25_broadcasts_stats_and_df_sides(spark, sf_dir):
    # corpus stats (1 row) and per-term document frequencies (|terms| rows)
    # must come back as broadcasts — re-shuffling the postings against
    # them would serialize the retrieval pipeline at scale
    physical = _plan(QUERIES["text_bm25_rank"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    assert physical.count("BroadcastExchange") >= 2


def test_ohlc_single_shuffle_shared_by_windows_and_agg(spark, sf_dir):
    # open/close windows and the bar aggregate all key on
    # (event_type, hour): one hashpartitioning exchange, reused
    physical = _plan(QUERIES["events_ohlc_hourly"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    assert physical.count("Exchange hashpartitioning") == 1


def test_ewma_single_shuffle_on_user(spark, sf_dir):
    physical = _plan(QUERIES["events_ewma"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    assert physical.count("Exchange hashpartitioning") == 1


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark injects a runtime bloom filter built from the SELECTIVE dim
    side into the fact scan of a shuffle join, pruning fact rows before
    the exchange. The application-side threshold defaults to 10 GB (a
    cluster-scale guard), so local test data must lower it to observe the
    rewrite; at 100 TB the default fires on its own."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        physical = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in physical
        assert "might_contain" in physical.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE skew-join handling: a hot key that dwarfs the median partition
    is split into multiple tasks at runtime (skew=true in the final
    plan) instead of serializing the join on one straggler task — the
    no-manual-salting answer to skewed join keys at 100 TB. Thresholds
    are lowered to make local-scale data register as skewed; production
    defaults (256 MB / factor 5) fire on real skew unaided."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(400_000).select(
            # 90% of rows share one key; the rest spread over 1000 keys
            F.when(F.col("id") % 10 < 9, 7)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("p"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = left.join(right, "k").select(F.sum(F.length("p")).alias("n"))
        j.collect()  # AQE decides at runtime — must execute
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_boilerplate_scoring_broadcasts_boiler_set(spark, sf_dir):
    """The boilerplate set is bounded (≤ shingle_instances/df_threshold),
    so the per-doc scoring join must be a broadcast — re-shuffling the
    full posting list against it would add a corpus-sized exchange."""
    plan = _plan(QUERIES["text_boilerplate_ratio"](spark, sf_dir))
    physical = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in physical


def test_oov_rate_broadcasts_vocab(spark, sf_dir):
    """The frequency-cut vocabulary is bounded (≤ 1/cut tokens), so the
    per-doc scoring join must broadcast it — not shuffle the full token
    explode against it."""
    physical = _plan(QUERIES["text_oov_rate"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    assert "BroadcastHashJoin" in physical


def test_mixture_weights_single_aggregation_pass(spark, sf_dir):
    """Temperature mixture weights: one source-keyed agg + a broadcast
    scalar normalizer — the corpus must not be scanned or shuffled twice
    at the row level (the second exchange is the 1-row normalizer)."""
    physical = _plan(QUERIES["domain_mixture_weights"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    assert "BroadcastNestedLoopJoin" in physical or "BroadcastExchange" in physical


def test_hash_classifier_is_map_only(spark, sf_dir):
    """The hashing-trick classifier's whole claim is zero-shuffle scoring
    (no vocab build, no broadcast): the physical plan must be exchange-free."""
    plan_str = _plan(QUERIES["text_hash_classifier"](spark, sf_dir))
    physical = plan_str.split("== Physical Plan ==")[-1]
    assert "Exchange" not in physical


def test_adaptive_lsh_identity_below_threshold_grows_above():
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.similarity import (
        _adaptive_lsh_params,
    )

    import math

    # r7 DEFAULT contract: the recall budget is sized at the caller's
    # THRESHOLD (0.95 here), not the near-dup point — the planted
    # cos-0.96 midband pairs in the oracle corpus gate this end to end.
    # Identity regime keeps raw sign buckets but now applies the
    # closed-form table budget (8 planes → 17 tables at cos 0.95).
    assert _adaptive_lsh_params(500, 8, 4) == (8, 17, None)
    assert _adaptive_lsh_params(4096, 8, 4) == (8, 17, None)
    theta95 = math.acos(0.95) / math.pi
    # default sizing holds through the measured envelope (sf100 = 2 M
    # vectors); beyond it the n^0.155 table curve crosses the cap and
    # the sizing fails LOUD (tested in test_r6_fixes) instead of
    # silently shipping sub-budget recall
    for n in (10_000, 100_000, 2_000_000):
        p, t, b = _adaptive_lsh_params(n, 8, 4)
        # occupancy pinned to (7, 8]: no sawtooth between scale points
        assert b == -(-n // 8) and (1 << p) >= 256 * b
        assert 7.0 < n / b <= 8.0 or n <= 8
        # recall budget honored at the ADVERTISED threshold
        miss = (1 - (1 - theta95) ** p) ** t
        assert miss <= 1e-4, (n, p, t, miss)
        assert t <= 160

    # explicit opt-down to the near-dup regime: the r6 sizing, ~10×
    # fewer tables, documented best-effort below cos 0.999
    assert _adaptive_lsh_params(8192, 8, 4, recall_at=0.999) == (18, 7, 1024)
    assert _adaptive_lsh_params(65536, 8, 4, recall_at=0.999) == (21, 7, 8192)
    assert _adaptive_lsh_params(20_000, 8, 4, recall_at=0.999) == (20, 7, 2500)
    theta_pi = math.acos(0.999) / math.pi
    for n in (10_000, 100_000, 10_000_000, 1_000_000_000):
        p, t, b = _adaptive_lsh_params(n, 8, 4, recall_at=0.999)
        assert b == -(-n // 8) and (1 << p) >= 256 * b
        assert 7.0 < n / b <= 8.0 or n <= 8
        miss = (1 - (1 - theta_pi) ** p) ** t
        assert miss <= 1e-4, (n, p, t, miss)
        assert t <= 12  # table growth stays logarithmic-slow


def test_incremental_minhash_single_band_join_no_corpus_self_pair(
    spark, sf_dir
):
    """The incremental dedup's whole claim is corpus-never-self-pairs:
    exactly ONE (band, bucket-hash)-keyed candidate join may appear —
    corpus-buckets x delta-buckets. A corpus self-dedup slipping in
    would add a second band-keyed join (the batch LSH shape). The
    corpus shingle frame must also be persisted (InMemoryTableScan) so
    the corpus text parses once, not once per consumer."""
    physical = _plan(QUERIES["dedup_incremental_minhash"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    band_joins = [
        l
        for l in physical.splitlines()
        if "Join" in l and "band#" in l and "bh#" in l
    ]
    assert len(band_joins) == 1, band_joins
    assert "InMemoryTableScan" in physical


def test_budget_select_driver_prefix_bounded_no_global_sort(spark):
    """budget_select's scale contract: the driver touches at most
    2*resolution+1 bucket rows (never O(corpus)) and the selection plan
    contains no global sort (Exchange rangepartitioning)."""
    import pyspark.sql.functions as F

    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.splits import (
        budget_select,
    )

    resolution = 10
    docs = spark.range(5000).select(
        F.col("id"),
        (F.round((F.col("id") % 21) / 10.0 - 1.0, 1)).alias("s"),
        (F.col("id") % 7 + 1).alias("w"),
    )
    sizes: list[int] = []
    cls = type(docs)  # patch the CONCRETE DataFrame class (classic impl)
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    cls.collect = spy
    try:
        out = budget_select(docs, "id", "s", "w", budget=300,
                            resolution=resolution)
        n = out.count()
    finally:
        cls.collect = orig
    assert n > 0
    assert sizes and all(s <= 2 * resolution + 1 for s in sizes), sizes
    physical = _plan(out).split("== Physical Plan ==")[-1]
    assert "rangepartitioning" not in physical


def test_budget_select_rejects_non_power_of_ten_resolution(spark):
    import pytest

    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.splits import (
        budget_select,
    )

    docs = spark.range(10).select(
        "id", (F.col("id") / 10.0).alias("s"), F.lit(1).alias("w")
    )
    with pytest.raises(ValueError):
        budget_select(docs, "id", "s", "w", budget=5, resolution=5000)


def test_budget_select_null_scores_excluded(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.splits import (
        budget_select,
    )

    docs = spark.createDataFrame(
        [(1, 0.9, 10), (2, None, 10), (3, 0.5, 10)],
        "id long, s double, w long",
    )
    # under budget: previously the whole-corpus-fits branch leaked the
    # NULL-score row; now unrankable rows are excluded consistently
    got = {r.id for r in budget_select(docs, "id", "s", "w", 1000).collect()}
    assert got == {1, 3}
    got = {r.id for r in budget_select(docs, "id", "s", "w", 10).collect()}
    assert got == {1}


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """Cross-corpus embedding decontamination: the eval suite is
    broadcast-sized by contract — both the bucket-candidate join and the
    verification join against the eval vectors must be broadcasts, so
    the scan stays one map-side pass over the train corpus."""
    physical = _plan(QUERIES["embedding_decontaminate"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    assert physical.count("BroadcastExchange") >= 2
    assert "BroadcastHashJoin" in physical


def test_scd2_broadcasts_change_keys_both_branches(spark, sf_dir):
    # the 100 TB history must pass through a BROADCAST anti/semi join on
    # the (small) change-key set — a shuffled history pass would make
    # every dim batch a full-table job
    physical = _plan(QUERIES["scd2_history"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    assert "BroadcastHashJoin" in physical and "LeftAnti" in physical
    assert "LeftSemi" in physical
    # the version-rebuild window keys on the dim key (partitioned sort),
    # never a global sort
    assert "Exchange rangepartitioning" not in physical


def test_reconcile_single_join_no_extra_exchange(spark, sf_dir):
    # per-key audit = ONE keyed join (full-outer → sort-merge at scale)
    # plus the summary agg; the row compare must stay inside the join
    # projection, not spawn additional exchanges
    physical = _plan(QUERIES["table_reconcile"](spark, sf_dir)).split(
        "== Physical Plan =="
    )[-1]
    assert "FullOuter" in physical
    assert physical.count("SortMergeJoin") + physical.count(
        "ShuffledHashJoin"
    ) + physical.count("BroadcastHashJoin") == 1
