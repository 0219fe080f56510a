"""Semantic tests for the round-5 extension batch: exact-oracle
sketches, Z-order layout, random projection, PageRank."""

import math

import pytest
from pyspark.sql import functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.functions.sketches import (
    countmin_estimates,
    kmv_distinct,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.functions.zorder import zvalue
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.graph import (
    copurchase_edges,
    pagerank,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.plans import (
    cdc,
    graph_sketches,
    multimodal,
    relational,
    streaming,
)


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# KMV
# ---------------------------------------------------------------------------

def test_kmv_error_within_theory_bound(spark, sf_dir):
    rows = kmv_distinct(_events(spark, sf_dir), "event_type", "user_id", k=64).collect()
    assert rows
    for r in rows:
        # KMV std error ~ 1/sqrt(k-1) = 12.6%; 4 sigma bound
        assert r.rel_err_pct <= 50.0, r
        assert r.kmv_distinct > 0


def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", i) for i in range(200)],
        ["g", "v"],
    )
    out = {r.g: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    # group below k distinct values -> sketch reports the exact count
    assert out["a"].kmv_distinct == out["a"].exact_distinct == 10
    assert out["a"].rel_err_pct == 0.0
    assert out["b"].exact_distinct == 200


# ---------------------------------------------------------------------------
# Count-min
# ---------------------------------------------------------------------------

def test_countmin_never_undercounts(spark, sf_dir):
    rows = countmin_estimates(_events(spark, sf_dir), "user_id", top=20).collect()
    # sf0.001 has only 15 distinct users — top-20 returns all of them
    assert 10 <= len(rows) <= 20
    for r in rows:
        assert r.is_overestimate, r
        assert r.cm_est >= r.exact_cnt
        assert r.overcount == r.cm_est - r.exact_cnt


def test_kmv_quantiles_exact_below_k(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.sketches import (
        kmv_quantiles,
    )

    # 100 rows < k=256 -> the sample is the whole group -> quantiles are
    # exact order statistics: p50 = 50th value = 50.0, p90 = 90.0
    df = spark.range(1, 101).selectExpr(
        "'g' AS g", "id AS rid", "CAST(id AS DOUBLE) AS v"
    )
    r = kmv_quantiles(df, "g", "rid", "v", k=256).first()
    assert r.n_sampled == 100
    assert r.p50 == 50.0 and r.p90 == 90.0 and r.p99 == 99.0


def test_kmv_quantiles_sample_error_bound(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.sketches import (
        kmv_quantiles,
    )

    # 50k uniform values, k=256: order-statistic error ~ 1/sqrt(k) ≈ 6%;
    # assert a loose 4-sigma band around the true quantiles
    df = spark.range(50_000).selectExpr(
        "'g' AS g", "id AS rid", "CAST((id * 7919) % 50000 AS DOUBLE) AS v"
    )
    r = kmv_quantiles(df, "g", "rid", "v", k=256).first()
    assert r.n_sampled == 256
    for got, want in ((r.p50, 25_000), (r.p90, 45_000)):
        assert abs(got - want) < 50_000 * 0.25, (got, want)


def test_kmv_quantiles_null_rows_dropped(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.sketches import (
        kmv_quantiles,
    )

    df = spark.createDataFrame(
        [("g", 1, 1.0), ("g", 2, None), ("g", None, 9.0), ("g", 3, 3.0)],
        ["g", "rid", "v"],
    )
    r = kmv_quantiles(df, "g", "rid", "v", k=8).first()
    assert r.n_sampled == 2  # null value and null id both excluded
    assert r.p99 == 3.0


def test_kmv_setops_estimates_near_truth(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.sketches import (
        kmv_set_ops,
    )

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "click")
    right = ev.filter(F.col("event_type") == "purchase")
    r = kmv_set_ops(left, right, "user_id", k=256).first()
    lt = left.select("user_id").distinct().count()
    rt = right.select("user_id").distinct().count()
    ut = left.select("user_id").union(right.select("user_id")).distinct().count()
    it = lt + rt - ut
    # sf0.001 cardinalities are below k -> exact; larger sfs within sketch error
    for est, truth in [(r.est_left, lt), (r.est_right, rt), (r.est_union, ut)]:
        assert abs(est - truth) <= max(3, truth * 0.3), (est, truth)
    assert abs(r.est_intersection - it) <= max(5, it * 0.5), (r.est_intersection, it)


def test_weighted_reservoir_favors_heavy_rows(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.sketches import (
        weighted_reservoir_sample,
    )

    # 500 light rows (w=1) + 100 heavy rows (w=200): a 100-row sample
    # must be dominated by heavy rows (A-ES inclusion ∝ weight)
    df = spark.range(600).selectExpr(
        "id", "CASE WHEN id < 100 THEN 200 ELSE 1 END AS w"
    )
    got = weighted_reservoir_sample(df, "id", "w", n=100).collect()
    assert len(got) == 100
    heavy = sum(1 for r in got if r.id < 100)
    assert heavy >= 80, heavy
    # deterministic: same input -> same sample
    again = {r.id for r in weighted_reservoir_sample(df, "id", "w", n=100).collect()}
    assert again == {r.id for r in got}


# ---------------------------------------------------------------------------
# Z-order
# ---------------------------------------------------------------------------

def test_zvalue_interleave_known_bits(spark):
    # x=0b11 (odd positions), y=0b01 (even positions):
    # z = (1<<1)|(1<<3) | (1<<0) = 0b1011 = 11
    df = spark.range(1).select(
        zvalue(F.lit(3), F.lit(1)).alias("z"),
        zvalue(F.lit(0), F.lit(0)).alias("z0"),
        zvalue(F.lit(65535), F.lit(65535)).alias("zmax"),
    )
    r = df.first()
    assert r.z == 11
    assert r.z0 == 0
    assert r.zmax == (1 << 32) - 1


def test_zorder_buckets_are_local(spark, sf_dir):
    rows = cdc.q_zorder_layout(spark, sf_dir).collect()
    assert rows
    g_cust = max(r.max_cust for r in rows) - min(r.min_cust for r in rows)
    # weight per-bucket span by rows: z-clustering must shrink the
    # average custkey span well below the global span
    n = sum(r.n_orders for r in rows)
    avg_span = sum((r.max_cust - r.min_cust) * r.n_orders for r in rows) / n
    assert avg_span <= g_cust / 3, (avg_span, g_cust)


# ---------------------------------------------------------------------------
# Random projection
# ---------------------------------------------------------------------------

def test_projection_is_map_only(spark, sf_dir):
    plan = graph_sketches.q_embedding_projection(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_projection_preserves_scaled_norms(spark, sf_dir):
    # E[||Sv||^2] = in_dim * ... for unit sign matrix: E||Sv||^2 = out_dim * ||v||^2
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    out = graph_sketches.q_embedding_projection(spark, sf_dir).limit(50).collect()
    norms = {
        r.vec_id: sum(float(v) ** 2 for v in r.embedding)
        for r in emb.collect()
    }
    ratios = []
    for r in out:
        p2 = sum(getattr(r, f"p{j:02d}") ** 2 for j in range(16))
        ratios.append(p2 / (16 * norms[r.vec_id]))
    mean_ratio = sum(ratios) / len(ratios)
    # JL concentration: mean over 50 vectors should be near 1
    assert 0.5 <= mean_ratio <= 2.0, mean_ratio


# ---------------------------------------------------------------------------
# Relational breadth
# ---------------------------------------------------------------------------

def test_twa_constant_value_is_identity(spark):
    # constant held value -> TWA equals that value regardless of spacing
    rows = [(1, f"2024-01-01 00:0{i}:00", 7.5) for i in range(5)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withColumn("event_id", F.monotonically_increasing_id())
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.relational import (
        q_time_weighted_avg,
    )
    # reuse the operator body through a temp view-like path: inline here
    from pyspark.sql import Window as W_

    w = W_.partitionBy("user_id").orderBy("ts", "event_id")
    seq = df.withColumn("nxt", F.lead("ts").over(w)).filter(F.col("nxt").isNotNull())
    held = seq.select(
        "user_id",
        ((F.unix_micros("nxt") - F.unix_micros("ts")) / F.lit(1e6)).alias("dur"),
        F.col("value").alias("v"),
    )
    out = held.groupBy("user_id").agg(
        (F.sum(F.col("dur") * F.col("v")) / F.sum("dur")).alias("twa")
    ).first()
    assert abs(out.twa - 7.5) < 1e-9


def test_pivot_unpivot_roundtrip(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans import relational as m

    wide = m.q_events_pivot(spark, sf_dir)
    long = m.q_events_unpivot(spark, sf_dir)
    # unpivot long-form totals must match the wide cells
    w = {(r.user_id, "click"): r.click for r in wide.collect()}
    for r in long.filter(F.col("kind") == "click").collect():
        assert abs(w[(r.user_id, "click")] - r.amount) < 1e-9


def test_cube_levels_consistent(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans import relational as m

    rows = m.q_grouping_cube(spark, sf_dir).collect()
    total = [r for r in rows if r.gid == 3]
    assert len(total) == 1
    # grand total equals the sum of the per-(flag,status) leaves
    leaves = [r for r in rows if r.gid == 0]
    assert total[0].n == sum(r.n for r in leaves)


# ---------------------------------------------------------------------------
# SimHash combinatorial blocking (r5 scale path)
# ---------------------------------------------------------------------------

def test_simhash_combinatorial_blocking_equals_pigeonhole(spark, sf_dir):
    """The (6 chunks, 3-chunk combination keys) large-corpus scheme must
    return EXACTLY the same pairs as the classic (4,1) pigeonhole — both
    are lossless candidate generators for Hamming <= 3, so the exact
    filter decides membership identically."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.dedup import (
        simhash_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.lower("text").alias("text")
    )
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
    )
    small = {
        (r.a_id, r.b_id, r.hamming)
        for r in simhash_pairs(aug, "doc_id", "text", scheme=(4, 1)).collect()
    }
    combi = {
        (r.a_id, r.b_id, r.hamming)
        for r in simhash_pairs(aug, "doc_id", "text", scheme=(6, 3)).collect()
    }
    assert small == combi
    assert small  # non-trivial corpus: some pairs found


def test_simhash_scheme_guarantee_validated(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.dedup import (
        simhash_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    with pytest.raises(ValueError):
        # (4,2) leaves only 4-3=1 untouched chunk < g=2 — no guarantee
        simhash_pairs(docs, "doc_id", "text", max_distance=3, scheme=(4, 2))


# ---------------------------------------------------------------------------
# Triangles / window suite / interval coverage / dq / stream KMV
# ---------------------------------------------------------------------------

def test_window_suite_single_exchange(spark, sf_dir):
    """All five analytics functions share one window spec — the plan
    must contain exactly one Exchange (the user_id shuffle) and one
    Window node."""
    plan = (
        relational.q_window_analytics(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 1, plan


def test_triangle_count_known_graph(spark):
    # orders as baskets: {1,2,3} and {2,3,4} -> triangles (1,2,3), (2,3,4)
    rows = [(10, p) for p in (1, 2, 3)] + [(20, p) for p in (2, 3, 4)]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("s"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("d"))
    pairs = a.join(b, "ok").filter(F.col("s") < F.col("d")).select("s", "d").distinct()
    e1 = pairs.select(F.col("s").alias("x"), F.col("d").alias("y"))
    e2 = pairs.select(F.col("s").alias("y2"), F.col("d").alias("z"))
    e3 = pairs.select(F.col("s").alias("x3"), F.col("d").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
    )
    assert tri.count() == 2


def test_triangle_chunked_summary_matches_unchunked(spark, sf_dir):
    # the bounded-scratch pass loop must reproduce the single-pass
    # result exactly, for any chunk count
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("s"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("d"))
    pairs = a.join(b, "ok").filter(F.col("s") < F.col("d")).select("s", "d").distinct()
    one = graph_sketches._triangles_summary_chunked(spark, pairs, 1).first()
    five = graph_sketches._triangles_summary_chunked(
        spark, pairs, 5, compact_ids=True
    ).first()
    per_edge = graph_sketches._triangles_per_edge(pairs)
    lazy = per_edge.agg(
        F.sum("tri").cast("long").alias("n_triangles"),
        F.countDistinct(F.when(F.col("tri") > 0, F.col("s"))).alias(
            "nodes_in_triangles"
        ),
    ).first()
    assert (one.n_triangles, one.nodes_in_triangles) == (
        lazy.n_triangles,
        lazy.nodes_in_triangles,
    )
    assert (five.n_triangles, five.nodes_in_triangles) == (
        lazy.n_triangles,
        lazy.nodes_in_triangles,
    )


def test_interval_coverage_merges_overlaps(spark):
    # two overlapping 30-min intervals (10:00, 10:10) -> ONE island of
    # 40 min; a third at 12:00 -> separate island
    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:10:00"),
        (1, "2024-01-01 12:00:00"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    from pyspark.sql import Window as W_

    iv = ev.select(
        "user_id", F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    w = W_.partitionBy("user_id").orderBy("s", "e").rowsBetween(
        W_.unboundedPreceding, -1
    )
    marked = iv.withColumn(
        "new_island", F.when(F.col("s") > F.max("e").over(w), 1).otherwise(0)
    )
    w2 = W_.partitionBy("user_id").orderBy("s", "e")
    islands = marked.withColumn("island", F.sum("new_island").over(w2))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("s0"), F.max("e").alias("e1")
    )
    out = merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("timestampdiff(SECOND, s0, e1)")).alias("secs"),
    ).first()
    assert out.n == 2
    assert out.secs == 40 * 60 + 30 * 60


def test_dq_expectations_all_pass_on_clean_data(spark, sf_dir):
    rows = {r.rule: r for r in cdc.q_dq_expectations(spark, sf_dir).collect()}
    assert len(rows) == 5
    for rule, r in rows.items():
        assert r.violations == 0, (rule, r)
        assert r.pass_rate == 1.0


def test_stream_kmv_matches_batch_sketch(spark, sf_dir):
    from azure_airbnb_cdc_ingestion_pipeline_spark.functions.sketches import (
        kmv_distinct,
    )

    streamed = streaming.q_stream_kmv(spark, sf_dir).first()
    batch = (
        kmv_distinct(
            _events(spark, sf_dir).withColumn("g", F.lit(1)), "g", "user_id", k=64
        )
        .first()
    )
    # lossless merge: streamed estimate == batch sketch estimate
    assert streamed.kmv_distinct == batch.kmv_distinct


# ---------------------------------------------------------------------------
# Sessionizer timezone correctness (hostile non-UTC session regression)
# ---------------------------------------------------------------------------

class _FakeState:
    def __init__(self, wm_ms):
        self.exists = False
        self._wm = wm_ms
        self.updated = None
        self.removed = False

    def getCurrentWatermarkMs(self):
        return self._wm

    def update(self, v):
        self.updated = v

    def remove(self):
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def test_sessionizer_converts_session_local_walltime_to_epoch():
    """Arrow hands the state hook tz-NAIVE wall time in the session
    zone; the watermark is true epoch ms. Under America/New_York a
    naive astype(int64) shifted events −5 h and closed sessions early
    (hostile-parity finding: 9303 vs 9224 sessions). The hook must
    localize with the session zone before comparing."""
    import pandas as pd

    from azure_airbnb_cdc_ingestion_pipeline_spark.streaming.stateful import (
        make_sessionizer,
    )

    wall = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 12:00:00"]), "value": [1.0]}
    )
    # watermark sits between wall-as-UTC (12:00Z) and true NY epoch
    # (17:00Z) for this event's close: naive conversion would CLOSE the
    # session; correct NY conversion must keep it OPEN
    gap = 30 * 60 * 1000
    wm = int(pd.Timestamp("2024-01-01 14:00:00").value // 1_000_000)
    utc_closed = list(
        make_sessionizer(gap, "UTC")(("u",), [wall], _FakeState(wm))
    )
    ny_closed = list(
        make_sessionizer(gap, "America/New_York")(("u",), [wall], _FakeState(wm))
    )
    assert utc_closed, "UTC wall 12:00 + 30min < wm 14:00Z -> closed"
    assert not ny_closed, "NY wall 12:00 = 17:00Z -> still open at wm 14:00Z"


# ---------------------------------------------------------------------------
# Audio spectral
# ---------------------------------------------------------------------------

def test_audio_spectral_finds_planted_tone(spark, sf_dir):
    rows = multimodal.q_audio_spectral(spark, sf_dir).collect()
    assert rows
    for r in rows:
        k = 10 + r.media_id % 50
        assert r.dominant_bin == k, r
        assert math.isclose(r.dominant_freq_hz, k * 8000 / 1024), r
        # sawtooth RMS ~ A/sqrt(3) = 0.282 at A=16000/32768
        assert 0.2 < r.rms < 0.35, r


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def test_pagerank_mass_conserved(spark, sf_dir):
    edges = copurchase_edges(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    ranks = pagerank(edges, iterations=5)
    total = ranks.agg(F.sum("pagerank")).first()[0]
    # symmetric graph, no dangling nodes -> total mass stays 1
    assert math.isclose(total, 1.0, rel_tol=1e-6), total


def test_pagerank_triangle_uniform(spark):
    # symmetric unweighted triangle -> uniform stationary distribution
    e = [(a, b, 1) for a in (1, 2, 3) for b in (1, 2, 3) if a != b]
    edges = spark.createDataFrame(e, ["src", "dst", "w"])
    rows = pagerank(edges, iterations=5).collect()
    for r in rows:
        assert math.isclose(r.pagerank, 1 / 3, rel_tol=1e-9), rows


def test_copurchase_pagerank_parity_with_pair_path(spark, sf_dir):
    # the factored (bipartite) iteration must reach the same fixed point
    # as pagerank over the materialized pair graph
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.graph import (
        copurchase_pagerank,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pair_path = {
        r.node: r.pagerank
        for r in pagerank(
            copurchase_edges(li), iterations=5, check_dangling=False
        ).collect()
    }
    factored = {
        r.node: r.pagerank for r in copurchase_pagerank(li, iterations=5, small_input_rows=0).collect()
    }
    assert set(factored) == set(pair_path)
    for node, r in factored.items():
        assert math.isclose(r, pair_path[node], rel_tol=1e-9), node
    # r11: ALSO force the factored BIG path (driver_rows=0 disables the
    # r10 driver kernel, which otherwise owns every under-2M input —
    # without it this test never exercised the iterated distributed loop)
    big = {
        r.node: r.pagerank
        for r in copurchase_pagerank(
            li, iterations=5, small_input_rows=0, driver_rows=0
        ).collect()
    }
    assert set(big) == set(pair_path)
    for node, r in big.items():
        assert math.isclose(r, pair_path[node], rel_tol=1e-9), node


def test_copurchase_pagerank_duplicate_part_multiplicity(spark):
    # a part repeating within an order pairs with OTHERS twice but never
    # with its own occurrences; the factored exclusion term must match
    # the explicit pair expansion
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.graph import (
        copurchase_pagerank,
    )

    li = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 20), (2, 20), (2, 30), (3, 40)],
        ["l_orderkey", "l_partkey"],
    )
    pair_path = {
        r.node: r.pagerank
        for r in pagerank(
            copurchase_edges(li), iterations=4, check_dangling=False
        ).collect()
    }
    factored = {
        r.node: r.pagerank for r in copurchase_pagerank(li, iterations=4, small_input_rows=0).collect()
    }
    # part 40 is alone in its only order -> no edges -> not a node
    assert 40 not in factored
    assert set(factored) == set(pair_path) == {10, 20, 30}
    for node, r in factored.items():
        assert math.isclose(r, pair_path[node], rel_tol=1e-9), node
    # r11: the forced big path must reproduce the multiplicity semantics
    # too (incl. the stats rebuild from the narrowed _sz-free cache)
    big = {
        r.node: r.pagerank
        for r in copurchase_pagerank(
            li, iterations=4, small_input_rows=0, driver_rows=0
        ).collect()
    }
    assert set(big) == {10, 20, 30}
    for node, r in big.items():
        assert math.isclose(r, pair_path[node], rel_tol=1e-9), node


def test_copurchase_pagerank_restores_session_conf(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.graph import (
        copurchase_pagerank,
    )

    li = spark.createDataFrame([(1, 10), (1, 20)], ["l_orderkey", "l_partkey"])
    copurchase_pagerank(li, iterations=1, small_input_rows=0).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    )


def test_pagerank_star_center_dominates(spark):
    # star: center 0 linked to 1..4 (symmetric) -> center outranks leaves
    e = []
    for leaf in range(1, 5):
        e.append((0, leaf, 1))
        e.append((leaf, 0, 1))
    edges = spark.createDataFrame(e, ["src", "dst", "w"])
    rows = {r.node: r.pagerank for r in pagerank(edges, iterations=5).collect()}
    assert rows[0] > max(rows[i] for i in range(1, 5)) * 2
