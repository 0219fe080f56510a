"""Round-6 advisor fixes: PageRank broadcast gate + dangling-node
enforcement, adaptive-LSH operating-angle derivation, PQ training-sample
robustness, and weighted-reservoir weight validation."""

import pytest
import pyspark.sql.functions as F

from azure_airbnb_cdc_ingestion_pipeline_spark.operators import graph
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.graph import pagerank
from azure_airbnb_cdc_ingestion_pipeline_spark.operators.similarity import (
    _adaptive_lsh_params,
    pq_topk,
)
from azure_airbnb_cdc_ingestion_pipeline_spark.functions.sketches import (
    weighted_reservoir_sample,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def _ring_edges(spark, n=12):
    # symmetric ring: every node has out-edges, no dangling mass
    rows = []
    for i in range(n):
        j = (i + 1) % n
        rows += [(i, j, 1.0), (j, i, 1.0)]
    return spark.createDataFrame(rows, "src long, dst long, w double")


def test_pagerank_broadcasts_ranks_below_gate(spark):
    """Below _BROADCAST_NODE_LIMIT the rank probe must carry the
    broadcast hint: with autoBroadcastJoinThreshold=-1 any
    BroadcastExchange in the plan can only come from the hint."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = pagerank(_ring_edges(spark), iterations=2)
        assert "BroadcastExchange" in _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pagerank_drops_hint_above_gate_same_ranks(spark, monkeypatch):
    """Above the gate the hint must be DROPPED (a hint is not adaptive —
    Spark would attempt the broadcast at any |V| and OOM), and the
    shuffled formulation must produce identical ranks."""
    edges = _ring_edges(spark)
    small = {r.node: r.pagerank for r in pagerank(edges, iterations=3).collect()}
    # the first run persisted its edge frame; the CacheManager would
    # substitute that cached plan (built with broadcasts) into the
    # second query and pollute the plan-text assertion
    spark.catalog.clearCache()
    monkeypatch.setattr(graph, "_BROADCAST_NODE_LIMIT", 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = pagerank(edges, iterations=3)
        assert "BroadcastExchange" not in _plan(df)
        big = {r.node: r.pagerank for r in df.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert small.keys() == big.keys()
    for k in small:
        assert abs(small[k] - big[k]) < 1e-12


def test_pagerank_dangling_node_raises(spark):
    # node 99 appears only as dst: its rank mass would silently vanish
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (0, 99, 1.0)], "src long, dst long, w double"
    )
    with pytest.raises(ValueError, match="dangling"):
        pagerank(edges, iterations=1)
    # opt-out still runs (caller takes responsibility)
    assert pagerank(edges, iterations=1, check_dangling=False).count() > 0


def test_pagerank_long_iteration_lineage_checkpointed(spark):
    """>5 iterations must re-root lineage periodically — otherwise the
    plan depth grows linearly and analysis time blows up at high
    iteration counts. localCheckpoint shows up as a scan over an RDD."""
    df = pagerank(_ring_edges(spark), iterations=8)
    assert "Scan ExistingRDD" in _plan(df)
    assert abs(sum(r.pagerank for r in df.collect()) - 1.0) < 1e-9


def test_adaptive_lsh_derives_angle_from_recall_at():
    # r7: default guarantee point is the threshold (0.95) — identity
    # regime applies the closed-form budget too (17 tables at 8 planes)
    assert _adaptive_lsh_params(100, 8, 4) == (8, 17, None)
    # explicit near-dup opt-down: identity regime now ALSO applies the
    # closed-form budget (the old fixed 4 tables missed the 1e-4 budget
    # at 0.999 by 1.4e-4 — 5 tables close it)
    assert _adaptive_lsh_params(100, 8, 4, recall_at=0.999) == (8, 5, None)
    p_nd, t_nd, nb = _adaptive_lsh_params(200_000, 8, 4, recall_at=0.999)
    assert nb is not None and t_nd <= 10
    # a slightly wider guarantee point needs >= as many tables
    _, t_wider, _ = _adaptive_lsh_params(200_000, 8, 4, recall_at=0.995)
    assert t_wider >= t_nd
    # default (threshold) sizing covers the full measured envelope:
    # 2 M vectors = the sf100 grid, 143 tables under the 160 cap
    p, t, nb = _adaptive_lsh_params(2_000_000, 8, 4)
    assert t <= 160 and nb is not None


def test_adaptive_lsh_unaffordable_recall_fails_loud():
    # beyond the measured envelope the n^0.155 table curve crosses the
    # cap — the sizing must fail with the actionable trade-offs, never
    # silently ship sub-budget recall
    with pytest.raises(ValueError, match="max_tables"):
        _adaptive_lsh_params(10_000_000, 8, 4)
    # paying explicitly is allowed …
    p, t, nb = _adaptive_lsh_params(10_000_000, 8, 4, max_tables=250)
    assert 160 < t <= 250
    # … and the legacy loud-failure shape still holds for an
    # over-tight explicit budget
    with pytest.raises(ValueError, match="max_tables"):
        _adaptive_lsh_params(200_000, 8, 4, max_tables=8)


def test_weighted_reservoir_rejects_nonpositive_weights(spark):
    bad = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, 1.0)], "doc_id long, w double"
    )
    with pytest.raises(Exception, match="non-positive weight"):
        weighted_reservoir_sample(bad, "doc_id", "w", n=2).collect()
    neg = spark.createDataFrame([(1, -1.0)], "doc_id long, w double")
    with pytest.raises(Exception, match="non-positive weight"):
        weighted_reservoir_sample(neg, "doc_id", "w", n=1).collect()


def _dense_vectors(spark, n, dim=16, id_start=0):
    return spark.range(n).select(
        (F.col("id") + id_start).alias("vec_id"),
        F.array(
            *[
                (F.sin(F.col("id") * (j + 1) * 0.7) + 1.5).alias(f"c{j}")
                for j in range(dim)
            ]
        ).alias("embedding"),
    )


def test_pq_topk_survives_offset_id_space(spark):
    """Corpus ids far from 0 miss the strided training filter — the
    LIMIT-based fallback must train instead of np.vstack crashing."""
    corpus = _dense_vectors(spark, 200, id_start=1_000_000)
    queries = spark.createDataFrame(
        [(0, [1.0] * 16)], "query_id long, qv array<double>"
    )
    out = pq_topk(queries, corpus, dim=16, m=4, ksub=8, shortlist=4, k=2)
    assert out.count() == 2


def test_blocked_topk_no_driver_collect_and_matches_gemm_kernel(spark):
    """The blocked path's whole contract is that the query set never
    crosses the driver: spy on DataFrame.collect during construction +
    execution (count() scalars are allowed — they size the block grid),
    and check exact agreement with the closure-shipped numpy kernel."""
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.similarity import (
        blocked_topk,
        numpy_topk,
    )

    corpus = _dense_vectors(spark, 300)
    queries = corpus.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    expected = {
        (r.query_id, r.rank): r.neighbor_id
        for r in numpy_topk(queries, corpus, k=3).collect()
    }

    cls = type(corpus)
    orig = cls.collect
    calls: list[int] = []

    def spy(self):
        calls.append(1)
        return orig(self)

    cls.collect = spy
    try:
        out = blocked_topk(
            queries, corpus, k=3, query_block_rows=20, corpus_block_rows=90
        )
        rows = out.toLocalIterator()  # avoid .collect() tripping the spy
        got = {(r.query_id, r.rank): r.neighbor_id for r in rows}
    finally:
        cls.collect = orig
    assert not calls, "blocked_topk collected rows to the driver"
    assert got == expected


def test_auto_topk_dispatches_on_query_count(spark):
    from azure_airbnb_cdc_ingestion_pipeline_spark.operators.similarity import (
        auto_topk,
    )

    corpus = _dense_vectors(spark, 120)
    queries = corpus.limit(30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # above the limit → blocked (cogrouped applyInArrow) plan; below →
    # driver-side closure plan (mapInArrow against the collected queries)
    blocked = auto_topk(queries, corpus, k=2, driver_query_limit=5)
    closure = auto_topk(queries, corpus, k=2, driver_query_limit=1000)
    assert "FlatMapCoGroupsInArrow" in _plan(blocked)
    assert "FlatMapCoGroupsInArrow" not in _plan(closure)
    assert (
        blocked.orderBy("query_id", "rank").collect()
        == closure.orderBy("query_id", "rank").collect()
    )


def test_pq_topk_tiny_corpus_fails_loud(spark):
    corpus = _dense_vectors(spark, 3, id_start=1_000_000)
    queries = spark.createDataFrame(
        [(0, [1.0] * 16)], "query_id long, qv array<double>"
    )
    with pytest.raises(ValueError, match="cannot"):
        pq_topk(queries, corpus, dim=16, m=4, ksub=8)


def test_generator_strides_clear_aug_offsets():
    """The query-side doc augmentations synthesize ids at +100_000 /
    +200_000; every replica id block must clear that range plus the base
    corpus, or aug ids collide with real replica docs (the sf100
    dedup_simhash quadratic-pair artifact of round 6's first scale run).
    Embeddings synthesize up to +200_000*j (j<=24 ANN query families)."""
    import tools.gen_sf as gen

    base_docs = 5_450  # sf0.1 documents upper bound
    assert gen.STRIDES["documents"] > 200_000 + base_docs
    assert gen.STRIDES["embeddings"] > 200_000 * 24 + 55_000


def test_doulion_driver_vs_distributed_parity(spark):
    # r10: the driver wedge-closure kernel must reproduce the
    # distributed adjacency-intersect tally exactly (same sampled set,
    # same integer count) — compare both paths at sf0.001
    import azure_airbnb_cdc_ingestion_pipeline_spark.plans.graph_sketches as R6

    sf = "/root/testdata/sf0.001"
    fast = R6.q_graph_triangle_doulion(spark, sf).collect()[0]
    budget = R6._DOULION_WEDGE_BUDGET
    R6._DOULION_WEDGE_BUDGET = -1  # bust the budget -> distributed path
    try:
        slow = R6.q_graph_triangle_doulion(spark, sf).collect()[0]
    finally:
        R6._DOULION_WEDGE_BUDGET = budget
    assert fast.sampled_triangles == slow.sampled_triangles > 0
    assert fast.est_triangles == slow.est_triangles
    assert fast.keep_permille == slow.keep_permille == 200
