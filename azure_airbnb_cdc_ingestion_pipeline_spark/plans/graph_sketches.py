"""Graph and sketches family: weighted PageRank, exact and DOULION-sampled
triangle counts over the co-purchase graph, and the sketch operators —
bit-exact cross-engine KMV distinct / set algebra / quantiles and
count-min (every hash derives from md5, so the oracle rebuilds the same
sketch), invariant-gated HLL++ distinct, approximate quantiles, heavy
hitters and stratified sampling, weighted reservoir sampling and
deterministic JL random projection.

Each ``*_dist`` twin sits under its base query: it runs the same query
with the driver-side size gate forced to 0, so the distributed path is
oracle-checked at every scale factor against the same SQL.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sketches import HASH_SPACE, countmin_estimates, kmv_distinct
from ..operators.graph import copurchase_pagerank
from .queries import _t, query


@query(
    "approx_distinct_bounded",
    # Invariant-style oracle: the sketch estimate must land within ±5 %
    # of truth (HLL++ at rsd=0.02 — measured ≤1.7 % on this data across
    # sf0.001/0.01/0.1, so the gate holds with ~3x margin while still
    # exercising the sketch path). DuckDB recomputes the exact count; the
    # boolean certifies the bound held.
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS within_5pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_approx_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) gated against the exact
    distinct count — the sketch is the 100 TB path (no distinct shuffle
    of the full key set; fixed-size mergeable state), the exact count is
    the verification."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", 0.02)
                - F.countDistinct("o_custkey")
            )
            <= F.countDistinct("o_custkey") * 0.05
        ).alias("within_5pct"),
    )


@query(
    "approx_quantile_bounded",
    # Invariant-style oracle (like approx_distinct_bounded): DuckDB
    # recomputes the exact interpolated percentiles; the boolean
    # certifies the sketch landed within ±2 % of each (measured ≲0.1 %
    # at accuracy=10000 on this data — wide margin, sketch still real).
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_exact,
           TRUE AS within_2pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_quantile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable KLL-style sketch — the 100 TB
    percentile path: fixed-size state, no full sort) gated against the
    exact interpolated percentile it approximates."""
    li = _t(spark, sf_dir, "lineitem")

    def _within(p: float):
        exact = F.expr(f"percentile(l_extendedprice, {p})")
        approx = F.expr(f"approx_percentile(l_extendedprice, {p}, 10000)")
        return F.abs(approx - exact) <= exact * 0.02

    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_exact"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_exact"),
        (_within(0.5) & _within(0.99)).alias("within_2pct"),
    )


@query(
    "heavy_hitters_gated",
    # Invariant-style oracle (same contract as approx_distinct_bounded):
    # the single-pass sketch must CONTAIN every true heavy hitter — the
    # freqItems guarantee (no false negatives; false positives allowed
    # and filtered by the exact join below). DuckDB recomputes the exact
    # heavy-hitter set; the boolean certifies the superset guarantee held.
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
    ),
    freq AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    tot AS (SELECT count(*) AS total FROM tok)
    SELECT term, cnt, TRUE AS in_sketch
    FROM freq, tot WHERE cnt > total * 0.03
    """,
)
def q_heavy_hitters_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters over the corpus vocabulary:
    `DataFrame.stat.freqItems` runs the one-pass Karp/Misra-Gries-style
    summary (fixed 1/support counters per task, merged associatively —
    the mergeable-sketch scale path; no full vocab shuffle), then the
    candidate set (≤ 1/support items, driver-bounded) is verified
    against exact counts. Output: every EXACT heavy hitter with the
    sketch-containment flag — the algorithm's no-false-negative
    guarantee makes the flag provably TRUE."""
    from ..functions.text import tokens

    support = 0.03
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("term"))
    candidates = set(
        toks.stat.freqItems(["term"], support=support).first()[0]
    )  # bounded: at most ceil(1/support) items
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    # Strictly > threshold on BOTH sides (Spark + oracle): the Misra-Gries
    # guarantee only covers items strictly above support·total — an
    # exact-boundary item may legitimately be absent from the sketch.
    return (
        freq.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.col("total") * support)
        .select(
            "term",
            "cnt",
            F.col("term").isin(*candidates).alias("in_sketch"),
        )
    )


@query(
    "stratified_sample_gated",
    # Invariant-style oracle: sampleBy is RNG-based (engine-specific
    # draws), so the oracle certifies the INVARIANTS instead of the row
    # set — per-stratum sample counts within a 4-sigma binomial band
    # around fraction*N, and every sampled row genuinely from its
    # stratum. DuckDB recomputes stratum sizes; the booleans certify.
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_stratum,
           TRUE AS within_band
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_stratified_sample_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (`sampleBy`): per-stratum Bernoulli draws with
    different fractions per key — the class-rebalancing sampler a
    training-data mix needs (e.g. downsample the dominant language).
    Map-only (each task filters its own rows by seeded hash; no shuffle
    beyond the verification agg). The gate checks each stratum's sample
    count lands within 4 binomial sigmas of fraction*N — determinism of
    the seed makes the check reproducible."""
    fractions = {"O": 0.5, "F": 0.2, "P": 0.8}
    o = _t(spark, sf_dir, "orders")
    sampled = o.sampleBy("o_orderstatus", fractions, seed=42)
    counts = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_stratum"))
    got = sampled.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_got"))
    frac = F.create_map(
        *[x for kv in fractions.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    expect = F.element_at(frac, F.col("o_orderstatus")) * F.col("n_stratum")
    sigma = F.sqrt(
        F.col("n_stratum")
        * F.element_at(frac, F.col("o_orderstatus"))
        * (1 - F.element_at(frac, F.col("o_orderstatus")))
    )
    return (
        counts.join(got, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            "n_stratum",
            (
                F.abs(F.coalesce("n_got", F.lit(0)) - expect) <= 4 * sigma
            ).alias("within_band"),
        )
    )


_KMV_K = 64


_KMV_ORACLE = f"""
    WITH d AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h
      FROM events
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY event_type) AS exact
      FROM d
    ),
    agg AS (
      SELECT event_type,
             max(exact) AS exact_distinct,
             CAST(coalesce(
               round({_KMV_K - 1}.0 * {int(HASH_SPACE)} /
                     max(CASE WHEN rn = {_KMV_K} THEN h END), 0),
               max(exact)) AS BIGINT) AS kmv_distinct
      FROM r GROUP BY event_type
    )
    SELECT event_type, exact_distinct, kmv_distinct,
           round(abs(kmv_distinct - exact_distinct) * 100.0
                 / exact_distinct, 2) AS rel_err_pct
    FROM agg
"""


@query("sketch_kmv_distinct", oracle=_KMV_ORACLE)
def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user estimate per event type,
    k=64, md5-hashed so DuckDB recomputes the IDENTICAL sketch (52-bit
    hashes are exact in doubles — the estimate matches to the last
    digit, not within a tolerance). Spark side prunes with a salted
    two-phase top-k window so no partition sorts a full group
    (functions/sketches.py::kmv_distinct)."""
    return kmv_distinct(
        _t(spark, sf_dir, "events"), "event_type", "user_id", k=_KMV_K
    )


_CM_ORACLE = """
    WITH v AS (SELECT user_id AS v FROM events),
    js AS (SELECT unnest(range(4)) AS j),
    sketch AS (
      SELECT j, ('0x' || substr(md5(j::VARCHAR || ':' || v::VARCHAR), 1, 13))::BIGINT % 512 AS bucket,
             count(*) AS cnt
      FROM v, js GROUP BY 1, 2
    ),
    cand AS (
      SELECT v, count(*) AS exact_cnt FROM v GROUP BY v
      ORDER BY exact_cnt DESC, v ASC LIMIT 20
    ),
    probe AS (
      SELECT c.v, c.exact_cnt, js.j,
             ('0x' || substr(md5(js.j::VARCHAR || ':' || c.v::VARCHAR), 1, 13))::BIGINT % 512 AS bucket
      FROM cand c, js
    ),
    est AS (
      SELECT p.v, p.exact_cnt, min(s.cnt) AS cm_est
      FROM probe p JOIN sketch s USING (j, bucket) GROUP BY 1, 2
    )
    SELECT v AS user_id, exact_cnt, cm_est,
           cm_est - exact_cnt AS overcount,
           cm_est >= exact_cnt AS is_overestimate
    FROM est
"""


@query("sketch_countmin_freq", oracle=_CM_ORACLE)
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4, w=512) event-count estimates for the 20
    heaviest users, md5-hashed for bit-exact oracle parity. The sketch
    is one mergeable groupBy (d*w bounded state); probes broadcast.
    `is_overestimate` certifies the CM one-sided error guarantee on
    every output row (functions/sketches.py::countmin_estimates)."""
    from ..session import fan_out

    # fan_out (r10): 4 md5 probes/row ran at the single-row-group scan
    # width; no-op at real scale
    return countmin_estimates(
        fan_out(_t(spark, sf_dir, "events")), "user_id", depth=4, width=512, top=20
    )


_IN_DIM, _OUT_DIM = 64, 16


def _proj_signs() -> list[list[float]]:
    """±1 sign matrix [out_dim][in_dim] from md5("i_j") — reproducible
    from the formula alone in any engine/language."""
    return [
        [
            1.0 if hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0] < "8" else -1.0
            for i in range(_IN_DIM)
        ]
        for j in range(_OUT_DIM)
    ]


_SIGNS = _proj_signs()


_PROJ_ORACLE = "SELECT vec_id, " + ", ".join(
    f"round(list_dot_product(embedding::DOUBLE[], "
    f"[{', '.join(str(s) for s in row)}]::DOUBLE[]), 3) AS p{j:02d}"
    for j, row in enumerate(_SIGNS)
) + " FROM embeddings"


@query("embedding_random_projection", oracle=_PROJ_ORACLE)
def q_embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64 -> 16 with a
    deterministic ±1 sign matrix (md5-derived, so the oracle embeds the
    identical literals). Map-only JVM fold (`zip_with` + `aggregate`)
    — no UDF, no shuffle; at 100 TB this is a pure scan-fused pass.
    Distance preservation within JL bounds is asserted in
    tests/test_extensions_r5.py."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    from ..functions.text import lit_array

    # lit_array (r10): the 16×64 sign matrix as per-element F.lit()
    # calls cost ~0.9 s of py4j driver chatter per query build; one
    # expr per row is ~30× cheaper, same DoubleType literals
    cols = [
        F.round(
            F.aggregate(
                F.zip_with(
                    "v",
                    lit_array(_SIGNS[j], "double"),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            3,
        ).alias(f"p{j:02d}")
        for j in range(_OUT_DIM)
    ]
    return emb.select("vec_id", *cols)


def _pagerank_oracle(iterations: int = 5) -> str:
    ctes = [
        """pairs AS (
          SELECT a.l_partkey AS s, b.l_partkey AS d, count(*)::DOUBLE AS w
          FROM lineitem a
          JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey <> b.l_partkey
          GROUP BY 1, 2
        )""",
        "deg AS (SELECT s, sum(w) AS wsum FROM pairs GROUP BY s)",
        "norm AS (SELECT p.s, p.d, p.w / g.wsum AS pr FROM pairs p JOIN deg g USING (s))",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM deg)",
        "r0 AS (SELECT s AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""r{i} AS (
              SELECT nm.d AS node,
                     0.15 / (SELECT n FROM nn)
                     + 0.85 * sum(r{i - 1}.r * nm.pr) AS r
              FROM norm nm JOIN r{i - 1} ON r{i - 1}.node = nm.s
              GROUP BY nm.d
            )"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT node AS part_key, round(r, 6) AS pagerank
        FROM r{iterations}
        QUALIFY row_number() OVER (ORDER BY round(r, 6) DESC, node ASC) <= 20
        """
    )


@query("graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(
    spark: SparkSession, sf_dir: str, driver_rows: int = 2_000_000
) -> DataFrame:
    """Weighted PageRank (5 iterations, d=0.85) over the symmetric
    part co-purchase graph; top-20 parts. Edge build is keyed on
    l_orderkey (<= 7 lines/order — bounded pair fan-out); iterations
    are join-aggregate rounds against a persisted normalized edge list
    (operators/graph.py). Oracle = the same fixed-point unrolled as a
    5-deep CTE chain."""
    # Factored bipartite formulation: the co-purchase graph is a
    # two-hop projection whose |E| = Σ len(order)² outgrows the data
    # (720 M pairs from 180 M lineitem rows at sf30; 155 s build +
    # 12.9 GB agg spill on the pair path). copurchase_pagerank computes
    # the identical fixed point from per-order sums without ever
    # materializing a pair row — parity-tested against
    # pagerank(copurchase_edges(li)) and the same DuckDB oracle.
    ranks = copurchase_pagerank(
        _t(spark, sf_dir, "lineitem"),
        iterations=5,
        damping=0.85,
        driver_rows=driver_rows,
    )
    out = ranks.select(
        F.col("node").alias("part_key"), F.round("pagerank", 6).alias("pagerank")
    )
    return out.orderBy(F.col("pagerank").desc(), F.col("part_key").asc()).limit(20)


@query("graph_pagerank_dist", oracle=_pagerank_oracle())
def q_graph_pagerank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_graph_pagerank(spark, sf_dir, driver_rows=0)


_SETOPS_K = 256


_SETOPS_ORACLE = f"""
    WITH lh AS (
      SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h
      FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
    ),
    rh AS (
      SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h
      FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    ),
    ls AS (SELECT h FROM lh QUALIFY row_number() OVER (ORDER BY h) <= {_SETOPS_K}),
    rs AS (SELECT h FROM rh QUALIFY row_number() OVER (ORDER BY h) <= {_SETOPS_K}),
    us AS (
      SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM ls UNION ALL SELECT h FROM rs))
      QUALIFY row_number() OVER (ORDER BY h) <= {_SETOPS_K}
    ),
    est AS (
      SELECT
        (SELECT CAST(coalesce(round({_SETOPS_K - 1}.0 * {int(HASH_SPACE)} /
            max(CASE WHEN rn = {_SETOPS_K} THEN h END), 0), max(rn)) AS BIGINT)
         FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ls)) AS est_left,
        (SELECT CAST(coalesce(round({_SETOPS_K - 1}.0 * {int(HASH_SPACE)} /
            max(CASE WHEN rn = {_SETOPS_K} THEN h END), 0), max(rn)) AS BIGINT)
         FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM rs)) AS est_union_l,
        (SELECT CAST(coalesce(round({_SETOPS_K - 1}.0 * {int(HASH_SPACE)} /
            max(CASE WHEN rn = {_SETOPS_K} THEN h END), 0), max(rn)) AS BIGINT)
         FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM us)) AS est_union,
        (SELECT count(*) FROM us) AS ku,
        (SELECT count(*) FROM us
         WHERE h IN (SELECT h FROM ls) AND h IN (SELECT h FROM rs)) AS kboth
    )
    SELECT est_left, est_union_l AS est_right, est_union,
           CAST(round(est_union * kboth / ku, 0) AS BIGINT) AS est_intersection
    FROM est
"""


@query("sketch_kmv_setops", oracle=_SETOPS_ORACLE)
def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style set algebra from mergeable KMV sketches:
    distinct-user estimates for clickers, purchasers, their union
    (merge sketches, re-take k smallest) and intersection (fraction of
    union-sketch hashes present in both sides, scaled) — cardinality
    set operations WITHOUT co-shuffling the exact distinct sets. Each
    side reduces to <= k=256 rows before combining; bit-exact oracle
    (functions/sketches.py::kmv_set_ops)."""
    from ..functions.sketches import kmv_set_ops

    ev = _t(spark, sf_dir, "events")
    return kmv_set_ops(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "user_id",
        k=_SETOPS_K,
    )


_QSK_K = 256


_QUANTILE_SKETCH_ORACLE = f"""
    WITH hashed AS (
      SELECT event_type, value,
             ('0x' || substr(md5(event_id::VARCHAR), 1, 13))::BIGINT AS h
      FROM events
      WHERE value IS NOT NULL AND event_id IS NOT NULL
    ),
    samp AS (
      SELECT event_type, value, h FROM hashed
      QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h, value)
              <= {_QSK_K}
    ),
    ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value, h)
               AS vrn,
             count(*) OVER (PARTITION BY event_type) AS n_s
      FROM samp
    )
    SELECT event_type, CAST(max(n_s) AS BIGINT) AS n_sampled,
           max(CASE WHEN vrn = greatest(1, CAST(ceil(0.5 * n_s) AS BIGINT))
                    THEN value END) AS p50,
           max(CASE WHEN vrn = greatest(1, CAST(ceil(0.9 * n_s) AS BIGINT))
                    THEN value END) AS p90,
           max(CASE WHEN vrn = greatest(1, CAST(ceil(0.99 * n_s) AS BIGINT))
                    THEN value END) AS p99
    FROM ranked GROUP BY event_type
"""


@query("sketch_kmv_quantiles", oracle=_QUANTILE_SKETCH_ORACLE)
def q_sketch_kmv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p50/p90/p99 of `value` from a k=256 minimum-hash
    uniform row sample — mergeable quantiles WITHOUT a per-group sort of
    the full data (union samples, re-take k smallest hashes; groups
    below k are exact). Bit-exact oracle from the shared md5 primitive
    (functions/sketches.py::kmv_quantiles); complements the exact
    `exact_median_rank` path the way `sketch_kmv_distinct` complements
    exact distinct counts."""
    from ..functions.sketches import kmv_quantiles

    return kmv_quantiles(
        _t(spark, sf_dir, "events"), "event_type", "event_id", "value", k=_QSK_K
    )


_WRS_ORACLE = f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             round(pow(
               (('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 1)
                 / {HASH_SPACE!r}::DOUBLE,
               1.0 / n_chars), 8) AS es_key
      FROM documents
    )
    SELECT doc_id, n_chars, es_key FROM keyed
    QUALIFY row_number() OVER (ORDER BY es_key DESC, doc_id ASC) <= 100
"""


@query("sample_weighted_reservoir", oracle=_WRS_ORACLE)
def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement:
    100 documents weighted by length, keys u^(1/w) with md5-uniform u —
    reproducible (no RNG), bit-exact oracle. Salted two-phase top-n, so
    no partition sorts the full corpus
    (functions/sketches.py::weighted_reservoir_sample)."""
    from ..functions.sketches import weighted_reservoir_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_reservoir_sample(docs, "doc_id", "n_chars", n=100)


def _copurchase_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented (s < d) co-purchase pair STREAM over parts — one row per
    co-occurrence, duplicates included. Callers that can filter
    deterministically on (s, d) should do so on this frame BEFORE
    deduplicating: the distinct's exchange is the dominant cost (near-
    unique keys → no map-side reduction), and a map-side predicate
    shrinks it by the keep rate for an identical deduped result."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("s"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("d"))
    return a.join(b, "ok").filter(F.col("s") < F.col("d")).select("s", "d")


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented (s < d) distinct co-purchase edges over parts."""
    return _copurchase_pairs_raw(spark, sf_dir).distinct()


def _triangles_per_edge(pairs: DataFrame, compact_ids: bool = False) -> DataFrame:
    """(s, d, tri) where tri = |F(s) ∩ F(d)| and F(x) = {y > x : edge} —
    each triangle x<y<z counted exactly once at its smallest edge (x,y).

    r6 reshape (sf10 disk kill): the classic wedge join e1⋈e2⋈e3
    MATERIALIZES every open wedge as a row — Σ_y in(y)·out(y) rows.
    This graph is dense-uniform (avg part degree ~120 at every sf, so
    wedges ≈ |V|·deg²/4: 49M at sf0.1, 493M at sf1, 4.9 BILLION at
    sf10 ≈ 120 GB of sort spill — the r6 scale run filled the disk).
    Degree-ordering doesn't help a uniform-degree graph. Instead the
    wedge set is never materialized: forward adjacency is aggregated
    ONCE into sorted arrays (|V| rows, avg-60-element arrays) and each
    edge computes its closed-wedge count with a JVM-side
    array_intersect.

    Second reshape (sf10→sf100 push): the first adjacency-intersect
    shape attached BOTH endpoint arrays edge-by-edge through two
    sort-merge joins, so the sorts moved O(|E|·deg) array payload —
    ~115 GB at sf10, a memory→disk cliff that measured 19× wall for
    10× data (compute is linear; the cliff is sort spill). Now the
    payload is never sorted: in-edges are grouped per HEAD node
    (narrow |E| shuffle of two ids), the head adjacency joins once per
    NODE (|V|-row join, arrays on both sides but node-level volume),
    the (s, d, nb_d) rows explode MAP-SIDE, and the single remaining
    per-edge attach of nb_s is a SHUFFLE_HASH join (build side = the
    |V|-row adjacency partition — a hash join streams the exploded
    payload without sorting it). Measured at sf10: 101 s → 41 s for
    the join phase, and the scaling ratio drops back under the
    superlinear flag line. Same exact result, same oracle.

    ``compact_ids`` stores the neighbor arrays as int32 (r10, shared
    with the chunked kernel): the arrays are the streamed payload, so
    half-width elements halve the attach-join volume; intersection
    counts are type-agnostic. Only valid when the caller proves the id
    domain fits int32 — the s/d key columns stay long either way."""
    nb_elem = F.col("d").cast("int") if compact_ids else F.col("d")
    adj = pairs.groupBy("s").agg(F.sort_array(F.collect_list(nb_elem)).alias("nb"))
    by_d = pairs.groupBy("d").agg(F.collect_list("s").alias("__ss"))
    node = by_d.join(
        adj.select(F.col("s").alias("d"), F.col("nb").alias("nb_d")), "d"
    )
    exploded = node.select("d", F.explode("__ss").alias("s"), "nb_d")
    return (
        exploded.join(adj.withColumnRenamed("nb", "nb_s").hint("shuffle_hash"), "s")
        .select(
            "s", "d", F.size(F.array_intersect("nb_s", "nb_d")).alias("tri")
        )
    )


def _triangles_summary_chunked(
    spark, pairs: DataFrame, chunks: int, compact_ids: bool = False
):
    """Exact (n_triangles, nodes_in_triangles) with BOUNDED scratch
    disk: the adjacency-intersect kernel's streamed side carries the
    per-edge forward-neighbor array — Σ|E|·deg bytes of shuffle
    (~170 GB raw at sf30), which is inherent to edge-wise intersection
    and filled this box's 55 GB scratch in one generation. Chunking the
    edge stream by hash(s) into ``chunks`` passes shuffles 1/chunks of
    the payload per pass; each pass reduces to two scalars (Σ tri,
    distinct smallest-nodes — disjoint across passes since every s
    lives in exactly one chunk), is materialized, and its shuffle
    generation is GC-reclaimed before the next pass starts. Same exact
    result; peak scratch = payload/chunks. On a real cluster this is
    how you trade wall-clock for per-executor scratch."""
    from ..operators.graph import _unpersist_after

    frames: list = []
    with _unpersist_after(frames):
        # localCheckpoint (not persist): the |V|-row adjacency layouts
        # are needed in every pass AND their pair-build lineage holds
        # ~12 GB of shuffle files — checkpointing cuts that lineage so
        # the build generation is reclaimable before the first pass
        # compact_ids: the streamed payload is the neighbor ARRAYS, so
        # when the caller proves the id domain fits int32 the arrays are
        # stored and shuffled at half width (intersection counts are
        # type-agnostic; the s/d KEY columns stay long)
        nb_elem = F.col("d").cast("int") if compact_ids else F.col("d")
        adj = (
            pairs.groupBy("s")
            .agg(F.sort_array(F.collect_list(nb_elem)).alias("nb"))
            .localCheckpoint(eager=True)
        )
        frames.append(adj)
        node = (
            pairs.groupBy("d")
            .agg(F.collect_list("s").alias("__ss"))
            .join(
                adj.select(F.col("s").alias("d"), F.col("nb").alias("nb_d")), "d"
            )
            .localCheckpoint(eager=True)
        )
        frames.append(node)
        spark.sparkContext._jvm.System.gc()  # reclaim the build shuffles
        tot_tri = 0
        tot_nodes = 0
        for c in range(chunks):
            ss_c = (
                F.filter(
                    "__ss", lambda x: F.pmod(F.hash(x), F.lit(chunks)) == c
                )
                if chunks > 1
                else F.col("__ss")
            )
            ex = node.select("d", F.explode(ss_c).alias("s"), "nb_d")
            per_edge = ex.join(
                adj.withColumnRenamed("nb", "nb_s").hint("shuffle_hash"), "s"
            ).select(
                "s", F.size(F.array_intersect("nb_s", "nb_d")).alias("tri")
            )
            row = per_edge.agg(
                F.sum("tri").cast("long").alias("t"),
                F.countDistinct(
                    F.when(F.col("tri") > 0, F.col("s"))
                ).alias("nx"),
            ).first()
            tot_tri += row.t or 0
            tot_nodes += row.nx or 0
            # superseded pass shuffles are only reclaimed on a JVM GC
            spark.sparkContext._jvm.System.gc()
        return spark.createDataFrame(
            [(tot_tri, tot_nodes)],
            "n_triangles long, nodes_in_triangles long",
        )


@query(
    "graph_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.s AS x, e1.d AS y, e2.d AS z
      FROM pairs e1
      JOIN pairs e2 ON e2.s = e1.d
      JOIN pairs e3 ON e3.s = e1.s AND e3.d = e2.d
    )
    SELECT count(*) AS n_triangles,
           count(DISTINCT x) AS nodes_in_triangles
    FROM tri
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting (the clustering-coefficient kernel) over
    the part co-purchase graph via adjacency-array intersection — see
    `_triangles_per_edge` for why the wedge join was retired.

    Runs eagerly inside a sized-shuffle window: the oriented-pair
    dedup aggregates NEAR-UNIQUE keys (~2 lineitem rows per distinct
    edge), so its map-side hash maps must be sized to the pair volume,
    not the session default (the doulion sibling measured 12.9 GB of
    aggregate spill at sf30 on 32 partitions). rows×2 ≈ the oriented
    pair count; the 1-row result is checkpointed before the window
    closes so the caller's collect replays nothing."""
    from ..operators.graph import sized_shuffle

    li = _t(spark, sf_dir, "lineitem")
    n = li.count()
    if n <= 30_000_000:
        # session defaults are right below the spill regime; lazy plan
        per_edge = _triangles_per_edge(_copurchase_pairs(spark, sf_dir))
        return per_edge.agg(
            F.sum("tri").cast("long").alias("n_triangles"),
            F.countDistinct(F.when(F.col("tri") > 0, F.col("s"))).alias(
                "nodes_in_triangles"
            ),
        )
    # scratch budget: the edge-wise payload is ~(2n pairs)·(deg≈60)
    # neighbor-array elements — 8 B each, halved to int32 when the id
    # domain allows (TPC-H part keys fit far below 2^31 at any tested
    # sf). Chunk passes to ~8 GB of POST-COMPRESSION shuffle each
    # (≈ 2× lz4 on sorted arrays) so one in-flight generation plus one
    # GC-lagged predecessor never fills the local disks (sf30 measured
    # the unchunked join dying on No-space at ~57 GB; 3 chunks still
    # peaked over the 55 GB free).
    max_pk = li.agg(F.max("l_partkey")).first()[0] or 0
    compact = max_pk < 2**31
    per_row = 240 if compact else 480
    chunks = min(64, max(1, -(-(n * per_row) // 8_000_000_000)))
    with sized_shuffle(spark, n * 2):
        return _triangles_summary_chunked(
            spark, _copurchase_pairs(spark, sf_dir), chunks, compact_ids=compact
        )


# DOULION edge-sampled triangle estimate (Tsourakakis et al. 2009):
# keep each edge with probability p, count triangles on the sample,
# scale by 1/p³. Here the "coin" is an md5 hash of the edge key — fully
# deterministic and REPLICATED BIT-EXACTLY by the DuckDB oracle (the
# repo's bit-exact-sketch pattern, as `sketch_kmv_distinct`), so the key is
# hash-gated with NO tolerance band. Exact triangle work is inherently
# the wedge count (≈|V|·deg²/4 — 4.9B at sf10 on this dense-uniform
# graph); at p=0.3 the sampled wedge work is p²≈9% of that, which is
# what makes sf10+ tractable per box. Relative std ≈ √((p⁻³−1)/T),
# shrinking with scale since T grows ~linearly with replicas.
#
# r10 (verdict task #4): p lowered 0.3 → 0.2 — the sampling schedule
# was leaving accuracy on the table: σ_rel at p=0.2 is 1.7 % on
# sf0.01's 414k triangles and 0.26 % at sf10+, while wedge work drops
# to (0.2/0.3)² = 44 % and the pair exchange to 2/3. Realized
# deviation of the deterministic coin: z = 1.65 σ (sf0.01, rel err
# 2.9 %), z = 0.79 σ (sf0.1, rel err 0.6 %) — both inside 2σ.
_TRI_KEEP = 200  # permille: p = 0.2


_DOULION_ORACLE = f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
    ),
    sampled AS (
      SELECT s, d FROM pairs
      WHERE ('0x' || substr(md5(s::VARCHAR || '-' || d::VARCHAR), 1, 13))::BIGINT
            % 1000 < {_TRI_KEEP}
    ),
    tri AS (
      SELECT e1.s AS x
      FROM sampled e1
      JOIN sampled e2 ON e2.s = e1.d
      JOIN sampled e3 ON e3.s = e1.s AND e3.d = e2.d
    )
    SELECT CAST(floor(count(*) * 1000.0 * 1000.0 * 1000.0
                / ({_TRI_KEEP} * {_TRI_KEEP} * {_TRI_KEEP}) + 0.5) AS BIGINT)
             AS est_triangles,
           CAST(count(*) AS BIGINT) AS sampled_triangles,
           {_TRI_KEEP} AS keep_permille
    FROM tri
"""


#: driver-kernel wedge budget: Σ C(deg⁺, 2) of the sampled forward
#: adjacency — the merged wedge frame is ~24 B/row, so 60 M wedges
#: ≈ 1.4 GB of transient numpy, the most this path should ever hold.
_DOULION_WEDGE_BUDGET = 60_000_000


def _doulion_driver(spark: SparkSession, pdf) -> "DataFrame | None":
    """Exact DOULION tally over a collected raw sampled-pair frame:
    numpy dedup (≡ the distributed .distinct()) + vectorized wedge
    closure counting (for every wedge (x→y, x→z), y<z, test (y,z)
    membership in the sorted edge-key set). Returns None when the
    degree profile busts the wedge budget or keys would overflow the
    packed representation — the caller falls back to the distributed
    kernel."""
    import numpy as np
    import pandas as pd

    scale = 1000.0**3 / float(_TRI_KEEP) ** 3
    schema = (
        "est_triangles long, sampled_triangles long, keep_permille int"
    )
    if len(pdf) == 0:
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "est_triangles": [0],
                    "sampled_triangles": [0],
                    "keep_permille": [_TRI_KEEP],
                }
            ),
            schema,
        )
    s = pdf["s"].to_numpy(np.int64)
    d = pdf["d"].to_numpy(np.int64)
    m = int(d.max()) + 1
    if m > 2**31:  # packed (s, d) key must stay exact in int64
        return None
    ekey = np.unique(s * m + d)  # dedup ≡ .distinct(), sorted for probes
    es, ed = ekey // m, ekey % m
    # forward-degree profile gates the wedge expansion
    heads, counts = np.unique(es, return_counts=True)
    n_wedges = int((counts * (counts - 1) // 2).sum())
    if n_wedges > _DOULION_WEDGE_BUDGET:
        return None
    edf = pd.DataFrame({"s": es, "d": ed})
    w = edf.merge(edf, on="s")  # all ordered forward pairs per head
    y = w["d_x"].to_numpy(np.int64)
    z = w["d_y"].to_numpy(np.int64)
    keep = y < z  # each wedge once, oriented like the edge set
    y, z = y[keep], z[keep]
    wkey = y * m + z
    idx = np.searchsorted(ekey, wkey)
    idx[idx == len(ekey)] = 0  # any in-range slot; equality test decides
    tri = int(np.count_nonzero(ekey[idx] == wkey))
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "est_triangles": [int(np.floor(tri * scale + 0.5))],
                "sampled_triangles": [tri],
                "keep_permille": [_TRI_KEEP],
            }
        ),
        schema,
    )


@query("graph_triangle_doulion", oracle=_DOULION_ORACLE)
def q_graph_triangle_doulion(
    spark: SparkSession, sf_dir: str, driver_gate: int = 2_000_000
) -> DataFrame:
    """DOULION sampled triangle count — the 100 TB path for dense
    co-occurrence graphs where exact counting's wedge work is
    prohibitive. Deterministic md5 edge sampling (bit-exact vs the
    DuckDB oracle); the triangle kernel on the sample reuses the
    adjacency-intersection shape (`_triangles_per_edge`),
    so sampled work is p² of exact with the same spill-safe plan."""
    from ..functions.sketches import md5_hash52
    from ..operators.graph import sized_shuffle

    # r10 (verdict task #4): the md5 coin is a pure function of (s, d),
    # so sampling commutes with the pair dedup — filter the RAW pair
    # stream map-side, BEFORE the distinct. The distinct's exchange is
    # the query's dominant cost at scale (near-unique keys, zero
    # map-side reduction, ~1.2 B rows at sf100); moving the coin in
    # front of it cuts that exchange to p of its volume for the exact
    # same sampled edge set (dedup-of-filtered ≡ filter-of-deduped for
    # a deterministic row predicate). Oracle unchanged — it samples the
    # deduped set, which is the same set.
    pairs_raw = _copurchase_pairs_raw(spark, sf_dir)
    sampled_raw = pairs_raw.filter(
        F.pmod(
            md5_hash52(
                F.concat(
                    F.col("s").cast("string"),
                    F.lit("-"),
                    F.col("d").cast("string"),
                )
            ),
            F.lit(1000),
        )
        < _TRI_KEEP
    )
    # ONE scalar job for both dispatch inputs (r10 — was two: a max()
    # first() and a separate count()): max_pk gates int32 neighbor
    # packing, li_rows gates the driver kernel / sized-shuffle window.
    mx, li_rows = (
        _t(spark, sf_dir, "lineitem")
        .agg(F.max("l_partkey").alias("mx"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    max_pk = mx or 0
    if li_rows <= driver_gate:
        # r10 size dispatch (guide §1.2): the raw sampled pair stream is
        # ≤ p·(pair fan-out)·rows ≈ 0.8·li_rows 16 B rows — a bounded
        # Arrow collect — and the triangle kernel's distributed shape
        # (two adjacency layouts + shuffle_hash attach + explode) costs
        # ~10 stages for milliseconds of compute at this size. numpy
        # dedups the pairs (skipping the distinct exchange entirely)
        # and counts wedge closures by sorted-key membership — exact
        # integer result, same floor(·+0.5) arithmetic. Pathological
        # degree skew (Σdeg² past the wedge budget) falls through to
        # the unchanged distributed kernel.
        driver_out = _doulion_driver(spark, sampled_raw.toPandas())
        if driver_out is not None:
            return driver_out
    sampled = sampled_raw.distinct()
    # int32 neighbor packing (shared with the exact kernel): the
    # adjacency arrays are the streamed payload of the intersect join —
    # half-width elements halve that shuffle when the id domain allows.
    per_edge = _triangles_per_edge(sampled, compact_ids=max_pk < 2**31)
    scale = 1000.0**3 / float(_TRI_KEEP) ** 3
    out = per_edge.agg(
        F.floor(F.sum("tri") * F.lit(scale) + F.lit(0.5))
        .cast("long")
        .alias("est_triangles"),
        F.sum("tri").cast("long").alias("sampled_triangles"),
        F.lit(_TRI_KEEP).alias("keep_permille"),
    )
    if li_rows <= 30_000_000:
        return out  # session defaults are right below the spill regime
    # sized-shuffle window (see q_graph_triangles): the sampled-pair
    # dedup spilled 12.9 GB / 102 s of the 112 s sf30 wall on the
    # session's 32 partitions; eager checkpoint of the 1-row result
    # keeps the whole plan inside the window
    with sized_shuffle(spark, li_rows * 2):
        return out.localCheckpoint(eager=True)


@query("graph_triangle_doulion_dist", oracle=_DOULION_ORACLE)
def q_graph_triangle_doulion_dist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return q_graph_triangle_doulion(spark, sf_dir, driver_gate=0)
