"""Dedup and similarity family: exact / n-gram Jaccard / MinHash-LSH /
SimHash / substring-span near-dup detection with connected-component
canonicalization, incremental MinHash against a persisted signature
store, decontamination (n-gram and embedding space), fuzzy entity
matching, and embedding search — brute-force, Arrow-GEMM, hyperplane
LSH, IVF, PQ, int8 and blocked top-k, k-means, SemDeDup, hard negatives
and hybrid BM25 + dense retrieval.

Near-dup queries run on a deterministically AUGMENTED documents /
embeddings table (exact copies / perturbed copies unioned in) so there
are true positives to find — the raw synthetic corpus has none; Spark
and the oracle build the identical augmented input. The approximate ANN
paths are gated through planted known-answer families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    cluster_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.similarity import brute_force_topk, lsh_topk
from .queries import _t, query
from .text import _BM25_TERMS


# exact copies of every 7th doc, re-keyed +100000
_EXACT_AUG_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
"""


# near-copies (two appended tokens) of every 11th doc
_NEAR_AUG_SQL = """
      SELECT doc_id, lower(text) AS text FROM documents
      UNION ALL
      SELECT doc_id + 100000, lower(text) || ' zzz qqq' FROM documents
      WHERE doc_id % 11 = 0
"""


def _docs_exact_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(dup)


def _docs_near_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("text")
    )
    dup = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz qqq")).alias("text"),
    )
    return d.unionByName(dup)


@query(
    "dedup_exact",
    oracle=f"""
    WITH aug AS ({_EXACT_AUG_SQL})
    SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
    FROM aug
    GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs_exact_aug(spark, sf_dir), "doc_id", "text")


_JACCARD_ORACLE = f"""
    WITH aug AS ({_NEAR_AUG_SQL}),
    tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    ix AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
           FROM tk WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM ix),
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
    SELECT a_id, b_id,
           round(common / (ca.n_sh + cb.n_sh - common), 4) AS jaccard
    FROM pr
    JOIN cnt ca ON pr.a_id = ca.doc_id
    JOIN cnt cb ON pr.b_id = cb.doc_id
    WHERE round(common / (ca.n_sh + cb.n_sh - common), 4) >= 0.6
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _docs_near_aug(spark, sf_dir), "doc_id", "text", n=3, threshold=0.6
    )


# Same ground truth as the exact-Jaccard oracle: the LSH candidates are
# verified with exact Jaccard, and 32x2 banding has a <1e-13 false-negative
# probability at j >= 0.6 — deterministic given the fixed hash family.
@query("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _docs_near_aug(spark, sf_dir),
        "doc_id",
        "text",
        n=3,
        num_hashes=64,
        bands=32,
        threshold=0.6,
    )


# The fingerprint hash is the engine-portable 60-bit md5 prefix
# (operators.dedup.portable_token_hash), so DuckDB can rebuild the exact
# same simhash: unnest tokens → per-bit majority vote over 60 bits →
# reassemble → all-pairs bit_count(xor) ≤ 3. (The oracle may do the O(n²)
# pair scan — it is the reference implementation, not the scale path; the
# Spark side stays the 4-chunk pigeonhole block join.)
_SIMHASH_ORACLE = f"""
    WITH aug AS ({_NEAR_AUG_SQL}),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM aug),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
    bits AS (
        SELECT doc_id, i,
               CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END AS vote
        FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i)
    ),
    v AS (SELECT doc_id, i, sum(vote) AS sv FROM bits GROUP BY doc_id, i),
    fp AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN sv > 0 THEN (1::BIGINT << i) ELSE 0 END)
                    AS BIGINT) AS sh
        FROM v GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import portable_token_hash

    return simhash_pairs(
        _docs_near_aug(spark, sf_dir),
        "doc_id",
        "text",
        max_distance=3,
        num_bits=60,
        hasher=portable_token_hash,
    )


# Chain augmentation: two stacked near-copies per selected doc, so pair
# clusters are transitive (X ~ X+100k ~ X+200k) and clustering is
# non-trivial — a pure pair list would make every component an edge.
_CHAIN_AUG_SQL = """
      SELECT doc_id, lower(text) AS text FROM documents
      UNION ALL
      SELECT doc_id + 100000, lower(text) || ' zzz qqq' FROM documents
      WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id + 200000, lower(text) || ' zzz qqq www' FROM documents
      WHERE doc_id % 11 = 0
"""


def _docs_chain_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("text")
    )
    sel = d.filter(F.col("doc_id") % 11 == 0)
    c1 = sel.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" zzz qqq")).alias("text"),
    )
    c2 = sel.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" zzz qqq www")).alias("text"),
    )
    return d.unionByName(c1).unionByName(c2)


# DuckDB checks the full component closure with a recursive CTE: the
# transitive min-reachable id per node IS the canonical assignment.
# (module constant: the r11 forced-distributed twin shares it)
_CLUSTER_ORACLE = """
    WITH RECURSIVE aug AS (
    """ + _CHAIN_AUG_SQL + """
    ),
    tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    ix AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
           FROM tk WHERE len(t) >= 3),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM ix),
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    pairs AS (
        SELECT a_id, b_id FROM pr
        JOIN cnt ca ON pr.a_id = ca.doc_id
        JOIN cnt cb ON pr.b_id = cb.doc_id
        WHERE round(common / (ca.n_sh + cb.n_sh - common), 4) >= 0.6
    ),
    edges AS (
        SELECT a_id AS u, b_id AS v FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    reach(u, lbl) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
    )
    SELECT u AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY u
    """


@query("dedup_cluster_canonical", oracle=_CLUSTER_ORACLE)
def q_dedup_cluster(
    spark: SparkSession, sf_dir: str, cc_driver_limit: int | None = None
) -> DataFrame:
    docs = _docs_chain_aug(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6)
    return cluster_pairs(pairs, driver_limit=cc_driver_limit)


@query("dedup_cluster_canonical_dist", oracle=_CLUSTER_ORACLE)
def q_dedup_cluster_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_dedup_cluster(spark, sf_dir, cc_driver_limit=0)


# Two planted near-dup families (identical in Spark `_emb_aug` below):
# - +0.05 on the first coordinate of every 29th vector (cos ≈ 0.999+,
#   the near-dup regime) at id offset 100000;
# - r7 MIDBAND: every 23rd-mod-5 vector rotated by exactly
#   acos(0.96) toward an in-plane orthogonal direction (w = circular
#   shift of v, Gram-Schmidt against v), so cos(v, v') = 0.96 EXACTLY
#   ((0.96, 0.28) is a scaled Pythagorean pair: 0.96² + 0.28² = 1).
#   These pairs sit INSIDE the [threshold, 0.999) band the r6 adaptive
#   LSH only covered best-effort — they gate the r7 guarantee that
#   recall is sized at the caller's threshold. Id offset 5e6 (r8 fix —
#   found by the round-8 planted-pair recall run): the old 1e9 offset COLLIDED
#   with the scale generator's replica id space (stride 1e7 per replica;
#   ids cross 1e9 at k≥100), so 2/3 of planted midband rows at sf30
#   duplicated a real replica id and the broadcast verify gathered the
#   wrong vector (midband recall 0.33 — a testbed artifact, not an
#   engine miss). 5e6 mod 1e7 sits 3e6 clear of both the replica-id
#   window [0, 2000) and the pert window [100000, 102000) for every
#   replica count, and keeps vec_id * 2654435761 inside BIGINT.
_EMB_AUG_SQL = """
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, list_prepend(v0[1] + 0.05, v0[2:]) FROM
        (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings)
      WHERE vec_id % 29 = 0
      UNION ALL
      SELECT vec_id + 5000000,
             list_transform(generate_series(1, len(v0)),
               i -> 0.96 * v0[i]
                    + (0.28 * sqrt(nv2 / nw2))
                      * (v0[(i % len(v0)) + 1] - (dvw / nv2) * v0[i]))
      FROM (
        SELECT vec_id, v0, nv2, dvw, nv2 - (dvw * dvw) / nv2 AS nw2
        FROM (
          SELECT vec_id, v0,
                 list_inner_product(v0, v0) AS nv2,
                 list_inner_product(v0, list_concat(v0[2:], [v0[1]])) AS dvw
          FROM (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings)
          WHERE vec_id % 23 = 5
        )
      )
"""


def _emb_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    pert = base.filter(F.col("vec_id") % 29 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "v", lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x)
        ).alias("v"),
    )
    # midband family (see _EMB_AUG_SQL): exact-cos-0.96 rotation, same
    # scalar formulas and fold order as the DuckDB construction so the
    # two sides agree to well below the 4dp output rounding.
    mid = (
        base.filter(F.col("vec_id") % 23 == 5)
        .withColumn("nv2", F.expr("aggregate(v, 0d, (a, x) -> a + x * x)"))
        .withColumn(
            "dvw",
            F.expr(
                "aggregate(sequence(1, size(v)), 0d, (a, i) -> "
                "a + element_at(v, i) * element_at(v, (i % size(v)) + 1))"
            ),
        )
        .withColumn("nw2", F.expr("nv2 - (dvw * dvw) / nv2"))
        .select(
            (F.col("vec_id") + F.lit(5000000)).alias("vec_id"),
            F.expr(
                "transform(sequence(1, size(v)), i -> "
                "0.96d * element_at(v, i) + (0.28d * sqrt(nv2 / nw2)) * "
                "(element_at(v, (i % size(v)) + 1) "
                " - (dvw / nv2) * element_at(v, i)))"
            ).alias("v"),
        )
    )
    return base.unionByName(pert).unionByName(mid)


@query(
    "embedding_cosine_pairs",
    oracle=f"""
    WITH aug AS ({_EMB_AUG_SQL})
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.95
    """,
)
def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH-blocked scale path (bucket-occupancy-bounded candidates, exact
    # verification — no all-pairs product). Recall vs the all-pairs kernel
    # is 1.0 on this corpus at every SF (asserted by
    # tests/test_extensions.py::test_cosine_pairs_lsh_matches_all_pairs);
    # the DuckDB oracle stays the exact all-pairs formulation.
    from ..operators.similarity import cosine_pairs_lsh

    # on_budget_exceeded="degrade" (r8 advisor): past the adaptive
    # sizer's max_tables envelope (~4-8M vectors at the 0.95 guarantee)
    # this catalog key degrades to the near-dup guarantee point with a
    # RuntimeWarning instead of crashing the scale leg.
    out = cosine_pairs_lsh(
        _emb_aug(spark, sf_dir), "vec_id", "v", threshold=0.95,
        on_budget_exceeded="degrade",
    )
    return out.select("a_id", "b_id", F.col("cos").alias("cos_sim"))


_ANN_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, e.v), 4) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
"""


@query("ann_cosine_topk", oracle=_ANN_ORACLE)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = brute_force_topk(queries, emb, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("cos").alias("cos_sim"), F.col("rank").alias("rnk")
    )


# Same semantics and oracle as ann_cosine_topk — different physical
# kernel (Arrow-batch GEMM instead of per-element JVM expressions).
@query("ann_numpy_topk", oracle=_ANN_ORACLE)
def q_ann_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import numpy_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = numpy_topk(queries, emb, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("cos").alias("cos_sim"), F.col("rank").alias("rnk")
    )


# Planted-top-k gates for the two approximate ANN paths at k=5: the
# corpus is augmented with 4 graded near-copies of each planted query's
# base vector (first coordinate +0.02·j, j=1..4), so the EXACT top-5 for
# each query is the family {4 copies + original} — recomputed brute-force
# by the DuckDB oracle over the identically-augmented corpus. The family
# members are near-identical vectors, so they land in the query's LSH
# bucket (multiprobe covers a 1-bit flip) / IVF cell by construction —
# a hash-match certifies recall@5 = 1.0 through the approximate path.
# Verified to hold at sf0.001/0.01/0.1 under the fixed hash family /
# fixed centroid sample.
_PLANTED_TOPK_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    fam AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
    copies AS (
      SELECT fam.vec_id + 200000 * g.j AS vec_id,
             list_prepend(v[1] + 0.02 * g.j, v[2:]) AS v
      FROM fam CROSS JOIN generate_series(1, 4) AS g(j)
    ),
    corpus AS (SELECT * FROM e UNION ALL SELECT * FROM copies),
    q AS (SELECT vec_id + 100000 AS query_id,
                 list_prepend(v[1] + 0.05, v[2:]) AS qv
          FROM fam),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, c.v), 4) AS cos_sim
      FROM q CROSS JOIN corpus c
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC)
                  AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
"""


def _planted_topk_corpus(emb: DataFrame) -> DataFrame:
    """embeddings (as double) ∪ 4 graded near-copies of each base vector
    — the Spark-side mirror of _PLANTED_TOPK_ORACLE's augmented corpus."""
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    copies = (
        base.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("base_id"),
            F.explode(F.array(*[F.lit(j) for j in range(1, 5)])).alias("j"),
            "embedding",
        )
        .select(
            (F.col("base_id") + 200000 * F.col("j")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, x + 0.02 * F.col("j")).otherwise(x),
            ).alias("embedding"),
        )
    )
    return base.unionByName(copies)


@query("ann_lsh_topk", oracle=_PLANTED_TOPK_ORACLE)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_topk(
        _planted_queries(emb), _planted_topk_corpus(emb), 64,
        k=5, num_planes=8, multiprobe=True,
    )
    return out.select(
        "query_id", "neighbor_id", F.col("cos").alias("cos_sim"),
        F.col("rank").alias("rnk"),
    )


@query("ann_ivf_topk", oracle=_PLANTED_TOPK_ORACLE)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    # deterministic coarse quantizer (fixed corpus sample): the plan is
    # pure Catalyst expressions, insensitive to input partitioning — the
    # KMeans-fit quantizer stays covered by kmeans_clusters + unit tests.
    # vec_id < 2048 BOUNDS the sample (≤ 67 centroids) so the broadcast
    # centroid set and the assignment cross-join stay O(1) w.r.t. scale
    # factor instead of growing O(n) — same guard as semdedup_cells.
    cent = emb.filter(
        (F.col("vec_id") % 31 == 0) & (F.col("vec_id") < 2048)
    ).select(
        F.col("vec_id").cast("int").alias("__cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("center"),
    )
    out = ivf_topk(
        _planted_queries(emb), _planted_topk_corpus(emb),
        k=5, n_probe=2, centroids=cent,
    )
    return out.select(
        "query_id", "neighbor_id", F.col("cos").alias("cos_sim"),
        F.col("rank").alias("rnk"),
    )


# Recall gates for the two approximate ANN paths. The planted near-dup
# regime (a +0.05-perturbed copy of each of 10 corpus vectors) is the
# workload these indexes exist for — corpus-hygiene retrieval — and it has
# an EXACT expected answer the oracle recomputes independently: top-1 must
# be the original vector at its true cosine. A hash-match therefore
# certifies recall@1 = 1.0 through the approximate (bucketed / celled)
# path, with no probabilistic floor. Verified to hold at sf0.001/0.01/0.1
# under the fixed hash family / fixed centroid sample.
_PLANTED_RECALL_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, list_prepend(v[1] + 0.05, v[2:]) AS qv, v
          FROM e WHERE vec_id < 10)
    SELECT vec_id + 100000 AS query_id, vec_id AS neighbor_id,
           round(list_cosine_similarity(qv, v), 4) AS cos_sim
    FROM q
"""


def _planted_queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("query_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x.cast("double") + 0.05).otherwise(
                x.cast("double")
            ),
        ).alias("qv"),
    )


@query("ann_lsh_recall", oracle=_PLANTED_RECALL_ORACLE)
def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_topk(
        _planted_queries(emb), emb, 64, k=1, num_planes=8, multiprobe=True
    )
    return out.select("query_id", "neighbor_id", F.col("cos").alias("cos_sim"))


@query("ann_ivf_recall", oracle=_PLANTED_RECALL_ORACLE)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    # deterministic coarse quantizer: centroids are a fixed corpus sample,
    # so the whole plan is pure Catalyst expressions (no KMeans fit);
    # vec_id < 2048 bounds the broadcast centroid set vs scale factor
    cent = emb.filter(
        (F.col("vec_id") % 31 == 0) & (F.col("vec_id") < 2048)
    ).select(
        F.col("vec_id").cast("int").alias("__cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("center"),
    )
    out = ivf_topk(_planted_queries(emb), emb, k=1, n_probe=2, centroids=cent)
    return out.select("query_id", "neighbor_id", F.col("cos").alias("cos_sim"))


@query(
    "embedding_quantize_stats",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e),
    q AS (SELECT vec_id,
                 list_transform(v, x -> CAST(floor(x / max_abs * 127) AS INTEGER)) AS qv
          FROM m)
    SELECT vec_id,
           list_min(qv) AS q_min,
           list_max(qv) AS q_max,
           CAST(list_sum(qv) AS BIGINT) AS q_sum
    FROM q
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (x -> floor(x/max_abs*127))
    — the storage-shrink step of a large-scale vector pipeline; emitted as
    per-vector stats so the oracle compares scalars, not array renderings.
    All array expressions; max_abs is a zip-free single pass."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    m = e.withColumn(
        "max_abs", F.array_max(F.transform("v", lambda x: F.abs(x)))
    )
    q = m.select(
        "vec_id",
        F.expr(
            "transform(v, x -> CAST(floor(x / max_abs * 127) AS INT))"
        ).alias("qv"),
    )
    return q.select(
        "vec_id",
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.aggregate("qv", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
    )


@query("kmeans_clusters")  # iterative algorithm — rows-only
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embedding corpus (MLlib Lloyd's, the
    same coarse quantizer ivf_topk uses), reported as a cluster×label
    contingency table against the planted `label` column. Iterative
    training is executor-parallel with only k×dim centroid state on the
    driver per iteration; the final assignment is a broadcast-centroid
    map pass. Rows-only check (iterative, not SQL-expressible)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "__v", array_to_vector(F.transform("embedding", lambda x: x.cast("double")))
    )
    n_labels = emb.select("label").distinct().count()
    model = KMeans(k=max(n_labels, 2), seed=7, featuresCol="__v").fit(emb)
    return (
        model.transform(emb)
        .groupBy(F.col("prediction").alias("cluster"), "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH aug AS ({_EXACT_AUG_SQL}),
    f AS (SELECT doc_id, length(text) AS text_len,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          FROM aug),
    r AS (SELECT doc_id, text_len,
                 row_number() OVER (PARTITION BY fp
                                    ORDER BY text_len DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY fp) AS dup_count
          FROM f)
    SELECT doc_id AS kept_id, CAST(text_len AS BIGINT) AS kept_len,
           CAST(dup_count AS BIGINT) AS dup_count
    FROM r WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked canonical selection: exact-dup groups resolve to
    their best surviving row (longest text, id tiebreak) — the step after
    dedup detection in a curation pipeline. Runs on the same planted-dup
    augmentation as dedup_exact so groups are non-trivial."""
    from ..operators.dedup import keep_best

    kept = keep_best(_docs_exact_aug(spark, sf_dir), "doc_id", "text")
    return kept.select(
        F.col("doc_id").alias("kept_id"),
        F.length("text").cast("long").alias("kept_len"),
        F.col("dup_count").cast("long").alias("dup_count"),
    )


@query(
    "corpus_decontaminate",
    oracle=f"""
    WITH aug AS ({_NEAR_AUG_SQL}),
    tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
    ix AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
           FROM tk WHERE len(t) >= 5),
    sh AS (SELECT DISTINCT doc_id,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                       || ' ' || t[i+4] AS s
           FROM ix),
    ban AS (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 0),
    ag AS (SELECT tr.doc_id,
                  count(*) AS n_shingles,
                  count(b.s) AS n_overlap
           FROM (SELECT doc_id, s FROM sh WHERE doc_id % 17 <> 0) tr
           LEFT JOIN ban b USING (s)
           GROUP BY tr.doc_id)
    SELECT doc_id, n_shingles, n_overlap,
           floor(CAST(n_overlap AS DOUBLE) * 10000 / n_shingles) / 10000
               AS overlap_ratio
    FROM ag
    WHERE n_overlap * 2 >= n_shingles
    """,
)
def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination over the near-dup-augmented corpus:
    docs with doc_id % 17 == 0 act as the benchmark set; every train doc
    sharing ≥ half its 5-gram shingles with the benchmark union is
    flagged. The eval banlist is broadcast (benchmarks are tiny next to
    a 100 TB corpus); the corpus side is explode → broadcast join →
    per-doc aggregate — no self-join, no shingle shuffle."""
    from ..operators.dedup import decontaminate

    return decontaminate(
        _docs_near_aug(spark, sf_dir),
        F.col("doc_id") % 17 == 0,
        "doc_id",
        "text",
        n=5,
    )


@query(
    "fuzzy_match_blocked",
    oracle="""
    WITH aug AS (
      SELECT p_name FROM part
      UNION ALL
      SELECT p_name || 'x' FROM part WHERE p_partkey % 13 = 0
    ),
    names AS (
      SELECT DISTINCT p_name AS name,
             list_extract(string_split(p_name, ' '),
                          len(string_split(p_name, ' '))) AS blk
      FROM aug
    )
    SELECT a.name AS a_name, b.name AS b_name,
           levenshtein(a.name, b.name) AS lev
    FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 2
    """,
)
def q_fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution: typo-augmented part names, blocked on
    the product noun (last token), paired by Levenshtein ≤ 2 within the
    block. Names dedupe BEFORE pairing and the join is block-keyed —
    Σ|block|², never |names|²."""
    from ..operators.dedup import blocked_levenshtein_pairs

    p = _t(spark, sf_dir, "part")
    aug = p.select("p_name").unionByName(
        p.filter(F.col("p_partkey") % 13 == 0).select(
            F.concat(F.col("p_name"), F.lit("x")).alias("p_name")
        )
    )
    return blocked_levenshtein_pairs(
        aug,
        "p_name",
        block_key=F.element_at(F.split(F.col("name"), " "), -1),
        max_distance=2,
        min_distance=1,
    )


@query("ann_int8_recall", oracle=_PLANTED_RECALL_ORACLE)
def q_ann_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized vector search: candidates are scored against the INT8
    corpus (4x smaller resident index — the memory-bound lever for a
    100 TB vector store), then the winning neighbor is re-scored at full
    precision (the standard quantize-search / fp-rerank split). The
    planted-recall oracle hash-matching certifies the int8 argmax equals
    the exact argmax AND the reported cosine is the true one.

    Scale: queries broadcast (bounded), corpus map-scored in place — no
    corpus shuffle; one |queries|-keyed top-1 agg."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = (
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .withColumn("max_abs", F.array_max(F.transform("v", lambda x: F.abs(x))))
        .withColumn(
            "qv", F.expr("transform(v, x -> CAST(floor(x / max_abs * 127) AS INT))")
        )
        .withColumn("scale", F.col("max_abs") / F.lit(127.0))
    )
    # rename the query-side vector so it cannot collide with the corpus's
    # int8 `qv` column after the broadcast cross join
    q = _planted_queries(emb).withColumnRenamed("qv", "qarr")
    pairs = corpus.crossJoin(F.broadcast(q))
    int_dot = F.aggregate(
        F.zip_with("qv", "qarr", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # quantized score: scale * (int8 . fp-query); norms cancel in argmax
    # only per-query on the query side, so divide by the dequantized norm
    dequant_norm = F.sqrt(
        F.aggregate(
            F.transform("qv", lambda a: (a * F.col("scale")) ** 2),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    pairs = pairs.withColumn("approx", F.col("scale") * int_dot / dequant_norm)
    from pyspark.sql import Window as _W

    w = _W.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("vec_id").asc()
    )
    top = pairs.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") == 1)
    true_dot = F.aggregate(
        F.zip_with("v", "qarr", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return top.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(true_dot / (norm("v") * norm("qarr")), 4).alias("cos_sim"),
    )


@query(
    "semdedup_cells",
    oracle=f"""
    WITH aug AS ({_EMB_AUG_SQL}),
    nn AS (SELECT greatest(1, count(*) // 128) AS k2,
                  greatest(1, CAST(floor(sqrt(greatest(1, count(*) // 128)))
                                   AS BIGINT)) AS k1
           FROM aug),
    ranked AS (SELECT vec_id, v,
                      row_number() OVER (
                        ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
                      ) AS rn
               FROM aug),
    fine AS (SELECT vec_id AS cell, v AS center FROM ranked, nn
             WHERE rn <= k2),
    coarse AS (SELECT vec_id AS ccell, v AS ccenter FROM ranked, nn
               WHERE rn <= k1),
    f2c AS (SELECT cell, center, ccell FROM (
        SELECT f.cell, f.center, c.ccell,
               row_number() OVER (PARTITION BY f.cell
                 ORDER BY round(list_cosine_similarity(f.center, c.ccenter),
                                9) DESC,
                          (c.ccell = f.cell) DESC, c.ccell ASC) AS rn
        FROM fine f CROSS JOIN coarse c) WHERE rn = 1),
    v2c AS (SELECT vec_id, v, ccell FROM (
        SELECT a.vec_id, a.v, c.ccell,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.v, c.ccenter),
                                9) DESC,
                          c.ccell ASC) AS rn
        FROM aug a CROSS JOIN coarse c) WHERE rn = 1),
    assigned AS (SELECT vec_id, v, cell FROM (
        SELECT x.vec_id, x.v, f.cell,
               row_number() OVER (PARTITION BY x.vec_id
                 ORDER BY round(list_cosine_similarity(x.v, f.center),
                                9) DESC,
                          f.cell ASC) AS rn
        FROM v2c x JOIN f2c f ON x.ccell = f.ccell) WHERE rn = 1),
    dup AS (SELECT DISTINCT b.vec_id
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.95)
    SELECT a.vec_id, a.cell, d.vec_id IS NULL AS keep
    FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the augmented embedding corpus via the scale path
    (operators.similarity.semdedup_scaled): corpus-proportional cell count
    (n/128 cells → within-cell pair work is n·128, linear), two-level
    deterministic hash-sample quantizer (O(n·√cells) assignment), 0.95
    within-cell cosine pruning, greedy min-id survivor. Replaces the r3
    fixed-2048-cap sample whose (n/k)² within-cell quadratic measured 13x
    wall at 10x rows in the sf1 scale bench."""
    from ..operators.similarity import semdedup_scaled

    aug = _emb_aug(spark, sf_dir)
    return semdedup_scaled(
        aug, id_col="vec_id", vec_col="v", threshold=0.95, target_cell=128
    )


@query(
    "kmeans_coverage",
    # Invariant-style oracle (the heavy_hitters_gated pattern): clustering
    # itself is iterative/non-SQL, but a correct run must assign EVERY
    # point exactly once — so the contingency table's per-label totals
    # must equal the exact label counts DuckDB recomputes. A hash-match
    # certifies no point was dropped or double-assigned by the
    # fit/transform pipeline.
    oracle="""
    SELECT label, count(*) AS n_points, TRUE AS complete
    FROM embeddings GROUP BY label
    """,
)
def q_kmeans_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage gate over the k-means contingency table: per-label totals
    summed across clusters, certified against exact label counts."""
    out = q_kmeans_clusters(spark, sf_dir)
    return out.groupBy("label").agg(
        F.sum("n").alias("n_points"),
    ).withColumn("complete", F.lit(True))


_INCR_DELTA_SQL = """
      SELECT doc_id + 200000 AS doc_id, lower(text) || ' zzz qqq' AS text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 300000, lower(text) FROM documents WHERE doc_id % 13 = 0
"""


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, lower(text) AS text FROM documents),
    delta AS ({_INCR_DELTA_SQL}),
    ctk AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
    dtk AS (SELECT doc_id, string_split(text, ' ') AS t FROM delta),
    csh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
                  FROM ctk WHERE len(t) >= 3)),
    dsh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
                  FROM dtk WHERE len(t) >= 3)),
    ccnt AS (SELECT doc_id, count(*) AS n_sh FROM csh GROUP BY doc_id),
    dcnt AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
    pr AS (SELECT c.doc_id AS corpus_id, d.doc_id AS delta_id, count(*) AS common
           FROM csh c JOIN dsh d ON c.s = d.s
           GROUP BY 1, 2)
    SELECT corpus_id, delta_id,
           round(common / (cc.n_sh + dc.n_sh - common), 4) AS jaccard
    FROM pr
    JOIN ccnt cc ON pr.corpus_id = cc.doc_id
    JOIN dcnt dc ON pr.delta_id = dc.doc_id
    WHERE round(common / (cc.n_sh + dc.n_sh - common), 4) >= 0.6
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup (`operators.dedup.incremental_minhash_pairs`):
    the corpus is the full documents table; the delta batch is 1/7th
    near-copies (suffix-perturbed) plus 1/13th exact copies — the mix a
    real ingest sees. Ground truth is the same exact shingle-Jaccard the
    batch LSH oracle uses, restricted to corpus×delta pairs; 32×2
    banding keeps the false-negative probability < 1e-13 at j ≥ 0.6, so
    the LSH candidates and the exact pairs coincide deterministically on
    this corpus."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("text")
    )
    delta = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat("text", F.lit(" zzz qqq")).alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"), "text"
            )
        )
    )
    from ..operators.dedup import incremental_minhash_pairs

    return incremental_minhash_pairs(
        d, delta, "doc_id", "text", n=3, num_hashes=64, bands=32, threshold=0.6
    )


@query(
    "embedding_decontaminate",
    oracle="""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    eval AS (SELECT vec_id, v FROM base WHERE vec_id % 17 = 0),
    train AS (
      SELECT vec_id, v FROM base WHERE vec_id % 17 <> 0
      UNION ALL
      SELECT vec_id + 100000, list_prepend(v[1] + 0.05, v[2:])
      FROM eval
    )
    SELECT t.vec_id AS left_id, e.vec_id AS right_id,
           round(list_cosine_similarity(t.v, e.v), 4) AS cos_sim
    FROM train t JOIN eval e ON true
    WHERE round(list_cosine_similarity(t.v, e.v), 4) >= 0.95
    """,
)
def q_embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval embedding decontamination via `cross_cosine_lsh`: the
    eval suite is every 17th vector; train is the rest plus planted
    near-copies of eval (first coordinate perturbed +0.05 — same
    augmentation family as `embedding_cosine_pairs`). The oracle is the
    exact all-pairs cross join; the Spark side is LSH-blocked with
    exact-cosine verification, and on this corpus the 8×4 hash family's
    recall is exactly 1.0 (the same family/threshold the
    `embedding_cosine_pairs` all-pairs-equivalence test pins)."""
    from ..operators.similarity import cross_cosine_lsh

    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    ev = base.filter(F.col("vec_id") % 17 == 0)
    planted = ev.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.col("v")[0] + 0.05), F.slice("v", 2, 1000)
        ).alias("v"),
    )
    train = base.filter(F.col("vec_id") % 17 != 0).unionByName(planted)
    # degrade (not crash) past the adaptive table budget — r8 advisor
    return cross_cosine_lsh(
        train, ev, "vec_id", "v", threshold=0.95,
        on_budget_exceeded="degrade",
    )


# ---------------------------------------------------------------------------
# r5 additions: hybrid retrieval fusion, contrastive mining, exact-substring
# span dedup
# ---------------------------------------------------------------------------


@query(
    "retrieval_hybrid_rrf",
    # Both rankers and the fusion are replayed exactly in SQL: BM25 as in
    # text_bm25_rank; the dense side is a 16-bucket hashing-trick
    # count-vector cosine (bucket = md5-prefix % 16 — the established
    # portable-hash idiom); RRF = Σ 1/(60 + rank) over the rankers a doc
    # appears in (missing rank contributes 0).
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, t.term, count(*) AS tf
      FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
      WHERE t.term IN {_BM25_TERMS!r}
      GROUP BY doc_id, t.term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    bscore AS (
      SELECT tf.doc_id,
             round(sum(ln(1.0 + (stats.n_docs - dfreq.df + 0.5)
                              / (dfreq.df + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))),
                   4) AS bm25
      FROM tf
      JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    brank AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM bscore QUALIFY r <= 50
    ),
    tok AS (
      SELECT doc_id, t.term FROM documents,
             unnest(string_split(lower(text), ' ')) AS t(term)
    ),
    bc AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 4))::BIGINT % 16 AS b,
             count(*) AS c
      FROM tok GROUP BY doc_id, b
    ),
    dense AS (
      SELECT doc_id,
             round(sum(CASE WHEN b IN (11, 14, 6) THEN c ELSE 0 END)
                   / (sqrt(sum(c * c)) * sqrt(3.0)), 4) AS cosv
      FROM bc GROUP BY doc_id
    ),
    drank AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cosv DESC, doc_id) AS r
      FROM dense WHERE cosv > 0 QUALIFY r <= 50
    ),
    fused AS (
      SELECT coalesce(brank.doc_id, drank.doc_id) AS doc_id,
             brank.r AS bm25_rnk, drank.r AS dense_rnk,
             round(coalesce(1.0 / (60 + brank.r), 0)
                   + coalesce(1.0 / (60 + drank.r), 0), 6) AS rrf
      FROM brank FULL OUTER JOIN drank ON brank.doc_id = drank.doc_id
    )
    SELECT doc_id, bm25_rnk, dense_rnk, rrf
    FROM fused
    QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id) <= 20
    """,
)
def q_retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (RRF, k=60) — the
    standard way RAG stacks combine keyword and dense rankers without
    score calibration: fuse per-ranker RANKS, not scores. Ranker 1 is
    the BM25 top-50 (same scoring as `text_bm25_rank`); ranker 2 is a
    16-bucket hashing-trick count-vector cosine against the query's
    bucket vector (the portable stand-in for a dense encoder — the
    fusion machinery is identical for real embeddings). A doc missing
    from one ranker contributes 0 from it.

    Scale: each ranker ends in a TakeOrdered over its candidate scores
    (no global sort); the fusion joins two ≤50-row frames — driver-
    trivial at any corpus size. The dense side is one map pass + one
    (doc, bucket)-keyed agg."""
    import hashlib as _hashlib

    from ..functions.text import token_count, tokens

    from ..session import fan_out

    K1, B, DIM, RRF_K = 1.2, 0.75, 16, 60
    docs = fan_out(_t(spark, sf_dir, "documents"))  # r10: see q_text_bm25_rank
    dl = docs.select("doc_id", token_count("text").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))
    bscore = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * (K1 + 1.0) / denom), 4).alias("bm25"))
    )
    wb = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    brank = (
        bscore.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(50)
        .withColumn("bm25_rnk", F.row_number().over(wb))
        .select("doc_id", "bm25_rnk")
    )
    # dense ranker: hashing-trick bucket counts; the query's bucket
    # weights are computed driver-side with the SAME md5-prefix hash
    qb: dict[int, int] = {}
    for t in _BM25_TERMS:
        b = int(_hashlib.md5(t.encode()).hexdigest()[:4], 16) % DIM
        qb[b] = qb.get(b, 0) + 1
    qnorm = sum(w * w for w in qb.values()) ** 0.5
    bucket = F.pmod(
        F.conv(F.substring(F.md5("term"), 1, 4), 16, 10).cast("long"), F.lit(DIM)
    )
    bc = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qweight = F.lit(0)
    for b, w in qb.items():
        qweight = F.when(F.col("b") == b, F.lit(w)).otherwise(qweight)
    dense = bc.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("c") * qweight)
            / (F.sqrt(F.sum(F.col("c") * F.col("c"))) * F.lit(qnorm)),
            4,
        ).alias("cosv")
    )
    wd = Window.orderBy(F.col("cosv").desc(), F.col("doc_id"))
    drank = (
        dense.filter(F.col("cosv") > 0)
        .orderBy(F.col("cosv").desc(), F.col("doc_id")).limit(50)
        .withColumn("dense_rnk", F.row_number().over(wd))
        .select("doc_id", "dense_rnk")
    )
    fused = (
        brank.join(drank, "doc_id", "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("bm25_rnk")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("dense_rnk")), F.lit(0.0)),
                6,
            ),
        )
    )
    wf = Window.orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(20)
        .withColumn("__r", F.row_number().over(wf))
        .drop("__r")
        .select("doc_id", "bm25_rnk", "dense_rnk", "rrf")
    )


@query(
    "ann_hard_negatives",
    oracle=f"""
    WITH aug AS ({_EMB_AUG_SQL}),
    q AS (SELECT vec_id AS qid, v AS qv FROM aug
          WHERE vec_id % 23 = 0 AND vec_id < 4600),
    scored AS (
      SELECT q.qid, a.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, a.v), 4) AS cos
      FROM q JOIN aug a ON a.vec_id != q.qid
    ),
    neg AS (SELECT * FROM scored WHERE cos < 0.95)
    SELECT qid, neighbor_id, cos,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cos DESC, neighbor_id
      ) AS rnk FROM neg
    ) WHERE rnk <= 3
    """,
)
def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    vector (every 23rd id in the FIXED base id range — a constant-size
    probe set at every scale factor), the top-3 most-similar corpus
    vectors that are NOT near-duplicates (cos < 0.95) — the
    highest-value negatives for embedding-model training (too-easy
    negatives teach nothing; near-dups would be false negatives).

    Scale: the probe set is constant-size (id-range-bounded), so work is
    O(|corpus| * |probes|) — LINEAR in the corpus (the r5 scale bench
    measured the unbounded probe set at 22.6x for 10x data: n/23
    probes made the score matrix quadratic; this cap is the fix).
    Scoring is one map pass over the corpus (broadcast join, JVM-side
    cosine); the positive-exclusion is a filter BEFORE the per-query
    top-k agg, so no score matrix ever shuffles. Mining negatives for a
    full corpus-sized training set would instead reuse the LSH-blocked
    candidate path (`cosine_pairs_lsh`) per batch."""
    from ..operators.similarity import cosine, normalized
    from ..operators.windows import topk_per_group
    from ..session import fan_out

    aug = _emb_aug(spark, sf_dir)
    corpus = normalized(fan_out(aug), "vec_id", "v")
    q = corpus.filter((F.col("id") % 23 == 0) & (F.col("id") < 4600)).select(
        F.col("id").alias("qid"), F.col("unit").alias("qv")
    )
    from ..operators.similarity import dot

    scored = (
        corpus.join(F.broadcast(q), F.col("id") != F.col("qid"))
        .select(
            "qid",
            F.col("id").alias("neighbor_id"),
            F.round(dot(F.col("unit"), F.col("qv")), 4).alias("cos"),
        )
        .filter(F.col("cos") < 0.95)
    )
    ranked = topk_per_group(
        scored, ["qid"], [F.col("cos"), -F.col("neighbor_id")],
        k=3, descending=True, keep_rank=True,
    )
    return ranked.select("qid", "neighbor_id", "cos", F.col("rn").alias("rank"))


@query(
    "dedup_substring_spans",
    # Exact cross-doc duplicated-substring spans at 8-token shingle
    # granularity (the Lee et al. 2022 exact-substring dedup shape):
    # positions whose shingle occurs in >= 2 DISTINCT docs, merged into
    # maximal spans per doc (consecutive marked positions <= 8 apart
    # overlap or touch).
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    pos AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - 7)) AS p, t
      FROM tk WHERE len(t) >= 8
    ),
    sh AS (
      SELECT doc_id, p, array_to_string(t[p : p + 7], ' ') AS s FROM pos
    ),
    dup AS (
      SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2
    ),
    marked AS (SELECT doc_id, p FROM sh JOIN dup USING (s)),
    brk AS (
      SELECT doc_id, p,
             CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
                       OR lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                          IS NULL
                  THEN 1 ELSE 0 END AS nb
      FROM marked
    ),
    isl AS (
      SELECT doc_id, p,
             sum(nb) OVER (PARTITION BY doc_id ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
      FROM brk
    )
    SELECT doc_id, CAST(island AS BIGINT) AS span_seq,
           min(p) AS start_pos, max(p) + 8 AS end_pos,
           max(p) + 8 - min(p) AS n_tokens
    FROM isl GROUP BY doc_id, island
    """,
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection: every maximal token span
    (≥ 8 tokens) that also occurs verbatim in another document — the
    surgical alternative to whole-doc dedup (cut the duplicated
    boilerplate span, keep the unique remainder; Lee et al. 2022 showed
    span-level exact dedup beats doc-level on LM quality). Returns
    (doc_id, span_seq, start_pos, end_pos, n_tokens), 1-based token
    positions, end exclusive.

    Scale: positional shingles are a map-side explode (linear in corpus
    tokens); the duplicate-shingle set comes from ONE keyed agg filtered
    to distinct-doc-count ≥ 2, and the span merge is a single per-doc
    window (gaps-and-islands — break when consecutive marked positions
    are > 8 apart). r8 (sf100 task audit: 38 GB of spill on the
    text-keyed exchanges): the shingle TEXT never shuffles — rows carry
    (xxhash64, crc32) of the shingle (two independent native codegen
    hashes, 12 B of key vs ~80 B variable strings, computed inside the
    explode so the text dies in its partition; md5 was tried first and
    its per-shingle cost regressed the CPU-bound small-SF wall 1.7×).
    96 combined bits ⇔ string equality at ~4e-13 collision odds over
    the sf100 shingle population, so the oracle stays the raw-string
    formulation and hash-matches bit-for-bit.

    r9 (sf100 re-audit: 7.9 GB disk / 16 GB memory spill remained on
    the hash-keyed exchanges): three fixes to the exchange posture —
    (1) the "≥ 2 distinct docs" test is min(doc_id) ≠ max(doc_id), not
    count_distinct, whose planning dedups (k1,k2,doc_id) through a
    SECOND near-unique-key aggregate (the min/max partial state is
    16 B/key and map-side combinable); (2) both (k1,k2) exchanges run
    under a `sized_shuffle` window (partitions ∝ shingle rows, sized by
    a cheap length-scan estimate — near-unique keys get no map-side
    reduction, so per-task hash maps must be bounded by partition
    count, the r7 graph lesson); (3) the mark-back join hints
    shuffle_hash (build = the duplicated-shingle side, density-bounded)
    so no sort-merge sorts 400 M shingle rows. The shingle string is
    built ONCE per position and hashed twice (r8 advisor — the
    transform emits (p, s), the post-explode projection hashes s; both
    stay in the same codegen stage, the text still dies in its
    partition)."""
    from ..operators.graph import sized_shuffle
    from ..session import fan_out

    # shingle-count estimate, computed FIRST (r11): it sizes BOTH the
    # explode fan-out and the exchange below. One scalar length scan
    # (no split/explode — chars/token ≈ 6 on any natural corpus; an
    # over-estimate only adds partitions, which is the safe side).
    est_rows = int(
        _t(spark, sf_dir, "documents")
        .select((F.coalesce(F.sum(F.length("text")), F.lit(0)) / 6).alias("n"))
        .collect()[0]["n"]
    )
    # fan_out (r10): the per-position concat_ws + double hash explode is
    # the query's CPU core and ran at the scan's split width (3 tasks on
    # a 0.6 MB file — 2.3 s serialized on 3 of 32 cores at sf0.1).
    # r11 (VERDICT task #3): width derives from the SHINGLE count, not
    # the scan splits — at sf100 the 32 scan-sized map tasks each wrote
    # ~195 MB of shingle shuffle (round-10 task audit); ~1.5 M shingles per
    # task keeps every map task's exchange write in the tens of MB.
    d = fan_out(
        _t(spark, sf_dir, "documents"), rows=est_rows, rows_per_task=1_500_000
    ).withColumn("__t", F.split(F.lower("text"), " "))
    npos = F.size("__t") - 7
    sh = (
        d.filter(F.size("__t") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), npos),
                    lambda i: F.struct(
                        i.alias("p"),
                        F.concat_ws(" ", F.slice("__t", i, 8)).alias("s"),
                    ),
                )
            ).alias("ps"),
        )
        .select(
            "doc_id",
            F.col("ps.p").alias("p"),
            F.xxhash64("ps.s").alias("k1"),
            F.crc32("ps.s").alias("k2"),
        )
    )
    # r11 (VERDICT task #3, guide §2.3/§2.4): ONE exchange instead of
    # two. The r9 shape aggregated (k1,k2)→(min,max doc) [full-stream
    # exchange #1, near-unique keys so no map-side reduction] and then
    # shuffle-hash-joined the duplicated keys back onto the SAME shingle
    # stream [full-stream exchange #2] — and because `sh` fed two
    # consumers, the CPU-heavy explode+double-hash subtree executed
    # TWICE. The whole-partition window computes the "≥ 2 distinct
    # docs" test (min ≠ max over the (k1,k2) group) on ONE exchange of
    # the 28 B (doc_id, p, k1, k2) rows, consuming the explode once;
    # both window aggregates share one WindowExec (one sort of
    # ~1.5 M-row partitions under the sized window). Same marked set,
    # same oracle.
    with sized_shuffle(spark, est_rows, rows_per_task=1_500_000):
        wk = Window.partitionBy("k1", "k2")
        marked = (
            sh.withColumn("__d0", F.min("doc_id").over(wk))
            .withColumn("__d1", F.max("doc_id").over(wk))
            .filter(F.col("__d0") != F.col("__d1"))
            .select("doc_id", "p")
            .localCheckpoint(eager=True)
        )
    w = Window.partitionBy("doc_id").orderBy("p")
    brk = marked.withColumn(
        "nb",
        F.when(
            F.col("p") - F.lag("p").over(w) > 8, F.lit(1)
        ).when(F.lag("p").over(w).isNull(), F.lit(1)).otherwise(F.lit(0)),
    )
    isl = brk.withColumn(
        "island",
        F.sum("nb").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return isl.groupBy("doc_id", F.col("island").alias("span_seq")).agg(
        F.min("p").alias("start_pos"),
        (F.max("p") + 8).alias("end_pos"),
        (F.max("p") + 8 - F.min("p")).alias("n_tokens"),
    )


@query(
    "ann_pq_recall",
    # The planted-recall invariant (ann_lsh_recall / ann_int8_recall
    # pattern): each planted query's true nearest neighbor must survive
    # the PQ shortlist and win the exact re-rank, and the reported
    # cosine is the TRUE full-precision one.
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, list_prepend(v[1] + 0.05, v[2:]) AS qv, v
          FROM e WHERE vec_id < 10)
    SELECT vec_id + 100000 AS query_id, vec_id AS neighbor_id,
           round(list_cosine_similarity(qv, v), 4) AS cos_sim
    FROM q
    """,
)
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization search (Jégou et al. 2011): the corpus
    compressed to 8 one-byte codes/vector (64× smaller resident index),
    scanned with asymmetric-distance lookup tables, shortlist re-ranked
    at full precision. Codebooks are deterministic bounded-sample Lloyd
    iterations — no RNG (operators/similarity.py::pq_topk). Completes
    the quantized-ANN family next to int8: PQ is the memory-bound
    100 TB lever (codes + codebooks fit where fp vectors cannot)."""
    from ..operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(_planted_queries(emb), emb, dim=64, k=1)


_BLOCKED_ANN_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 40),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, e.v), 4) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
"""


@query("ann_blocked_topk", oracle=_BLOCKED_ANN_ORACLE)
def q_ann_blocked_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 over a 40-query set through the distributed blocked
    kernel. Block sizes are deliberately tiny here (10 queries / ~1/3 of
    the corpus per chunk) so the run crosses 12 block pairs and the
    global rank merge across corpus chunks is exercised; at scale the
    same code runs with executor-memory-sized blocks."""
    from ..operators.similarity import blocked_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    nc = emb.count()
    out = blocked_topk(
        queries,
        emb,
        k=5,
        query_block_rows=10,
        corpus_block_rows=max(1, nc // 3 + 1),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("cos").alias("cos_sim"),
        F.col("rank").alias("rnk"),
    )
