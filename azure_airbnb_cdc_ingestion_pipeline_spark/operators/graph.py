"""Graph operators over DataFrames: weighted PageRank (charter
extension; complements the connected-components min-label propagation in
`plans/dedup_similarity.py::q_dedup_cluster`).

PageRank as iterated join-aggregate — the standard Pregel-free Spark
formulation: ranks live in a (node, r) frame that is tiny relative to
the edge list; each iteration is one shuffle (edges ⋈ ranks on src,
re-aggregated on dst). Edges are normalized once (w / out-degree) and
persisted, so per-iteration work is O(|E|) with no recomputation of the
edge-building join. Deterministic: fixed iteration count, no RNG;
ordering ties broken by node id.

100 TB posture: the rank frame is O(|V|) and shuffles by key; edges are
the big side and are hash-partitioned by src once — the iteration
re-uses that partitioning for the probe side each round. No
driver-side state beyond the single node-count scalar.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


@contextmanager
def sized_shuffle(
    spark: SparkSession,
    input_rows: int,
    rows_per_task: int = 3_000_000,
    cap: int = 4096,
):
    """Pin ``spark.sql.shuffle.partitions`` to the input size for the
    duration of a block, yielding the chosen count.

    Why: graph kernels aggregate NEAR-UNIQUE keys (pair dedup, per-node
    stats), so the map-side partial aggregate achieves no reduction and
    its per-task hash map holds ~rows/partitions entries. A fixed
    session-level count that is right at sf0.1 overflows execution
    memory past sf10 (measured: 12.9 GB of aggregate spill and a 3-5×
    wall cliff at sf30 with 32 partitions over 108 M-row inputs). On a
    real cluster this is the per-job shuffle-partition count the
    deployment sets; here the operator derives it from the data.

    AQE's parallelism-first coalescing is disabled inside the window —
    it folds post-shuffle partitions back to ~defaultParallelism by
    SIZE, recreating exactly the oversized maps the window exists to
    avoid. Both settings are restored on exit, so LAZY frames built in
    the window must be materialized inside it (eager localCheckpoint)
    or they will execute under the session defaults.
    """
    from ..session import partitions_for

    p_n = partitions_for(spark, input_rows, rows_per_task, cap)
    conf = spark.conf
    saved = conf.get("spark.sql.shuffle.partitions")
    saved_coalesce = conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    conf.set("spark.sql.shuffle.partitions", str(p_n))
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        yield p_n
    finally:
        conf.set("spark.sql.shuffle.partitions", saved)
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved_coalesce)


@contextmanager
def _unpersist_after(frames: list):
    """Release every DataFrame appended to ``frames`` on block exit."""
    try:
        yield frames
    finally:
        for frame in frames:
            try:
                frame.unpersist(blocking=False)
            except Exception:
                pass


#: Rank rows are (long node, double r) — ~32 bytes each in a broadcast
#: hash relation. 10 MiB (Spark's autoBroadcastJoinThreshold default)
#: / 32 B ≈ 300 k nodes; stay comfortably under it.
_BROADCAST_NODE_LIMIT = 250_000

#: Re-root the rank lineage every few iterations: each round appends a
#: join+agg to the plan, and past ~8 rounds analysis/codegen time and
#: the shuffle-reuse map grow without bound.
_CHECKPOINT_EVERY = 2

#: Below this many edge rows the checkpoint+GC hygiene is pure fixed
#: overhead (r8 verdict: ~2 s of the 6.85 s sf0.1 wall for a 20-row
#: answer): five iterations' superseded shuffle generations over <20 M
#: 24 B rows total a few GB of scratch — harmless to retain for the
#: job's lifetime — while each System.gc() on a large local heap costs
#: ~0.5-1 s and each eager checkpoint a full job barrier. Above it, the
#: r7 sf100 post-mortem applies (retained generations filled the disk
#: before iteration 3) and the hygiene stays on every _CHECKPOINT_EVERY.
_CHECKPOINT_MIN_EDGES = 20_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 5,
    damping: float = 0.85,
    check_dangling: bool = True,
    deg: DataFrame | None = None,
    e_rows: int | None = None,
) -> DataFrame:
    """Weighted PageRank over an edge list with no dangling nodes
    (every node has at least one out-edge — true for symmetrized
    graphs). Returns (node, pagerank) for every node.

    The no-dangling precondition is ENFORCED (one anti-join count up
    front, same cost class as the degree scan): a node appearing as dst
    but never as src would silently leak rank mass every iteration, so
    we raise instead of returning quietly-wrong ranks. Pass
    ``check_dangling=False`` only when the caller has symmetrized the
    graph itself.

    The per-iteration rank broadcast is size-gated on |V|: a broadcast
    *hint* is not adaptive — Spark will attempt it at any size and OOM
    the driver past the broadcast limit — so beyond
    ``_BROADCAST_NODE_LIMIT`` nodes the hint is dropped and each
    iteration is a shuffled hash join against the persisted,
    pre-partitioned edge frame (both branches plan-asserted in
    tests/test_plan_assertions.py)."""
    # deg is O(|V|) and consumed by FOUR separate jobs (dangling scan,
    # n-count, norm join build, rank init) — persist it. r6 measured a
    # deg cache 1.5x slower at sf0.1, but that was under the old
    # pre-aggregated edge build where deg's lineage was one cheap agg;
    # with multigraph edges (see q_graph_pagerank) the lineage behind
    # deg is the full O(|E|) pair expansion, and the sf30 phase
    # diagnostic measured 18.8 s of pure recompute per extra consumer.
    # r8 (advisor): both persists route through track_persist so
    # release_persisted() can reclaim them between catalog queries —
    # the bare .persist() leaked two cached frames per invocation for
    # the lifetime of a long bench session. They cannot be unpersisted
    # inside this function: the returned rank frame is lazy and its
    # lineage re-enters `norm` on every downstream action.
    from ..session import track_persist

    # r9: callers that can compute the out-weight sums WITHOUT the edge
    # expansion (the factored identity deg(p) = Σ_o m(sz−m) needs only
    # the O(|rows|) occurrence table) pass ``deg`` — columns (src,
    # _wsum) — and skip aggregating the O(|E|) pair projection here.
    # r10 advisor: the checkpoint-hygiene gate needs |E| as a ROW count,
    # not a weight sum (generic weighted callers would gate a weight sum
    # against an edge-count threshold — hygiene wrongly on/off). When we
    # aggregate deg ourselves, count rows in the SAME shuffle (free);
    # callers that pass a precomputed ``deg`` should pass ``e_rows`` too,
    # else the gate falls back to sum(_wsum) — exact only when that deg
    # is row-count-equivalent (unit weights / the factored copurchase
    # deg, where Σ_wsum == occurrence-pair row count by construction).
    _own_deg = deg is None
    if _own_deg:
        deg = edges.groupBy(src).agg(
            F.sum(weight).alias("_wsum"),
            F.count(F.lit(1)).alias("_ecnt"),
        )
    deg = track_persist(deg, StorageLevel.MEMORY_AND_DISK)
    if check_dangling:
        dangling = (
            edges.select(F.col(dst).alias("_n"))
            .distinct()
            .join(deg.select(F.col(src).alias("_n")), "_n", "left_anti")
            .count()
        )
        if dangling:
            raise ValueError(
                f"pagerank: {dangling} dangling node(s) (appear as {dst} "
                f"but have no out-edge) — rank mass would be lost. "
                f"Symmetrize the graph or pass check_dangling=False."
            )
    # The deg attach is a SHUFFLE_HASH join with deg (O(|V|)) as the
    # build side: a sort-merge join here would sort the full O(|E|)
    # edge list (spill cliff — the sf30 diagnostic put the old edge
    # build at 233 s of the 419 s total), and the hint also pins the
    # join to a SHUFFLED plan at every |V|, so norm's output
    # partitioning is hashpartitioning(src) BY CONSTRUCTION — the
    # persisted frame re-enters every iteration exchange-free. (The old
    # explicit `.repartition(_s)` duplicated that exchange; the join
    # already leaves the data clustered on src.)
    norm = track_persist(
        edges.join(deg.hint("shuffle_hash"), src)
        .select(
            F.col(src).alias("_s"),
            F.col(dst).alias("_d"),
            (F.col(weight) / F.col("_wsum")).alias("_p"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    n = deg.count()  # single scalar — bounded driver state
    small = n <= _BROADCAST_NODE_LIMIT
    # |E| (multigraph rows, unit weights ⇒ Σ out-weight == row count)
    # from the already-persisted O(|V|) deg frame — a near-free agg, vs
    # a norm.count() that would serially materialize the edge layout —
    # gates the checkpoint+GC cadence below (r9: hygiene off at small
    # |E|, where it was pure fixed overhead).
    if e_rows is None:
        _gate_col = "_ecnt" if _own_deg else "_wsum"
        e_rows = int(
            deg.agg(F.coalesce(F.sum(_gate_col), F.lit(0.0)).alias("e"))
            .collect()[0]["e"]
        )
    hygiene = e_rows > _CHECKPOINT_MIN_EDGES
    ranks = deg.select(F.col(src).alias("node"), F.lit(1.0 / n).alias("r"))
    for it in range(iterations):
        # ranks is O(|V|): below the gate, broadcast it so each
        # iteration's probe is a map-side hash join over the persisted
        # edge partitions (only shuffle per round = the partial-agged
        # groupBy on dst); above it, a SHUFFLE_HASH join with ranks as
        # the build side — per-partition build is |V|/P rows, and the
        # cached norm partitions stream through unsorted (sort-merge
        # would re-sort O(|E|) every round).
        probe = F.broadcast(ranks) if small else ranks.hint("shuffle_hash")
        ranks = (
            norm.join(probe, norm["_s"] == probe["node"])
            .groupBy("_d")
            .agg(F.sum(F.col("r") * F.col("_p")).alias("_in"))
            .select(
                F.col("_d").alias("node"),
                (F.lit((1.0 - damping) / n) + damping * F.col("_in")).alias("r"),
            )
        )
        # r7: cadence dropped 4 → 2 and the small-iteration-count guard
        # removed — at the old setting a 5-iteration run NEVER
        # checkpointed, so every round's shuffle generation stayed
        # referenced (and on disk) to the end. The checkpoint
        # materializes only the O(|V|) rank frame; the payoff is that
        # everything older becomes unreachable and reclaimable.
        if hygiene and (it + 1) % _CHECKPOINT_EVERY == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
            # r7 (sf100 post-mortem): shuffle FILES for superseded
            # iterations are only deleted when ContextCleaner notices
            # their ShuffleDependency is unreachable — which needs a JVM
            # GC that a long iterative job never triggers on its own.
            # At 3.15B co-purchase edges the retained generations filled
            # the disk (42 exchanges × tens of GB) before iteration 3.
            # The checkpoint above just cut the only live reference to
            # the older rounds, so force the GC here and let the cleaner
            # reclaim their scratch; peak disk then holds ~one
            # iteration's shuffle generation instead of all of them.
            ranks.sparkSession.sparkContext._jvm.System.gc()
    return ranks.select("node", F.col("r").alias("pagerank"))


def _copurchase_pagerank_driver(
    spark: SparkSession,
    occ_pdf,
    ok: str,
    pk: str,
    iterations: int,
    damping: float,
) -> DataFrame:
    """Vectorized driver kernel for the factored co-purchase PageRank:
    the identity contrib(p) = Σ_{o∋p} m_p·(T(o) − m_p·x(p)) with
    T(o) = Σ_{q∈o} m_q·x(q), x = r/deg — numpy segment sums over the
    (order, part, multiplicity) occurrence table, rows sorted by order
    so every reduction order is deterministic."""
    import numpy as np
    import pandas as pd

    o = occ_pdf[ok].to_numpy(np.int64)
    p = occ_pdf[pk].to_numpy(np.int64)
    m = occ_pdf["_m"].to_numpy(np.float64)
    if len(o) == 0:
        return spark.createDataFrame([], "node long, pagerank double")
    # canonical (order, part) row order: toPandas row order is partition
    # arrival order — nondeterministic — and every reduction below sums
    # in row order, so sort first and all results are bit-stable run to
    # run (stronger than the distributed path, whose partial-agg merge
    # order floats with partitioning)
    srt = np.lexsort((p, o))
    o, p, m = o[srt], p[srt], m[srt]
    _, oidx = np.unique(o, return_inverse=True)
    starts = np.flatnonzero(np.r_[True, oidx[1:] != oidx[:-1]])
    sz = np.repeat(np.add.reduceat(m, starts), np.diff(np.r_[starts, len(m)]))
    keep = sz > m  # a part that IS the whole order carries no cross-edges
    p, m, sz, oidx = p[keep], m[keep], sz[keep], oidx[keep]
    if len(p) == 0:
        return spark.createDataFrame([], "node long, pagerank double")
    # re-derive order segments after the filter (some orders vanish)
    starts = np.flatnonzero(np.r_[True, oidx[1:] != oidx[:-1]])
    parts, pidx = np.unique(p, return_inverse=True)
    n = len(parts)
    # per-part statics: deg = Σ m(sz−m), c2 = Σ m² / deg
    deg = np.zeros(n)
    np.add.at(deg, pidx, m * (sz - m))
    sq = np.zeros(n)
    np.add.at(sq, pidx, m * m)
    c2 = sq / deg
    r = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    row_order = np.add.reduceat  # alias for clarity below
    for _ in range(iterations):
        x = r / deg
        t_seg = row_order(m * x[pidx], starts)  # T(o) per kept order
        t_row = np.repeat(t_seg, np.diff(np.r_[starts, len(m)]))
        s1 = np.zeros(n)
        np.add.at(s1, pidx, m * t_row)
        r = base + damping * (s1 - r * c2)
    return spark.createDataFrame(
        pd.DataFrame({"node": parts, "pagerank": r}),
        "node long, pagerank double",
    )


def copurchase_pagerank(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    part_col: str = "l_partkey",
    iterations: int = 5,
    damping: float = 0.85,
    rows_per_task: int = 3_000_000,
    small_input_rows: int = 30_000_000,
    driver_rows: int = 2_000_000,
) -> DataFrame:
    """PageRank over the co-purchase part graph WITHOUT materializing
    the pair expansion — the factored (bipartite) formulation.

    The co-purchase graph is a two-hop projection of the order↔part
    bipartite table, so |E| = Σ_orders len(o)² grows much faster than
    the underlying data (sf30: 720 M pair rows from 180 M lineitem
    rows; at 100 TB the projection simply does not fit). But PageRank
    never needs the pairs: with x(p) = r(p)/deg(p) and T(o) =
    Σ_{q∈o} m_q·x(q) (m = occurrence multiplicity of a part within an
    order), the per-node inflow is

        Σ_{s→d} w(s,d)·x(s)  =  Σ_{o∋d} m_d·(T(o) − m_d·x(d))

    i.e. one per-order sum plus a per-row exclusion term — every
    iteration touches only the O(|lineitem|) occurrence table, never
    the O(Σ len²) pairs. Same fixed point as
    ``pagerank(copurchase_edges(li))`` (parity-tested), same DuckDB
    oracle. Measured at sf30: the pair-materializing path spent 155 s
    building edges/degrees (12.9 GB agg spill) + ~35 s/iteration over
    720 M cached rows; this path never allocates any of it.

    Shuffle partitions are sized to the input (``rows_per_task``) for
    the duration of the build+iterations and restored after: the
    near-unique (order, part) grouping and the O(|V|)-key contribution
    aggregates need per-task hash maps that fit in execution memory,
    which a fixed session-level 32 cannot provide past sf10 (the
    measured spill cliff). On a real cluster this is the
    shuffle-partition count the deployment would set for the job.
    """
    spark = lineitem.sparkSession
    sc = spark.sparkContext
    ok, pk = order_col, part_col
    nrows = lineitem.count()  # single scalar; parquet count is metadata-cheap
    if nrows == 0:
        return lineitem.select(
            F.col(pk).alias("node"), F.lit(0.0).alias("pagerank")
        ).limit(0)
    if nrows <= driver_rows:
        # r10 size dispatch (guide §1.2): below ~2 M lineitem rows the
        # occurrence table is ≤ ~48 MB collected (3 × 8 B columns,
        # |occ| ≤ |rows|; bounded by construction under the session
        # factory's maxResultSize floor), while the distributed
        # iteration pays 12+ AQE stage barriers + 5 broadcast builds
        # for a 5-round fixpoint over tiny frames — measured 4.0-6.5 s
        # at sf0.1 of which < 1 s is compute. One agg + one Arrow
        # collect + vectorized numpy rounds (the SAME factored identity
        # as the loop below, summation in deterministic sorted order)
        # returns the identical fixed point — parity-pinned in
        # tests/test_extensions_r5.py and the same DuckDB oracle at
        # every SF. Both distributed paths are unchanged past the gate.
        occ_pdf = (
            lineitem.groupBy(ok, pk)
            .agg(F.count(F.lit(1)).alias("_m"))
            .toPandas()
        )
        return _copurchase_pagerank_driver(
            spark, occ_pdf, ok, pk, iterations, damping
        )
    if nrows <= small_input_rows:
        # Size dispatch (the repo's auto_topk pattern): below this the
        # pair projection comfortably fits and the edge-list path is
        # strictly faster — ranks broadcast, ONE shuffle per iteration,
        # everything lazy in a single job. The factored path's extra
        # per-round stages only pay for themselves once the projection
        # outgrows the data (measured crossover between sf10 and sf30:
        # pair path 37→419 s, factored ~65→~190 s). Identical fixed
        # point — parity-tested in tests/test_extensions_r5.py.
        a = lineitem.select(F.col(ok).alias("_k"), F.col(pk).alias("src"))
        b = lineitem.select(F.col(ok).alias("_k"), F.col(pk).alias("dst"))
        edges = (
            a.join(b, "_k")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst", F.lit(1.0).alias("w"))
        )
        # degree via the factored identity deg(p) = Σ_o m·(sz−m): three
        # aggregates over the O(|rows|) occurrence table instead of one
        # over the O(Σ len²) pair expansion (r9 — the pair-side deg agg
        # was the single most expensive stage of the small path)
        occ = lineitem.groupBy(ok, pk).agg(F.count(F.lit(1)).alias("_m"))
        sz = occ.groupBy(ok).agg(F.sum("_m").alias("_sz"))
        deg = (
            occ.join(sz.hint("shuffle_hash"), ok)
            .groupBy(pk)
            .agg(
                F.sum(
                    F.col("_m").cast("double")
                    * (F.col("_sz") - F.col("_m"))
                ).alias("_wsum")
            )
            .filter(F.col("_wsum") > 0)  # parts alone in 1-part orders
            .select(F.col(pk).alias("src"), "_wsum")
        )
        return pagerank(
            edges,
            iterations=iterations,
            damping=damping,
            check_dangling=False,  # symmetric by construction
            deg=deg,
        )
    _persisted: list[DataFrame] = []
    # (r11 note: int32 keys were tried and measured a no-op — shuffle
    # rows are UnsafeRow-padded to 8 B per field, so narrower key types
    # change neither the exchange nor, materially, the RLE-compressed
    # columnar cache. Kept long.)
    with sized_shuffle(spark, nrows, rows_per_task) as p_n, _unpersist_after(
        _persisted
    ):
        # ONE raw exchange funds the whole build: repartitioning the
        # two-column projection by order key satisfies the clustering
        # requirement of the (order, part) multiplicity aggregate AND
        # the order-size window, so everything below plans exchange-free
        # on top of it. r10 (verdict task #3): the r9 build read that
        # exchange TWICE (occ agg + the separate order-size agg, 27 s of
        # the 150 s sf30 wall) and then paid a join to glue them; the
        # whole-partition window computes _sz in the same pass as occ.
        #
        # occurrence multiplicity m: a part CAN repeat within an order;
        # pairs between its own occurrences are src==dst and excluded,
        # pairs to others multiply — m carries that exactly.
        #
        # Rows with _sz == _mm (the part IS the whole order) carry no
        # cross-edges: their inflow term m·(T(o) − m·x) and their own
        # T-contribution cancel exactly, and they add 0 to deg — so
        # they are dropped from the iteration layout AND from the _sq
        # stat together (the fixed point is unchanged; parity-tested).
        from pyspark.sql.window import Window

        rows = lineitem.select(ok, pk).repartition(p_n, ok)
        occ = rows.groupBy(ok, pk).agg(F.count(F.lit(1)).alias("_m"))
        # r11 (guide §2.3): the iterated cache is THREE columns — the
        # old 4th (_sz) was only consumed by the stats build, yet every
        # iteration re-scanned it (2 cache reads × 5 rounds × 25 % dead
        # bytes). The build window's sort order (ok) rides into the
        # cache: InMemoryRelation preserves the cached plan's
        # outputOrdering, which is what lets every per-iteration and
        # stats window below run STREAMING (no re-sort — verified in
        # the round-11 graph_pagerank_dist plan dump: one Sort node total,
        # inside the build).
        li_o = (
            occ.withColumn("_sz", F.sum("_m").over(Window.partitionBy(ok)))
            .filter(F.col("_sz") > F.col("_m"))
            .select(
                F.col(ok).alias("_o"),
                F.col(pk).alias("_p"),
                F.col("_m").cast("double").alias("_mm"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        _persisted.append(li_o)
        # per-node statics — the build's only O(rows) shuffle:
        # deg = Σ_o m(sz−m) (weighted out-degree), c2 = Σ_o m²/deg (the
        # static coefficient of the self-exclusion term — see loop).
        # Every kept row has sz > m, so _deg > 0 by construction.
        # _sz is re-derived from the cache by a STREAMING window: a
        # dropped row (sz == m) is always the ONLY row of its order (a
        # second part-row makes sz > m for both), so surviving orders
        # keep all their rows and the re-sum equals the original _sz.
        stats = (
            li_o.withColumn(
                "_sz", F.sum("_mm").over(Window.partitionBy("_o"))
            )
            .groupBy("_p")
            .agg(
                F.sum(F.col("_mm") * (F.col("_sz") - F.col("_mm"))).alias("_deg"),
                F.sum(F.col("_mm") * F.col("_mm")).alias("_sq"),
            )
            .select(
                "_p",
                "_deg",
                (F.col("_sq") / F.col("_deg")).alias("_c2"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        _persisted.append(stats)
        n = stats.count()
        if n == 0:
            return lineitem.select(
                F.col(pk).alias("node"), F.lit(0.0).alias("pagerank")
            ).limit(0)
        # ranks carries deg and the static c2 along so the loop is free
        # of O(|V|) side joins beyond the final combine; it stays
        # _p-hash-partitioned at p_n through every round (groupBy(_p)
        # output → alias-preserving project → checkpoint), so the
        # combine join is exchange-free.
        ranks = stats.select(
            F.col("_p").alias("node"),
            F.lit(1.0 / n).alias("r"),
            "_deg",
            "_c2",
        ).localCheckpoint(eager=True)

        # Loop dispatch (r10, verdict task #3): broadcasting the rank
        # VECTOR (node, x) — O(|V|), 16 B/row — lets T(o) aggregate
        # directly on the _o-clustered cache with NO exchange, cutting
        # the per-iteration data movement in HALF (the r9 loop paid two
        # O(rows) skinny exchanges per round: md·r re-keyed by order,
        # then mm·T by part) and retiring the second (_p-clustered)
        # iteration layout entirely. Gated at ~80 % of the session's
        # maxResultSize (the broadcast rides one driver collect — same
        # budget contract as the LSH broadcast-verify gate); past the
        # gate (|V| ≳ 10⁸ at the default 4 g) the two-layout shuffle
        # loop below keeps the operator unbounded-scale-safe.
        budget_mb = 2048.0
        try:
            from pyspark.util import _parse_memory

            mrs = spark.conf.get("spark.driver.maxResultSize", "1g")
            if mrs not in ("0", "0b"):
                budget_mb = min(budget_mb, 0.8 * _parse_memory(mrs))
        except Exception:
            pass
        if n * 16 <= budget_mb * (1 << 20):
            # (r11 note: a numpy mapInArrow round kernel — rank vector
            # as a plain numpy broadcast, segmented reduceat for T —
            # was tried and REVERTED: the JVM↔Arrow row conversion on
            # the 60 M-row cache cost ~7 µs/row, 5-10× the whole JVM
            # stage it replaced; sf10 wall 39 → 151 s. Guide §4.1's
            # boundary-cost warning, measured.)
            for _it in range(iterations):
                # x = r/deg; T(o) = Σ_{q∈o} m_q·x(q) — broadcast-join +
                # STREAMING window sum over the ok-sorted cache (r11,
                # guide §2.4/§1.2): the r10 loop computed T as a
                # complete-mode hash aggregate and then shuffle-hash-
                # joined it BACK onto a second scan of the cache — two
                # cache reads and three hash-table passes per round.
                # The whole-partition window emits T on every row of
                # ONE cache scan with no sort (the cache is already
                # ordered by _o from the build window) and no hash
                # state; contrib(p) = Σ_o m_p·T(o) − r_p·c2(p), so the
                # ONLY exchange per round stays the partial-agged mm·T
                # partials keyed by part.
                bx = F.broadcast(
                    ranks.select(
                        F.col("node").alias("_bn"),
                        (F.col("r") / F.col("_deg")).alias("_x"),
                    )
                )
                term1 = (
                    li_o.join(bx, li_o["_p"] == bx["_bn"])
                    .withColumn(
                        "_t",
                        F.sum(F.col("_mm") * F.col("_x")).over(
                            Window.partitionBy("_o")
                        ),
                    )
                    .select("_p", (F.col("_mm") * F.col("_t")).alias("_c"))
                    .groupBy("_p")
                    .agg(F.sum("_c").alias("_s1"))
                )
                ranks = (
                    term1.join(
                        ranks.hint("shuffle_hash"), term1["_p"] == ranks["node"]
                    )
                    .select(
                        F.col("_p").alias("node"),
                        (
                            F.lit((1.0 - damping) / n)
                            + damping
                            * (F.col("_s1") - F.col("r") * F.col("_c2"))
                        ).alias("r"),
                        "_deg",
                        "_c2",
                    )
                )
                # checkpoint every round: re-roots the lineage AND cuts
                # the only live reference to the previous round's
                # shuffle files; the forced GC lets ContextCleaner
                # reclaim them so peak scratch disk stays bounded (the
                # sf100 pair-path run filled the disk without this).
                # r11: GC every SECOND round — each forced GC on the
                # 64 g cache-laden heap measured 3-5 s of the ~10 s
                # per-iteration gaps at sf100, and two retained
                # generations (~15 GB compressed) are comfortably
                # bounded. Small inputs never reach here — the dispatch
                # above owns them.
                ranks = ranks.localCheckpoint(eager=True)
                if _it % 2 == 1 or _it + 1 == iterations:
                    sc._jvm.System.gc()
            return ranks.select(
                F.col("node").cast("long").alias("node"),
                F.col("r").alias("pagerank"),
            )

        # over-budget fallback: second iteration layout partitioned by
        # part key carrying md = m/deg premultiplied — the rank join
        # each round is co-partitioned probe + O(|V|/p_n) build
        li_p = (
            li_o.repartition(p_n, "_p")
            .join(stats.hint("shuffle_hash"), "_p")
            .select("_o", "_p", (F.col("_mm") / F.col("_deg")).alias("_md"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        _persisted.append(li_p)
        li_p.count()  # materialize so iterations read cache, not lineage
        for _it in range(iterations):
            # per round: two partial-aggregated skinny exchanges (md·r
            # by order; mm·T by part), each at p_n so per-task maps fit
            # execution memory.
            t = (
                li_p.join(ranks.hint("shuffle_hash"), li_p["_p"] == ranks["node"])
                .groupBy("_o")
                .agg(F.sum(F.col("_md") * F.col("r")).alias("_t"))
            )
            term1 = (
                li_o.join(t.hint("shuffle_hash"), "_o")
                .select("_p", (F.col("_mm") * F.col("_t")).alias("_c"))
                .groupBy("_p")
                .agg(F.sum("_c").alias("_s1"))
            )
            ranks = (
                term1.join(ranks.hint("shuffle_hash"), term1["_p"] == ranks["node"])
                .select(
                    F.col("_p").alias("node"),
                    (
                        F.lit((1.0 - damping) / n)
                        + damping
                        * (F.col("_s1") - F.col("r") * F.col("_c2"))
                    ).alias("r"),
                    "_deg",
                    "_c2",
                )
            )
            ranks = ranks.localCheckpoint(eager=True)
            sc._jvm.System.gc()
        return ranks.select(
            F.col("node").cast("long").alias("node"),
            F.col("r").alias("pagerank"),
        )


def copurchase_edges(lineitem: DataFrame, aggregate: bool = True) -> DataFrame:
    """Symmetric co-purchase part graph: parts sharing an order are
    linked, weighted by co-occurrence count. The self-join is keyed on
    l_orderkey (bounded fan-out: TPC-H orders hold <= 7 lines, so pair
    expansion is a small constant per order — never all-pairs).

    ``aggregate=False`` returns the raw unit-weight MULTIGRAPH pairs
    (one row per co-occurrence, w=1) instead of collapsing duplicates.
    For rank-style consumers that re-aggregate anyway (PageRank sums
    contributions per dst; Σ over pair rows of r/deg ≡ Σ over distinct
    edges of r·w/Σw) the collapse is pure overhead — and past sf10 it
    is the dominant cost: the (src,dst) keys are ~99.96 % unique
    (717.6 M distinct of 720 M pairs at sf30), so the partial hash
    aggregate achieves no reduction, overflows its per-task map, and
    degenerates into a full sort-spill of the pair set (measured: the
    aggregated build put 233 s of pagerank's 419 s sf30 wall in this
    one exchange chain)."""
    a = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = lineitem.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    pairs = a.join(b, "ok").filter(F.col("src") != F.col("dst"))
    if not aggregate:
        return pairs.select("src", "dst", F.lit(1.0).alias("w"))
    return pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
