"""Deterministic scale-factor replicator: sf0.1 -> sfN for scale-validation
benchmarks (VERDICT r3 task #1).

Scales the driver's synthetic tables by an integer multiplier K while
preserving the WORKLOAD SHAPE, so sf0.1 -> sf1 wall-time ratios measure the
engine, not an artifact of the generator:

- ``region``/``nation`` stay fixed (TPC-H semantics: dims of constant size).
- Fact/dim tables replicate K times with per-replica KEY STRIDES; foreign
  keys shift by the same stride, so every join stays within its replica and
  per-key join degrees / group sizes match the base exactly.
- ``documents``: each replica rewrites the vocabulary with a bijection
  (every word gains a ``_r<replica>`` suffix). A bijective token renaming
  is the text analog of the embeddings' rotation isometry: every
  token-level dedup measure (minhash/shingle Jaccard, simhash votes,
  n-gram overlap, substring spans) is INVARIANT under it, so all planted
  intra-replica near-dup structure is EXACTLY the base structure, while
  cross-replica token overlap is exactly zero — no replica pair can be a
  near-dup under any measure, for any doc shape. (Earlier positional
  substitution schemes left short/repetitive docs — occurrence-weighted
  simhash dominated by repeated common words — within Hamming 3 across
  replicas: one 18-word doc produced 207k cross-replica pairs at K=1000,
  output quadratic in K; the bench measured the generator, not the
  engine.) Near-dup density therefore scales linearly, as in an organic
  corpus.
- ``embeddings``: each replica cyclically rotates the vector by
  r*dim//K positions. Rotations of high-dim pseudo-random vectors are
  near-orthogonal to the base (replicas aren't near-dups), norms are
  preserved, and intra-replica geometry is EXACTLY the base geometry
  (rotation is an isometry), so planted near-dup structure scales linearly.

Everything is a pure function of (base bytes, K) — no RNG, no timestamps —
so reruns are byte-identical and comparisons across rounds are meaningful.

Usage: python tools/gen_sf.py [--base /root/testdata/sf0.1] [--k 10]
                              [--out /root/repo/.scale/sf1]
Writes one parquet file per table (row-group size 128k so Spark still
parallelizes single-file scans).
"""

from __future__ import annotations

import argparse
import os

import duckdb

# per-table id strides: replica r adds r*stride to the table's own key and
# to every foreign key referencing it. Strides clear the base key range by
# >6x so replica id spaces never collide; the embeddings stride also clears
# the +200_000*j id range the planted-ANN query corpus synthesizes.
#
# documents (r6 fix): the query-side near/chain/exact augmentations add
# +100_000 / +200_000 to doc_id, so the stride must clear base_docs +
# 200_000 — the old 100_000 stride made EVERY aug id collide with the next
# replica's real doc (offset == stride), and simhash's duplicate-id vote
# merge turned each collision into a common-token-skeleton fingerprint:
# ~K/11 per base family, mutually near-identical, C(K/11, 2) quadratic
# pair mass (measured: 72.7x output pairs for 10x docs at sf10->sf100,
# in round 6's first sf100 run). 10_000_000 gives 50x clearance, same
# headroom class as the embeddings stride.
STRIDES = {
    "customer": 100_000,
    "supplier": 10_000,
    "part": 100_000,
    "orders": 1_000_000,
    "events_id": 1_000_000,
    "events_user": 1_000_000,
    "documents": 10_000_000,
    "embeddings": 10_000_000,
}

COPY_OPTS = "(FORMAT PARQUET, ROW_GROUP_SIZE 131072)"
# documents/embeddings: few rows but CPU-heavy per row — small row groups
# so Spark's size-based splits are all non-empty and the per-row kernels
# parallelize (sf10 docs in 131072-row groups gave 5 non-empty splits on
# 32 cores; real multi-file tables don't have this problem)
COPY_OPTS_WIDE = "(FORMAT PARQUET, ROW_GROUP_SIZE 16384)"


def _replicated(con: duckdb.DuckDBPyConnection, base: str, table: str,
                k: int, select_r: str) -> str:
    """SQL for K replicas of ``table``, with ``select_r`` projecting the
    per-replica row (r = replica index, 0 = identity)."""
    return f"""
        SELECT {select_r}
        FROM read_parquet('{base}/{table}.parquet'),
             (SELECT unnest(range({k})) AS r) reps
    """


def generate(base: str, out: str, k: int,
             tables: set[str] | None = None) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    S = STRIDES

    def copy(table: str, sql: str) -> None:
        if tables is not None and table not in tables:
            return
        opts = COPY_OPTS_WIDE if table in ("documents", "embeddings") else COPY_OPTS
        con.sql(f"COPY ({sql}) TO '{out}/{table}.parquet' {opts}")
        n = con.sql(
            f"SELECT count(*) FROM read_parquet('{out}/{table}.parquet')"
        ).fetchone()[0]
        print(f"  {table}: {n} rows")

    for t in ("region", "nation"):
        copy(t, f"SELECT * FROM read_parquet('{base}/{t}.parquet')")

    copy("customer", _replicated(con, base, "customer", k, f"""
        c_custkey + r * {S['customer']} AS c_custkey,
        c_name, c_nationkey, c_acctbal, c_mktsegment"""))

    copy("supplier", _replicated(con, base, "supplier", k, f"""
        s_suppkey + r * {S['supplier']} AS s_suppkey,
        s_name, s_nationkey, s_acctbal"""))

    copy("part", _replicated(con, base, "part", k, f"""
        p_partkey + r * {S['part']} AS p_partkey,
        p_name, p_brand, p_type, p_size, p_retailprice"""))

    copy("orders", _replicated(con, base, "orders", k, f"""
        o_orderkey + r * {S['orders']} AS o_orderkey,
        o_custkey + r * {S['customer']} AS o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"""))

    copy("lineitem", _replicated(con, base, "lineitem", k, f"""
        l_orderkey + r * {S['orders']} AS l_orderkey,
        l_partkey + r * {S['part']} AS l_partkey,
        l_suppkey + r * {S['supplier']} AS l_suppkey,
        l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
        l_returnflag, l_linestatus, l_shipdate"""))

    copy("events", _replicated(con, base, "events", k, f"""
        event_id + r * {S['events_id']} AS event_id,
        ts,
        user_id + r * {S['events_user']} AS user_id,
        event_type, value, props"""))

    # documents: per-replica vocabulary BIJECTION — every word gains a
    # '_r<replica>' suffix (base words are plain lowercase alphabetics,
    # so the suffix cannot collide with an existing word or another
    # replica's suffix).
    #
    # r6 fix (supersedes the r5 stride-3 positional substitution): a
    # bijective token renaming preserves every token-level dedup
    # measure EXACTLY within a replica (minhash/shingle Jaccard,
    # simhash, n-gram overlap are all functions of token-identity
    # structure, which a bijection preserves) and makes cross-replica
    # token overlap exactly ZERO. Positional substitution left the
    # UNSUBSTITUTED words shared across replicas; for short docs with
    # heavy word repetition the occurrence-weighted simhash vote is
    # dominated by those repeated common words (vote correlation
    # ρ = Σc_common² / Σc_total² → 1), so whole replica families sat
    # within Hamming 3 of each other: at K=1000 ONE 18-word doc
    # produced 207,606 cross-replica pairs (~C(K,2)·p) and the family
    # output grew 52× for 10× docs (SCALE diag, round 6). The bijection
    # closes that class of artifact for any doc shape, at any K.
    copy("documents", _replicated(con, base, "documents", k, f"""
        doc_id + r * {S['documents']} AS doc_id,
        CASE WHEN r = 0 THEN text ELSE array_to_string(
            list_transform(split(text, ' '),
                           w -> w || '_r' || r::VARCHAR),
            ' ') END AS text,
        lang, source,
        CASE WHEN r = 0 THEN n_chars ELSE NULL END AS n_chars"""))
    # recompute n_chars for perturbed replicas (base rows keep theirs)
    con.sql(f"""
        COPY (SELECT doc_id,
                     text,
                     lang, source,
                     coalesce(n_chars, length(text)) AS n_chars
              FROM read_parquet('{out}/documents.parquet'))
        TO '{out}/documents.parquet' {COPY_OPTS_WIDE}
    """)

    # embeddings: per-replica cyclic rotation (isometry; replicas
    # near-orthogonal to base for pseudo-random vectors).
    #
    # K > dim (r5 fix): rotation alone yields only `dim` distinct
    # isometries — at K=100/dim=64 the old r*dim//K offsets collided 36
    # times per base vector, planting ~C(collisions,2) EXACT-duplicate
    # replica pairs per vector (quadratic in K) and making the sf10
    # scale bench measure the generator, not the engine. Past r = dim
    # the replica is the NEGATED rotation (also an isometry): cos
    # between a rotation and any negated rotation is the negative of a
    # near-orthogonal value — still far from every near-dup threshold —
    # so all 2·dim isometries are pairwise non-near-dup. K ≤ dim keeps
    # the original offsets (sf1/sf3 artifacts stay byte-identical).
    dim = con.sql(
        f"SELECT len(embedding) FROM read_parquet('{base}/embeddings.parquet') LIMIT 1"
    ).fetchone()[0]
    if k <= dim:
        rot = f"(r * len(embedding)) // {k}"
        neg_from = k + 1  # never triggers
        emb_case = f"""
        CASE WHEN r = 0 THEN embedding
             WHEN r < {neg_from} THEN list_concat(
                 embedding[1 + ({rot}):], embedding[:({rot})])::FLOAT[]
             ELSE list_transform(list_concat(
                 embedding[1 + ({rot}):], embedding[:({rot})]),
                 x -> -x)::FLOAT[] END"""
    elif k <= 2 * dim:
        rot = f"r % {dim}"
        neg_from = dim
        emb_case = f"""
        CASE WHEN r = 0 THEN embedding
             WHEN r < {neg_from} THEN list_concat(
                 embedding[1 + ({rot}):], embedding[:({rot})])::FLOAT[]
             ELSE list_transform(list_concat(
                 embedding[1 + ({rot}):], embedding[:({rot})]),
                 x -> -x)::FLOAT[] END"""
    else:
        # k > 2·dim (r6, the sf100 push): decompose r = q·(2·dim) + g.
        # g selects one of the 2·dim rotation/negation isometries (the
        # k ≤ 2·dim scheme, byte-identical for r < 2·dim); q > 0
        # composes an md5-derived ±1 diagonal — also an isometry, so
        # within-replica geometry (and every planted near-dup pair) is
        # still EXACTLY the base geometry. Pairwise distinctness: same
        # g, different q → the relative isometry is a random-half sign
        # pattern, cos ≈ N(0, 1/√dim) — nowhere near any near-dup
        # threshold; different g → near-orthogonal by rotation as
        # before. Budget becomes dim·2^dim ≫ any practical k, and the
        # sign bits come from md5 (portable, version-stable), not
        # DuckDB's internal hash().
        emb_case = f"""
        CASE WHEN r = 0 THEN embedding
             ELSE list_transform(range({dim}), i ->
               (CASE WHEN (r % {2 * dim}) >= {dim} THEN -1.0 ELSE 1.0 END)
               * (CASE WHEN r < {2 * dim} THEN 1.0
                       WHEN ('0x' || substr(md5(((r // {2 * dim}) * 1000003
                              + i)::VARCHAR), 1, 2))::INT % 2 = 0 THEN 1.0
                       ELSE -1.0 END)
               * embedding[((i + (r % {dim})) % {dim}) + 1])::FLOAT[]
        END"""
    copy("embeddings", _replicated(con, base, "embeddings", k, f"""
        vec_id + r * {S['embeddings']} AS vec_id,
        {emb_case} AS embedding,
        label"""))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", default="/root/repo/.scale/sf1")
    ap.add_argument("--tables", default=None,
                    help="comma-separated subset to (re)generate")
    args = ap.parse_args()
    print(f"replicating {args.base} x{args.k} -> {args.out}")
    generate(args.base, args.out, args.k,
             tables=set(args.tables.split(",")) if args.tables else None)


if __name__ == "__main__":
    main()
