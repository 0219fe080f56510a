"""Correctness-query catalog: every implemented operator, mapped onto the
driver's testdata tables, each paired with DuckDB oracle SQL.

This module holds the registry (``query``, ``QUERIES``, ``ORACLE_SQL``,
``_t``); the queries live in one module per family, imported at the
bottom so they register into the same maps:

- ``cdc``               the reference pipeline's steps and the table layer
- ``relational``        joins, set ops, windows, scalar functions, TPC-H,
                        event analytics
- ``streaming``         Structured Streaming drains and event-time windows
- ``text``              corpus text curation and the web front door
- ``dedup_similarity``  near-dup detection and embedding search
- ``multimodal``        binary payloads, codecs, perceptual dedup
- ``graph_sketches``    PageRank, triangles, sketches, sampling

Domain mapping (reference → testdata):
- ``bookings_fact``  → ``orders``  (o_custkey=FK, o_totalprice=amount,
                                    o_orderdate=booking_date)
- ``customer_dim``   → ``customer`` ⋈ ``nation`` (n_name = country)
- change-feed stream → ``events``  (user_id=key, ts=event time; updates =
                                    later events for the same key)

Column-naming contract: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver hash-compares by sorted column
name). Monetary sums are rounded to 2dp on BOTH sides to make the hash
insensitive to float summation order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.readers import read_table

    return read_table(spark, sf_dir, name)


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable, optionally with its
    DuckDB oracle SQL (omit for non-SQL-expressible ops → rows-only check).
    A key registered twice raises: the later registration would otherwise
    silently replace the earlier query and its oracle."""
    if name in QUERIES:
        raise ValueError(f"catalog key {name!r} is already registered")

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# The family modules register into QUERIES / ORACLE_SQL on import.
from . import cdc  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import streaming  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import dedup_similarity  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import graph_sketches  # noqa: E402,F401


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The driver smoke-check entry: the gold-layer aggregation (A1+J2)."""
    return cdc.q_agg_groupby_join(spark, sf_dir)
