"""Keyed MERGE / upsert — the heart of the reference's CDC pipeline.

Reference semantics being reproduced:
- fact sink: insert-or-update keyed on ``booking_id``, no deletes
  (``deletable:false, insertable:true, updateable:true, keys:['booking_id']``,
  /root/reference/dataflow/BookingDataTransformation.json:156-186), with
  per-row intent from ``alterRow(insertIf(isNull(lookup.key)),
  updateIf(not(isNull(lookup.key))))`` (:120-121);
- intra-batch duplicate resolution: latest-per-key wins
  (``pickup:'first', desc(timestamp, true)``, :116-118);
- dim sink: SCD Type 1 upsert keyed on ``customer_id``
  (/root/reference/pipeline/LoadCustomerDim.json:82-101).

Spark-first formulation (Delta unavailable here): MERGE with
update-all/insert-all and no delete clause is exactly

    result = latest(source)  ∪  (target ⟨left_anti⟩ latest(source) on keys)

— new/changed rows come wholly from the source, untouched rows from the
target. One shuffle for the dedupe, one left-anti join (broadcast when the
source micro-batch is small — the common CDC case — making the big
target-side pass shuffle-free).

Scale: with a real lakehouse table format this becomes ``MERGE INTO`` with
file pruning on the key; here the rewrite cost is full-table, which is the
known trade of copy-on-write without file-level indexes. The operator
surface is identical, so swapping the storage layer does not touch callers.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .windows import topk_per_group

#: Tie-break column used by :func:`resolve_event_time`. Reserved — input
#: frames must not carry a column with this name.
_SRC_PRIORITY = "__src_priority"


def resolve_event_time(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column],
) -> DataFrame:
    """Resolve (target ∪ source) to one row per key by max ``order_by``,
    with a DETERMINISTIC source-wins tie-break: when a source and target
    row for the same key carry an identical event time, the source row
    wins — the ``WHEN MATCHED AND s.ts >= t.ts`` contract (note the
    ``>=``). Without the explicit secondary sort the row_number tie-break
    is nondeterministic, and two independent resolutions of the same tie
    (e.g. the fact merge and the incremental-gold 'after' rebuild in
    pipelines/load_booking_fact.py) could diverge permanently.
    """
    combined = source.select(*target.columns).withColumn(
        _SRC_PRIORITY, F.lit(1)
    ).unionByName(target.withColumn(_SRC_PRIORITY, F.lit(0)))
    resolved = latest_per_key(
        combined, keys, list(order_by) + [F.col(_SRC_PRIORITY)]
    )
    return resolved.drop(_SRC_PRIORITY)


def latest_per_key(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str | Column] | None
) -> DataFrame:
    """Resolve intra-batch duplicates to the latest row per key (descending,
    nulls last). With ``order_by=None`` the source is trusted unique —
    mirroring Delta MERGE's duplicate-source-key error contract, we dedupe
    arbitrarily-but-deterministically on the keys themselves.

    Idempotent: a frame this function returned (or its ``persist()``,
    which is the same object) is unique on its keys, so resolving it
    again on the same keys returns it unchanged instead of planning a
    second window over it."""
    if getattr(df, "_graft_unique_on", None) == frozenset(keys):
        return df
    if order_by is None:
        return known_unique(df.dropDuplicates(list(keys)), keys)
    return known_unique(topk_per_group(df, keys, order_by, k=1, descending=True), keys)


def latest_rows(
    table: pa.Table, keys: Sequence[str], order_by: Sequence[str]
) -> pa.Table:
    """The driver twin of :func:`latest_per_key` over an Arrow table: a
    stable sort with ``keys`` ascending and ``order_by`` descending,
    nulls last, then the first row per key (a null key is one key). Rows
    tied on ``order_by`` keep their input order, so the earliest wins —
    a trailing priority column (:func:`resolve_event_time_rows`) or
    sequence number (the merge-on-read resolve) makes the order total."""
    if table.num_rows < 2:
        return table
    rows = table.take(pc.sort_indices(
        table,
        sort_keys=[(k, "ascending") for k in keys]
        + [(c, "descending") for c in order_by],
        null_placement="at_end",
    ))
    first = None
    for k in keys:
        col = rows.column(k)
        a, b = col.slice(1), col.slice(0, len(col) - 1)
        # null-safe "differs": one side null differs, both null do not
        differs = pc.or_(
            pc.fill_null(pc.not_equal(a, b), False),
            pc.xor(pc.is_null(a), pc.is_null(b)),
        )
        first = differs if first is None else pc.or_(first, differs)
    return rows.filter(pa.concat_arrays([
        pa.array([True]), first.combine_chunks(),
    ]))


def resolve_event_time_rows(
    target: pa.Table,
    source: pa.Table,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> pa.Table:
    """The driver twin of :func:`resolve_event_time`: (target ∪ source)
    to one row per key by max ``order_by``, the source winning exact
    ties. The result has the target's columns."""
    names = target.column_names
    both = pa.concat_tables([
        t.select(names).cast(target.schema)
        .append_column(_SRC_PRIORITY, pa.array([p] * t.num_rows, pa.int8()))
        for t, p in ((target, 0), (source, 1))
    ])
    return latest_rows(both, keys, [*order_by, _SRC_PRIORITY]).drop_columns(
        [_SRC_PRIORITY]
    )


def known_unique(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Record on ``df`` that it holds one row per ``keys`` tuple (the
    operator that built it grouped or ranked on them), so
    :func:`latest_per_key` on those keys returns it unchanged."""
    df._graft_unique_on = frozenset(keys)
    return df


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str | Column] | None = None,
    event_time_wins: bool = False,
) -> DataFrame:
    """WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT ALL (no delete).

    Returns the post-merge state of ``target``. Column set is the target's;
    source must contain all target columns (extras are dropped — schema
    drift tolerance).

    Conflict semantics:
    - default (``event_time_wins=False``): ARRIVAL order wins — a matched
      source row unconditionally replaces the target row, exactly the
      reference's alter-row/upsert behavior (updateIf on key match with no
      timestamp guard, /root/reference/dataflow/BookingDataTransformation.json:120-121,
      :156-186). A late-arriving older event overwrites newer state.
    - ``event_time_wins=True`` (engine extension, requires ``order_by``):
      EVENT time wins — matched rows resolve to the max ``order_by`` of
      target-vs-source, so out-of-order micro-batches converge to the
      same state regardless of arrival order (the `WHEN MATCHED AND
      s.ts >= t.ts` guard of a conditional MERGE — ``>=`` means the
      SOURCE wins exact event-time ties, enforced deterministically by
      :func:`resolve_event_time`). One shuffle on the union instead of
      the anti-join.
    """
    keys = list(keys)
    if event_time_wins:
        if order_by is None:
            raise ValueError("event_time_wins requires order_by")
        return resolve_event_time(target, source, keys, order_by)
    src = latest_per_key(source, keys, order_by)
    untouched = target.join(F.broadcast(src.select(*keys)), on=keys, how="left_anti")
    return src.select(*target.columns).unionByName(untouched)


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    order_by: Sequence[str | Column] | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """Full change-feed application: INSERT / UPDATE / DELETE.

    Engine extension beyond the reference's no-delete MERGE
    (``deletable:false``, /root/reference/dataflow/
    BookingDataTransformation.json:156-186): a change batch carries an
    ``op_col`` marker per row ('I'/'U'/'D' — any non-delete value
    upserts). Per key, only the LATEST change (by ``order_by``, or
    arbitrary-deterministic when None) is applied, so an insert followed
    by a delete of the same key within one batch nets to the delete —
    the same net-effect contract as Delta's ``applyChanges``.

        result = upserts(latest)  ∪  (target ⟨left_anti⟩ ALL change keys)

    Cost shape is identical to :func:`merge_dataframes`: one dedupe
    shuffle on the (small) change batch plus one broadcast anti-join
    over the target — deletes ride the same anti-join that updates
    already paid for, so delete support is free at 100 TB.
    """
    keys = list(keys)
    latest = latest_per_key(changes, keys, order_by)
    upserts = latest.filter(F.col(op_col) != delete_op).select(*target.columns)
    all_keys = F.broadcast(changes.select(*keys).dropDuplicates(keys))
    untouched = target.join(all_keys, on=keys, how="left_anti")
    return upserts.unionByName(untouched)


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    eff_from: str = "effective_from",
    eff_to: str = "effective_to",
    current_col: str = "is_current",
) -> DataFrame:
    """SCD Type 2: apply a change batch to a versioned dimension,
    KEEPING history — the engine extension of the reference's Type-1
    dim upsert (/root/reference/pipeline/LoadCustomerDim.json:82-101,
    which overwrites in place and forgets).

    ``history`` rows are versions: ``keys + attr_cols + eff_from +
    eff_to (null = open) + current_col``. ``changes`` carries ``keys +
    attr_cols + eff_from`` (the change timestamp). Per key, versions are
    ordered by ``eff_from``; a change whose attributes equal the
    immediately-preceding version is a NO-OP and creates no version
    (null-safe struct compare); otherwise the prior version is closed at
    the change timestamp and a new open version begins.

    Scale posture: only keys PRESENT IN THE BATCH are rebuilt — the
    change-key set (small, the CDC case) is broadcast and the 100 TB
    history passes through an anti-join untouched; the per-key window
    sorts only (changed keys x their versions), never the full table.
    The rebuild is idempotent: re-applying the same batch collapses to
    the same versions.
    """
    keys = list(keys)
    attr_cols = list(attr_cols)
    out_cols = keys + attr_cols + [eff_from, eff_to, current_col]
    chg_keys = F.broadcast(changes.select(*keys).dropDuplicates(keys))
    untouched = history.join(chg_keys, on=keys, how="left_anti").select(*out_cols)
    affected = history.join(chg_keys, on=keys, how="left_semi")
    seq = affected.select(*keys, *attr_cols, eff_from).unionByName(
        changes.select(*keys, *attr_cols, eff_from)
    )
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    # Deterministic total order: two changes for the same key at the
    # SAME eff_from (or a change colliding with an existing version's
    # timestamp) would make lag/lead nondeterministic under a bare
    # eff_from sort — the attrs struct is a trailing tiebreak so which
    # version survives and where a zero-duration version lands is
    # stable run to run.
    w = Window.partitionBy(*keys).orderBy(eff_from, attrs)
    rebuilt = (
        seq.withColumn("__attrs", attrs)
        .withColumn("__prev", F.lag("__attrs").over(w))
        .filter(F.col("__prev").isNull() | ~F.col("__attrs").eqNullSafe(F.col("__prev")))
        .withColumn(eff_to, F.lead(eff_from).over(w))
        .withColumn(current_col, F.col(eff_to).isNull())
        .select(*out_cols)
    )
    return rebuilt.unionByName(untouched)


def reconcile(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    status_col: str = "status",
) -> DataFrame:
    """Keyed reconciliation of two table states — the CDC audit: after a
    pipeline replays a change feed, does the rebuilt table equal the
    source-of-truth? Returns one row per key with ``status``:
    ``only_left`` / ``only_right`` / ``changed`` / ``unchanged``.

    One shuffle (the full-outer join on ``keys``); the row compare is a
    single null-safe struct equality, kept JVM-side. For very wide rows
    at 100 TB, pre-hash each side to ``xxhash64(struct)`` and compare
    hashes instead — same plan shape, constant compare width (callers
    pass ``compare_cols=[hash_col]``).
    """
    keys = list(keys)
    if compare_cols is None:
        compare_cols = [c for c in left.columns if c not in keys]
    lc = left.select(
        *keys,
        F.struct(*[F.col(c) for c in compare_cols]).alias("__l"),
        F.lit(True).alias("__in_l"),
    )
    rc = right.select(
        *keys,
        F.struct(*[F.col(c) for c in compare_cols]).alias("__r"),
        F.lit(True).alias("__in_r"),
    )
    j = lc.join(rc, on=keys, how="full_outer")
    status = (
        F.when(F.col("__in_r").isNull(), F.lit("only_left"))
        .when(F.col("__in_l").isNull(), F.lit("only_right"))
        .when(F.col("__l").eqNullSafe(F.col("__r")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, status.alias(status_col))
