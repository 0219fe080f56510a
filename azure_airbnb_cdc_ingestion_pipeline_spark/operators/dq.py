"""Data-quality expectation suite + streaming publish gate.

Generalizes the reference's fail-fast contract
(`dataflow/BookingDataTransformation.json:185` —
``errorHandlingOption: stopOnFirstError``) and its rejected-rows split
(`:31-34`) into a declarative rule suite evaluated BEFORE a table is
published: per-batch in streaming (the gate below, wired into
`pipelines.load_booking_fact.process_booking_batch`), or once per table
in batch (`plans/cdc.py::q_dq_expectations`).

Design: every rule is (name, violation-predicate Column); the whole
suite evaluates in ONE aggregation pass of conditional sums — no
per-rule scans, no Python in the row path. The report the driver sees
is |rules| rows (bounded), never data rows. An optional unique-key rule
rides the same pass via count-distinct.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class ExpectationBreach(RuntimeError):
    """Raised by the gate in halt mode — carries the per-rule report so
    the stream's failure message says WHICH contract broke."""

    def __init__(self, report: list[tuple[str, int, int]]):
        self.report = report
        detail = ", ".join(f"{r}={v}/{t}" for r, v, t in report if v)
        super().__init__(f"expectation suite breached: {detail}")


def evaluate_expectations(
    df: DataFrame,
    rules: list[tuple[str, Column]],
    unique_key: str | None = None,
    unique_rule_name: str = "key_unique",
) -> DataFrame:
    """One-pass rule evaluation: returns (rule, violations, total,
    pass_rate) with one row per rule. `rules` maps rule name → the
    VIOLATION predicate (true = row breaks the contract)."""
    aggs = [F.count(F.lit(1)).alias("total")] + [
        F.sum(F.when(pred, 1).otherwise(0)).alias(name) for name, pred in rules
    ]
    names = [name for name, _ in rules]
    if unique_key is not None:
        aggs.append(
            (F.count(F.lit(1)) - F.countDistinct(unique_key)).alias(
                unique_rule_name
            )
        )
        names.append(unique_rule_name)
    long = df.agg(*aggs).unpivot("total", names, "rule", "violations")
    return long.select(
        "rule",
        "violations",
        "total",
        F.round(1.0 - F.col("violations") / F.col("total"), 4).alias("pass_rate"),
    )


def violation_pred(rules: list[tuple[str, Column]]) -> Column:
    """OR of every rule's violation predicate — the row-level split
    condition for quarantine mode."""
    return reduce(lambda a, b: a | b, (pred for _, pred in rules))


def check_gate_wiring(
    dq_rules: list | None, dq_on_breach: str, dq_quarantine
) -> None:
    """Raise ``ValueError`` when a quarantine-mode gate has no table to
    divert into — a wiring error, not a data error, so breaching rows are
    never dropped silently. The stream entries call it before the stream
    starts (a mis-wired pipeline fails before any batch runs, not at its
    first breach); the per-batch entries call it before they touch the
    batch."""
    if dq_rules is not None and dq_on_breach == "quarantine" and dq_quarantine is None:
        raise ValueError(
            "dq_on_breach='quarantine' requires a dq_quarantine table — "
            "breaching rows must not be dropped silently"
        )


def expectation_gate(
    batch: DataFrame,
    rules: list[tuple[str, Column]],
    on_breach: str = "halt",
) -> tuple[DataFrame, DataFrame | None]:
    """Per-micro-batch publish gate. Evaluates the suite on `batch`
    (one agg pass; the driver sees |rules| report rows) and:

    - ``on_breach='halt'``: raises :class:`ExpectationBreach` on any
      violation — the stream dies BEFORE any sink commits, the exact
      generalization of the reference's stopOnFirstError.
    - ``on_breach='quarantine'``: returns (clean_rows, breached_rows)
      so the caller publishes the clean side and diverts the breach —
      the expectation-level analogue of the rejected-rows channel.

    Returns (publishable_rows, breached_rows_or_None). An empty batch
    passes trivially (zero rows can't violate a row rule)."""
    if on_breach not in ("halt", "quarantine"):
        raise ValueError(f"on_breach must be halt|quarantine, got {on_breach!r}")
    report = [
        (r.rule, r.violations, r.total)
        for r in evaluate_expectations(batch, rules).collect()
    ]
    breached = any(v for _, v, _ in report)
    if not breached:
        return batch, None
    if on_breach == "halt":
        raise ExpectationBreach(report)
    bad = F.coalesce(violation_pred(rules), F.lit(False))
    # null-safe + report-consistent: the report's conditional sums count
    # a null predicate as NOT violating (when(pred,1).otherwise(0)), so
    # the row split must agree — a rule that wants nulls to violate says
    # so explicitly (isNull() | ...), as booking_expectations does for
    # the columns where null genuinely breaks the contract.
    return batch.filter(~bad), batch.filter(bad)


@contextmanager
def gated_batch(
    batch: DataFrame,
    rules: list[tuple[str, Column]] | None,
    on_breach: str,
    quarantine,
    txn: tuple[str, int] | None,
):
    """The per-batch gate step of the streaming sinks: persist the batch,
    run :func:`expectation_gate`, append the breaching rows to the
    ``quarantine`` table (its ``txn`` marker makes a replay skip the
    append) and compact it when due, then yield the clean rows for the
    caller's merge; the batch is unpersisted on every exit. Without
    ``rules`` the batch passes through untouched."""
    if rules is None:
        yield batch
        return
    cached = batch.persist()
    try:
        clean, breached = expectation_gate(cached, rules, on_breach=on_breach)
        if breached is not None:
            quarantine.append(breached, txn=txn)
            quarantine.maybe_compact()
        yield clean
    finally:
        cached.unpersist()
