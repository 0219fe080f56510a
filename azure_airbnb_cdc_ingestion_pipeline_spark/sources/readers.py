"""Batch readers/writers mirroring the reference's source/sink options.

- CSV source options (comma delimiter, '"' quote, '\\' escape, header row):
  /root/reference/dataset/CustomerDataRaw.json:12-19 and wildcard file
  selection /root/reference/pipeline/LoadCustomerDim.json:66-81.
- CSV archive sink (quoteAllText:true):
  /root/reference/pipeline/LoadCustomerDim.json:116-185.
- JSON document source (Cosmos change-feed shape):
  /root/reference/dataset/BookingDataCosmosDB.json:10-72.

Scale notes: schemas are always passed explicitly (no inference scan over
100 TB); readers keep Catalyst's pushdown intact — filter/projection applied
by callers reach the file scan because nothing here materializes.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA_TABLES

#: per-session memo of LAZY reader DataFrames (r10, guide §1.2): every
#: ``spark.read.parquet`` pays a driver-side footer/schema read
#: (~30-70 ms) even though the testdata tables are immutable for a
#: session's lifetime — across a 76-query bench that re-derivation was
#: several seconds of pure driver time. The memo stores the UNRESOLVED
#: scan plan only (never rows, never results — each action still reads
#: the parquet), and weak keys die with their session, so a restarted
#: session can never see a stale plan.
_READ_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _memo_read(spark: SparkSession, key: tuple, build):
    try:
        per = _READ_MEMO.get(spark)
        if per is None:
            per = {}
            _READ_MEMO[spark] = per
    except TypeError:  # non-weakref-able session proxy — skip the memo
        return build()
    df = per.get(key)
    if df is None:
        df = build()
        per[key] = df
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized lazy scan of one testdata parquet table."""
    return _memo_read(
        spark,
        ("table", sf_dir, name),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    quote: str = '"',
    escape: str = "\\",
    path_glob: str | None = None,
) -> DataFrame:
    """CSV read with the reference's DelimitedText options.

    With no schema, all columns arrive as strings (the reference's
    string-first posture — cast downstream with ``cast_to_schema``).
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("quote", quote)
        .option("escape", escape)
        .option("mode", "PERMISSIVE")
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    drift_column: str | None = None,
) -> DataFrame:
    """Newline-delimited JSON documents with an explicit schema.

    Default mode: missing fields → null, unknown fields dropped (the
    validateSchema:false half of the reference's contract).

    With ``drift_column`` set, unknown TOP-LEVEL fields flow through to
    the sink instead of being dropped — the full allowSchemaDrift:true
    semantics (/root/reference/dataflow/BookingDataTransformation.json:68-69,
    91-92,156-157): each row gains a ``map<string,string>`` column holding
    its drifted fields (nested values as their JSON text). One pass, no
    schema inference scan — the doc is parsed once against the typed
    schema and once as a string map, both Catalyst-native `from_json`,
    so the posture survives 100 TB and streaming sources alike. The
    output schema is STABLE regardless of what drifts (a map, not new
    columns), which is what lets a downstream sink accept any drift
    without DDL.

    (CSV drift needs no special mode: ``read_csv`` without a schema is
    string-first and keeps every column it finds.)
    """
    if drift_column is None:
        return spark.read.schema(schema).json(path)

    known = F.array(*[F.lit(f.name) for f in schema.fields])
    raw = spark.read.text(path)
    parsed = raw.select(
        F.from_json("value", schema).alias("__doc"),
        F.map_filter(
            F.from_json("value", "map<string,string>"),
            lambda k, _v: ~F.array_contains(known, k),
        ).alias(drift_column),
    )
    return parsed.select("__doc.*", drift_column)


def write_csv_archive(df: DataFrame, path: str, quote_all: bool = True) -> None:
    """Archive-copy sink: header + quoteAll, matching the reference's
    archival Copy activity."""
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", str(quote_all).lower())
        .csv(path)
    )


def cast_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Lenient cast of a string-first DataFrame onto a typed target schema
    (null-on-error, ANSI off) — the Copy-translator ``typeConversion:true,
    allowDataTruncation:true`` analog
    (/root/reference/pipeline/LoadCustomerDim.json:94-101). Columns missing
    from ``df`` become nulls; extra columns are dropped."""
    cols = []
    for field in schema.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def _events_micros(ev: DataFrame) -> DataFrame:
    """``ev``, a batch or stream read of the testdata ``events`` table
    under ``spark.sql.legacy.parquet.nanosAsLong=true``, with its
    nanosecond parquet timestamp ``ts`` (LongType nanos there) as a
    microsecond TIMESTAMP_NTZ: floor-divided to µs with integer
    arithmetic (ns epochs ≈ 1.7e18 overflow doubles, so ``div`` not
    ``/``) and rebuilt with pure NTZ arithmetic — timezone-independent,
    so results match DuckDB under any session tz. DuckDB oracle
    equivalent: ``CAST(ts AS TIMESTAMP)`` (ns → µs truncation)."""
    if dict(ev.dtypes)["ts"] != "bigint":
        return ev
    return ev.withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND, ts div 1000,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ),
    )


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the testdata ``events`` table with ``ts`` as a microsecond
    TIMESTAMP (:func:`_events_micros`).

    Sets ``spark.sql.legacy.parquet.nanosAsLong=true`` on the session (it
    is a dynamic SQL conf, so this works on any caller-provided session):
    Spark rejects the INT64 TIMESTAMP(NANOS) column otherwise.
    """
    def _build() -> DataFrame:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _events_micros(spark.read.parquet(f"{sf_dir}/events.parquet"))

    return _memo_read(spark, ("events", sf_dir), _build)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata ``events`` table as a file-stream source (its change
    feed from the beginning), with the columns and ``ts`` type of
    :func:`read_events`. The stream reads with the table's raw schema,
    taken from one batch read of it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return _events_micros(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def load_sf_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the driver-generated testdata parquet tables as DataFrames."""
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in tables}


def read_jsonl_with_rejects(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    required: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """JSONL source with a rejected-rows side channel — the reference's
    BadRecords routing (/root/reference/dataflow/
    BookingDataTransformation.json:31-34) applied at the SOURCE layer,
    for the corpus-ingest case where upstream hands you line-delimited
    JSON of mixed quality (the dominant training-data interchange
    format).

    Each line is parsed ONCE against the typed schema with Catalyst's
    `from_json` (PERMISSIVE: malformed → null struct). A line is
    rejected when it fails to parse at all, or parses but leaves any
    ``required`` column null (schema-violation vs malformed is
    distinguished in the ``reject_reason`` column, with the raw line
    preserved for quarantine). Returns ``(good, rejects)`` — two lazy
    frames over ONE text scan; Spark evaluates the shared parse per
    branch, map-only either way, so the split costs no shuffle and
    survives any scale. No inference pass, no task failure on bad input
    — a 100 TB ingest keeps running and the rejects land in their own
    sink, exactly like the reference's row-level error path.
    """
    # `from_json` PERMISSIVE yields an all-null struct for a malformed
    # line (never a null struct), so malformed-vs-missing needs the
    # corrupt-record column: it is non-null exactly when parsing failed.
    cr = "__corrupt"
    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField(cr, T.StringType())]
    )
    raw = spark.read.text(path)
    parsed = raw.select(
        F.col("value").alias("raw_line"),
        F.from_json(
            "value",
            parse_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": cr},
        ).alias("__doc"),
    )
    malformed = F.col(f"__doc.{cr}").isNotNull()
    viol = F.lit(False)
    for c in required or []:
        viol = viol | F.col(f"__doc.{c}").isNull()
    good = parsed.filter(~malformed & ~viol).select(
        *[F.col(f"__doc.{f.name}").alias(f.name) for f in schema.fields]
    )
    rejects = parsed.filter(malformed | viol).select(
        "raw_line",
        F.when(malformed, F.lit("malformed_json"))
        .otherwise(F.lit("missing_required"))
        .alias("reject_reason"),
    )
    return good, rejects
