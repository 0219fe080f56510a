"""Derived-column projection — the reference's ``derive(...)`` stage.

Reference: /root/reference/dataflow/BookingDataTransformation.json:98-114 —
adds/overwrites 16 columns: string→timestamp parses with explicit patterns,
timestamp-diff milliseconds / 86400000 → stay days, year/month extraction,
string concat of nested struct members, struct-field flattening.

Spark-first: a single ``select``/``withColumns`` of built-in functions —
all JVM-side, whole-stage-codegen'd, no UDFs. Narrow op: no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def derive(df: DataFrame, columns: dict[str, Column]) -> DataFrame:
    """Add or overwrite ``columns`` (name → expression), keeping all other
    columns — exact ``derive()`` semantics (overwrite-in-place, passthrough
    for unmentioned columns)."""
    return df.withColumns(columns)


def derive_booking_columns(df: DataFrame) -> DataFrame:
    """The reference's exact derive stage over a raw booking-document frame
    (/root/reference/dataflow/BookingDataTransformation.json:98-114):

    - ``stay_duration`` = (check_out - check_in) in days, via the reference's
      millisecond-diff/86400000 formula — ``F.datediff`` is the exact
      equivalent for date-precision inputs;
    - ``booking_year``/``booking_month`` from ``booking_date``;
    - ``full_address`` = concat(city, ', ', country) — the reference spells
      the derived column ``full_addres`` (sic, :101) then maps it onto sink
      column ``full_address`` (:170); we implement the intent directly;
    - struct flattening ``city``/``country``;
    - typed casts of the string-ingested date columns.
    """
    # each parse is built once: every Column built is a chain of py4j
    # calls, and Catalyst plans a reused expression the same way
    check_in = F.to_date("check_in_date", "yyyy-MM-dd")
    check_out = F.to_date("check_out_date", "yyyy-MM-dd")
    booked = F.to_timestamp("booking_date", "yyyy-MM-dd HH:mm:ss")
    city = F.col("property_location.city")
    country = F.col("property_location.country")
    return df.select(
        "booking_id",
        "property_id",
        "customer_id",
        "owner_id",
        check_in.alias("check_in_date"),
        check_out.alias("check_out_date"),
        F.datediff(check_out, check_in).cast("long").alias("stay_duration"),
        booked.alias("booking_date"),
        F.year(booked).alias("booking_year"),
        F.month(booked).alias("booking_month"),
        "amount",
        "currency",
        city.alias("city"),
        country.alias("country"),
        F.concat(city, F.lit(", "), country).alias("full_address"),
        F.to_timestamp("timestamp", "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
    )
