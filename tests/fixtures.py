"""Seed-deterministic reference-domain fixtures (FIXTURES.md F1-F3).

Shapes distilled from the reference's generator and schemas:
- booking events: /root/reference/mock_data_in_cosmosdb.py:29-45 (nested
  property_location, string dates, uuid keys)
- customer CSVs: /root/reference/dataset/CustomerDataRaw.json:24-94
- pre-seeded fact: /root/reference/synapse_table_creation.sql:30-47
"""

from __future__ import annotations

import csv
import os
import random
import uuid
from datetime import date, datetime, timedelta


def _rng(seed: int = 42) -> random.Random:
    return random.Random(seed)


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128)))


CITIES = [
    ("Lisbon", "Portugal"),
    ("Austin", "USA"),
    ("Kyoto", "Japan"),
    ("Porto", "Portugal"),
    ("Berlin", "Germany"),
    ("Lyon", "France"),
]
CURRENCIES = ["USD", "EUR", "GBP", "CAD"]


def gen_booking_events(
    n: int = 1000, n_keys: int = 900, seed: int = 42
) -> list[dict]:
    """CDC event stream: ~10% updates (reused booking_id, later timestamp),
    ~5% quality violations (check_out < check_in), ~2% null amounts."""
    rng = _rng(seed)
    base_day = date(2024, 1, 1)
    base_ts = datetime(2024, 1, 1, 0, 0, 0)
    keys = [_uuid(rng) for _ in range(n_keys)]
    # booking_date is the booking's CREATION time: immutable across update
    # events for the same key (the real-world CDC invariant that makes the
    # fact table's booking_year/month partitioning prunable)
    booking_dates: dict[str, str] = {}
    events = []
    for i in range(n):
        if i < n_keys:
            booking_id = keys[i]
        else:  # update event for an earlier key
            booking_id = keys[rng.randrange(n_keys)]
        check_in = base_day + timedelta(days=rng.randrange(300))
        if rng.random() < 0.05:  # impossible booking → quality gate
            check_out = check_in - timedelta(days=rng.randrange(1, 5))
        else:
            check_out = check_in + timedelta(days=rng.randrange(1, 15))
        amount = None if rng.random() < 0.02 else round(rng.uniform(50, 1000), 2)
        city, country = CITIES[rng.randrange(len(CITIES))]
        ts = base_ts + timedelta(seconds=i * 60)  # monotone event time
        events.append(
            {
                "id": _uuid(rng),
                "booking_id": booking_id,
                "property_id": _uuid(rng),
                "customer_id": rng.randint(1, 100),
                "owner_id": _uuid(rng),
                "check_in_date": check_in.isoformat(),
                "check_out_date": check_out.isoformat(),
                "booking_date": booking_dates.setdefault(
                    booking_id,
                    (base_ts + timedelta(days=rng.randrange(300))).strftime(
                        "%Y-%m-%d %H:%M:%S"
                    ),
                ),
                "amount": amount,
                "currency": CURRENCIES[rng.randrange(len(CURRENCIES))],
                "property_location": {"city": city, "country": country},
                "timestamp": ts.strftime("%Y-%m-%d %H:%M:%S"),
            }
        )
    return events


CUSTOMER_CSV_COLUMNS = [
    "customer_id",
    "first_name",
    "last_name",
    "email",
    "phone_number",
    "address_line1",
    "address_line2",
    "city",
    "state",
    "country",
    "zip_code",
    "signup_date",
    "last_login",
    "total_spent",
    "preferred_language",
    "loyalty_tier",
    "is_active",
]


def gen_customer_rows(ids: list[int], seed: int = 42) -> list[dict]:
    rng = _rng(seed)
    rows = []
    for cid in ids:
        city, country = CITIES[rng.randrange(len(CITIES))]
        rows.append(
            {
                "customer_id": str(cid),
                "first_name": f"First{cid}",
                "last_name": f"Last{cid}",
                "email": f"user{cid}@example.com",
                "phone_number": f"+1-555-{cid:04d}",
                "address_line1": f"{cid} Main St",
                "address_line2": "",
                "city": city,
                "state": "NA",
                "country": country,
                "zip_code": f"{10000 + cid}",
                "signup_date": (date(2023, 1, 1) + timedelta(days=cid)).isoformat(),
                "last_login": (
                    datetime(2024, 1, 1) + timedelta(hours=cid)
                ).strftime("%Y-%m-%d %H:%M:%S"),
                "total_spent": f"{rng.uniform(0, 5000):.2f}",
                "preferred_language": rng.choice(["en", "fr", "de", "pt"]),
                "loyalty_tier": rng.choice(["bronze", "silver", "gold"]),
                "is_active": rng.choice(["true", "false"]),
            }
        )
    return rows


def write_customer_csv_drops(dirpath: str, seed: int = 42) -> list[str]:
    """Three hourly CSV drops; ~10% of ids repeat across files with changed
    fields (SCD1 overwrite test). Returns the file paths."""
    os.makedirs(dirpath, exist_ok=True)
    batches = [
        (list(range(1, 41)), "cust_2024_01_01_00_00_00.csv", 1),
        (list(range(41, 81)) + list(range(1, 9)), "cust_2024_01_01_01_00_00.csv", 2),
        (list(range(81, 101)) + list(range(41, 49)), "cust_2024_01_01_02_00_00.csv", 3),
    ]
    paths = []
    for ids, fname, s in batches:
        rows = gen_customer_rows(ids, seed=seed + s)
        path = os.path.join(dirpath, fname)
        with open(path, "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=CUSTOMER_CSV_COLUMNS, quoting=csv.QUOTE_ALL)
            w.writeheader()
            w.writerows(rows)
        paths.append(path)
    return paths


def write_booking_events_json(dirpath: str, n_files: int = 4, **kw) -> list[str]:
    """Booking events as newline-delimited JSON split over n_files (the
    change-feed landing directory analog). The files get strictly
    increasing mtimes, one second apart and in the past: the file source
    drains in mtime order, and files written within one clock tick would
    otherwise drain in directory-listing order."""
    import json
    import time

    os.makedirs(dirpath, exist_ok=True)
    events = gen_booking_events(**kw)
    per = (len(events) + n_files - 1) // n_files
    mtime0 = int(time.time()) - n_files
    paths = []
    for i in range(n_files):
        chunk = events[i * per : (i + 1) * per]
        if not chunk:
            break
        path = os.path.join(dirpath, f"feed_{i:03d}.json")
        with open(path, "w") as f:
            for e in chunk:
                f.write(json.dumps(e) + "\n")
        os.utime(path, (mtime0 + i, mtime0 + i))
        paths.append(path)
    return paths
