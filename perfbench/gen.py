"""Seeded input generation for the benchmark.

Everything here is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs. Generation uses numpy and pyarrow only, so no Spark
job runs before the timed session exists, and nothing the engine does can
change what it is fed.

Two input families:

- a star schema (``region nation customer supplier part orders lineitem
  events documents embeddings``), one parquet file per table, in the layout
  the package's query catalog reads (``read_table(spark, sf_dir, name)``);
- a booking change feed for the CDC speed layer: seed events that become
  the standing fact, plus newline-JSON files of ``batch_events`` events each
  (about 10 % updates of earlier bookings, about 2 % inverted-date rows).

Monetary values are chosen so that every oracle-rounded sum is exact at its
rounding precision (prices are whole hundreds, discounts and taxes whole
percents): the DuckDB oracle and Spark add in different orders, and a sum
sitting on a rounding boundary would otherwise flip at random between seeds.
"""

from __future__ import annotations

import json
import os
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: the documents table's vocabulary (lower-case word salad, no run of five
#: equal letters — the BPE oracle's fixpoint-replace precondition)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUNS = ["ring", "bolt", "plate", "widget", "gear", "nut", "pipe", "cap"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

#: row counts per unit of scale factor (TPC-H proportions, as the testdata
#: tables use); documents and embeddings keep ids below 5 000 because the
#: catalog's planted-structure offsets (and the phash image families, which
#: are synthesized from doc_id) are verified inside that envelope
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
EMBED_DIM = 64


def table_rows(sf: float) -> dict[str, int]:
    rows = {t: max(10, int(n * sf)) for t, n in ROWS_PER_SF.items()}
    rows["documents"] = min(rows["documents"], 5000)
    rows["embeddings"] = min(rows["embeddings"], 5000)
    return rows


def _days(rng: np.random.Generator, n: int, start: str, span_days: int):
    base = np.datetime64(start, "us")
    day = np.timedelta64(86_400_000_000, "us")
    return base + rng.integers(0, span_days, n) * day


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=128 * 1024,
    )


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten catalog tables at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    rows = table_rows(sf)
    n_c, n_s, n_p = rows["customer"], rows["supplier"], rows["part"]
    n_o, n_l, n_e = rows["orders"], rows["lineitem"], rows["events"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": rng.integers(0, 1_000_000, n_c) / 100.0,
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": rng.integers(0, 1_000_000, n_s) / 100.0,
    })
    names = [f"{a} {b}" for a in PART_WORDS for b in PART_NOUNS]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_o)],
        "o_totalprice": rng.integers(100_000, 50_000_000, n_o) / 100.0,
        "o_orderdate": _days(rng, n_o, "1995-01-01", 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)],
    })
    qty = rng.integers(1, 51, n_l)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": (qty * rng.integers(1, 21, n_l) * 100).astype(np.float64),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _days(rng, n_l, "1995-01-02", 2498),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_e)
    ).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_c, n_e),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_e)],
    })
    _write_corpus(out_dir, rng, rows["documents"], rows["embeddings"])
    return rows


def _write_corpus(out_dir: str, rng, n_docs: int, n_vecs: int) -> None:
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_docs):
        words = vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]
        text = " ".join(words)
        if i % 20 == 11:  # planted exact-suffix near-duplicate marker
            text += " dup"
        texts.append(text)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    v = rng.standard_normal((n_vecs, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })


# ---------------------------------------------------------------------------
# booking change feed
# ---------------------------------------------------------------------------

#: months the bookings spread over — the fact's (booking_year,
#: booking_month) partitions
CDC_MONTHS = 24
CDC_CUSTOMERS = 500
_TS0 = np.datetime64("2024-06-01T00:00:00", "s")


def _fmt_ts(a) -> pa.Array:
    """datetime64[s] array → 'yyyy-MM-dd HH:mm:ss' strings."""
    return pc.cast(pa.array(a), pa.string())


def _tag(prefix: str, ints) -> pa.Array:
    return pc.binary_join_element_wise(
        prefix, pc.cast(pa.array(ints), pa.string()), ""
    )


class BookingFeed:
    """Seeded booking events: ``seed_rows`` insert events (the standing
    fact) followed by up to ``max_batches`` batches of ``batch_events``.

    Each batch event is, with probability ``update_share``, an update of a
    uniformly chosen earlier booking, else the insert of a new one; with
    probability ``bad_share`` its check-out precedes its check-in (the
    quarantine path). A booking's customer and ``booking_date`` are fixed
    at creation, so its month partition never moves (the pruned-merge
    precondition) and updates never move rows between gold groups (so the
    incrementally maintained gold must equal a rebuild). Event timestamps
    strictly increase: a later event always wins its key."""

    def __init__(self, seed: int, seed_rows: int, batch_events: int,
                 max_batches: int, update_share: float = 0.10,
                 bad_share: float = 0.02):
        rng = np.random.default_rng([seed, 2])
        self.seed_rows = seed_rows
        self.batch_events = batch_events
        n = seed_rows + batch_events * max_batches
        is_update = rng.random(n) < update_share
        is_update[:seed_rows] = False
        created = np.cumsum(~is_update)  # keys created up to and incl. i
        pick = (rng.random(n) * created).astype(np.int64)
        self.key = np.where(is_update, pick, created - 1)
        n_keys = int(created[-1])
        self.customer = rng.integers(0, CDC_CUSTOMERS, n_keys)
        month = rng.integers(0, CDC_MONTHS, n_keys)
        first = (np.datetime64("2023-01", "M") + month).astype("datetime64[s]")
        self.booking_date = first + rng.integers(0, 27 * 86_400, n_keys)
        self.bad = rng.random(n) < bad_share
        self.bad[:seed_rows] = False
        self.check_in = rng.integers(0, 300, n)
        self.stay = rng.integers(1, 15, n)
        self.amount = rng.integers(5_000, 100_000, n) / 100.0
        self.city = rng.integers(0, 40, n)

    def _columns(self, lo: int, hi: int) -> dict:
        i = np.arange(lo, hi)
        k = self.key[lo:hi]
        day = np.timedelta64(1, "D")
        check_in = np.datetime64("2024-01-01", "D") + self.check_in[lo:hi] * day
        stay = np.where(self.bad[lo:hi], -self.stay[lo:hi], self.stay[lo:hi])
        city = self.city[lo:hi]
        return {
            "id": _tag("ev-", i),
            "booking_id": _tag("bk-", k),
            "property_id": _tag("prop-", k % 1000),
            "customer_id": pa.array(self.customer[k].astype(np.int32)),
            "owner_id": _tag("owner-", k % 300),
            "check_in_date": pc.cast(pa.array(check_in), pa.string()),
            "check_out_date": pc.cast(pa.array(check_in + stay * day), pa.string()),
            "booking_date": _fmt_ts(self.booking_date[k]),
            "amount": pa.array(self.amount[lo:hi]),
            "currency": pa.array(np.full(hi - lo, "USD")),
            "city": _tag("city-", city),
            "country": _tag("country-", city % 12),
            "timestamp": _fmt_ts(_TS0 + i),
        }

    def batch_bounds(self, b: int) -> tuple[int, int]:
        lo = self.seed_rows + b * self.batch_events
        return lo, lo + self.batch_events

    def write_events(self, path: str, lo: int, hi: int) -> None:
        """Events ``lo..hi-1`` as one change-feed file (newline JSON),
        renamed into place so a stream never lists a half-written file."""
        c = {n: v.to_pylist() for n, v in self._columns(lo, hi).items()}
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
        with open(tmp, "w") as f:
            for j in range(hi - lo):
                doc = {n: c[n][j] for n in (
                    "id", "booking_id", "property_id", "customer_id",
                    "owner_id", "check_in_date", "check_out_date",
                    "booking_date", "amount", "currency")}
                doc["property_location"] = {
                    "city": c["city"][j], "country": c["country"][j],
                }
                doc["timestamp"] = c["timestamp"][j]
                f.write(json.dumps(doc))
                f.write("\n")
        os.replace(tmp, path)

    def write_batch(self, path: str, b: int) -> None:
        self.write_events(path, *self.batch_bounds(b))

    def expected(self, n_batches: int):
        """Reference result after the seed plus ``n_batches`` batches:
        ``(fact, quarantine)`` where ``fact`` maps booking_id →
        (customer_id, amount, timestamp string) for the latest good event
        per key, and ``quarantine`` is the sorted list of bad event ids."""
        end = self.seed_rows + n_batches * self.batch_events
        good = np.nonzero(~self.bad[:end])[0]
        # last good event per key: unique over the reversed index order
        rev = good[::-1]
        _, first = np.unique(self.key[rev], return_index=True)
        win = rev[first]
        k = self.key[win]
        ts = _fmt_ts(_TS0 + win).to_pylist()
        fact = {
            f"bk-{kk}": (int(self.customer[kk]), float(a), t)
            for kk, a, t in zip(k.tolist(), self.amount[win].tolist(), ts)
        }
        bad = sorted(f"ev-{i}" for i in np.nonzero(self.bad[:end])[0])
        return fact, bad
