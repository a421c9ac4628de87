"""Seeded inputs for the benchmark, in Python, numpy and pyarrow (no Spark).

Two generators, both deterministic functions of ``seed``:

- :func:`write_star_tables` writes the ten analytic tables the headline
  operator queries read (``region nation customer supplier part orders
  lineitem events documents embeddings``), one parquet file each, at
  sf0.1: the row counts, column types and value distributions of the
  engine's sf0.1 test tables, drawn afresh from ``seed``.
- :class:`CdcPlan` produces the CDC side: the preload rows of the
  ``transactions`` table, the DynamoDB-Streams envelope batches (INSERT
  of new keys, MODIFY of existing keys skewed toward recent ones,
  REMOVE, malformed records) and the DML targets of every round. It
  keeps its own copy of the key model so MODIFY and DML targets name
  live keys.

The program under test sees only the files written from these objects.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from model import KeyModel, row_date

# -- analytic star tables ----------------------------------------------

# Rows per table at sf0.1, the scale of the engine's query benchmark.
# Sizes, column types, value ranges and distributions follow the
# measured make-up of the engine's test tables (README.md, "Inputs");
# every column is drawn independently and uniformly unless noted.
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")
STAR_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05  # documents replaced by a copy of another + " dup"
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PNAME_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PNAME_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
# documents: English about 40 %, four others about 15 % each
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_US_PER_DAY = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _write(tdir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    # one row group per file, like the engine's test tables
    pq.write_table(table, os.path.join(tdir, f"{name}.parquet"),
                   row_group_size=max(len(table), 1))


def _days_us(rng, first: dt.date, last: dt.date, n: int) -> np.ndarray:
    """``n`` midnights drawn uniformly from ``first..last``, as epoch us."""
    d0 = (first - dt.date(1970, 1, 1)).days
    days = rng.integers(d0, d0 + (last - first).days + 1, n)
    return days.astype(np.int64) * _US_PER_DAY


def _pick(rng, options, n: int) -> list[str]:
    return np.asarray(list(options), dtype=object)[rng.integers(0, len(options), n)].tolist()


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_tables(tdir: str, seed: int) -> None:
    """Write the ten tables under ``tdir`` (about 17 MB of parquet)."""
    rng = np.random.default_rng([seed, 0x57A2])
    os.makedirs(tdir, exist_ok=True)
    ts_us = pa.timestamp("us")
    n = STAR_ROWS

    _write(tdir, "region", {
        "r_regionkey": list(range(5)), "r_name": list(_REGIONS),
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(tdir, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))

    nc = n["customer"]
    _write(tdir, "customer", {
        "c_custkey": np.arange(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))

    ns_ = n["supplier"]
    _write(tdir, "supplier", {
        "s_suppkey": np.arange(ns_),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns_)],
        "s_nationkey": rng.integers(0, 25, ns_),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns_),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    npart = n["part"]
    adj = _pick(rng, _PNAME_ADJ, npart)
    noun = _pick(rng, _PNAME_NOUN, npart)
    _write(tdir, "part", {
        "p_partkey": np.arange(npart),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, _PTYPES, npart),
        "p_size": rng.integers(1, 51, npart),
        # 900.0, 900.1, ... 999.9, repeating
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    no = n["orders"]
    _write(tdir, "orders", {
        "o_orderkey": np.arange(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": _pick(rng, "OFP", no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(
            _days_us(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no), ts_us),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    }, pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", ts_us), ("o_orderpriority", pa.string())]))

    # each line names a uniformly drawn order (so lines per order are
    # about Poisson(4) and ~2 % of orders have none); the ship date does
    # not depend on the order date
    nl = n["lineitem"]
    _write(tdir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns_, nl),
        "l_linenumber": rng.integers(1, 8, nl),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": _pick(rng, "NAR", nl),
        "l_linestatus": _pick(rng, "OF", nl),
        "l_shipdate": pa.array(
            _days_us(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl), ts_us),
    }, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", ts_us)]))

    # events: 30 days of January 2024 in ascending time, value
    # exponential with mean 50
    ne = n["events"]
    t0 = (dt.datetime(2024, 1, 1) - EPOCH) // dt.timedelta(microseconds=1)
    ts = np.sort(rng.integers(t0, t0 + 30 * _US_PER_DAY, ne))
    _write(tdir, "events", {
        "event_id": np.arange(ne),
        "ts": pa.array(ts, ts_us),
        "user_id": rng.integers(0, EVENT_USERS, ne),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }, pa.schema([("event_id", pa.int64()), ("ts", ts_us),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))

    # documents: 10..100 words from VOCAB; NEAR_DUP_SHARE of them are
    # replaced by a copy of another document with " dup" appended
    nd = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, nd)]
    dups = rng.choice(nd, round(nd * NEAR_DUP_SHARE), replace=False)
    for i in sorted(dups.tolist()):
        j = int(rng.integers(0, nd - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    _write(tdir, "documents", {
        "doc_id": np.arange(nd),
        "text": texts,
        "lang": np.asarray(_LANGS, dtype=object)[
            rng.choice(len(_LANGS), nd, p=_LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())]))

    # embeddings: isotropic unit vectors; the label is independent of
    # the direction
    nv = n["embeddings"]
    v = rng.standard_normal((nv, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(tdir, "embeddings", {
        "vec_id": np.arange(nv),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv),
    }, pa.schema([("vec_id", pa.int64()),
                  ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


# -- CDC stream, preload and DML targets ---------------------------------

PRELOAD_ROWS = 8000
DAYS = 6
DAY0 = dt.date(2024, 3, 1)
CUSTOMERS = 300
BATCH_RECORDS = 200
# shares of a batch's records (the rest are INSERTs of new keys)
MODIFY_SHARE = 0.30
REMOVE_SHARE = 0.07
MALFORMED_SHARE = 0.03
# MODIFY picks the k-th most recent live key with k ~ Exp(mean)
RECENCY_MEAN_KEYS = 1500
# new keys land in the newest RECENT_DAYS date partitions
RECENT_DAYS = 2

_TX_TYPES = ("PURCHASE", "REFUND", "TRANSFER", "WITHDRAWAL", "DEPOSIT")
_CHOICES = {
    "currency": ("USD", "EUR", "GBP"),
    "merchant_category": ("RETAIL", "GROCERY", "TRAVEL", "DINING", "FUEL"),
    "payment_method": ("CREDIT_CARD", "DEBIT_CARD", "WALLET", "ACH"),
    "region": ("US_EAST", "US_WEST", "EU", "APAC"),
    "risk_score": ("LOW", "MEDIUM", "HIGH"),
    "status": ("APPROVED", "PENDING", "DECLINED"),
    "device_type": ("MOBILE", "DESKTOP", "POS"),
    "authentication_method": ("PIN", "OTP", "BIOMETRIC", "NONE"),
    "velocity_check": ("PASS", "FAIL"),
    "amount_threshold": ("NORMAL", "HIGH"),
    "location_risk": ("LOW", "MEDIUM", "HIGH"),
    "pattern_match": ("NORMAL", "SUSPICIOUS"),
}
# envelope attribute type tags: N for the numeric columns, S otherwise
_NUMERIC = ("timestamp", "amount", "processing_timestamp")


def _ms(t: dt.datetime) -> int:
    return int((t - EPOCH).total_seconds() * 1000)


class CdcPlan:
    """The seeded CDC schedule: preload rows, then per round one
    envelope batch and one DELETE target.

    Rows are dicts keyed by the transactions column names, without the
    derived ``date/hour/minute`` (the engine derives them; the model
    derives them the same way in :func:`model.row_date`)."""

    def __init__(self, seed: int):
        self.rnd = random.Random(f"cdc-{seed}")
        self.seq = 0  # next transaction number
        self.clock = _ms(dt.datetime(2024, 4, 1))  # processing time, ms
        self.model = KeyModel()
        self.recent: list[str] = []  # keys in insertion order
        self.preload = [self._new_row(self.rnd.randrange(DAYS))
                        for _ in range(PRELOAD_ROWS)]
        self.model.upsert_batch(self.preload)
        self.recent = [r["transaction_id"] for r in self.preload]

    def _tick(self) -> int:
        self.clock += 1
        return self.clock

    def _new_row(self, day: int) -> dict:
        rnd = self.rnd
        tid = f"TXN_{self.seq:09d}"
        self.seq += 1
        ts = _ms(dt.datetime(DAY0.year, DAY0.month, DAY0.day)) + (
            day * 86400000 + rnd.randrange(86400000))
        row = {
            "transaction_id": tid,
            "timestamp": ts,
            "customer_id": f"CUST_{rnd.randrange(CUSTOMERS)}",
            "transaction_type": rnd.choice(_TX_TYPES),
            "amount": f"{rnd.randrange(100, 500000) / 100:.2f}",
            "merchant_id": f"M_{rnd.randrange(500)}",
        }
        for col, opts in _CHOICES.items():
            row[col] = rnd.choice(opts)
        row["processing_timestamp"] = self._tick()
        return row

    def _recent_live_key(self) -> str:
        """A live key, the k-th most recent with k exponential."""
        while True:
            k = int(self.rnd.expovariate(1 / RECENCY_MEAN_KEYS))
            if k < len(self.recent):
                key = self.recent[-1 - k]
                if key in self.model.rows:
                    return key

    def next_batch(self) -> tuple[list[str], dict]:
        """One landing file: (JSON lines, expected counts)."""
        rnd = self.rnd
        lines: list[str] = []
        upserts: list[dict] = []
        n_mod = round(BATCH_RECORDS * MODIFY_SHARE)
        n_rem = round(BATCH_RECORDS * REMOVE_SHARE)
        n_bad = round(BATCH_RECORDS * MALFORMED_SHARE)
        n_ins = BATCH_RECORDS - n_mod - n_rem - n_bad
        kinds = (["INSERT"] * n_ins + ["MODIFY"] * n_mod
                 + ["REMOVE"] * n_rem + ["BAD"] * n_bad)
        rnd.shuffle(kinds)
        for kind in kinds:
            if kind == "INSERT":
                row = self._new_row(DAYS - 1 - rnd.randrange(RECENT_DAYS))
                self.recent.append(row["transaction_id"])
                upserts.append(row)
                lines.append(envelope("INSERT", row))
            elif kind == "MODIFY":
                old = self.model.rows[self._recent_live_key()]
                row = dict(old)
                row["amount"] = f"{rnd.randrange(100, 500000) / 100:.2f}"
                row["status"] = rnd.choice(_CHOICES["status"])
                row["risk_score"] = rnd.choice(_CHOICES["risk_score"])
                row["processing_timestamp"] = self._tick()
                upserts.append(row)
                lines.append(envelope("MODIFY", row))
            elif kind == "REMOVE":
                key = self._recent_live_key()
                lines.append(json.dumps({
                    "eventName": "REMOVE",
                    "dynamodb": {"OldImage": {"transaction_id": {"S": key}}},
                }))
            elif rnd.random() < 0.5:
                lines.append('{"eventName": "INSERT", "dynamodb": {"NewIm')
            else:
                row = self._new_row(DAYS - 1)
                self.seq -= 1  # the key never reaches the table
                del row["transaction_id"]
                lines.append(envelope("INSERT", row))
        self.model.upsert_batch(upserts)
        return lines, {"upserts": upserts, "malformed": n_bad}

    def next_dml_target(self) -> tuple[str, str]:
        """(customer_id, date) of a live row: DELETE/UPDATE predicate."""
        row = self.model.rows[self._recent_live_key()]
        return row["customer_id"], row_date(row)

    def next_round(self) -> dict:
        """Inputs of one round of the HTAP mix, drawn in the order the
        round runs them (batch, DELETE) so every target names a key that
        is live when its statement runs."""
        batch = self.next_batch()
        delete = self.next_dml_target()
        self.model.delete(*delete)
        return {"batch": batch, "delete": delete}


def envelope(event: str, row: dict) -> str:
    image = {
        c: ({"N": str(v)} if c in _NUMERIC else {"S": str(v)})
        for c, v in row.items()
    }
    return json.dumps({"eventName": event, "dynamodb": {"NewImage": image}})
