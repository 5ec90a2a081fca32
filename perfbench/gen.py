"""Seeded input generators for the benchmark workloads.

Everything the program reads is written here, from ``--seed`` alone: the
same seed gives byte-identical inputs. The work per input is fixed (file
and row counts do not depend on the seed); the seed only moves values,
keys and the split of rows across files, so every seed costs the same.

Two input families:

- ``write_landing_dir``: the paper's nested AdTech impressions/clicks
  parquet files, named ``{type}_processed_dk_<yyyyMMddHHmmssSSS>_<lo>-<hi>_<part>.parquet``,
  plus a few dead-letter files (an unknown event type, and names whose
  timestamp cannot be parsed). Returns the truth the ETL check needs.
- ``write_catalog_tables``: the ten parquet tables the query catalog reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``), with
  the schemas of the repository's sf0.01 test data. The ``documents`` and
  ``events`` tables, the only ones a timed pass reads, are fitted to
  figures measured on that data (``perfbench/README.md``, "Inputs against
  the test data"): row counts, the 31-word vocabulary, 10-99 words per
  document, the language mix, 5% of documents ending in " dup", 20
  sources, 150 users over 30 days and five event types. The other tables
  only need the right schema and plausible ranges.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# ETL landing directory
# --------------------------------------------------------------------------

TARGET_UA = "Mozilla/5.0 (Linux; Android 12) graft-bench"
OTHER_UAS = ("crawler/2.1", "Mozilla/5.0 (X11; Linux x86_64) other")
TYPES = ("impressions", "clicks")
#: 2022-05-20..26: the seven-date range the n_dates observation misreads
FIRST_DATE = dt.date(2022, 5, 20)
N_DATES = 7
#: event files per run; the seed spreads them over (date, hour, type) slots
N_EVENT_FILES = 336
ROWS_PER_FILE = 150
TARGET_SHARE = 0.8
#: dead-letter files: rows here match the UA filter but carry no valid hour
#: (unparseable timestamp) or an unknown event type
N_BAD_NAME_FILES = 3
N_BAD_TYPE_FILES = 3
BAD_FILE_ROWS = 40


@dataclass
class EtlTruth:
    """What a correct ETL run must produce for one landing directory."""

    dates: list[str]
    #: (date, hour, type) -> target-UA rows; missing keys are zero
    counts: Counter = field(default_factory=Counter)
    dead_letter_rows: int = 0
    event_files: int = 0
    event_rows: int = 0

    def grid(self, date: str) -> list[tuple[int, int, int]]:
        """The zero-filled 24-row (hour, impressions, clicks) grid."""
        return [
            (
                h,
                self.counts[(date, h, "impressions")],
                self.counts[(date, h, "clicks")],
            )
            for h in range(24)
        ]

    def totals(self) -> tuple[int, int]:
        imp = sum(v for (_, _, t), v in self.counts.items() if t == "impressions")
        clk = sum(v for (_, _, t), v in self.counts.items() if t == "clicks")
        return imp, clk

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "dates": self.dates,
                "counts": [[*k, v] for k, v in sorted(self.counts.items())],
                "dead_letter_rows": self.dead_letter_rows,
                "event_files": self.event_files,
                "event_rows": self.event_rows,
            }, f)

    @classmethod
    def load(cls, path: str) -> EtlTruth:
        with open(path) as f:
            t = json.load(f)
        counts = Counter({(d, h, typ): n for d, h, typ, n in t.pop("counts")})
        return cls(counts=counts, **t)


def _event_table(rng: np.random.Generator, n: int, n_target: int, id0: int) -> pa.Table:
    """A nested subset of the AdTech event schema (SURVEY.md §1.2)."""
    uas = np.array([TARGET_UA] * n_target + [
        OTHER_UAS[i % len(OTHER_UAS)] for i in range(n - n_target)
    ], dtype=object)
    rng.shuffle(uas)
    creation = 1653000000000 + rng.integers(0, 10**9, size=n)
    return pa.table(
        {
            "transaction_header": pa.array(
                [
                    {"creation_time": int(c), "producer_time": int(c) - 500}
                    for c in creation
                ]
            ),
            "device_settings": pa.array(
                [
                    {
                        "user_agent": str(ua),
                        "browser_id": int(b),
                        "screen_size": {"width": 1920, "height": 1080},
                    }
                    for ua, b in zip(uas, rng.integers(0, 10**6, size=n))
                ]
            ),
            "interaction_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
            "banner": pa.array(
                [{"campaign_id": int(c)} for c in rng.integers(0, 500, size=n)],
                type=pa.struct([("campaign_id", pa.int32())]),
            ),
            "page_url": pa.array([f"https://site.test/p/{i % 997}" for i in range(n)]),
        }
    )


def write_landing_dir(out_dir: str, seed: int) -> EtlTruth:
    """Write the seeded landing directory; return the truth for it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    dates = [FIRST_DATE + dt.timedelta(days=d) for d in range(N_DATES)]
    truth = EtlTruth(dates=[d.isoformat() for d in dates])
    # seeded multinomial over slots: some hours get no file (zero-fill),
    # some several; the total file count stays fixed
    slots = [(d, h, t) for d in dates for h in range(24) for t in TYPES]
    slot_idx = rng.choice(len(slots), size=N_EVENT_FILES, replace=True)
    id0 = 100_000_000
    for i, si in enumerate(sorted(slot_idx)):
        day, hour, etype = slots[si]
        n_target = int(rng.binomial(ROWS_PER_FILE, TARGET_SHARE))
        ms = int(rng.integers(0, 3_600_000))
        ts = dt.datetime(day.year, day.month, day.day, hour) + dt.timedelta(
            milliseconds=ms
        )
        stamp = ts.strftime("%Y%m%d%H%M%S") + f"{ts.microsecond // 1000:03d}"
        name = f"{etype}_processed_dk_{stamp}_{id0}-{id0 + ROWS_PER_FILE}_{i % 4}.parquet"
        pq.write_table(
            _event_table(rng, ROWS_PER_FILE, n_target, id0),
            os.path.join(out_dir, name),
        )
        truth.counts[(day.isoformat(), hour, etype)] += n_target
        id0 += ROWS_PER_FILE
    for j in range(N_BAD_NAME_FILES + N_BAD_TYPE_FILES):
        n_target = int(rng.binomial(BAD_FILE_ROWS, TARGET_SHARE))
        if j < N_BAD_NAME_FILES:
            # 12 digits instead of yyyyMMddHHmmss: no timestamp, no hour
            name = f"impressions_processed_dk_2022052{j}1200_{id0}-{id0 + BAD_FILE_ROWS}_0.parquet"
        else:
            name = f"views_processed_dk_20220521{j:02d}0000000_{id0}-{id0 + BAD_FILE_ROWS}_0.parquet"
        pq.write_table(
            _event_table(rng, BAD_FILE_ROWS, n_target, id0),
            os.path.join(out_dir, name),
        )
        truth.dead_letter_rows += n_target
        id0 += BAD_FILE_ROWS
    truth.event_files = N_EVENT_FILES + N_BAD_NAME_FILES + N_BAD_TYPE_FILES
    truth.event_rows = (
        N_EVENT_FILES * ROWS_PER_FILE
        + (N_BAD_NAME_FILES + N_BAD_TYPE_FILES) * BAD_FILE_ROWS
    )
    return truth


# --------------------------------------------------------------------------
# Catalog tables
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
P_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
VOCAB = (
    "a the data row scan join hash batch customer column filter small slow "
    "merge order vector line table agg value key stream window spark group "
    "part big sort query fast"
).split()
LANGS = ("en", "en", "en", "zh", "de", "es", "fr")
EMB_DIM = 64


@dataclass(frozen=True)
class CatalogScale:
    """Row counts of one generated catalog (the sf0.01 test data has
    customers=1500, suppliers=100, parts=2000, orders=15000,
    lineitem=60000, events=10000, users=150, documents=500,
    embeddings=500)."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitem: int
    events: int
    users: int
    documents: int
    embeddings: int


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts in [lo, hi], as the test data holds them."""
    cents = rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, size=n)
    return np.round(cents / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    s, e = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, int((e - s).astype(int)) + 1, size=n)
    return (s + off).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random-vocabulary documents; about 5% are near-copies of an earlier
    document with ' dup' appended (25 of the 500 sf0.01 documents end in
    " dup")."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    """Unit-norm random float32 vectors with a random label 0..9."""
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    }


def write_catalog_tables(out_dir: str, seed: int, scale: CatalogScale) -> dict[str, int]:
    """Write the ten catalog tables; return their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    s = scale
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(s.customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(s.customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=s.customers).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.customers)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, size=s.customers)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s.suppliers, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s.suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=s.suppliers).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.suppliers)),
    })
    pk = np.arange(s.parts, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, size=s.parts), rng.integers(0, 8, size=s.parts))
        ]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, size=s.parts)]),
        "p_type": pa.array([P_TYPES[k] for k in rng.integers(0, 6, size=s.parts)]),
        "p_size": pa.array(rng.integers(1, 51, size=s.parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(s.orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, s.customers, size=s.orders).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, size=s.orders)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, s.orders)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", s.orders)),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, size=s.orders)]),
    })
    n = s.lineitem
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, s.orders, size=n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, s.parts, size=n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, size=n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 901.0, 104999.0, n)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n) / 100.0, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, size=n)]),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, size=n)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n)),
    })
    m = s.events
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(t0 + rng.integers(0, span_us, size=m).astype("timedelta64[us]"))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(m, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, s.users, size=m).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, size=m)]),
        "value": pa.array(_money(rng, 0.01, 490.0, m)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=m)]),
    })
    _write(out_dir, "documents", _documents(rng, s.documents))
    _write(out_dir, "embeddings", _embeddings(rng, s.embeddings))
    return {
        "region": 5, "nation": 25, "customer": s.customers,
        "supplier": s.suppliers, "part": s.parts, "orders": s.orders,
        "lineitem": s.lineitem, "events": s.events,
        "documents": s.documents, "embeddings": s.embeddings,
    }


def write_ann_vectors(path: str, seed: int, n_clusters: int, per_cluster: int) -> int:
    """Tight, far-apart clusters for the ANN index step: a query drawn from
    cluster c must get only cluster-c neighbours back, which makes the
    check exact without a brute-force oracle. Vector ``vec_id`` belongs to
    cluster ``vec_id // per_cluster``."""
    rng = np.random.default_rng(seed + 7919)
    centers = rng.uniform(-1.0, 1.0, size=(n_clusters, EMB_DIM)) * 10.0
    vecs = np.repeat(centers, per_cluster, axis=0) + rng.uniform(
        -0.05, 0.05, size=(n_clusters * per_cluster, EMB_DIM)
    )
    n = len(vecs)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float64())),
        }),
        path,
    )
    return n
