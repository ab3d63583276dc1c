"""Seeded synthetic corpus for the benchmark.

Writes the ten tables the engine reads (``io.readers.ALL_TABLES``), one
single-row-group parquet file each, with the column names, types and
value domains of the repository's test corpus (TESTDATA.md, FIXTURES.md
§7). The data come from one fixed seed, so every run reads the same
files and needs nothing outside the checkout; the benchmark's
``--seed`` only orders the queries.

Table sizes follow the test corpus at scale factor ``SCALE``. The files
are cached under a key that hashes this module's source, so an edit to
the generator never reuses files an older version wrote.
"""

from __future__ import annotations

import hashlib
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.005
DATA_SEED = 20240101
# Rows per unit of scale, as in the test corpus, where documents and
# embeddings never drop below 500 rows.
ROWS = {
    name: max(floor, round(per_sf * SCALE))
    for name, per_sf, floor in [
        ("customer", 150_000, 1),
        ("supplier", 10_000, 1),
        ("part", 200_000, 1),
        ("orders", 1_500_000, 1),
        ("lineitem", 6_000_000, 1),
        ("events", 1_000_000, 1),
        ("documents", 50_000, 500),
        ("embeddings", 20_000, 500),
    ]
}
EVENT_USERS = max(1, round(15_000 * SCALE))
EMBEDDING_DIM = 64
NEAR_DUP_SHARE = 0.05

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = ROWS
    i32, i64 = pa.int32(), pa.int64()

    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }
    )
    pk = np.arange(n["part"])
    part = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"])
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }
    )
    nl = n["lineitem"]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, month_us, ne))
    events = pa.table(
        {
            "event_id": pa.array(range(ne), i64),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, EVENT_USERS, ne), i64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(_pick(rng, VOCAB, int(rng.integers(10, 101)))) for _ in range(nd)
    ]
    # Near-duplicates (an existing text plus a marker word) give the dedup
    # and similarity queries real candidate pairs, as the test corpus does.
    for d in rng.choice(nd, int(nd * NEAR_DUP_SHARE), replace=False):
        texts[d] = texts[int(rng.integers(0, nd))] + " dup"
    documents = pa.table(
        {
            "doc_id": pa.array(range(nd), i64),
            "text": texts,
            "lang": _pick(rng, LANGS, nd, p=LANG_P),
            "source": [f"src{k % 20}" for k in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBEDDING_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(nv), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def ensure(cache_dir: Path) -> Path:
    """Return the corpus directory, writing the files on first use."""
    version = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]
    out = cache_dir / f"sf{SCALE}-{version}"
    done = out / "_COMPLETE"
    if done.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    for name, table in _tables().items():
        pq.write_table(table, out / f"{name}.parquet", compression="snappy")
    done.write_text(datetime.now().isoformat())
    return out
