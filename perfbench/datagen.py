"""Seeded input tables for the benchmark.

Writes the ten fixture tables the engine reads (``<dir>/<table>.parquet``,
one row group each). Every value is drawn from a NumPy generator keyed by
``(seed, stream)``, so one seed always yields byte-identical files and
foreign keys always point at existing rows.

The shapes are measured from the sf0.1 test fixtures (parquet footers
and column statistics; the constants below say what was measured).
Where FIXTURES.md disagrees, it describes an older fixture vintage and
the measured value is used: keys run 0..N-1, every timestamp column is
TIMESTAMP(MICROS), ``lang`` has five values and documents have 10..100
tokens.

The star schema has its sf0.1 row counts; ``events`` (20k of 100k),
``documents`` (1.5k of 5k) and ``embeddings`` (300 of 2k) are smaller,
which keeps the per-call floor the dominant cost of the stream keys and
the DuckDB oracles of the corpus keys within a run's time limit. ``version``
re-draws only the corpus tables (``documents``, ``embeddings``): it is
the next input version a refreshing workload swaps in.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 20_000,
    "documents": 1_500,
    "embeddings": 300,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "cold", "steel", "green"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
# documents (sf0.1: 5000 rows). Text is a uniform draw from 30 words with
# a uniform token count in 10..100 (measured: 10..100, 5th/50th/95th
# percentiles 14/54/94). Exactly 5% of the rows (250) are a copy of
# another row, earlier or later, with " dup" appended; "dup" occurs in no
# other row. A copy of a copy carries two (measured: 3 rows) and two
# copies of one row are exact duplicates (measured: 8 rows share a text).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
TOKENS = (10, 100)
NEAR_COPY_SHARE = 0.05
NEAR_COPY_MARK = "dup"
# Measured shares: en 2059, zh 753, es 744, fr 742, de 702 of 5000.
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# embeddings (sf0.1: 2000 rows): i.i.d. normal 64-vectors scaled to unit
# length (measured: component sd 0.125, kurtosis 2.92, no pair above
# cosine 0.61, so no planted near-copies); label uniform over 0..9.
EMBED_DIM = 64
N_LABELS = 10
CORPUS_TABLES = ("documents", "embeddings")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed: int, stream: str, version: int = 0) -> np.random.Generator:
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag, version])


def _days(start: dt.datetime, offsets: np.ndarray) -> pa.Array:
    base = int((start - _EPOCH).total_seconds() * 1_000_000)
    return pa.array(base + offsets.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def star_tables(seed: int) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem.

    Measured on sf0.1: keys 0..N-1; n_regionkey = n_nationkey % 5; every
    categorical column uniform over the listed values; p_retailprice =
    900 + (p_partkey % 1000) / 10; o_orderdate 1995-01-01 + 0..2404 days,
    l_shipdate 1995-01-02 + 0..2498 days, both TIMESTAMP(MICROS) at
    midnight; l_orderkey uniform over all orders, which leaves 1.8% of the
    orders without a line item."""
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    r = _rng(seed, "customer")
    n = ROWS["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
            "c_mktsegment": _pick(r, SEGMENTS, n),
        }
    )
    r = _rng(seed, "supplier")
    n = ROWS["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
        }
    )
    r = _rng(seed, "part")
    n = ROWS["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": _pick(r, names, n),
            "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(r, PART_TYPES, n),
            "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0),
        }
    )
    r = _rng(seed, "orders")
    n_orders = ROWS["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, ROWS["customer"], n_orders)),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n_orders),
            "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n_orders)),
            "o_orderdate": _days(dt.datetime(1995, 1, 1), r.integers(0, 2405, n_orders)),
            "o_orderpriority": _pick(r, PRIORITIES, n_orders),
        }
    )
    r = _rng(seed, "lineitem")
    n = ROWS["lineitem"]
    out["lineitem"] = pa.table(
        {
            # Not every order gets a line item: the anti-join keys rely on it.
            "l_orderkey": pa.array(r.integers(0, n_orders, n)),
            "l_partkey": pa.array(r.integers(0, ROWS["part"], n)),
            "l_suppkey": pa.array(r.integers(0, ROWS["supplier"], n)),
            "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n)),
            "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(r, ["A", "N", "R"], n),
            "l_linestatus": _pick(r, ["F", "O"], n),
            "l_shipdate": _days(dt.datetime(1995, 1, 2), r.integers(0, 2499, n)),
        }
    )
    return out


def events_table(seed: int) -> pa.Table:
    """Measured on sf0.1: ts TIMESTAMP(MICROS), sorted, uniform over the 30
    days from 2024-01-01; user_id 0..1499; event_type uniform; value
    exponential with mean 50 at 2 decimals; props ``{"k": <0..99>}``."""
    r = _rng(seed, "events")
    n = ROWS["events"]
    start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    span = 30 * 86_400_000_000
    ts = np.sort(r.integers(0, span, n)) + start
    ks = r.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 1500, n)),
            "event_type": _pick(r, EVENT_TYPES, n),
            "value": pa.array(np.round(r.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in ks]),
        }
    )


def corpus_tables(seed: int, version: int) -> dict[str, pa.Table]:
    """documents and embeddings, drawn as the sf0.1 fixtures are (see the
    constants above)."""
    r = _rng(seed, "documents", version)
    n = ROWS["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    lo, hi = TOKENS
    texts = [" ".join(vocab[r.integers(0, len(vocab), int(r.integers(lo, hi + 1)))]) for _ in range(n)]
    for i in r.choice(n, round(n * NEAR_COPY_SHARE), replace=False):
        j = int(r.integers(0, n - 1))
        texts[i] = f"{texts[j + (j >= i)]} {NEAR_COPY_MARK}"
    lang_idx = r.choice(len(LANGS), n, p=LANG_P)
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[lang_idx]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    r = _rng(seed, "embeddings", version)
    n = ROWS["embeddings"]
    vecs = r.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, N_LABELS, n).astype(np.int32)),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def _write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=table.num_rows + 1,
        )


def write_inputs(data_dir: str, seed: int, versions: list[int]) -> None:
    """Write one run's inputs: all tables at version 0 into
    ``<data_dir>/live`` (the directory the engine reads) and the corpus
    tables of each input version ``v >= 1`` into ``<data_dir>/v<v>``."""
    tables = star_tables(seed)
    tables["events"] = events_table(seed)
    tables.update(corpus_tables(seed, 0))
    _write_tables(tables, os.path.join(data_dir, "live"))
    for v in versions:
        if v:
            _write_tables(corpus_tables(seed, v), os.path.join(data_dir, f"v{v}"))
