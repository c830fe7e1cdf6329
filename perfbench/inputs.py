"""Seeded benchmark inputs.

Two input sets, both written under the benchmark's own work directory and
both a pure function of the seed:

* ``make_tables`` — an sf0.1-shaped copy of the engine's synthetic star
  schema (the ten tables ``load_table`` serves), drawn from the same kind of
  independent uniform distributions as the reference test data: the same
  row counts, key ranges, value domains, 30-word document vocabulary with
  planted exact duplicates and ``" dup"``-suffixed near-duplicates, and
  label-clustered unit embeddings.  The seed changes every value but no
  size, so runs with different seeds measure the same amount of work.
* ``make_match_corpus`` — a season of StatsBomb-style match files: equally
  many copies of each committed fixture match under seeded distinct match
  ids (the engine derives ``match_id`` from the file name), plus the malformed and
  non-array fixtures once each.  Returns the copy -> source-fixture map the
  correctness check needs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_NEAR_DUPS = 250
N_EXACT_DUPS = 8
N_VECS = 2_000
VEC_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000


def _days(rng, n, first: str, last: str) -> pa.Array:
    """``n`` uniform whole days in [first, last] as timestamp[us]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng) -> pa.Table:
    n_base = N_DOCS - N_NEAR_DUPS - N_EXACT_DUPS
    lengths = rng.integers(10, 101, n_base)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    near = rng.choice(n_base, N_NEAR_DUPS, replace=False)
    texts += [texts[i] + " dup" for i in near]
    exact = rng.choice(n_base, N_EXACT_DUPS, replace=False)
    texts += [texts[i] for i in exact]
    order = rng.permutation(N_DOCS)  # planted copies get arbitrary ids
    texts = [texts[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
            "source": _pick(rng, [f"src{i}" for i in range(20)], N_DOCS),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.normal(0.0, 0.075, (10, VEC_DIM))
    raw = centroids[labels] + rng.normal(0.0, 1.0 / np.sqrt(VEC_DIM), (N_VECS, VEC_DIM))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), type=pa.int64()),
            "embedding": pa.array(list(unit), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def _events(rng) -> pa.Table:
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, N_EVENTS))
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), type=pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), type=pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )


def _named(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def make_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns the
    row count of each."""
    rng = np.random.default_rng([seed, 0x5F01])
    i32 = pa.int32()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), type=i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), type=i32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], type=i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(N_CUSTOMER), type=pa.int64()),
                "c_name": _named("Customer", N_CUSTOMER),
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), type=i32),
                "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(N_SUPPLIER), type=pa.int64()),
                "s_name": _named("Supplier", N_SUPPLIER),
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), type=i32),
                "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(N_PART), type=pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART)
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
                "p_type": _pick(rng, PART_TYPES, N_PART),
                "p_size": pa.array(rng.integers(1, 51, N_PART), type=i32),
                "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(N_ORDERS), type=pa.int64()),
                "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), type=pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
                "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500000.0),
                "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), type=pa.int64()),
                "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), type=pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), type=pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), type=i32),
                "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
                "l_extendedprice": _money(rng, N_LINEITEM, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
                "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
                "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
                "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def make_match_corpus(
    fixture_dir: str, out_dir: str, seed: int, n_copies: int
) -> dict[int, int]:
    """Write ``n_copies`` match files drawn from the fixture matches, each
    under a distinct seeded match id, plus ``bad.json`` and
    ``notarray.json`` once; returns {copy match id: source match id}."""
    sources = sorted(
        int(f[:-5]) for f in os.listdir(fixture_dir) if f[:-5].isdigit() and f.endswith(".json")
    )
    rng = np.random.default_rng([seed, 0xED21])
    ids = rng.choice(np.arange(100_000, 1_000_000), n_copies, replace=False)
    # every fixture equally often, in a seeded order, so the seed changes
    # which id copies which match but not the amount of work
    picks = rng.permutation(np.arange(n_copies) % len(sources))
    os.makedirs(out_dir, exist_ok=True)
    copies = {}
    for mid, k in zip(ids.tolist(), picks.tolist()):
        shutil.copyfile(
            os.path.join(fixture_dir, f"{sources[k]}.json"),
            os.path.join(out_dir, f"{mid}.json"),
        )
        copies[mid] = sources[k]
    for name in ("bad.json", "notarray.json"):
        shutil.copyfile(os.path.join(fixture_dir, name), os.path.join(out_dir, name))
    return copies
