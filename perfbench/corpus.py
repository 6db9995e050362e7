"""Seeded synthetic corpus with the testdata schemas the registry reads.

The registry's queries take an ``sf_dir`` holding one parquet file per table
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings).  This module writes such a directory from a seed, so
the benchmark needs no external data: the same seed and scale factor give
byte-identical inputs.  Row counts and value domains follow the testdata
of TESTDATA.md and FIXTURES.md at the same scale factor (independent
uniform columns, a 30-word
document vocabulary with ~5 % planted " dup" near-duplicates, unit-norm
64-d embeddings in 10 labels).
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_EPOCH = _dt.datetime(1970, 1, 1)
_US_PER_DAY = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int((_dt.datetime(y, m, d) - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: tuple, hi: tuple) -> np.ndarray:
    """Midnight timestamps (us) uniform over [lo, hi] inclusive."""
    a, b = _day_us(*lo), _day_us(*hi)
    return a + rng.integers(0, (b - a) // _US_PER_DAY + 1, n) * _US_PER_DAY


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus " dup" tokens
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table of the corpus at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(150, int(15_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": pa.array(
                    [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, _PTYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _ts(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_days(rng, n_line, (1995, 1, 2), (2001, 11, 4))),
        }
    )
    # strictly increasing event times: (user_id, ts) stays unique, as the
    # as-of join's precondition requires
    gaps = 1 + rng.exponential(30 * _US_PER_DAY / n_ev, n_ev).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _ts(_day_us(2024, 1, 1) + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write(out_dir: str, sf: float, seed: int) -> None:
    """Write the corpus as ``<out_dir>/<table>.parquet`` (one row group each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
