"""Seeded input generators.

Every table follows the schema of the engine's fixture tables (FIXTURES.md)
and is a pure function of ``(seed, size)``.  Money, quantity and ratio
columns hold binary-exact values (multiples of 1/4, 1/32 or 1/64), so a sum
or a product over them is exact in float64 whatever order an engine adds
in, and Spark and pyarrow results can be compared by hash.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400 * 1_000_000
_WORDS = [f"w{i:03d}" for i in range(400)]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def documents(seed: int, n: int, first_id: int = 0) -> pa.Table:
    """``documents``: word-soup text with ~10% exact duplicates."""
    rng = np.random.default_rng([seed, 1, first_id])
    lens = rng.integers(5, 30, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.nonzero(rng.random(n) < 0.1)[0]:
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def lineitem(seed: int, n_orders: int, first_order: int = 1) -> pa.Table:
    """``lineitem`` sorted by ``l_orderkey`` (1-7 lines per order)."""
    rng = np.random.default_rng([seed, 2, first_order])
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(first_order, first_order + n_orders,
                               dtype=np.int64), per)
    n = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = rng.integers(3_600, 420_000, n) / 4.0
    ship = _EPOCH_US - 2000 * _DAY_US + rng.integers(0, 2500, n) * _DAY_US
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 20_001, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1_001, n, dtype=np.int64),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": qty * unit,
        "l_discount": rng.integers(0, 4, n) / 32.0,
        "l_tax": rng.integers(0, 6, n) / 64.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def write_parquet(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """Lay tables out as ``<sf_dir>/<name>.parquet`` — the layout
    ``catalog.load_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
