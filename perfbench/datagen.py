"""Seeded synthetic tables for the Spark workloads.

Writes the ten parquet tables the package's fixtures, SQL surface and
pipeline operators read (``region nation customer supplier part orders
lineitem events documents embeddings``) with the same column names,
types and value domains as the package's test data.  The same seed
always gives the same files; a different seed changes the values but
not the table sizes, so run time does not drift with the seed.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

WORDS = (
    "join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark a "
    "group part big sort query fast the"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; about 5% are an earlier document with
    ``" dup"`` appended, so the near-duplicate operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_pick(rng, WORDS, k)))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors scattered loosely around one centre per label."""
    centres = rng.normal(size=(labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    x = 0.15 * centres[label] + rng.normal(scale=dim**-0.5, size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                list(x.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(label, pa.int32()),
        }
    )


def generate(out_dir: str | Path, seed: int, scale: float = 0.001) -> Path:
    """Write every table under ``out_dir`` and return it.  ``scale``
    sizes the TPC-H-style tables like a TPC-H scale factor (0.001 gives
    6,000 lineitem rows); documents and embeddings stay at 500 rows."""
    rng = np.random.default_rng(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(15, int(15_000 * scale))

    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    part_ids = np.arange(n_part)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(part_ids, pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part)
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (part_ids % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(range(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(
                    rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord
                ),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": _days(
                    rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(range(n_ev), pa.int64()),
                "ts": pa.array(ev_base + ev_ts.astype("timedelta64[us]"),
                               pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": _money(rng, 0.01, 490.0, n_ev),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, 500),
        "embeddings": _embeddings(rng, 500),
    }
    for name in TABLES:
        pq.write_table(tables[name], out / f"{name}.parquet")
    return out
