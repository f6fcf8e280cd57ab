"""Deterministic input tables for the benchmark.

The engine reads one parquet file per table (``<dir>/<name>.parquet``)
with the schemas listed in FIXTURES.md. The benchmark writes its own copy
inside its run directory instead of reading a shared fixture, so a run
depends on nothing outside the checkout.

The rows themselves are a fixed function of ``BASE_SEED`` and ``ROWS``:
every run sees the same multiset of rows, so an oracle result computed
once stays valid for every run. The run seed only permutes the row order
of each file, so a query whose result depends on row order shows up as a
failed oracle check.

Every timestamp column is written as ``timestamp[us]``, as in the parquet
files of the shared sf0.001–sf0.1 fixtures. FIXTURES.md lists
``o_orderdate`` and ``l_shipdate`` as ``timestamp[ms]`` and ``events.ts`` as
``timestamp[ns]``; those physical types are not exercised here.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# Row counts of the sf0.01 fixture, the scale of the oracle-parity gate.
SCALE = "sf0.01"
ROWS = {
    "supplier": 100,
    "part": 2_000,
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
_DAY_US = 86_400 * 1_000_000


def fingerprint() -> str:
    """Identity of the generated rows: the hash of this file's source,
    which holds every knob of the generator."""
    src = Path(__file__).read_bytes()
    return hashlib.sha256(src).hexdigest()[:16]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _date_us(rng, start: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * _DAY_US, pa.timestamp("us"))


def base_tables() -> dict[str, pa.Table]:
    """Every table, in canonical row order."""
    rng = np.random.default_rng(BASE_SEED)
    n_supp, n_part, n_cust = ROWS["supplier"], ROWS["part"], ROWS["customer"]
    n_ord, n_li, n_ev = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    n_doc, n_emb = ROWS["documents"], ROWS["embeddings"]
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array("small red blue cold big green hot tiny".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split())[
            rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(
            "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split())[
            rng.integers(0, 5, n_cust)].tolist(),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _date_us(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)].tolist(),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _date_us(rng, "1995-01-02", 2498, n_li),
    })
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_ev * 15 // 1000, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n_doc)]
    # one document in twenty is a near-duplicate: an earlier text plus a token
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n_doc, p=_LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write(out_dir: Path, seed: int) -> None:
    """Write every table to ``out_dir``, rows permuted by ``seed``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, tbl in base_tables().items():
        perm = rng.permutation(tbl.num_rows)
        pq.write_table(tbl.take(pa.array(perm)), out_dir / f"{name}.parquet")
