"""Seeded input generation for the benchmark workloads.

Everything the engine sees is made here from the run's ``--seed``:

- fixture-shaped tables (``region`` ... ``embeddings``) at a given scale
  factor, with the same schemas, key ranges and value domains as the
  repository's test fixtures, so registry keys and their DuckDB oracles
  run unchanged against them;
- the ``verb_cycle`` object corpus (count, size skew, folder fan-out,
  match share);
- the ``query_panel`` execution order.

Shapes that decide how much work a run does (row counts, how many
objects are large, how many match) are fixed by the scale; the seed
only chooses values, names and order. Runs on different seeds are then
comparable.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
_PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_PADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PNOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rows(sf: float, per_sf: int) -> int:
    return max(1, int(round(per_sf * sf)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_day: int, span_days: int, n: int) -> pa.Array:
    """Midnight timestamps ``start_day + [0, span_days)`` (µs, naive)."""
    us = _EPOCH_1995 + (start_day + rng.integers(0, span_days, n)) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; about 2% are near-copies of an earlier
    document (a few words replaced) and a few are exact copies, so the
    dedup and decontamination keys have clusters to find."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.004:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.024:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = str(words[int(rng.integers(0, len(words)))])
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs = rng.choice(_LANGS[0], n, p=_LANGS[1])
    sources = [f"src{s}" for s in rng.integers(0, 20, n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with a weak per-label direction."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = rng.normal(size=(n, dim)) + 0.3 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng, n: int, users: int) -> pa.Table:
    """Time-ordered events over January 2024 (30 days)."""
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def make_tables(rng, sf: float, only: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """Fixture-shaped tables at scale factor ``sf`` (lineitem ≈ 6M × sf)."""
    n_cust, n_supp = _rows(sf, 150_000), _rows(sf, 10_000)
    n_part, n_ord = _rows(sf, 200_000), _rows(sf, 1_500_000)
    n_line, n_ev = _rows(sf, 6_000_000), _rows(sf, 1_000_000)
    n_docs = 500 if sf <= 0.01 else _rows(sf, 50_000)
    n_emb = 500 if sf <= 0.01 else _rows(sf, 20_000)
    retail = np.round(900.0 + np.arange(n_part) * 0.1, 2)

    def build(name: str) -> pa.Table:
        if name == "region":
            return pa.table(
                {
                    "r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": pa.array(_REGIONS, pa.string()),
                }
            )
        if name == "nation":
            return pa.table(
                {
                    "n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
                }
            )
        if name == "customer":
            return pa.table(
                {
                    "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                    "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                    "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                    "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                    "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
                }
            )
        if name == "supplier":
            return pa.table(
                {
                    "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                    "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                    "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                    "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
                }
            )
        if name == "part":
            names = [
                f"{_PADJ[a]} {_PNOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]
            return pa.table(
                {
                    "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                    "p_name": pa.array(names),
                    "p_brand": pa.array(
                        [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                    ),
                    "p_type": pa.array(rng.choice(_PTYPES, n_part)),
                    "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                    "p_retailprice": pa.array(retail),
                }
            )
        if name == "orders":
            return pa.table(
                {
                    "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                    "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
                    "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                    "o_orderdate": _days(rng, 0, 2404, n_ord),
                    "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
                }
            )
        if name == "lineitem":
            part = rng.integers(0, n_part, n_line)
            qty = rng.integers(1, 51, n_line).astype(np.float64)
            return pa.table(
                {
                    "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                    "l_partkey": pa.array(part, pa.int64()),
                    "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                    "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                    "l_quantity": pa.array(qty),
                    "l_extendedprice": pa.array(np.round(qty * retail[part], 2)),
                    "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                    "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                    "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
                    "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
                    "l_shipdate": _days(rng, 1, 2499, n_line),
                }
            )
        if name == "events":
            return _events(rng, n_ev, _rows(sf, 15_000))
        if name == "documents":
            return _documents(rng, n_docs)
        if name == "embeddings":
            return _embeddings(rng, n_emb)
        raise ValueError(f"unknown table {name!r}")

    # always draw every table in the same order so a table's values do
    # not depend on which other tables were asked for
    out = {}
    for name in TABLES:
        t = build(name)
        if name in only:
            out[name] = t
    return out


def write_tables(out_dir: str, sf: float, seed: int, only: tuple[str, ...] = TABLES) -> str:
    """Write ``<out_dir>/<table>.parquet`` for each table; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    for name, t in make_tables(rng, sf, only).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ------------------------------------------------------------ verb corpus


@dataclass(frozen=True)
class CorpusObject:
    rel: str  # path under the corpus root, e.g. "f2/obj_00017_hot.csv"
    size: int
    sha256: str


# corpus shape: folder fan-out, share (and floor) of large objects, the
# small object size and the share of each extension that ingest matches
FOLDERS = 4
LARGE_SHARE = 0.01
MIN_LARGE = 4
SMALL_BYTES = 4096
HOT_SHARE = 0.5


def make_corpus(root: str, n: int, seed: int, large_bytes: int) -> list[CorpusObject]:
    """Write ``n`` objects under ``root`` and return what was written.

    Half are ``.csv`` and half ``.json``. ``max(MIN_LARGE, LARGE_SHARE*n)``
    objects are ``large_bytes`` long, split evenly between the two
    extensions; the rest are ``SMALL_BYTES``. A ``HOT_SHARE`` of each
    extension carries ``_hot`` in its name (the ingest step's match), the
    rest ``_cold``. The seed picks which indices get which role and the
    bytes; the counts are fixed.
    """
    rng = np.random.default_rng([seed, n])
    n_large = max(MIN_LARGE, int(round(LARGE_SHARE * n)))
    n_large += n_large % 2
    ext = np.array([".csv", ".json"] * (n // 2) + [".json"] * (n % 2))
    large = np.zeros(n, bool)
    hot = np.zeros(n, bool)
    for e in (".csv", ".json"):
        idx = rng.permutation(np.flatnonzero(ext == e))
        large[idx[: n_large // 2]] = True
        # hot share is taken separately over small and large objects so
        # the matched byte volume is fixed too
        for group in (idx[: n_large // 2], idx[n_large // 2 :]):
            hot[group[: int(round(HOT_SHARE * len(group)))]] = True
    out = []
    for i in range(n):
        tag = "hot" if hot[i] else "cold"
        rel = f"f{i % FOLDERS}/obj_{i:05d}_{tag}{ext[i]}"
        data = rng.bytes(large_bytes if large[i] else SMALL_BYTES)
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
        out.append(CorpusObject(rel, len(data), hashlib.sha256(data).hexdigest()))
    return out


def panel_order(keys: tuple[str, ...], seed: int) -> list[str]:
    """The ``query_panel`` execution order for this seed."""
    rng = np.random.default_rng([seed, 7])
    return [keys[i] for i in rng.permutation(len(keys))]
