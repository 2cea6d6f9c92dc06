"""Seeded input generation: a star-schema + corpus base shaped like the
testdata, and its key-shifted, token-salted 10x replica.

Every figure the base takes from the testdata is read from
``testdata_profile.json`` (written by ``profile_testdata.py``): row counts
per table at the BASE scale factor, and the corpus model measured on
sf0.1: document length uniform over [tokens_min, tokens_max] tokens drawn
uniformly from the measured vocabulary, ``marked_share`` of documents an
earlier document with the marker token appended (exact duplicates arise
when two copy the same one), language shares, source count, and unit-norm
64-d embeddings with uniform labels.  Relational value domains (uniform
TPC-H-style keys, dates and prices) match the profile's ``columns_sf0.01``
ranges.  Only random draws depend on the seed; row counts are fixed, so
every seed costs the same work.

The replica follows tools/bench10x.build_replica's design:
- replica i adds i * (STRIDE + offset) to every join key, so each replica
  joins only within itself and join fan-out matches the base;
- replicas 1..n-1 suffix every document token with ``_<tag><i>``, keeping
  replicas token-disjoint so duplicate structure grows linearly;
- nation/region are copied once; embeddings replicate as-is.
The seed picks ``tag`` and ``offset``.  Replica tables are directories of
PARTS part files, the multi-file layout real datasets have.
"""

from __future__ import annotations

import json
import os
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.bench10x import COPY_ONCE, SHIFT_COLS, STRIDE

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata_profile.json")) as _f:
    PROFILE = json.load(_f)

FACTOR = 10
PARTS = 16
#: the testdata scale factor whose row counts the base copies
BASE = "sf0.001"
ROWS = PROFILE["scales"][BASE]["rows"]
ORDERS = ROWS["orders"]
#: the corpus model, measured on the largest scale factor
DOCS = PROFILE["scales"]["sf0.1"]["documents"]
EMB = PROFILE["scales"]["sf0.1"]["embeddings"]
#: the base corpus is 2/5 of the base scale's (500 documents), keeping
#: sf0.1's documents : embeddings ratio.  With all 500, one corpus_x10
#: pass took 20 s and a run 97-109 s on a 4-vCPU host: too long for the
#: runs a benchmark check makes.
DOCUMENTS = ROWS["documents"] * 2 // 5
EMBEDDINGS = DOCUMENTS * EMB["rows"] // DOCS["rows"]

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US_PER_DAY = 86_400 * 10**6
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    vocab = DOCS["vocab"]
    lo, hi = DOCS["tokens_min"], DOCS["tokens_max"]
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DOCS["marked_share"]:
            texts.append(f"{texts[int(rng.integers(0, i))]} {DOCS['marker']}")
            continue
        toks = rng.integers(0, len(vocab), int(rng.integers(lo, hi + 1)))
        texts.append(" ".join(vocab[j] for j in toks))
    return texts


def base_tables(seed: int) -> dict[str, pa.Table]:
    """The base data set for ``seed``: one Arrow table per testdata table."""
    rng = np.random.default_rng([seed, 0xBA5E])
    n_ord, n_cust, n_supp, n_part = ORDERS, ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_line, n_ev = ROWS["lineitem"], ROWS["events"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _US_PER_DAY),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _US_PER_DAY),
        }
    )
    n_users = max(n_ev // 66, 10)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _documents(rng, DOCUMENTS)
    langs = list(DOCS["lang_share"])
    shares = np.array(list(DOCS["lang_share"].values()))
    shares /= shares.sum()
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
            "text": texts,
            "lang": [langs[i] for i in rng.choice(len(langs), DOCUMENTS, p=shares)],
            "source": [f"src{i % DOCS['sources']}" for i in range(DOCUMENTS)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    emb = rng.normal(0.0, 1.0, (EMBEDDINGS, EMB["dim"]))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(EMBEDDINGS), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), EMB["dim"]).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, EMB["labels"], EMBEDDINGS), pa.int32()),
        }
    )
    return t


def replica_params(seed: int) -> tuple[str, int]:
    """(salt tag, stride offset) the seed picks for the replica."""
    rng = np.random.default_rng([seed, 0x5A17])
    tag = "".join(rng.choice(list(string.ascii_lowercase), 3))
    return tag, int(rng.integers(0, 10**6))


def replicate(base: dict[str, pa.Table], seed: int, factor: int = FACTOR) -> dict[str, pa.Table]:
    tag, offset = replica_params(seed)
    out = {t: base[t] for t in COPY_ONCE}
    for t, cols in SHIFT_COLS.items():
        parts = []
        for r in range(factor):
            tbl = base[t]
            shift = r * (STRIDE + offset)
            for c in cols:
                i = tbl.schema.get_field_index(c)
                tbl = tbl.set_column(i, c, pa.array(tbl[c].to_numpy() + shift, pa.int64()))
            if t == "documents" and r > 0:
                salted = [
                    " ".join(f"{tok}_{tag}{r}" for tok in x.split(" "))
                    for x in tbl["text"].to_pylist()
                ]
                tbl = tbl.set_column(1, "text", pa.array(salted)).set_column(
                    4, "n_chars", pa.array([len(x) for x in salted], pa.int64())
                )
            parts.append(tbl)
        out[t] = pa.concat_tables(parts)
    return out


def write_tables(tables: dict[str, pa.Table], root: str, parts: int) -> None:
    """``root/<t>.parquet``: a single file when ``parts`` is 1, else a
    directory of ``parts`` files (dimension copies stay one file)."""
    os.makedirs(root, exist_ok=True)
    for name, tbl in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        if parts == 1:
            pq.write_table(tbl, path)
            continue
        os.makedirs(path, exist_ok=True)
        n = 1 if name in COPY_ONCE else parts
        step = -(-tbl.num_rows // n)
        for k in range(n):
            pq.write_table(tbl.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def materialize(seed: int, root: str, replica: bool) -> str:
    """Write the seed's data set under ``root`` once and return its
    directory; a finished directory (marked ``_OK``) is reused."""
    dst = os.path.join(root, f"{'x%d' % FACTOR if replica else 'base'}-{seed}")
    if os.path.exists(os.path.join(dst, "_OK")):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    base = base_tables(seed)
    write_tables(replicate(base, seed) if replica else base, dst, PARTS if replica else 1)
    open(os.path.join(dst, "_OK"), "w").close()
    return dst
