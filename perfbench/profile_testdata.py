"""Measure the testdata the generator imitates and write the figures to
``perfbench/testdata_profile.json``, which ``datagen`` reads as its
parameters.

    python3 perfbench/profile_testdata.py TESTDATA_DIR

``TESTDATA_DIR`` holds one ``sf<scale>`` directory per scale factor, each
with one parquet file per table.  The benchmark itself never reads the
testdata: it only reads the figures this script wrote.
"""

from __future__ import annotations

import collections
import json
import os
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "testdata_profile.json")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
#: the token the testdata appends to a copied document
MARKER = "dup"


def documents(con, path: str) -> dict:
    rows = con.execute(f"SELECT text, lang, source FROM '{path}' ORDER BY doc_id").fetchall()
    texts = [r[0] for r in rows]
    toks = [t.split(" ") for t in texts]
    lens = np.array([len(t) for t in toks])
    words = collections.Counter(w for t in toks for w in t)
    marked = [t for t in toks if MARKER in t]
    known = set(texts)
    # a near duplicate: an earlier document with the marker appended
    near = sum(" ".join(w for w in t if w != MARKER) in known for t in marked)
    langs = collections.Counter(r[1] for r in rows)
    return {
        "rows": len(texts),
        "tokens_min": int(lens.min()),
        "tokens_max": int(lens.max()),
        "tokens_mean": round(float(lens.mean()), 3),
        # counts of token lengths in ten equal bins: flat means uniform
        "tokens_hist": np.histogram(lens, bins=10)[0].tolist(),
        "vocab": sorted(w for w in words if w != MARKER),
        "vocab_share_min_max": [
            round(min(c for w, c in words.items() if w != MARKER) / sum(words.values()), 5),
            round(max(c for w, c in words.items() if w != MARKER) / sum(words.values()), 5),
        ],
        "marker": MARKER,
        "near_dup_share": round(near / len(texts), 5),
        "marked_share": round(len(marked) / len(texts), 5),
        "exact_dup_share": round((len(texts) - len(known)) / len(texts), 5),
        "non_ascii_docs": sum(any(ord(c) > 127 for c in t) for t in texts),
        "punctuation_docs": sum(any(not (c.isalnum() or c == " ") for c in t) for t in texts),
        "lang_share": {k: round(v / len(rows), 4) for k, v in sorted(langs.items())},
        "sources": len({r[2] for r in rows}),
    }


def embeddings(con, path: str) -> dict:
    rows = con.execute(f"SELECT embedding, label FROM '{path}' ORDER BY vec_id").fetchall()
    emb = np.array([r[0] for r in rows], dtype=np.float64)
    labels = np.array([r[1] for r in rows])
    norms = np.linalg.norm(emb, axis=1)
    cents = np.array([emb[labels == k].mean(0) for k in np.unique(labels)])
    return {
        "rows": len(rows),
        "dim": int(emb.shape[1]),
        "component_mean": round(float(emb.mean()), 5),
        "component_std": round(float(emb.std()), 5),
        "norm_min_max": [round(float(norms.min()), 6), round(float(norms.max()), 6)],
        "labels": int(labels.max()) + 1,
        # about 1/sqrt(rows per label) when labels carry no structure
        "label_centroid_norm_mean": round(float(np.linalg.norm(cents, axis=1).mean()), 4),
    }


def columns(con, d: str) -> dict:
    out = {}
    for t in TABLES[:-2]:
        path = os.path.join(d, f"{t}.parquet")
        for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall():
            lo, hi, n = con.execute(
                f"SELECT min({name}), max({name}), count(DISTINCT {name}) FROM '{path}'"
            ).fetchone()
            out[f"{t}.{name}"] = {"type": typ, "min": str(lo), "max": str(hi), "distinct": n}
    return out


def main(root: str) -> int:
    con = duckdb.connect()
    scales = sorted(s for s in os.listdir(root) if s.startswith("sf"))
    prof: dict = {"scales": {}}
    for s in scales:
        d = os.path.join(root, s)
        prof["scales"][s] = {
            "rows": {
                t: con.execute(f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0]
                for t in TABLES
            },
            "documents": documents(con, f"{d}/documents.parquet"),
            "embeddings": embeddings(con, f"{d}/embeddings.parquet"),
        }
    prof["columns_sf0.01"] = columns(con, os.path.join(root, "sf0.01"))
    with open(OUT, "w") as f:
        json.dump(prof, f, indent=1)
        f.write("\n")
    print(OUT)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
