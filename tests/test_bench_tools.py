"""tools/bench10x.build_replica: the key-shifted, token-salted replica that
the scaled bench and perfbench's generated inputs both follow."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq

from sqlrs_spark.sources.tables import TABLES
from tests.test_load_table import schema_mismatches
from tools import bench10x


def _rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def test_build_replica_shifts_salts_and_reuses(spark, sf_dir, tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(bench10x, "SRC", sf_dir)
    dst = str(tmp_path / "replica")
    bench10x.build_replica(spark, dst, factor=2)

    stride = bench10x.STRIDE
    for t, cols in bench10x.SHIFT_COLS.items():
        base = _rows(f"{sf_dir}/{t}.parquet")
        rep = _rows(f"{dst}/{t}.parquet")
        assert len(rep) == 2 * len(base), t
        for c in cols:
            want = Counter(r[c] for r in base)
            want.update(None if r[c] is None else r[c] + stride for r in base)
            assert Counter(r[c] for r in rep) == want, (t, c)

    base_text = {r["doc_id"]: r["text"] for r in _rows(f"{sf_dir}/documents.parquet")}
    rep_docs = _rows(f"{dst}/documents.parquet")
    r0 = {r["doc_id"]: r["text"] for r in rep_docs if r["doc_id"] < stride}
    r1 = {r["doc_id"] - stride: r["text"] for r in rep_docs if r["doc_id"] >= stride}
    assert r0 == base_text
    assert r1.keys() == base_text.keys()
    for doc_id, text in r1.items():
        if base_text[doc_id] is None:
            assert text is None
            continue
        toks = text.split(" ")
        assert all(tok.endswith("_r1") for tok in toks), doc_id
        assert " ".join(tok[: -len("_r1")] for tok in toks) == base_text[doc_id]

    for t in bench10x.COPY_ONCE:
        assert len(_rows(f"{dst}/{t}.parquet")) == len(_rows(f"{sf_dir}/{t}.parquet")), t
    # multi-file directories load with the schema Spark infers
    assert schema_mismatches(spark, dst, TABLES) == []

    marker = os.path.join(dst, "_REPLICA_OK")
    built_at = os.path.getmtime(f"{dst}/orders.parquet")
    capsys.readouterr()
    bench10x.build_replica(spark, dst, factor=2)
    assert f"# reusing replica at {dst}" in capsys.readouterr().err
    assert os.path.getmtime(f"{dst}/orders.parquet") == built_at
    assert open(marker).read() == f"{bench10x.MARKER_VERSION} x2\n"
