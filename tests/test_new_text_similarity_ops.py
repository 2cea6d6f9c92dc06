"""Semantic pins for the round-3 operators: p24 int8 quantization error
bounds and t11 first-seen novelty attribution (oracle parity covers
cross-engine value equality; these pin the MEANING on constructed data)."""

from __future__ import annotations

import math

from sqlrs_spark.registry import all_specs

SPECS = all_specs()


def test_p24_quantization_error_bound(spark, sf_dir):
    rows = SPECS["p24_embedding_quant"].fn(spark, sf_dir).collect()
    assert rows, "empty embeddings fixture?"
    for r in rows:
        # symmetric int8: per-dim reconstruction error <= scale/254 (half a
        # quantization step), so the squared sum over 64 dims is bounded
        scale = max(r.max_abs, 1e-300) if r.max_abs > 0 else 1.0
        step_half = scale / 254.0
        bound = 64 * (step_half * 1.0000001) ** 2
        assert 0.0 <= r.sq_err <= bound, (r.vec_id, r.sq_err, bound)
        assert -127 <= r.q_min <= r.q_max <= 127
        # at least one dim should hit the extreme of the grid (it IS the max)
        assert max(abs(r.q_min), abs(r.q_max)) == 127 or r.max_abs == 0


def test_t11_novelty_attribution(spark):
    # doc 1 owns its trigrams; doc 2 restates doc 1 plus one new trigram;
    # doc 3 is entirely novel
    df = spark.createDataFrame(
        [
            (1, "a b c d"),          # trigrams: abc, bcd
            (2, "a b c x"),          # abc (owned by 1), bcx (novel)
            (3, "p q r s"),          # pqr, qrs — all novel
        ],
        "doc_id bigint, text string",
    )
    from sqlrs_spark.operators.text import _t11

    got = {r.doc_id: r for r in spark.sql(_t11(True), documents=df).collect()}
    assert got[1].n_distinct_grams == 2 and got[1].n_novel == 2
    assert got[2].n_distinct_grams == 2 and got[2].n_novel == 1
    assert math.isclose(got[2].novelty_frac, 0.5)
    assert got[3].n_novel == 2 and math.isclose(got[3].novelty_frac, 1.0)
