"""Sampling-quality gate: the weighted sampler must actually weight.

Oracle parity (test_oracle_parity) pins that p23's sequential-Poisson
selection is computed identically in both engines; this file pins that
the selection has the PPS property it exists for — bigger documents are
chosen more often than smaller ones — and that the fixed-size contract
holds per stratum.

The fixture is constructed, not the driver corpus: one stratum per
source with a 10x size spread between its "large" and "small" halves, so
the expected selection bias is unambiguous. Everything derives from the
same md5 draw the operator uses, so the measured numbers are exact and
seed-free.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sqlrs_spark.registry import all_specs

SPECS = all_specs()

_N_SOURCES = 8
_DOCS_PER_SOURCE = 60  # half large (9000 chars), half small (900 chars)
_K = 10  # p23's per-stratum sample size


@pytest.fixture(scope="module")
def pps_fixture(tmp_path_factory):
    docs = []
    doc_id = 0
    for s in range(_N_SOURCES):
        for i in range(_DOCS_PER_SOURCE):
            n_chars = 9000 if i < _DOCS_PER_SOURCE // 2 else 900
            docs.append(
                {
                    "doc_id": doc_id,
                    "text": "x " * 10,  # content is irrelevant to p23
                    "lang": "en",
                    "source": f"src{s}",
                    "n_chars": n_chars,
                }
            )
            doc_id += 1
    sf_dir = str(tmp_path_factory.mktemp("pps_sf"))
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def test_p23_is_fixed_size_per_stratum(spark, pps_fixture):
    out = {r["source"]: r for r in SPECS["p23_pps_sample"].fn(spark, pps_fixture).collect()}
    assert len(out) == _N_SOURCES
    for row in out.values():
        assert row["n_docs"] == _K, f"{row['source']} sampled {row['n_docs']} != {_K}"


def test_p23_prefers_large_documents(spark, pps_fixture):
    """PPS property: with a 10x weight spread, the k-smallest-priority
    sample should be dominated by large docs.  Expected large share per
    stratum is 10/11 ≈ 0.91; require a clear majority overall (the draw
    is a fixed hash, so this is deterministic, not flaky)."""
    out = SPECS["p23_pps_sample"].fn(spark, pps_fixture).collect()
    total_chars = sum(r["sampled_chars"] for r in out)
    total_docs = sum(r["n_docs"] for r in out)
    # if selection ignored weights, mean sampled size would be ~4950;
    # PPS with a 10x spread pushes it toward 9000
    mean_chars = total_chars / total_docs
    assert mean_chars > 7000, f"mean sampled doc size {mean_chars:.0f} — not weighted"


def test_p23_is_a_subset_sample(spark, pps_fixture):
    """sampled_chars must be attainable from real documents: per stratum,
    bounded by k * max_doc_size and at least k * min_doc_size."""
    for r in SPECS["p23_pps_sample"].fn(spark, pps_fixture).collect():
        assert _K * 900 <= r["sampled_chars"] <= _K * 9000


# --- p37 domain-cap property gates ---------------------------------------
#
# Oracle parity pins that the stratified plan equals the per-source
# running-window spec; these pin the properties the cap EXISTS for, on
# the driver corpus itself.  The spec is EXCLUSIVE-running-total (p30's):
# a doc is kept while the budget is not yet exhausted BEFORE it, so the
# boundary doc may overshoot the ceiling by at most its own size — the
# gates assert cap-plus-one-doc, and strict truncation only for sources
# exceeding the cap by more than their largest document.


def _p37_frames(spark, sf_dir):
    from pyspark.sql import functions as F

    from sqlrs_spark.operators.sampling import _P37_DIV, _P37_FEAT_SPARK
    from sqlrs_spark.sources.tables import load_table

    feat = spark.sql(_P37_FEAT_SPARK, documents=load_table(spark, sf_dir, "documents"))
    per_src = {
        r["source"]: (r["tk"], r["mx"])
        for r in feat.groupBy("source")
        .agg(F.sum("n_tokens").alias("tk"), F.max("n_tokens").alias("mx"))
        .collect()
    }
    cap = sum(tk for tk, _ in per_src.values()) // _P37_DIV
    kept = {
        r["source"]: r["kept_tokens"]
        for r in SPECS["p37_domain_cap_select"].fn(spark, sf_dir).collect()
    }
    return per_src, cap, kept


def test_p37_no_source_exceeds_cap_plus_boundary_doc(spark, sf_dir):
    per_src, cap, kept = _p37_frames(spark, sf_dir)
    assert kept, "selection must be non-empty"
    for s, k in kept.items():
        tk, mx = per_src[s]
        assert k < cap + mx, (s, k, cap, mx)


def test_p37_small_sources_kept_whole_and_large_truncated(spark, sf_dir):
    per_src, cap, kept = _p37_frames(spark, sf_dir)
    whole = [s for s, (tk, _) in per_src.items() if tk <= cap]
    # strict truncation is only guaranteed past the one-doc overshoot
    truncated = [s for s, (tk, mx) in per_src.items() if tk > cap + mx]
    # the corpus must exercise BOTH paths or the gate is vacuous
    assert truncated and whole, per_src
    for s in whole:
        assert kept[s] == per_src[s][0], (s, kept[s], per_src[s])
    for s in truncated:
        assert kept[s] < per_src[s][0], (s, kept[s], per_src[s])


def test_p39_actually_flattens_the_language_mix(spark, sf_dir):
    """p39's property gate: the corpus language mix is skewed (en several
    times the rarest language); after resampling the kept counts must be
    near-uniform.  Deterministic md5 draws => exact measurement: require
    the kept max/min ratio to shrink below half the input's skew ratio
    and below 2x absolute (binomial noise at this SF stays well inside)."""
    rows = SPECS["p39_target_mix_resample"].fn(spark, sf_dir).collect()
    before = {r["lang"]: r["n_before"] for r in rows}
    kept = {r["lang"]: r["n_kept"] for r in rows}
    skew_before = max(before.values()) / min(before.values())
    skew_after = max(kept.values()) / min(kept.values())
    assert skew_before > 2.0, before  # the gate must have something to flatten
    assert skew_after < min(2.0, skew_before / 2), (before, kept)


def test_p37_and_p39_survive_null_and_empty_text(spark, tmp_path):
    """Degenerate-corpus regression (round-6 review finding): a NULL-text
    document crashed p37's driver-side cutoff fold (None in the
    per-(source, quality) frame).  Both mixing ops must now agree with
    their oracles on a corpus carrying NULL and empty texts."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle import compare

    rows = []
    for i in range(40):
        text = None if i % 13 == 0 else ("" if i % 7 == 0 else f"tok{i} tok{i % 3} x")
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": ["en", "en", "fr"][i % 3],
                "source": f"s{i % 4}",
                "n_chars": len(text) if text else 0,
            }
        )
    d = str(tmp_path / "degenerate")
    import os

    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                "text": pa.array([r["text"] for r in rows], pa.string()),
                "lang": pa.array([r["lang"] for r in rows], pa.string()),
                "source": pa.array([r["source"] for r in rows], pa.string()),
                "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    for name in ("p37_domain_cap_select", "p39_target_mix_resample"):
        spec = SPECS[name]
        ok, msg = compare(spec.fn(spark, d), con, spec.oracle)
        assert ok, f"{name}: {msg}"
