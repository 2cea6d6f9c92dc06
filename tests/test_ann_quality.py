"""ANN quality gate: the approximate variants must actually find the exact
neighbors, measured on data with real cluster structure.

Oracle parity (test_oracle_parity) proves each variant computes ITS OWN
definition correctly in both engines; this file pins retrieval quality —
the number a user of the similarity operators cares about.

Why a constructed fixture: the driver's synthetic embeddings are pure
noise (same-label mean cosine ≈ different-label ≈ 0, verified in
test_driver_embeddings_are_unstructured), and on unstructured data ANY
bucketing method's recall is bounded by its candidate fraction — no
meaningful floor exists. Real embedding corpora are clustered; recall is
measured there. The fixture is seeded, so these are exact measurements,
not flaky bounds (measured: IVF 0.88, LSH 0.40).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sqlrs_spark.registry import all_specs

SPECS = all_specs()


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _mean_recall(approx_sets, exact_sets):
    return sum(
        len(approx_sets.get(q, set()) & e) / len(e) for q, e in exact_sets.items()
    ) / len(exact_sets)


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    """500 vectors in 10 well-separated clusters (center ±0.5σ noise, 64-d),
    shuffled so the query ids (vec_id < 10) span clusters."""
    rng = np.random.default_rng(7)
    dim, n_clusters, per = 64, 10, 50
    centers = rng.normal(size=(n_clusters, dim)) * 3.0
    vecs, labels = [], []
    for c in range(n_clusters):
        vecs.append(centers[c] + rng.normal(size=(per, dim)) * 0.5)
        labels += [c] * per
    v = np.vstack(vecs).astype(np.float32)
    perm = rng.permutation(len(v))
    v, labels = v[perm], [labels[i] for i in perm]
    d = str(tmp_path_factory.mktemp("ann_clustered"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(v)), pa.int64()),
                "embedding": pa.array(
                    [list(map(float, row)) for row in v], pa.list_(pa.float32())
                ),
                "label": pa.array(labels, pa.int64()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    return d


@pytest.fixture(scope="module")
def exact_sets(spark, clustered_dir):
    return _topk_sets(SPECS["p06_ann_bruteforce"].fn(spark, clustered_dir))


def test_exact_is_complete(spark, clustered_dir, exact_sets):
    # the baseline itself must return a full top-5 for every query vector
    assert len(exact_sets) == 10
    assert all(len(s) == 5 for s in exact_sets.values())


def test_ivf_recall_on_clustered(spark, clustered_dir, exact_sets):
    # 2-probe IVF must recover most true neighbors when structure exists;
    # a broken list assignment or probe join craters this toward 0
    r = _mean_recall(_topk_sets(SPECS["p08_ann_ivf"].fn(spark, clustered_dir)), exact_sets)
    assert r >= 0.7, f"IVF mean recall@5 {r:.2f} < 0.7 (measured 0.88)"


def test_lsh_recall_on_clustered(spark, clustered_dir, exact_sets):
    # single-probe 8-plane LSH is the cheapest variant — lower floor, but a
    # sign/bucket bug still lands near 0 (measured 0.40)
    r = _mean_recall(_topk_sets(SPECS["p07_ann_lsh"].fn(spark, clustered_dir)), exact_sets)
    assert r >= 0.3, f"LSH mean recall@5 {r:.2f} < 0.3 (measured 0.40)"


def test_driver_embeddings_are_unstructured(duck, oracle_sf_dir):
    # documents WHY recall gates don't run on driver data: same-label pairs
    # are no closer than different-label pairs (pure noise), so recall there
    # is bounded by candidate fraction for any bucketing method
    duck.execute(
        f"CREATE OR REPLACE VIEW emb_chk AS "
        f"SELECT * FROM '{oracle_sf_dir}/embeddings.parquet'"
    )
    rows = duck.execute(
        """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] v, label FROM emb_chk)
        SELECT q.label = c.label AS same,
               AVG(list_dot_product(q.v, c.v)
                   / SQRT(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)))
        FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        GROUP BY 1
        """
    ).fetchall()
    cos = {bool(s): m for s, m in rows}
    assert abs(cos[True]) < 0.05 and abs(cos[False]) < 0.05, cos


def test_multiprobe_recall_on_clustered(spark, clustered_dir, exact_sets):
    # 9-probe (self + 8 single-flip) LSH must close most of single-probe's
    # recall gap at ~9x query-side candidate cost (measured 0.82 vs 0.40)
    r = _mean_recall(
        _topk_sets(SPECS["p15_ann_multiprobe"].fn(spark, clustered_dir)), exact_sets
    )
    assert r >= 0.7, f"multi-probe LSH mean recall@5 {r:.2f} < 0.7 (measured 0.82)"


def test_kmeans_ivf_recall_on_clustered(spark, clustered_dir, exact_sets):
    # trained centroids should match or beat p08's frozen-sample quantizer
    # on clustered data (k-means converges onto the true cluster centers)
    r = _mean_recall(
        _topk_sets(SPECS["p18_ann_ivf_kmeans"].fn(spark, clustered_dir)), exact_sets
    )
    assert r >= 0.7, f"k-means IVF mean recall@5 {r:.2f} < 0.7"


def test_pq_recall_on_clustered(spark, clustered_dir, exact_sets):
    # PQ scores through 8x4-bit codes + ADC, then exactly reranks a top-32
    # pool: on clustered data the compressed distances must still surface
    # the true neighbors into that pool (a code-assignment or LUT-join bug
    # craters this toward the candidate fraction)
    r = _mean_recall(_topk_sets(SPECS["p35_pq_ann"].fn(spark, clustered_dir)), exact_sets)
    assert r >= 0.7, f"PQ-ADC mean recall@5 {r:.2f} < 0.7 (measured 0.84)"


def test_p38_mutual_knn_respects_planted_clusters(spark, clustered_dir):
    """Graph-quality gate for p38 on the planted-cluster fixture: with 10
    well-separated clusters, mutual-kNN edges must (a) exist in volume —
    mutuality may thin the directed lists but not empty them — and (b)
    stay inside clusters: an edge crossing two planted clusters means
    candidate generation or ranking is broken.  Exact measurement on the
    seeded fixture, not a probabilistic bound."""
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(clustered_dir + "/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    edges = SPECS["p38_knn_graph"].fn(spark, clustered_dir).collect()
    assert len(edges) >= 100, f"suspiciously sparse mutual graph: {len(edges)}"
    cross = [
        (e["src_id"], e["dst_id"])
        for e in edges
        if labels[e["src_id"]] != labels[e["dst_id"]]
    ]
    assert not cross, f"{len(cross)} cross-cluster edges, e.g. {cross[:5]}"


# --- p38 plane pool: corpus-driven, no fixed cap ---------------------------


def _p38_synth_con(n: int):
    """DuckDB connection with n deterministic pseudo-random 64-d vectors
    as the embeddings view (hash-derived elements in [-1, 1]; no zero or
    NaN vectors, so emb_valid passes everything)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"""CREATE VIEW embeddings AS
        SELECT i AS vec_id,
               list_transform(range(1, 65),
                   d -> ((((hash(i * 131 + d) % 2001)::BIGINT) - 1000)
                         / 1000.0)::DOUBLE) AS embedding
        FROM range({n}) t(i)"""
    )
    return con


def test_p38_plane_pool_grows_past_16_bits():
    """The r7 p38 drew sign bits from a FIXED 16-plane pool: cells capped
    at 65k and silently grew past ~4M vectors.  The pool
    is now the same corpus-driven kbits that sizes the cells.  A cell
    target of 0.05 on 4096 vectors forces kbits = ceil(log2(4096/0.05))
    = 17 — one past the old cap — without a 4M-vector fixture: the 17th
    sign bit must be observed in a live cell id, and occupancy must stay
    near-singleton (2^17 cells for 4k vectors), i.e. cells did NOT
    silently saturate at the old pool boundary."""
    from sqlrs_spark.operators.similarity import _p38

    con = _p38_synth_con(4096)
    n_cells, max_size, max_id = con.execute(
        _p38(False, cell=0.05, stats_only=True)
    ).fetchone()
    con.close()
    assert max_id >= 1 << 16, (
        f"no cell id uses bit 16 (max id {max_id}): plane pool still capped"
    )
    assert max_size <= 8, f"cell occupancy {max_size} on 2^17 cells for 4k vectors"
    assert n_cells > 2048, f"only {n_cells} occupied cells for 4096 vectors"


def test_p38_cell_occupancy_tracks_target():
    """At the production cell target (64), 4096 vectors give kbits = 6:
    at most 64 cells, mean occupancy >= the target, and no pathological
    pile-up (random planes on unstructured vectors stay within ~4x)."""
    from sqlrs_spark.operators.similarity import _p38

    con = _p38_synth_con(4096)
    n_cells, max_size, max_id = con.execute(_p38(False, stats_only=True)).fetchone()
    con.close()
    assert max_id < 64, f"cell id {max_id} outside the 2^6 space"
    assert 32 <= 4096 / n_cells <= 128, f"mean occupancy {4096 / n_cells:.1f}"
    assert max_size <= 256, f"worst cell holds {max_size} of 4096"


def test_p38_cell_stats_parity_on_real_corpus(spark, oracle_sf_dir):
    """The dynamic-plane signature (sequence bound = a column) must agree
    bit-for-bit across dialects on the driver corpus — same stats row."""
    import duckdb

    from sqlrs_spark.operators.similarity import _p38
    from sqlrs_spark.sources.tables import load_table
    from tests.oracle import compare

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" '{oracle_sf_dir}/embeddings.parquet'"
    )
    ok, msg = compare(
        spark.sql(
            _p38(True, stats_only=True),
            embeddings=load_table(spark, oracle_sf_dir, "embeddings"),
        ),
        con,
        _p38(False, stats_only=True),
    )
    con.close()
    assert ok, msg


def test_p40_clusters_respect_planted_structure(spark, clustered_dir):
    """p40's components must stay inside the planted clusters (an edge or
    label crossing two planted clusters means p38's graph — or the label
    propagation — is broken), every valid vector must carry exactly one
    label, and each component's representative must be its min vec_id."""
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(clustered_dir + "/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    rows = SPECS["p40_semantic_clusters"].fn(spark, clustered_dir).collect()
    assert len(rows) == len(labels), (len(rows), len(labels))
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["vec_id"])
        assert r["is_representative"] == (r["vec_id"] == r["cluster_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members), f"cluster {cid} not labeled by its min member"
        planted = {labels[m] for m in members}
        assert len(planted) == 1, f"cluster {cid} spans planted clusters {planted}"
    # the mutual graph is dense inside planted clusters, so components
    # must actually merge vectors — not degenerate to all-singletons
    assert max(len(m) for m in by_cluster.values()) >= 5


@pytest.mark.parametrize("name", ["p38_knn_graph", "p40_semantic_clusters"])
def test_p38_p40_run_their_kernel_once(spark, sf_dir, name):
    """The per-cell kernel's output is sorted in one partition: a range
    exchange's RangePartitioner samples by running the kernel's stage a
    second time (7 jobs and 12 stages, and the kernel handed back twice
    its output rows).  Counted by job group around build and collect; the
    build runs only the count that sizes the cells (loading the table
    reads its schema from a footer, with no job)."""
    from sqlrs_spark.plans import plan_nodes

    sc = spark.sparkContext
    group = f"kernel-once-{name}"
    sc.setJobGroup(group, name)
    try:
        df = SPECS[name].fn(spark, sf_dir)
        rows = df.collect()
    finally:
        sc.setJobGroup("", "")
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    assert (len(jobs), stages) == (5, 9)
    (kernel,) = [n for n in plan_nodes(df) if n.nodeName() == "FlatMapGroupsInPandas"]
    assert kernel.metrics().get("pythonNumRowsReceived").get().value() == len(rows)
