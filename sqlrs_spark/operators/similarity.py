"""Similarity search over the `embeddings` table (array<float> column).

- p06_ann_bruteforce: exact cosine top-k — the correctness baseline. Plan:
  broadcast the (small) query set against the corpus, windowed top-k per
  query. At scale: corpus stays partitioned, queries broadcast; one shuffle
  for the per-query top-k (partitioned by query id).
- p07_ann_lsh: random-hyperplane LSH — the scale path. Signatures are
  map-side expressions; candidate generation is an equi-join on bucket id,
  so the n×m cross product never materializes. Hyperplane coefficients are
  derived from md5 inside SQL, so Spark and the DuckDB oracle share them
  exactly (functions/hashing.py).

All dot products run in double precision with identical association order
in both engines → bit-identical cosines → stable value hashes.
"""

from __future__ import annotations

from sqlrs_spark.functions.hashing import md5int_duck, md5int_spark
from sqlrs_spark.operators.common import (
    EMB_VALID_DUCK,
    emb_scan,
    presentation_sort,
)
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import load_table

_TOP_K = 5
_N_QUERIES = 10  # vec_id < 10 are the query vectors
_N_PLANES = 8
_DIM = 64  # embedding dimensionality (TESTDATA.md)

# Dot-product form note: an unrolled 64-term `element_at(a,1)*element_at(b,1)
# + ...` expression was measured and REJECTED — it tripled p06's time at the
# 100x replica (3.0s -> 9.9s; the 128-call expression overflows the codegen
# method-size limits and the whole projection falls back to interpreted).
# The sequential `aggregate(zip_with(...))` fold stays for the SQL-shaped
# variants (p07/p08/p15), with the one structural win kept: per-vector
# self-norms precomputed in the `e` CTE.  p06 itself — the one variant that
# scores EVERY query×corpus pair — moved to an Arrow-batched numpy kernel
# (see p06_ann_bruteforce): interpreted HOF folds were 30x DuckDB at the
# 100x replica, the single worst ratio of any bench query there.


def _dot(a: str, b: str, spark_dialect: bool) -> str:
    if spark_dialect:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "cast(0.0 as double), (acc, p) -> acc + p)"
        )
    return f"list_dot_product({a}, {b})"


def _p06(spark_dialect: bool) -> str:
    # Self-norms are per-VECTOR, not per-pair: computed once in the `e`
    # CTE so the n_queries × corpus scoring loop folds exactly one
    # vector-length expression (the dot product) per pair instead of
    # three.  Same association order as before, so cosines (and the
    # driver value hash) are bit-identical across both engines.
    v = "transform(embedding, x -> cast(x as double))" if spark_dialect else "embedding::DOUBLE[]"
    norm_self = _dot("v", "v", spark_dialect)
    dot = _dot("q.v", "c.v", spark_dialect)
    cos = f"{dot} / sqrt(q.nrm * c.nrm)"
    return f"""
WITH e AS (
  SELECT vec_id, v, {norm_self} AS nrm
  FROM (SELECT vec_id, {v} AS v FROM {emb_scan(spark_dialect)}) base
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM e q JOIN e c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("p06_ann_bruteforce", oracle=_p06(False), tags=("pipeline", "similarity"), bench=True)
def p06_ann_bruteforce(spark, sf_dir):
    """Exact cosine top-k: bounded query set broadcast against the corpus,
    scored partition-locally with an Arrow-batched numpy kernel, top-k
    pre-reduced per batch, final rank over candidates only.

    Scale design (this is the exact baseline the bucketed variants
    p07/p08/p15/p18 approximate, so its cost is inherently O(|Q|·|corpus|)
    — the job here is making that product cheap and shuffle-free):
    - The query set is BOUNDED by contract (vec_id < 10) → collected once
      on the driver (10 rows, same discipline as p18's centroid
      broadcast) and closed over by the kernel; the corpus never moves.
    - Scoring runs in ``mapInPandas``: one numpy broadcast-multiply +
      row-wise cumulative sum per (query, batch).  numpy's ``cumsum`` is
      a strict left-to-right fold, and the elementwise product / sqrt /
      divide are single IEEE ops, so every cosine is BIT-IDENTICAL to the
      previous `aggregate(zip_with(...))` SQL fold and to DuckDB's
      `list_dot_product` — the driver value hash is unchanged.  Measured
      at the 100x replica: 3.9s (interpreted HOF fold) → ~0.5s.
    - Each batch emits only its local top-k per query (global top-k is a
      top-k of per-batch top-ks; ties broken by neighbor_id in the batch
      selection AND the final window, so the reduction is lossless).
      The final ROW_NUMBER window therefore ranks ≤ k·batches·|Q| rows —
      at 1000 executors the shuffle carries a few thousand candidate
      rows, not the 5M scored pairs.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    corpus = spark.sql(
        f"SELECT vec_id, transform(embedding, x -> cast(x as double)) AS v "
        f"FROM {emb_scan(True)}",
        embeddings=load_table(spark, sf_dir, "embeddings"),
    )
    qrows = sorted(
        corpus.filter(F.col("vec_id") < _N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.v for r in qrows], dtype=np.float64)  # (|Q|, 64)
    qnrm = np.cumsum(Q * Q, axis=1)[:, -1] if len(qrows) else np.zeros(0)
    k = _TOP_K

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf["v"].to_numpy())  # (B, dim)
            ids = pdf["vec_id"].to_numpy()
            nrm = np.cumsum(V * V, axis=1)[:, -1]
            out_q, out_n, out_c = [], [], []
            for qi in range(len(qids)):
                # sequential fold ≡ SQL aggregate(zip_with(...)) bit-for-bit
                dots = np.cumsum(V * Q[qi], axis=1)[:, -1]
                cos = dots / np.sqrt(qnrm[qi] * nrm)
                mask = ids != qids[qi]
                c, n = cos[mask], ids[mask]
                # batch-local top-k, same (cosine DESC, neighbor_id ASC)
                # order as the final window (float64 negation is exact)
                order = np.lexsort((n, -c))[:k]
                out_q.append(np.full(len(order), qids[qi]))
                out_n.append(n[order])
                out_c.append(c[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = corpus.mapInPandas(
        score, schema="query_id bigint, neighbor_id bigint, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def _p07(spark_dialect: bool) -> str:
    # hyperplane coefficient: uniform in [-1, 1], derived from md5(p:d) —
    # identical in both engines, no literal tables needed
    if spark_dialect:
        coef = (
            "(pmod(" + md5int_spark("concat(cast(p as string), ':', cast(d as string))")
            + ", 2001) - 1000) / 1000.0"
        )
        plane_dot = (
            f"aggregate(sequence(1, 64), cast(0.0 as double), "
            f"(acc, d) -> acc + ({coef}) * element_at(v, d))"
        )
        bucket = (
            f"aggregate(sequence(0, {_N_PLANES - 1}), cast(0 as bigint), "
            f"(acc, p) -> acc + if({plane_dot} >= 0, shiftleft(cast(1 as bigint), p), 0))"
        )
        v = "transform(embedding, x -> cast(x as double))"
    else:
        coef = (
            "((" + md5int_duck("concat(p::VARCHAR, ':', d::VARCHAR)")
            + " % 2001) - 1000) / 1000.0"
        )
        plane_dot = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(1, 65), d -> ({coef}) * v[d])), (acc, x) -> acc + x)"
        )
        bucket = (
            f"list_reduce(list_prepend(0::BIGINT, "
            f"list_transform(range(0, {_N_PLANES}), "
            f"p -> CASE WHEN {plane_dot} >= 0 THEN (1::BIGINT << p) ELSE 0 END)), "
            f"(acc, x) -> acc + x)"
        )
        v = "embedding::DOUBLE[]"
    # per-vector self-norm precomputed alongside the bucket (see _p06)
    norm_self = _dot("v", "v", spark_dialect)
    dot = _dot("q.v", "c.v", spark_dialect)
    cos = f"{dot} / sqrt(q.nrm * c.nrm)"
    return f"""
WITH e AS (
  SELECT vec_id, v, {norm_self} AS nrm, {bucket} AS bucket
  FROM (SELECT vec_id, {v} AS v FROM {emb_scan(spark_dialect)}) base
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM e q JOIN e c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("p07_ann_lsh", oracle=_p07(False), tags=("pipeline", "similarity"))
def p07_ann_lsh(spark, sf_dir):
    """Approximate top-k via random-hyperplane LSH (8 planes → 256 buckets):
    candidates share the query's sign-pattern bucket; exact cosine rank
    within bucket. Single-probe (recall traded for candidate count); at
    scale add multi-probe or band OR-ing — same plan shape."""
    return spark.sql(_p07(True), embeddings=load_table(spark, sf_dir, "embeddings"))


_N_CENTROIDS = 8  # coarse quantizer size (vec_id 10..17 as frozen centroids)
_N_PROBE = 2


def _p08(spark_dialect: bool) -> str:
    if spark_dialect:
        v = "transform(embedding, x -> cast(x as double))"
        dot = "aggregate(zip_with({a}.v, {b}.cv, (x, y) -> x * y), cast(0.0 as double), (acc, p) -> acc + p)"
        dot_vv = "aggregate(zip_with(q.v, c.v, (x, y) -> x * y), cast(0.0 as double), (acc, p) -> acc + p)"
        norm_v = "aggregate({s}.v, cast(0.0 as double), (acc, x) -> acc + x * x)"
        norm_cv = "aggregate({s}.cv, cast(0.0 as double), (acc, x) -> acc + x * x)"
    else:
        v = "embedding::DOUBLE[]"
        dot = "list_dot_product({a}.v, {b}.cv)"
        dot_vv = "list_dot_product(q.v, c.v)"
        norm_v = "list_dot_product({s}.v, {s}.v)"
        norm_cv = "list_dot_product({s}.cv, {s}.cv)"
    cent_cos = (
        f"{dot.format(a='e', b='c')} / "
        f"sqrt({norm_v.format(s='e')} * {norm_cv.format(s='c')})"
    )
    pair_cos = f"{dot_vv} / sqrt({norm_v.format(s='q')} * {norm_v.format(s='c')})"
    return f"""
WITH e AS (SELECT vec_id, {v} AS v FROM {emb_scan(spark_dialect)}),
cents AS (
  SELECT vec_id AS cent_id, v AS cv FROM e
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _N_CENTROIDS}
),
assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cent_cos} DESC, c.cent_id) AS rn
    FROM e JOIN cents c ON true
  ) t WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cent_cos} DESC, c.cent_id) AS rn
    FROM e JOIN cents c ON true
    WHERE e.vec_id < {_N_QUERIES}
  ) t WHERE rn <= {_N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, {pair_cos} AS cosine
  FROM probes p
  JOIN assign a ON a.cent_id = p.cent_id
  JOIN e q ON q.vec_id = p.query_id
  JOIN e c ON c.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("p08_ann_ivf", oracle=_p08(False), tags=("pipeline", "similarity"))
def p08_ann_ivf(spark, sf_dir):
    """IVF-style ANN: coarse quantizer (8 frozen centroids — production
    replaces the frozen sample with k-means output, same plan), every
    corpus vector assigned to its nearest centroid's inverted list, queries
    probe their 2 nearest lists, exact cosine rank within candidates.

    Scale: the centroid set is tiny and broadcasts everywhere; assignment
    shuffles (vec_id, cent_id) pairs — 16 bytes/row, not vectors; the
    candidate join is an equi-join on cent_id so per-query work is
    O(corpus/K · nprobe), not O(corpus).  Compare p07 (LSH buckets): IVF
    gives data-adaptive partitioning, LSH gives hash-oblivious buckets.
    """
    return spark.sql(_p08(True), embeddings=load_table(spark, sf_dir, "embeddings"))


def _p15(spark_dialect: bool) -> str:
    # same planes/buckets as p07; the query side additionally probes every
    # Hamming-distance-1 bucket (one sign flip per plane)
    if spark_dialect:
        coef = (
            "(pmod(" + md5int_spark("concat(cast(p as string), ':', cast(d as string))")
            + ", 2001) - 1000) / 1000.0"
        )
        plane_dot = (
            f"aggregate(sequence(1, 64), cast(0.0 as double), "
            f"(acc, d) -> acc + ({coef}) * element_at(v, d))"
        )
        bucket = (
            f"aggregate(sequence(0, {_N_PLANES - 1}), cast(0 as bigint), "
            f"(acc, p) -> acc + if({plane_dot} >= 0, shiftleft(cast(1 as bigint), p), 0))"
        )
        v = "transform(embedding, x -> cast(x as double))"
        planes = f"SELECT explode(sequence(-1, {_N_PLANES - 1})) AS p"
        flip = "qb.bucket ^ shiftleft(cast(1 as bigint), pl.p)"
        dot = "aggregate(zip_with(qp.v, c.v, (x, y) -> x * y), cast(0.0 as double), (acc, pr) -> acc + pr)"
        norm = "aggregate({s}.v, cast(0.0 as double), (acc, x) -> acc + x * x)"
    else:
        coef = (
            "((" + md5int_duck("concat(p::VARCHAR, ':', d::VARCHAR)")
            + " % 2001) - 1000) / 1000.0"
        )
        plane_dot = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(1, 65), d -> ({coef}) * v[d])), (acc, x) -> acc + x)"
        )
        bucket = (
            f"list_reduce(list_prepend(0::BIGINT, "
            f"list_transform(range(0, {_N_PLANES}), "
            f"p -> CASE WHEN {plane_dot} >= 0 THEN (1::BIGINT << p) ELSE 0 END)), "
            f"(acc, x) -> acc + x)"
        )
        v = "embedding::DOUBLE[]"
        planes = f"SELECT unnest(range(-1, {_N_PLANES})) AS p"
        flip = "xor(qb.bucket, (1::BIGINT << pl.p))"
        dot = "list_dot_product(qp.v, c.v)"
        norm = "list_dot_product({s}.v, {s}.v)"
    cos = f"{dot} / sqrt({norm.format(s='qp')} * {norm.format(s='c')})"
    return f"""
WITH e AS (
  SELECT vec_id, v, {bucket} AS bucket
  FROM (SELECT vec_id, {v} AS v FROM {emb_scan(spark_dialect)}) base
),
planes AS ({planes}),
qp AS (
  SELECT qb.vec_id, qb.v,
         CASE WHEN pl.p < 0 THEN qb.bucket ELSE {flip} END AS probe_bucket
  FROM e qb CROSS JOIN planes pl
  WHERE qb.vec_id < {_N_QUERIES}
),
scored AS (
  SELECT qp.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM qp JOIN e c ON qp.probe_bucket = c.bucket AND c.vec_id <> qp.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("p15_ann_multiprobe", oracle=_p15(False), tags=("pipeline", "similarity"))
def p15_ann_multiprobe(spark, sf_dir):
    """Multi-probe LSH: p07's buckets, but each query also probes its 8
    Hamming-distance-1 buckets (one flipped plane) — 9 probes total.

    This is the standard recall/cost dial for hyperplane LSH: near
    neighbors that one marginal hyperplane separated from the query land
    one bit away, so probing single-flip buckets recovers most of what
    single-probe loses (measured on the clustered fixture:
    recall@5 0.40 → 0.82) while candidates grow only ~9× ON THE QUERY
    SIDE — the corpus is still bucketed once, the probe join is still an
    equi-join on bucket id, and the fan-out multiplies |queries|, not
    |corpus|.  The probe set (self + 8 distinct single-bit flips) is
    duplicate-free, so no candidate dedup step is needed.
    """
    return spark.sql(_p15(True), embeddings=load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# p18 — IVF with k-means-trained centroids (iterative, integer-grid-exact)
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_SCALE = 1_000_000  # quantization grid: vi = FLOOR(v * 1e6) per dim

# The float-mean Lloyd loop once had NO oracle (rows-only —
# the weakest check in the registry) because float mean recentering is
# partial-sum-order dependent.  The fix makes training BIT-STABLE without
# changing its plan shape: vectors are quantized to an integer grid
# (FLOOR(x*1e6) — exact in both engines), and a centroid is represented by
# its exact BIGINT per-dim SUM vector instead of the mean.  Cosine is
# scale-invariant, so ranking against the sum vector IS ranking against
# the mean — no division ever happens, the only floats are the final
# cosine expressions, and those use the same sequential fold in both
# engines (module docstring).  Integer sums are order-independent, so the
# whole 2-iteration Lloyd loop is reproducible bit-for-bit in DuckDB SQL
# — which is exactly what the oracle below does (unrolled CTE chain).


def kmeans_cte_prefix() -> str:
    """DuckDB CTE chain replaying the bit-stable integer-grid Lloyd loop
    (see the module note above): defines `e` (vec_id, v, vq), the unrolled
    training iterations, and `final_assign` (vec_id, cent_id) — shared by
    the p18 and p26 oracles so both check the exact same trained quantizer.
    Callers append their own CTEs/SELECT after the returned text."""
    vq = f"list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * {_KM_SCALE}) AS DOUBLE))"
    cos = "list_dot_product({a}, {b}) / sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b}))"
    assign = f"""
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos.format(a='e.vq', b='c.cv')} DESC,
                                       c.cent_id) AS rn
    FROM e JOIN {{cents}} c ON true
  ) t WHERE rn = 1
"""
    recenter = f"""
  SELECT cent_id, list(sd ORDER BY d) AS cv FROM (
    SELECT a.cent_id, g.d, CAST(CAST(SUM(CAST(e.vq[g.d] AS BIGINT)) AS BIGINT) AS DOUBLE) AS sd
    FROM {{assign}} a JOIN e USING (vec_id)
    JOIN generate_series(1, {_DIM}) AS g(d) ON true
    GROUP BY a.cent_id, g.d
  ) s GROUP BY cent_id
"""
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {vq} AS vq FROM embeddings WHERE {EMB_VALID_DUCK}
),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cent_id, vq AS cv
  FROM (SELECT vec_id, vq FROM e ORDER BY vec_id LIMIT {_KM_K}) init
),
a1 AS ({assign.format(cents='c0')}),
c1 AS ({recenter.format(assign='a1')}),
a2 AS ({assign.format(cents='c1')}),
c2 AS ({recenter.format(assign='a2')}),
final_assign AS ({assign.format(cents='c2')})"""


def _p18_oracle() -> str:
    cos = "list_dot_product({a}, {b}) / sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b}))"
    return f"""{kmeans_cte_prefix()},
probes AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos.format(a='e.vq', b='c.cv')} DESC,
                                       c.cent_id) AS rn
    FROM e JOIN c2 c ON true
    WHERE e.vec_id < {_N_QUERIES}
  ) t WHERE rn <= {_N_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {cos.format(a='q.v', b='c.v')} AS cosine
  FROM probes p
  JOIN final_assign a ON a.cent_id = p.cent_id
  JOIN e q ON q.vec_id = p.query_id
  JOIN e c ON c.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


def kmeans_centroids(spark, corpus, k: int = _KM_K, iters: int = _KM_ITERS):
    """Lloyd's k-means over an (id, vq: array<double> of grid-quantized
    values) DataFrame — cosine assignment, exact integer-sum recentering.
    Returns a DataFrame (cent_id, cv) where cv is the per-dim BIGINT sum
    vector cast to double (cosine-equivalent to the mean; see module
    note above the oracle).

    Iterative-algorithm shape on Spark: each iteration is one broadcast
    (k centroid vectors — tiny at any corpus size) + one shuffle (the
    groupBy cent_id whose partial aggregation sums the per-dim longs
    map-side, so the shuffle moves k×dim partial sums per partition, not
    the corpus).  The loop lives on the driver; per-iteration lineage is
    cut with a localCheckpoint so the plan doesn't grow exponentially
    with iters — the standard Spark iterative-ML discipline (same as
    MLlib's impl).  Init is deterministic (first k by id, cent_id by
    rank) and recentering is integer-exact, so the trained quantizer is
    IDENTICAL on every run and at every partitioning.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    dim_dot = (
        "aggregate(zip_with(vq, cv, (x, y) -> x * y), cast(0.0 as double), (a, p) -> a + p)"
    )
    nv = "aggregate(vq, cast(0.0 as double), (a, x) -> a + x * x)"
    ncv = "aggregate(cv, cast(0.0 as double), (a, x) -> a + x * x)"
    cents = (
        corpus.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("id")) - 1).alias("cent_id"),
            F.col("vq").alias("cv"),
        )
        .localCheckpoint()
    )
    for _ in range(iters):
        assigned = (
            corpus.crossJoin(F.broadcast(cents))
            .withColumn("cos", F.expr(f"{dim_dot} / sqrt(({nv}) * ({ncv}))"))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(
                        F.col("cos").desc(), F.col("cent_id")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
        )
        # exact recentering: per-dim BIGINT sums (order-independent),
        # surfaced as doubles only for the next round's cosine ranking
        cents = (
            assigned.groupBy("cent_id")
            .agg(
                F.array(
                    *[
                        F.sum(F.col("vq")[i].cast("bigint")).cast("double")
                        for i in range(64)
                    ]
                ).alias("cv")
            )
            .localCheckpoint()
        )
    return cents


@register(
    "p18_ann_ivf_kmeans", oracle=_p18_oracle(), tags=("pipeline", "similarity")
)
def p18_ann_ivf_kmeans(spark, sf_dir):
    """IVF ANN with k-means-TRAINED centroids — the production version of
    p08's frozen-sample quantizer, exercising the iterative-algorithm
    path with a fully value-hashed oracle: the integer-grid Lloyd loop
    (see kmeans_centroids) is bit-stable, so the DuckDB oracle replays
    both training iterations as an unrolled CTE chain and checks every
    reported cosine.  Recall is additionally gated against the exact
    baseline in tests/test_ann_quality.py (trained vs frozen centroids
    on the clustered fixture — training the quantizer buys recall at
    identical query cost).

    Same query-time plan as p08: centroids broadcast, corpus assigned to
    inverted lists in one pass, queries probe their 2 nearest lists, exact
    cosine rank (on the ORIGINAL double vectors) within candidates.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    corpus = spark.sql(
        "SELECT vec_id AS id, transform(embedding, x -> cast(x as double)) AS v, "
        f"transform(embedding, x -> cast(floor(cast(x as double) * {_KM_SCALE}) as double)) AS vq "
        f"FROM {emb_scan(True)}",
        embeddings=load_table(spark, sf_dir, "embeddings"),
    )
    cents = kmeans_centroids(spark, corpus)

    dot = "aggregate(zip_with(vq, cv, (x, y) -> x * y), cast(0.0 as double), (a, p) -> a + p)"
    nv = "aggregate(vq, cast(0.0 as double), (a, x) -> a + x * x)"
    ncv = "aggregate(cv, cast(0.0 as double), (a, x) -> a + x * x)"
    scored = corpus.crossJoin(F.broadcast(cents)).withColumn(
        "cos", F.expr(f"{dot} / sqrt(({nv}) * ({ncv}))")
    )
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("cent_id"))
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "cent_id")
    )
    probes = (
        scored.filter(F.col("id") < 10)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(F.col("id").alias("query_id"), "cent_id")
    )
    pair_dot = (
        "aggregate(zip_with(qv, v, (x, y) -> x * y), cast(0.0 as double), (a, p) -> a + p)"
    )
    nq = "aggregate(qv, cast(0.0 as double), (a, x) -> a + x * x)"
    nvv = "aggregate(v, cast(0.0 as double), (a, x) -> a + x * x)"
    cand = (
        probes.join(assign, "cent_id")
        .filter(F.col("id") != F.col("query_id"))
        .join(corpus.select(F.col("id").alias("query_id"), F.col("v").alias("qv")), "query_id")
        .join(corpus.select("id", "v"), "id")
        .withColumn("cosine", F.expr(f"{pair_dot} / sqrt(({nq}) * ({nvv}))"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("id"))
    return (
        cand.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("id").alias("neighbor_id"), "cosine", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# p24 — int8 embedding quantization (the 4x storage compression every
# 100 TB embedding store applies before ANN indexing)
# ---------------------------------------------------------------------------


def _p24(spark_dialect: bool) -> str:
    # Per-vector symmetric int8 quantization: scale = max|x| (exact — max
    # is order-insensitive), q_i = FLOOR(x/scale*127 + 0.5) in [-127,127]
    # (FLOOR+0.5 rounding is bit-identical across engines, the cents()
    # discipline), reconstruction error folded sequentially (the p07
    # association-order contract).  Zero vectors quantize to all-zero
    # with scale 0 (guarded divide).
    if spark_dialect:
        v = "transform(embedding, x -> cast(x as double))"
        amax = "aggregate(v, cast(0.0 as double), (a, x) -> greatest(a, abs(x)))"
        q = (
            "transform(v, x -> cast(floor(x / s * 127.0 + 0.5) as bigint))"
        )
        err_terms = "zip_with(v, q, (x, qi) -> (x - qi * s / 127.0) * (x - qi * s / 127.0))"
        sq_err = f"aggregate({err_terms}, cast(0.0 as double), (a, e) -> a + e)"
        qmin, qmax = "array_min(q)", "array_max(q)"
    else:
        v = "embedding::DOUBLE[]"
        amax = "list_max(list_transform(v, x -> abs(x)))"
        q = "list_transform(v, x -> CAST(FLOOR(x / s * 127.0 + 0.5) AS BIGINT))"
        err_terms = "list_zip(v, q)"
        sq_err = (
            "list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip(v, q), "
            "p -> (p[1] - p[2] * s / 127.0) * (p[1] - p[2] * s / 127.0))), (a, e) -> a + e)"
        )
        qmin, qmax = "list_min(q)", "list_max(q)"
    return f"""
WITH e AS (
  SELECT vec_id, {v} AS v FROM {emb_scan(spark_dialect)}
),
scaled AS (
  SELECT vec_id, v,
         CASE WHEN {amax} = 0 THEN 1.0 ELSE {amax} END AS s,
         {amax} AS max_abs
  FROM e
),
quant AS (
  SELECT vec_id, v, s, max_abs, {q} AS q FROM scaled
)
SELECT vec_id,
       max_abs,
       CAST({qmin} AS BIGINT) AS q_min,
       CAST({qmax} AS BIGINT) AS q_max,
       {sq_err} AS sq_err
FROM quant
ORDER BY vec_id
"""


@register("p24_embedding_quant", oracle=_p24(False), tags=("pipeline", "similarity"))
def p24_embedding_quant(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column with exact
    reconstruction-error accounting: per-vector scale = max|x|, each dim
    rounded to [-127, 127] via the FLOOR(x+0.5) discipline, and the
    squared reconstruction error folded in the engine-shared sequential
    order so the driver value-hashes every float.

    This is the storage stage a 100 TB embedding corpus runs before ANN
    indexing (float32 -> int8 is 4x smaller and SIMD-friendlier): a pure
    map-side projection — NO shuffle, no Python — so it scales with scan
    bandwidth; the error stats are the quality gate that decides whether
    int8 recall is acceptable before the index build (composes with
    p06/p07/p08/p18, which would then score against reconstructed or
    asymmetric-distance vectors)."""
    return spark.sql(_p24(True), embeddings=load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# p35 — product-quantization ANN (PQ encode + ADC lookup-table scoring)
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (64 dims -> 8 sub-vectors of 8)
_PQ_K = 16  # codes per subspace (-> 4 bits/code, 8 bytes per vector)
_PQ_CAND = 32  # ADC candidate pool reranked exactly
_PQ_SCALE = 1_000_000  # the p18 integer grid: exact in both engines


def _p35(spark_dialect: bool) -> str:
    """Dual-dialect builder for PQ-compressed ANN search.

    Product quantization (Jégou et al., PAMI 2011) — the memory side of
    the ANN story p07/p08/p18 don't cover: the corpus is stored as
    M=8 four-bit codes (8 B/vector instead of 256 B of floats, 32x), and
    queries score candidates WITHOUT touching original vectors via an
    asymmetric-distance (ADC) lookup table; only the top-32 pool is
    reranked with exact cosines.  Codebooks here are frozen sub-vectors
    of the first 16 corpus ids (the p08 frozen-quantizer stance —
    production trains them offline; p18 already proves the trained-
    quantizer path), and all PQ arithmetic runs on the p18 integer grid
    (FLOOR(x*1e6)) in BIGINT squared-L2, so encode, LUT and ADC sums are
    bit-exact in both engines — the only floats are the rerank cosines,
    which reuse p06's fold.

    Scale shape: encode = one 128-row codebook broadcast + a hash-agg
    argmin (packed dist*16+k — no window); LUT = |Q|x128 rows, broadcast;
    ADC = one map-side-combinable SUM over an (m, code) equi-join — the
    corpus side moves (vec_id, m, code) longs only; candidate top-32 is
    one narrow shuffle on query_id; exact rerank touches 32x|Q| vectors.
    """
    if spark_dialect:
        v = "transform(embedding, x -> cast(x as double))"
        vq = (
            "transform(embedding, x -> "
            f"cast(floor(cast(x as double) * {_PQ_SCALE}) as bigint))"
        )
        ms = "LATERAL VIEW explode(sequence(0, {hi})) mx AS m"
        sub = "slice({a}, m * 8 + 1, 8)"
        isqd = (
            "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as bigint), (acc, p) -> acc + p)"
        )
    else:
        v = "embedding::DOUBLE[]"
        vq = f"list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * {_PQ_SCALE}) AS BIGINT))"
        ms = ", (SELECT unnest(range(0, {hi} + 1)) AS m) mx"
        sub = "{a}[m * 8 + 1 : m * 8 + 8]"
        isqd = (
            "CAST(list_sum(list_transform(range(1, 9), "
            "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
        )
    nrm = _dot("v", "v", spark_dialect)
    cos = f"{_dot('q.v', 'n.v', spark_dialect)} / sqrt(q.nrm * n.nrm)"
    m_all = ms.format(hi=_PQ_M - 1)
    isqd_sc = isqd.format(a="s.sv", b="cb.cbv")
    isqd_lut = isqd.format(a="q.sv", b="cb.cbv")
    return f"""
WITH e AS (
  SELECT vec_id, v, {nrm} AS nrm, vq
  FROM (SELECT vec_id, {v} AS v, {vq} AS vq FROM {emb_scan(spark_dialect)}) base
),
cb AS (
  SELECT m, k, {sub.format(a='vq')} AS cbv
  FROM (SELECT vec_id, vq,
               ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k
        FROM (SELECT vec_id, vq FROM e ORDER BY vec_id LIMIT {_PQ_K}) f16) fk
  {m_all}
),
enc AS (
  SELECT vec_id, m,
         CAST(MIN(d * {_PQ_K} + k) % {_PQ_K} AS BIGINT) AS code
  FROM (
    SELECT s.vec_id, s.m, cb.k, {isqd_sc} AS d
    FROM (SELECT vec_id, m, {sub.format(a='vq')} AS sv FROM e {m_all}) s
    JOIN cb ON cb.m = s.m
  ) scored
  GROUP BY vec_id, m
),
lut AS (
  SELECT q.vec_id AS query_id, cb.m, cb.k, {isqd_lut} AS ld
  FROM (SELECT vec_id, m, {sub.format(a='vq')} AS sv FROM e {m_all}) q
  JOIN cb ON cb.m = q.m
  WHERE q.vec_id < {_N_QUERIES}
),
adc AS (
  SELECT l.query_id, enc.vec_id AS neighbor_id,
         CAST(SUM(l.ld) AS BIGINT) AS adc_dist
  FROM enc
  JOIN lut l ON l.m = enc.m AND l.k = enc.code
  WHERE enc.vec_id <> l.query_id
  GROUP BY l.query_id, enc.vec_id
),
cand AS (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS crank
  FROM adc
),
rerank AS (
  SELECT c.query_id, c.neighbor_id, c.adc_dist, {cos} AS cosine
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id
  WHERE c.crank <= {_PQ_CAND}
)
SELECT query_id, neighbor_id, adc_dist, cosine, rank
FROM (
  SELECT query_id, neighbor_id, adc_dist, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rerank
) final
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("p35_pq_ann", oracle=_p35(False), tags=("pipeline", "similarity"))
def p35_pq_ann(spark, sf_dir):
    """Product-quantization ANN: PQ-encode the corpus to 8x4-bit codes,
    score queries through an ADC lookup table in exact BIGINT grid
    arithmetic, rerank the top-32 pool with exact cosines (see _p35).
    Recall vs the exact baseline is gated in tests/test_ann_quality.py."""
    return spark.sql(_p35(True), embeddings=load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# p38 — mutual k-NN graph (the SemDeDup / clustering precursor structure)
# ---------------------------------------------------------------------------

_P38_K = 3  # directed neighbors per node before the mutuality filter


#: p38 cell sizing: hyperplane bits are chosen so the expected LSH cell
#: holds about this many vectors — candidate generation is then
#: O(corpus x cell), LINEAR in the corpus.  Round-7 lesson: the first
#: p38 shipped a FIXED 8-centroid quantizer, so cells grew with the
#: corpus and the candidate join was quadratic — 7s at sf0.1 became
#: 801s at the 10x replica (112x work for 10x data).  Round 8 closed the
#: same trap one level up: the round-7 rewrite drew sign bits
#: from a FIXED 16-plane pool, capping the cell count at 65k (~4M
#: vectors at 64/cell) with a "raise the pool by hand" docstring — the
#: exact never-actually-raised pattern the quantizer died of.  The plane
#: count is now the SAME corpus-driven kbits that sizes the cells: the
#: signature loop runs over ceil(log2(n/cell)) planes, so the signature
#: IS the cell id (no modulo, no pool), and per-vector hash cost grows
#: only logarithmically with the corpus.
_P38_CELL = 64


def _p38(spark_dialect: bool, cell: int = _P38_CELL, stats_only: bool = False) -> str:
    """Dual-dialect mutual k-NN graph over the embedding corpus.

    ``stats_only`` returns the cell-assignment stage's population stats
    (cell count / max occupancy / max cell id) instead of the graph — the
    hook tests/test_ann_quality.py uses to prove the plane pool really is
    corpus-driven past the old 16-bit cap without building a 4M-vector
    fixture.

    Structure: every vector hashes map-side into a random-hyperplane LSH
    cell (p07's md5-derived planes — identical coefficients in both
    engines), with the number of sign bits chosen FROM THE CORPUS SIZE
    inside the query (kbits = ceil(log2(n / {cell}))), so expected cell
    size stays ~{cell} at any scale; the signature loop runs over exactly
    kbits planes, so there is no fixed plane pool to outgrow and the
    signature is the cell id directly.  Directed k={_P38_K}
    neighbor lists are computed WITHIN each cell, and an edge survives
    only if it appears in both endpoints' lists (mutual k-NN — the graph
    SemDeDup-style semantic clustering and graph-based dedup run
    components over).

    Scale shape: cell assignment is a PROJECTION (no assignment join at
    all — the round-7 rewrite; the previous fixed-8-centroid quantizer
    made cells grow with the corpus and candidate generation quadratic:
    7s -> 801s from sf0.1 to the 10x replica), candidate generation is
    the cell equi-join (O(corpus x cell-size), AQE splits skewed cells
    like any equi-join), per-vector self-norms are computed ONCE in the
    cell projection so each candidate pair folds exactly one
    vector-length expression, the directed top-k is a window partitioned
    on src_id, and mutuality is ONE hash aggregation on the unordered
    edge key (both directions present <=> count = 2; a knn-self-join
    formulation would re-run the whole scoring pipeline for the second
    reference).  The two directions' cosines are bit-identical
    (element-wise products commute, association order unchanged), so
    MIN(cosine) is a selector, not an approximation.
    """
    if spark_dialect:
        v = "transform(embedding, x -> cast(x as double))"
        coef = (
            "(pmod("
            + md5int_spark("concat('g', cast(p as string), ':', cast(d as string))")
            + ", 2001) - 1000) / 1000.0"
        )
        plane_dot = (
            f"aggregate(sequence(1, {_DIM}), cast(0.0 as double), "
            f"(acc, d) -> acc + ({coef}) * element_at(v, d))"
        )
        # kbits is a COLUMN (the corpus-driven plane count from the kb
        # CTE), so the sequence bound — and with it the plane pool — is
        # decided by the data, not a compile-time constant
        sig = (
            f"aggregate(sequence(cast(0 as bigint), kbits - 1), cast(0 as bigint), "
            f"(acc, p) -> acc + if({plane_dot} >= 0, "
            f"shiftleft(cast(1 as bigint), cast(p as int)), 0))"
        )
        dot = (
            "aggregate(zip_with({a}.v, {b}.v, (x, y) -> x * y), "
            "cast(0.0 as double), (acc, p) -> acc + p)"
        )
        norm_self = _dot("v", "v", True)
    else:
        v = "embedding::DOUBLE[]"
        coef = (
            "(("
            + md5int_duck("concat('g', p::VARCHAR, ':', d::VARCHAR)")
            + " % 2001) - 1000) / 1000.0"
        )
        plane_dot = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(1, {_DIM + 1}), d -> ({coef}) * v[d])), "
            f"(acc, x) -> acc + x)"
        )
        sig = (
            f"list_reduce(list_prepend(0::BIGINT, "
            f"list_transform(range(0, kbits), "
            f"p -> CASE WHEN {plane_dot} >= 0 THEN (1::BIGINT << p) ELSE 0 END)), "
            f"(acc, x) -> acc + x)"
        )
        dot = "list_dot_product({a}.v, {b}.v)"
        norm_self = _dot("v", "v", False)
    pair_cos = f"{dot.format(a='a', b='b')} / sqrt(a.nrm * b.nrm)"
    cells_with = f"""
WITH base AS (
  SELECT vec_id, {v} AS v FROM {emb_scan(spark_dialect)}
),
kb AS (
  SELECT CAST(GREATEST(1.0, CEIL(LOG2(GREATEST(COUNT(*), 1) / {float(cell)})))
              AS BIGINT) AS kbits
  FROM base
),
cells AS (
  SELECT vec_id, v, {norm_self} AS nrm, {sig} AS cell
  FROM base CROSS JOIN kb
)"""
    if stats_only:
        return cells_with + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_occupied_cells,
       CAST(MAX(c) AS BIGINT) AS max_cell_size,
       CAST(MAX(cell) AS BIGINT) AS max_cell_id
FROM (SELECT cell, COUNT(*) AS c FROM cells GROUP BY cell) g
"""
    return cells_with + f""",
knn AS (
  SELECT src_id, dst_id, cosine FROM (
    SELECT a.vec_id AS src_id, b.vec_id AS dst_id, {pair_cos} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY {pair_cos} DESC, b.vec_id) AS rk
    FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  ) d WHERE rk <= {_P38_K}
)
SELECT src_id, dst_id, cosine FROM (
  SELECT least(src_id, dst_id) AS src_id,
         greatest(src_id, dst_id) AS dst_id,
         MIN(cosine) AS cosine,
         COUNT(*) AS n_directions
  FROM knn GROUP BY 1, 2
) undirected
WHERE n_directions = 2
ORDER BY src_id, dst_id
"""


def _p38_plane_coef(p: int, d: int) -> float:
    """Python twin of the SQL plane coefficient — EXACTLY the value
    ``(pmod(md5int('g{p}:{d}'), 2001) - 1000) / 1000.0`` both dialects
    compute: hashlib.md5 == md5(), int(hex[:15],16) == conv/::BIGINT,
    and an integer in [-1000, 1000] divided by 1000 rounds to the same
    double whether the division runs in decimal (SQL) or binary (here) —
    both are the correctly-rounded image of the same exact rational."""
    import hashlib

    h = int(hashlib.md5(f"g{p}:{d}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def p38_cells(spark, sf_dir):
    """(vec_id, v, nrm, cell) — p38's LSH cell assignment as an
    Arrow-batched numpy kernel.

    The earlier SQL formulation computed the signature with interpreted
    higher-order-function folds whose inner coefficient expression
    re-derived md5('g{p}:{d}') PER VECTOR PER PLANE PER DIMENSION —
    kbits x 64 md5+conv calls per row, evaluated in BOTH self-join
    subtrees (its plan projected the signature above a
    BroadcastNestedLoopJoin on each self-join side, and the whole
    signature aggregate even appeared inside the BNLJ's null-check
    condition).  Guide §4.2: the
    coefficients depend only on (plane, dim), so they are precomputed
    here ONCE into a (kbits x 64) float64 matrix and the per-row work
    becomes kbits sequential numpy folds.  Bit-exactness follows p06's
    pattern: ``np.cumsum(V * C[p], axis=1)[:, -1]`` is the same strict
    left-to-right ``acc + coef*v[d]`` fold as the SQL aggregate, and the
    elementwise product is a single IEEE op — cells, norms and therefore
    every downstream cosine hash-match the DuckDB oracle exactly
    (proven by the unchanged oracle in the driver sweep and
    tests/test_ann_quality.py's stats hook).

    kbits is the same corpus-driven ``ceil(log2(n / 64))`` the oracle's
    kb CTE computes — a 1-value driver scalar (the SQL plan also
    counted the corpus, twice).
    """
    import math

    import numpy as np
    import pandas as pd

    corpus = spark.sql(
        "SELECT vec_id, transform(embedding, x -> cast(x as double)) AS v "
        f"FROM {emb_scan(True)}",
        embeddings=load_table(spark, sf_dir, "embeddings"),
    )
    n = corpus.count()
    kbits = max(1, math.ceil(math.log2(max(n, 1) / float(_P38_CELL))))
    C = np.array(
        [[_p38_plane_coef(p, d) for d in range(1, _DIM + 1)] for p in range(kbits)],
        dtype=np.float64,
    )

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf["v"].to_numpy())  # (B, 64) float64
            # sequential fold == SQL aggregate(zip_with(...)) bit-for-bit
            nrm = np.cumsum(V * V, axis=1)[:, -1]
            cell = np.zeros(len(V), dtype=np.int64)
            for p in range(kbits):
                dot = np.cumsum(V * C[p], axis=1)[:, -1]
                cell |= (dot >= 0.0).astype(np.int64) << p
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "v": pdf["v"], "nrm": nrm, "cell": cell}
            )

    return corpus.mapInPandas(
        kernel, schema="vec_id bigint, v array<double>, nrm double, cell bigint"
    )


@register(
    "p38_knn_graph", oracle=_p38(False), tags=("pipeline", "similarity"), bench=True
)
def p38_knn_graph(spark, sf_dir):
    """Mutual k-NN graph construction over the embedding corpus — directed
    top-3 within LSH cells, kept only when both endpoints agree (see
    _p38 for the oracle's identical formulation).

    r8 plan: cell assignment + self-norms run in the numpy kernel
    (p38_cells — no md5 in the row path); candidate generation stays the
    cell equi-join (AQE skew-split preserved), the directed top-k stays
    ONE window whose ORDER BY key is the already-computed cosine column
    (the r7 SQL re-evaluated the whole dot-product fold as the sort
    key), and mutuality stays one hash aggregation on the unordered
    edge key."""
    return presentation_sort(_p38_mutual_edges(spark, sf_dir), "src_id", "dst_id")


def _p38_mutual_edges(spark, sf_dir):
    """p38's mutual-edge set WITHOUT the presentation sort — p40 feeds
    these straight into connected components (which re-shuffles anyway),
    so only p38 itself pays the final sort.

    r8 optimization-round restructure (guide §2.4/§4.2): a vector lives in
    exactly ONE LSH cell, and p38's candidate pairs, directed top-k AND
    mutuality test are all confined to pairs sharing a cell — so the whole
    pairing stage collapses into one per-cell kernel after a single
    exchange by cell.  The previous plan shuffled the (vec_id, v, nrm,
    cell) frame TWICE (both self-join sides — the numpy cell kernel ran
    once per side), re-shuffled the directed candidates for the top-k
    window, and shuffled again for the mutuality hash-agg: 4 exchanges and
    ~2x the payload bytes of the single exchange this needs.  Measured
    same-session at sf0.1 (b72fcc1): p38 1.61 s -> 0.95 s.

    Bit-exactness vs the unchanged DuckDB oracle (driver hash-checked):
    the pair dot product folds ``acc += v_a[d] * v_b[d]`` strictly
    left-to-right from a 0.0 accumulator — the same IEEE sequence as the
    SQL ``aggregate(zip_with(..), 0.0, (acc, p) -> acc + p)``; cosine is
    one divide by ``sqrt(nrm_a * nrm_b)``; the top-k order (cosine DESC,
    dst_id ASC) is the window's ROW_NUMBER order; and the two directions'
    cosines are bit-identical (elementwise products commute), so emitting
    the pair value IS the oracle's MIN(cosine).

    Scale/tradeoff notes: the exchange carries each vector once instead
    of twice; per-cell work is O(cell^2 * dim) either way, but a skewed
    cell is now one kernel invocation instead of an AQE-splittable join
    partition — acceptable because kbits pins E[cell] ~ {_P38_CELL}
    (tests/test_ann_quality.py) and the kernel blocks its pair matrix to
    ~32 MB regardless of cell size.
    """
    import numpy as np
    import pandas as pd

    cells = p38_cells(spark, sf_dir)
    k = _P38_K

    def cell_graph(key, pdf):
        empty = pd.DataFrame(
            {
                "src_id": pd.Series([], dtype="int64"),
                "dst_id": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        r = _cell_mutual_topk(pdf, k)
        if r is None:
            return empty
        ids, iu, ju, C = r
        if len(iu) == 0:
            return empty
        return pd.DataFrame(
            {
                "src_id": np.minimum(ids[iu], ids[ju]),
                "dst_id": np.maximum(ids[iu], ids[ju]),
                "cosine": C[iu, ju],
            }
        )

    return cells.groupBy("cell").applyInPandas(
        cell_graph, schema="src_id bigint, dst_id bigint, cosine double"
    )


def _cell_mutual_topk(pdf, k):
    """Mutual top-k pairs within ONE LSH cell — the shared numeric core of
    p38 (edge list with cosines) and p40 (per-cell components over those
    edges).  Returns ``(ids, iu, ju, C)`` — the cell's vec_ids, the index
    pairs (iu < ju positionally via triu) that are MUTUAL top-k neighbors,
    and the full cosine matrix — or ``None`` when the cell holds < 2
    vectors (no pairs possible).

    Bit-exactness contract (the reason p38 and p40 share THIS function):
    the pair dot product folds ``acc += v_a[d] * v_b[d]`` strictly
    left-to-right from a 0.0 accumulator — the same IEEE sequence as the
    SQL ``aggregate(zip_with(..), 0.0, (acc, p) -> acc + p)``; cosine is
    one divide by ``sqrt(nrm_a * nrm_b)``; the top-k order (cosine DESC,
    dst_id ASC) is the oracle window's ROW_NUMBER order via lexsort; the
    pair matrix is blocked to ~32 MB regardless of cell size."""
    import numpy as np

    m = len(pdf)
    if m < 2:
        return None
    ids = pdf["vec_id"].to_numpy()
    V = np.stack(pdf["v"].to_numpy())  # (m, 64) float64
    nrm = pdf["nrm"].to_numpy()
    # strict left-to-right fold per pair (== the SQL aggregate
    # bit-for-bit), blocked so the (blk, m) accumulator stays small
    C = np.empty((m, m), dtype=np.float64)
    blk = max(1, (32 << 20) // (m * 8))
    for s in range(0, m, blk):
        e = min(s + blk, m)
        acc = np.zeros((e - s, m), dtype=np.float64)
        for d in range(V.shape[1]):
            acc += V[s:e, None, d] * V[None, :, d]
        C[s:e] = acc
    C /= np.sqrt(nrm[:, None] * nrm[None, :])
    np.fill_diagonal(C, -np.inf)  # self-pairs sort last, never picked
    # ROW_NUMBER over (cosine DESC, dst_id ASC): lexsort, last key primary
    order = np.lexsort((np.broadcast_to(ids, (m, m)), -C), axis=1)
    top = order[:, : min(k, m - 1)]
    K = np.zeros((m, m), dtype=bool)
    K[np.arange(m)[:, None], top] = True
    iu, ju = np.nonzero(np.triu(K & K.T, 1))
    return ids, iu, ju, C


# ---------------------------------------------------------------------------
# p40 — semantic dedup clusters (connected components over the mutual-kNN
# graph: the SemDeDup endgame p38's edges exist to feed)
# ---------------------------------------------------------------------------

_P40_ORACLE = f"""
WITH RECURSIVE g AS ({_p38(False)}),
edges AS (
  SELECT src_id AS a, dst_id AS b FROM g
  UNION ALL
  SELECT dst_id AS a, src_id AS b FROM g
),
nodes AS (SELECT vec_id FROM embeddings WHERE {EMB_VALID_DUCK}),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
SELECT l.vec_id, l.cluster_id, s.cluster_size,
       l.vec_id = l.cluster_id AS is_representative
FROM labels l
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
      FROM labels GROUP BY cluster_id) s
  ON s.cluster_id = l.cluster_id
ORDER BY l.vec_id
"""


@register(
    "p40_semantic_clusters",
    oracle=_P40_ORACLE,
    tags=("pipeline", "similarity", "dedup"),
    bench=True,
)
def p40_semantic_clusters(spark, sf_dir):
    """Semantic-dedup clusters (SemDeDup): connected components over
    p38's mutual-kNN edges, materialized as (vec_id, cluster_id,
    cluster_size, is_representative) with cluster_id = the component's
    minimum vec_id — the row a semantic-dedup pipeline KEEPS per cluster
    of near-duplicate embeddings.  Closes the loop: p38 builds the graph,
    p40 turns it into the actionable keep/drop table (the embedding-space
    twin of p09's n-gram-Jaccard clustering).

    r9 optimization-round plan (guide §1.2 — change the distributed
    algorithm before tuning it): EVERY p38 edge is intra-cell by
    construction — candidate pairs come from the ``a.cell = b.cell``
    equi-join and a vector hashes to exactly ONE LSH cell — so no
    component of the mutual-kNN graph can ever span two cells.  The
    global connected components therefore decompose exactly into
    per-cell connected components, and the whole operator collapses into
    the SAME single-exchange shape as p38: scan → cell kernel →
    Exchange(cell) → per-cell mutual-top-k (the shared
    :func:`_cell_mutual_topk` numerics — bit-identical edges) + a
    union-find over the ≤ {_P38_K}·m/2 intra-cell edges → labels, sizes
    and representatives emitted directly.  The r8 formulation ran the
    Kiveris large-star/small-star loop over the global edge set — 4-6
    checkpointed shuffle rounds plus a label/size/join assembly (14
    exchanges across 5+ jobs at sf0.1); all of that is now one job with
    two exchanges (hash(cell) + the presentation sort).  p09 still
    exercises the general-graph ``dedup.connected_components`` loop,
    whose edges (n-gram Jaccard pairs) are NOT partition-confined.

    Valid singleton vectors are their own cluster, exactly as the
    oracle's nodes seed (the kernel sees every vector of its cell,
    edge-adjacent or not).  The DuckDB oracle runs the IDENTICAL graph
    statement through a WITH RECURSIVE transitive closure — full value
    parity for the distributed algorithm (p09's verification pattern).

    Scale: one shuffle of (vec_id, v, nrm) by cell — the same bytes p38
    moves; per-cell work is O(cell² · dim) for the cosine matrix (already
    p38's cost) plus O(cell · α(cell)) for the union-find; kbits pins
    E[cell] ≈ {_P38_CELL} at any corpus size, so the operator stays
    linear at 100 TB with NO iterative rounds at all.
    """
    import numpy as np
    import pandas as pd

    cells = p38_cells(spark, sf_dir)
    k = _P38_K

    def cell_labels(key, pdf):
        ids = pdf["vec_id"].to_numpy()
        m = len(ids)
        parent = list(range(m))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]  # path halving
                i = parent[i]
            return i

        r = _cell_mutual_topk(pdf, k)
        if r is not None:
            _, iu, ju, _ = r
            for i, j in zip(iu.tolist(), ju.tolist()):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
        roots = np.fromiter((find(i) for i in range(m)), dtype=np.int64, count=m)
        grp = pd.Series(ids).groupby(roots)
        cluster_id = grp.transform("min").to_numpy()
        cluster_size = grp.transform("size").to_numpy().astype(np.int64)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": cluster_id,
                "cluster_size": cluster_size,
                "is_representative": ids == cluster_id,
            }
        )

    labels = cells.groupBy("cell").applyInPandas(
        cell_labels,
        schema="vec_id bigint, cluster_id bigint, cluster_size bigint,"
        " is_representative boolean",
    )
    return presentation_sort(labels, "vec_id")
