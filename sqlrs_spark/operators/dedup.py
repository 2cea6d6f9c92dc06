"""Deduplication operators over the `documents` / `embeddings` tables —
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the point of each variant):
- exact: groupBy on md5(text) — one shuffle keyed by a 128-bit digest, not
  the document body; at 100 TB you shuffle 16-byte keys, not documents.
- MinHash+LSH: per-doc signature (map-side, codegen) → explode to (band,
  band_key) → shuffle on band key → same-bucket self-join → verify true
  Jaccard only on candidates. Work is O(candidates), not O(n²).
- SimHash: 32-bit signature; Hamming-≤k retrieval via 4×8-bit band
  blocking (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands equal).
- n-gram Jaccard: exact pairwise within cheap blocks (lang) — the
  brute-force baseline the LSH variants approximate.
- embedding near-dup: exact cosine pairs (baseline); the LSH-bucketed
  scale path lives in operators/similarity.py.

Every operator has a DuckDB oracle built from the same frozen constants
(functions/hashing.py), so the driver's value-hash check covers the whole
pipeline, not just row counts.
"""

from __future__ import annotations

from sqlrs_spark.functions.hashing import (
    MINHASH_PERMS,
    P31,
    h31_duck,
    h31_spark,
    md5int_duck,
    md5int_spark,
)
from sqlrs_spark.operators.common import emb_scan, table_ref
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# p01 — exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

_P01 = """
SELECT md5(text)    AS text_hash,
       MIN(doc_id)  AS keep_doc_id,
       COUNT(*)     AS n_copies
FROM {documents}
GROUP BY md5(text)
ORDER BY keep_doc_id
"""


@register(
    "p01_dedup_exact",
    oracle=_P01.format(documents="documents"),
    tags=("pipeline", "dedup"),
    bench=True,
)
def p01_dedup_exact(spark, sf_dir):
    """Exact dedup: group by content digest, keep the smallest doc_id.
    Shuffles 16-byte digests only; the canonical first pass of any corpus
    dedup at scale."""
    return spark.sql(_P01, documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p02 — MinHash + LSH banding over unigram token sets
# ---------------------------------------------------------------------------

_N_PERM = len(MINHASH_PERMS)  # 12
_N_BANDS = 3
_ROWS_PER_BAND = _N_PERM // _N_BANDS  # 4
_JACCARD_T = 0.9


def _minhash_sig(spark_dialect: bool) -> str:
    """Expression: array/list of _N_PERM minhash values over distinct tokens."""
    if spark_dialect:
        toks = "array_distinct(split(text, ' '))"
        hs = f"transform({toks}, tok -> {h31_spark('tok')})"
        perms = ", ".join(
            f"array_min(transform(hs, h -> pmod({a} * h + {b}, {P31})))"
            for a, b in MINHASH_PERMS
        )
        return hs, f"array({perms})"
    toks = "list_distinct(string_split(text, ' '))"
    hs = f"list_transform({toks}, tok -> {h31_duck('tok')})"
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P31}))"
        for a, b in MINHASH_PERMS
    )
    return hs, f"[{perms}]"


def _capped_bands(bucket_cap):
    # degenerate-bucket guard: band buckets holding more than bucket_cap
    # docs are boilerplate collapse (every member nearly identical) and
    # would make the self-join quadratic; the standard mitigation is to
    # drop them from candidate generation (dedup of boilerplate belongs to
    # exact dedup / clustering, not pairwise LSH).
    #
    # The cap is a WINDOW count, not a join against a HAVING aggregate: a
    # join formulation leaves Catalyst free to reorder the self-join ahead
    # of the cap filter, re-exposing the quadratic blowup the cap exists
    # to prevent (observed on the 10x duplicate-heavy replica: 71 s vs
    # ~2 s — stats flipped the join order at scale).  A window is an
    # optimizer barrier — pairing can never run before it — and it
    # partitions on (band, band_key), the same shuffle the self-join
    # needs, so the guard costs no extra exchange.
    if bucket_cap is None:
        return "bands"
    return (
        "(SELECT doc_id, band, band_key FROM ("
        "SELECT doc_id, band, band_key, "
        "COUNT(*) OVER (PARTITION BY band, band_key) AS __bsz FROM bands"
        f") WHERE __bsz <= {bucket_cap})"
    )


def _p02(spark_dialect: bool, bucket_cap: int | None = None) -> str:
    # Shape notes (scale): the band self-join carries only (doc_id, band,
    # band_key) — token arrays never ride the widest shuffle; they join in
    # at verify time keyed by doc_id against the tiny candidate set.  The
    # Spark side hints SHUFFLE_MERGE for the self-join so both sides (and
    # the bucket-cap aggregate) shuffle identically on the band key — a
    # broadcast there would recompute the md5 signature scan per side.
    hs, sig = _minhash_sig(spark_dialect)
    if spark_dialect:
        toks = "array_distinct(split(text, ' '))"
        band_key = (
            "concat_ws(':', slice(sig, band * {r} + 1, {r}))".format(r=_ROWS_PER_BAND)
        )
        bands = f"explode(sequence(0, {_N_BANDS - 1}))"
        src = _capped_bands(bucket_cap)
        inter = "size(array_intersect(a.toks, b.toks))"
        nsz = "size({s}.toks)"
        sql = f"""
WITH sigs AS (
  SELECT doc_id, {sig} AS sig
  FROM (SELECT doc_id, {hs} AS hs FROM {{documents}}) h
),
bands AS (
  SELECT doc_id, band, {band_key} AS band_key
  FROM sigs LATERAL VIEW {bands} AS band
),
cand AS (
  SELECT /*+ SHUFFLE_MERGE(a), SHUFFLE_MERGE(b) */
         DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {src} a JOIN {src} b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
toks_t AS (
  SELECT doc_id, {toks} AS toks FROM {{documents}}
)
SELECT c.doc_a, c.doc_b,
       {inter} / CAST({nsz.format(s='a')} + {nsz.format(s='b')} - {inter} AS DOUBLE) AS jaccard
FROM cand c
JOIN toks_t a ON a.doc_id = c.doc_a
JOIN toks_t b ON b.doc_id = c.doc_b
WHERE {inter} / CAST({nsz.format(s='a')} + {nsz.format(s='b')} - {inter} AS DOUBLE) >= {_JACCARD_T}
ORDER BY doc_a, doc_b
"""
        return sql
    toks = "list_distinct(string_split(text, ' '))"
    band_key = "array_to_string(sig[band * {r} + 1 : band * {r} + {r}], ':')".format(
        r=_ROWS_PER_BAND
    )
    inter = "len(list_intersect(a.toks, b.toks))"
    nsz = "len({s}.toks)"
    src = _capped_bands(bucket_cap)
    return f"""
WITH sigs AS (
  SELECT doc_id, {sig} AS sig
  FROM (SELECT doc_id, {hs} AS hs FROM documents) h
),
bands AS (
  SELECT doc_id, band, {band_key} AS band_key
  FROM sigs, (SELECT unnest(range(0, {_N_BANDS})) AS band) bands
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {src} a JOIN {src} b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
toks_t AS (
  SELECT doc_id, {toks} AS toks FROM documents
)
SELECT c.doc_a, c.doc_b,
       {inter} / CAST({nsz.format(s='a')} + {nsz.format(s='b')} - {inter} AS DOUBLE) AS jaccard
FROM cand c
JOIN toks_t a ON a.doc_id = c.doc_a
JOIN toks_t b ON b.doc_id = c.doc_b
WHERE {inter} / CAST({nsz.format(s='a')} + {nsz.format(s='b')} - {inter} AS DOUBLE) >= {_JACCARD_T}
ORDER BY doc_a, doc_b
"""


@register("p02_dedup_minhash", oracle=_p02(False), tags=("pipeline", "dedup"))
def p02_dedup_minhash(spark, sf_dir):
    """MinHash(12 perms) + LSH(3 bands × 4 rows) near-dup pairs over unigram
    token sets, verified at true Jaccard ≥ 0.9.

    Plan shape: signature is map-side only; the only shuffles are the band
    self-join (keyed on 4-value band keys) and the candidate verify joins.
    At 100 TB: candidates ≪ n², and the verify join is key-partitioned.
    """
    return spark.sql(_p02(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p03 — SimHash with banded Hamming retrieval
# ---------------------------------------------------------------------------

_SIM_BITS = 32
_SIM_BANDS = 4  # 4 bands × 8 bits; hamming ≤ 3 ⇒ ≥1 band identical
_HAMMING_T = 3


def _p03(spark_dialect: bool) -> str:
    if spark_dialect:
        hs = f"transform(split(text, ' '), tok -> {h31_spark('tok')})"
        # per-bit weighted vote: sum over token hashes of ±1 per bit
        bitsum = "aggregate(hs, 0L, (acc, h) -> acc + (shiftright(h, b) & 1) * 2 - 1)"
        sim = (
            f"aggregate(sequence(0, {_SIM_BITS - 1}), cast(0 as bigint), "
            f"(acc, b) -> acc + if({bitsum} >= 0, shiftleft(cast(1 as bigint), b), 0))"
        )
        band_expr = "shiftright(simhash, band * 8) & 255"
        bands = f"explode(sequence(0, {_SIM_BANDS - 1}))"
        hamming = "bit_count(a.simhash ^ b.simhash)"
        lateral = f"FROM sigs LATERAL VIEW {bands} AS band"
    else:
        hs = f"list_transform(string_split(text, ' '), tok -> {h31_duck('tok')})"
        bitsum = (
            "list_reduce(list_prepend(0::BIGINT, "
            "list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)), (acc, v) -> acc + v)"
        )
        sim = (
            f"list_reduce(list_prepend(0::BIGINT, "
            f"list_transform(range(0, {_SIM_BITS}), "
            f"b -> CASE WHEN {bitsum} >= 0 THEN (1::BIGINT << b) ELSE 0 END)), "
            f"(acc, v) -> acc + v)"
        )
        band_expr = "(simhash >> (band * 8)) & 255"
        hamming = "bit_count(xor(a.simhash, b.simhash))"
        lateral = f"FROM sigs, (SELECT unnest(range(0, {_SIM_BANDS})) AS band) bands"
    return f"""
WITH sigs AS (
  SELECT doc_id, {sim} AS simhash
  FROM (SELECT doc_id, {hs} AS hs FROM {table_ref('documents', spark_dialect)}) h
),
bands AS (
  SELECT doc_id, simhash, band, {band_expr} AS band_val
  {lateral}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({hamming.replace('a.simhash', 'sim_a').replace('b.simhash', 'sim_b')} AS BIGINT) AS hamming
FROM cand a
WHERE {hamming.replace('a.simhash', 'sim_a').replace('b.simhash', 'sim_b')} <= {_HAMMING_T}
ORDER BY doc_a, doc_b
"""


@register("p03_dedup_simhash", oracle=_p03(False), tags=("pipeline", "dedup"))
def p03_dedup_simhash(spark, sf_dir):
    """SimHash(32-bit, token-vote) near-dup pairs at Hamming ≤ 3, retrieved
    via 4×8-bit band blocking (pigeonhole-complete for the threshold)."""
    return spark.sql(_p03(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p04 — character n-gram Jaccard (exact, block by lang)
# ---------------------------------------------------------------------------

_NGRAM = 4
_NGRAM_T = 0.37


def _p04(spark_dialect: bool, ordered: bool = True) -> str:
    if spark_dialect:
        grams = (
            f"array_distinct(transform(sequence(1, greatest(length(text) - {_NGRAM - 1}, 1)), "
            f"i -> substr(text, i, {_NGRAM})))"
        )
        inter = "size(array_intersect(a.grams, b.grams))"
        nsz = "size({s}.grams)"
    else:
        grams = (
            f"list_distinct(list_transform(range(1, greatest(len(text) - {_NGRAM - 2}, 2)), "
            f"i -> text[i:i+{_NGRAM - 1}]))"
        )
        inter = "len(list_intersect(a.grams, b.grams))"
        nsz = "len({s}.grams)"
    jac = f"{inter} / CAST({nsz.format(s='a')} + {nsz.format(s='b')} - {inter} AS DOUBLE)"
    return f"""
WITH d AS (
  SELECT doc_id, lang, {grams} AS grams FROM {table_ref('documents', spark_dialect)}
  WHERE text IS NOT NULL
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {jac} AS jaccard
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE {jac} >= {_NGRAM_T}
{"ORDER BY doc_a, doc_b" if ordered else ""}
"""


@register("p04_dedup_ngram", oracle=_p04(False), tags=("pipeline", "dedup"))
def p04_dedup_ngram(spark, sf_dir):
    """Exact char-4-gram Jaccard pairs within lang blocks — the brute-force
    baseline that LSH approximates. Blocking key keeps the self-join from
    being a full cross product; at scale you'd block on MinHash buckets."""
    return spark.sql(_p04(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p05 — embedding-cosine near-dup (exact baseline)
# ---------------------------------------------------------------------------

_COS_T = 0.40


def _p05(spark_dialect: bool) -> str:
    if spark_dialect:
        v = "transform(embedding, x -> cast(x as double))"
        dot = (
            "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), cast(0.0 as double), "
            "(acc, p) -> acc + p)"
        )
        norm = (
            "aggregate({s}.v, cast(0.0 as double), (acc, x) -> acc + x * x)"
        )
    else:
        v = "embedding::DOUBLE[]"
        dot = "list_dot_product(a.v, b.v)"
        norm = "list_dot_product({s}.v, {s}.v)"
    cos = f"{dot} / sqrt({norm.format(s='a')} * {norm.format(s='b')})"
    return f"""
WITH e AS (
  SELECT vec_id, {v} AS v FROM {emb_scan(spark_dialect)}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {cos} >= {_COS_T}
ORDER BY vec_a, vec_b
"""


@register("p05_dedup_embedding", oracle=_p05(False), tags=("pipeline", "dedup"))
def p05_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact O(n²) baseline over the
    small synthetic corpus). The scale path — hyperplane-LSH bucketed
    candidate generation — is p07_ann_lsh in operators/similarity.py;
    dot products are double-precision fold expressions so values match the
    oracle bit-for-bit."""
    return spark.sql(_p05(True), embeddings=load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# p09 — dedup clustering: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 50


def _pinned_fresh_stats(df):
    """``localCheckpoint`` + planner-statistics reset, for iterative loops.

    Dataset.localCheckpoint deliberately carries the PRE-checkpoint plan's
    estimated statistics into the resulting LogicalRDD (SPARK-39834, so a
    checkpointed small frame can still static-broadcast).  Inside a loop
    that self-joins its own previous round that inheritance is exponential
    poison: round r's size estimate is a *product* over round r-1's
    already-estimated sizes (two joins per round cube it), so the stored
    sizeInBytes BigInt gains ~3x its digits every round and by round ~18
    the driver burns MINUTES per round in BigInteger.multiply inside
    SizeInBytesOnlyStatsPlanVisitor — jstack'd on p40 at sf0.1: Thread-3
    pegged in multiplyToomCook3, round wall 2s → 21s → 28s → 91s, 144.7s
    total for a 2000-node graph.

    Rebuilding the frame from the checkpointed RDD[InternalRow] keeps the
    materialized partitions (lineage stays truncated, nothing recomputes)
    but drops sizeInBytesOpt, so every round plans against the constant
    default estimate — planning cost is flat per round (measured: the
    p40 bench entry 144.7s → 7.3-13.6s at sf0.1).  Join-strategy
    honesty is unchanged: the default estimate disables only the STATIC
    broadcast decision; AQE still converts each round's tiny shuffles to
    broadcasts at runtime from MEASURED sizes, and at 100 TB label
    frames must not broadcast anyway.
    """
    from pyspark.sql import DataFrame

    ck = df.localCheckpoint()
    jdf = ck._jdf
    fresh = df.sparkSession._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(fresh, df.sparkSession)


def _star_step(df, large: bool, dedupe: bool = True):
    """One large-star or small-star step over a symmetric (src, nbr)
    edge frame — the two alternating operations of the MapReduce
    connected-components algorithm of Kiveris et al. (2014).

    Per node v with m = min(Γ(v) ∪ {v}):
      large-star: re-attach every neighbor u > v to m;
      small-star: re-attach every neighbor u < v, and v itself, to m.
    Both return the new edge set symmetric.  The per-v minimum rides each
    edge row via a window over the SAME src hash partitioning the step
    shuffles on anyway, so a step is one exchange for the window plus —
    only when ``dedupe`` — one for the distinct.

    ``dedupe=False`` (guide §2.4, measured −12% per p40 execution at
    sf0.1): a round chains LS then SS, and SS's window re-groups by src
    regardless, so duplicate edges out of LS cannot change any per-src
    minimum — skipping LS's distinct drops one exchange per round.
    Duplicate growth bound: dedup now happens only
    at PIN boundaries (:func:`_pin_star_round`), not per round — each
    unpinned LS+SS pair emits ≤ 2 rows per input edge row (LS ≤ 1, SS ≤ 2
    counting the self re-attach), so rows shuffled can grow up to
    ~2^rounds_per_pin within a batch before the pin's distinct collapses
    them.  Exchange COUNT per round is unchanged, shuffled ROWS are not —
    at the shipped rounds_per_pin=2 that is ≤ 4x one round's edges, and
    any future rpp tuning must budget for the geometric factor.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    m = F.least(F.min("nbr").over(Window.partitionBy("src")), F.col("src"))
    base = df.select("src", "nbr", m.alias("m"))
    emitted = F.when(
        F.col("nbr") > F.col("src") if large else F.col("nbr") < F.col("src"),
        F.struct(F.col("nbr").alias("a"), F.col("m").alias("b")),
    )
    arr = [emitted]
    if not large:
        # v itself re-attaches to m (dedupe handles the per-row repeat)
        arr.append(F.struct(F.col("src").alias("a"), F.col("m").alias("b")))
    pairs = (
        base.select(F.explode(F.array(*arr)).alias("p"))
        .select("p.a", "p.b")
        .where("a IS NOT NULL AND a <> b")
    )
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("nbr")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("nbr")),
                )
            ).alias("q")
        )
        .select("q.src", "q.nbr")
    )
    return sym.distinct() if dedupe else sym


def _is_star_forest(e) -> bool:
    """Exact convergence test for the star algorithm: the edge set is a
    forest of min-rooted stars iff every node is either a root (all
    neighbors larger) or a member (exactly one neighbor, smaller).  One
    aggregation over the pinned edge frame — no set comparison against
    the previous round needed, and star forests are verified fixpoints
    of both star steps, so a pass certifies convergence."""
    from pyspark.sql import functions as F

    return (
        e.groupBy("src")
        .agg(
            F.min("nbr").alias("mn"),
            F.max("nbr").alias("mx"),
            F.count("nbr").alias("n"),
        )
        .where(
            ~(
                (F.col("mn") > F.col("src"))
                | ((F.col("n") == 1) & (F.col("mx") < F.col("src")))
            )
        )
        .count()
        == 0
    )


def _pin_star_round(df):
    """Dedupe a symmetric edge emission, certify the star-forest test and
    pin the result — all inside the ONE job that materializes the round
    (r8 optimization round, guide §1.2/§2.4).

    The previous loop body paid two jobs per round: the checkpoint that
    materialized the round's edge set, then :func:`_is_star_forest` — a
    second job whose groupBy re-shuffled the edges it had just written.
    At bench scale the loop is fixed-overhead-bound (sf0.1: 0.35 s step +
    0.13 s check per round), and at cluster scale the check is a whole
    extra stage per round; both halve by computing the SAME per-src stats
    (min/max/count of nbr) as window expressions over the deduped edges
    and draining ``SUM(viol)`` through ``observe()`` during the checkpoint
    job itself (verified: CollectMetrics fires under localCheckpoint).

    One exchange serves all three consumers: ``repartition("src")``
    establishes hash(src) partitioning, which satisfies the distinct on
    (src, nbr) — equal pairs share a src — AND the src-partitioned stats
    window, so dedup + convergence stats add no exchange beyond the one
    the round's distinct always paid.  The stats window buffers one src
    group at a time, the same unit :func:`_star_step`'s min-window already
    buffers, so no new skew class is introduced.  The viol column is
    projected away BELOW the checkpoint — pinned rounds stay (long, long).

    Returns ``(pinned_edges, converged)``; the test is exact, so
    convergence certification (raise on budget exhaustion, never return
    silently-wrong labels) is unchanged.
    """
    from pyspark.sql import Observation, Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("src")
    dd = df.repartition("src").dropDuplicates(["src", "nbr"])
    viol = ~(
        (F.min("nbr").over(w) > F.col("src"))
        | ((F.count("nbr").over(w) == 1) & (F.max("nbr").over(w) < F.col("src")))
    )
    obs = Observation()
    observed = (
        dd.withColumn("viol", viol.cast("long"))
        .observe(obs, F.sum("viol").alias("nviol"))
        .select("src", "nbr")
    )
    pinned = _pinned_fresh_stats(observed)
    return pinned, (obs.get["nviol"] or 0) == 0


def connected_components(
    edges, nodes, max_iters: int = _CC_MAX_ITERS, rounds_per_pin: int = 2
):
    """Connected components by alternating large-star / small-star steps
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    ``edges``: (a, b) undirected pairs; ``nodes``: (doc_id) — singletons
    become their own cluster; returned labels are the component MINIMUM id.

    r8 optimization-round rewrite, third algorithm standing.  The r7
    min-label propagation moved the minimum one graph hop per round
    (21 rounds on the sf0.1 mutual-kNN graph, and its 82-node chain
    silently exhausted max_iters before the r8 convergence certification
    landed); plain label-contraction fixes that graph (5 rounds) but
    degenerates back to O(n) on a monotone-id chain, where every node
    hooks to a DISTINCT target and no super-node ever forms (caught by
    tests/test_connected_components.py before it shipped).  The star
    alternation is the standard fix: large-star halves long paths by
    re-attaching the larger endpoints directly to local minima,
    small-star flattens the resulting trees into stars.  Simulated
    rounds (verified against BFS ground truth): sf0.1 p38 graph 6,
    monotone 4k-chain 13, monotone 1M-chain 21 — ~log2(n) growth, so
    ``max_iters`` 50 certifies far past any real corpus.

    Cost shape: state is ONLY the edge set — (long, long) rows, no
    label table inside the loop (document bodies and embeddings never
    enter it).  ``rounds_per_pin`` rounds share ONE job (r8:
    :func:`_pin_star_round` — the large-star + small-star chains, with
    the batch's dedup and the exact star-forest convergence stats
    sharing a single src-hash exchange and the convergence count
    drained through ``observe()`` during the checkpoint), versus the
    label loop's four jobs per round and the first star formulation's
    two; rpp=2 measured best at sf0.1 (loop comment), rpp=3's deeper
    per-job plans gave the win back.  Edges only ever re-attach within their component, and
    the component minimum keeps all its edges, so the star roots ARE the
    component minima; final labels are one aggregation over the
    converged stars left-joined onto ``nodes``.

    Convergence is certified, not assumed: a non-star edge set after
    ``max_iters`` raises rather than returning silently-wrong labels.
    Every round is pinned via :func:`_pinned_fresh_stats`:
    localCheckpoint truncates lineage so round N never replays rounds
    1..N-1 (p40's first bench run re-executed p38's whole LSH pipeline
    per round: 76.9s at sf0.1), and the stats reset stops the checkpoint
    from carrying exponentially-poisoned size estimates into the next
    round's planning (the BigInteger blowup in that helper's docstring).
    On a real cluster use ``setCheckpointDir`` + ``checkpoint()`` for
    fault tolerance instead of localCheckpoint.
    """
    from pyspark.sql import functions as F

    if rounds_per_pin < 1:
        # With rounds_per_pin <= 0 the inner batch loop runs
        # zero iterations, rounds never increments, and the while loop
        # re-pins the same unconverged edge set forever.
        raise ValueError(f"rounds_per_pin must be >= 1, got {rounds_per_pin}")
    e, converged = _pin_star_round(
        edges.selectExpr("a AS src", "b AS nbr")
        .unionByName(edges.selectExpr("b AS src", "a AS nbr"))
        .where("src <> nbr")
    )
    rounds = 0
    while not converged and rounds < max_iters:
        x = e
        # ``rounds_per_pin`` LS+SS alternations share one pinned job
        # (guide §1.2: the loop is fixed-overhead-bound — at sf0.1 each
        # pin is a job submission + checkpoint materialization of the
        # full edge set).  Exchange count per round is unchanged (the
        # star steps' windows still shuffle); what halves is the number
        # of job barriers and edge-set materializations.  Convergence is
        # only TESTED at pin boundaries, so a graph converging mid-batch
        # pays up to rounds_per_pin-1 extra star steps — star forests
        # are fixpoints of both steps, so the output is unchanged and
        # the waste is bounded by one batch.  Measured (same-session
        # interleaved x3 at sf0.1, full p40): rpp=1 {5.50, 4.66, 4.00}
        # vs rpp=2 {4.43, 3.94, 3.75} — rpp=2 won every interleave;
        # rpp=3's deeper per-job plans gave the win back ({4.99, 4.02,
        # 3.86}).  The batch is clamped to the remaining
        # budget so max_iters still bounds TOTAL rounds exactly.
        for _ in range(min(rounds_per_pin, max_iters - rounds)):
            rounds += 1
            # Both steps skip their own distinct (dedupe=False): SS's
            # window re-groups by src anyway, so LS duplicates cannot
            # change any minimum, and _pin_star_round dedupes the batch
            # output inside the same exchange its stats window needs —
            # one job and one exchange fewer per round than the r7
            # step+check pair.
            x = _star_step(
                _star_step(x, large=True, dedupe=False), large=False, dedupe=False
            )
        e, converged = _pin_star_round(x)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    roots = e.groupBy("src").agg(
        F.least(F.min("nbr"), F.col("src")).alias("m")
    )
    return (
        nodes.join(roots, nodes["doc_id"] == roots["src"], "left")
        .select("doc_id", F.coalesce("m", "doc_id").alias("cluster_id"))
    )


_P09_ORACLE = f"""
WITH RECURSIVE pairs AS ({_p04(False, ordered=False)}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM labels l
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id) s
  ON s.cluster_id = l.cluster_id
ORDER BY l.doc_id
"""


@register("p09_dedup_clusters", oracle=_P09_ORACLE, tags=("pipeline", "dedup"))
def p09_dedup_clusters(spark, sf_dir):
    """Dedup clustering: near-dup pairs (p04's n-gram Jaccard graph) →
    connected components → (doc_id, cluster_id, cluster_size), where
    cluster_id is the component's minimum doc_id — the canonical document
    a dedup pipeline keeps.

    The iterative min-label propagation is non-recursive-SQL on the Spark
    side (Spark has no recursive CTEs) but the DuckDB oracle checks it
    against a WITH RECURSIVE transitive closure — full value parity for an
    iterative distributed algorithm.
    """
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = spark.sql(_p04(True, ordered=False), documents=docs)
    edges = pairs.selectExpr("doc_a AS a", "doc_b AS b")
    nodes = docs.select("doc_id")
    labels = connected_components(edges, nodes)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )

# ---------------------------------------------------------------------------
# p10 — canonical-document selection per source (arg-max dedup)
# ---------------------------------------------------------------------------

_P10_ORACLE = """
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id DESC) AS rn,
         COUNT(*)    OVER (PARTITION BY source) AS n_docs,
         SUM(n_chars) OVER (PARTITION BY source) AS total_chars
  FROM documents
)
SELECT source, doc_id AS canonical_doc, n_chars AS canonical_chars,
       n_docs, CAST(total_chars AS BIGINT) AS total_chars
FROM ranked WHERE rn = 1
ORDER BY source
"""


@register("p10_dedup_canonical", oracle=_P10_ORACLE, tags=("pipeline", "dedup"))
def p10_dedup_canonical(spark, sf_dir):
    """Canonical-document selection: per source, keep the longest doc
    (doc_id as deterministic tie-break) plus group stats.

    The oracle states it as ROW_NUMBER()-over-partition; the Spark plan
    deliberately uses a lexicographic argmax AGGREGATE instead — it
    partial-aggregates map-side, so at 100 TB it is one combine-shuffle
    of one row per source rather than a full partition sort under a
    window.  The orderand is common.packed_minmax's single DECIMAL, not
    max(struct(n_chars, doc_id)): a struct aggregation buffer demotes
    the whole aggregate (the count and sum riding with it included) to
    SortAggregate — a full per-partition sort, the exact cost this
    formulation exists to avoid — while the decimal pack keeps
    HashAggregate with the identical (n_chars DESC, doc_id DESC) order.
    """
    from pyspark.sql import functions as F

    from sqlrs_spark.operators.common import packed_minmax, unpack_id, unpack_value

    docs = load_table(spark, sf_dir, "documents")
    best = F.max(packed_minmax(F.col("n_chars"), F.col("doc_id"))).alias("best")
    return (
        docs.groupBy("source")
        .agg(
            best,
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "source",
            unpack_id(F.col("best")).alias("canonical_doc"),
            unpack_value(F.col("best")).alias("canonical_chars"),
            "n_docs",
            "total_chars",
        )
        .orderBy("source")
    )

# ---------------------------------------------------------------------------
# p11 — end-to-end corpus curation pipeline (filter → dedup → chunk budget)
# ---------------------------------------------------------------------------


def _p11(spark_dialect: bool) -> str:
    if spark_dialect:
        h = "md5(cast(text as binary))"
        ntok = "size(split(text, ' '))"
        nuniq = "size(array_distinct(split(text, ' ')))"
        argmin = "min_by"
        idiv = "div"
    else:
        h = "md5(text)"
        ntok = "CAST(len(string_split(text, ' ')) AS INT)"
        nuniq = "CAST(len(list_distinct(string_split(text, ' '))) AS INT)"
        argmin = "arg_min"
        idiv = "//"
    return f"""
WITH scored AS (
  SELECT doc_id, source, {h} AS h, {ntok} AS ntok,
         {nuniq} / CAST({ntok} AS DOUBLE) AS ttr
  FROM {table_ref('documents', spark_dialect)}
), kept AS (
  SELECT h,
         MIN(doc_id)               AS keep_id,
         {argmin}(source, doc_id)  AS src,
         {argmin}(ntok, doc_id)    AS ntok
  FROM scored
  WHERE ttr >= 0.4
  GROUP BY h
)
SELECT src AS source,
       COUNT(*)                                   AS n_docs,
       CAST(SUM(ntok) AS BIGINT)                  AS total_tokens,
       CAST(SUM(((ntok - 1) {idiv} 24) + 1) AS BIGINT) AS n_chunks
FROM kept
GROUP BY src
ORDER BY src
"""


@register("p11_corpus_pipeline", oracle=_p11(False), tags=("pipeline", "dedup"), bench=True)
def p11_corpus_pipeline(spark, sf_dir):
    """End-to-end curation pipeline in one plan: quality filter
    (type-token ratio ≥ 0.4) → exact dedup (keep min doc_id, arg-min
    carries its source/token count) → per-source chunk budget
    (32-token/stride-24 chunk count computed arithmetically — no explode
    needed for accounting).

    Scale: one digest-keyed shuffle for the dedup group-by and one tiny
    shuffle for the per-source rollup; the quality features are map-side
    codegen. This is the composition story: every stage is the same
    declarative plan the standalone operators (t03, p01, t05) use, so
    Catalyst fuses the whole pipeline into two stages.
    """
    return spark.sql(_p11(True), documents=load_table(spark, sf_dir, "documents"))


_BUCKET_CAP = 64


@register(
    "p16_dedup_minhash_capped",
    oracle=_p02(False, _BUCKET_CAP),
    tags=("pipeline", "dedup"),
    bench=True,
)
def p16_dedup_minhash_capped(spark, sf_dir):
    """p02's MinHash+LSH with the production guard: band buckets holding
    more than 64 docs are dropped from candidate generation.

    Oversized buckets are boilerplate collapse — every member is
    near-identical to every other — and pairing them is quadratic: on the
    synthetic corpus at sf0.1 (5k docs from a ~30-word vocabulary) the
    uncapped p02 emits 936k verified pairs in ~29 s, almost all from a
    handful of mega-buckets; capped, the same query is sub-second.  At
    100 TB the cap is what makes LSH dedup runnable at all: candidate
    count stays ~linear in corpus size, and the mass-duplicate groups the
    cap skips are exactly the ones exact dedup (p01) and clustering (p09)
    already handle by digest.  The cap is applied identically in the
    DuckDB oracle, so parity covers the guard itself.
    """
    return spark.sql(_p02(True, _BUCKET_CAP), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p17 — cross-corpus decontamination (train vs eval)
# ---------------------------------------------------------------------------

_DECON_T = 0.8


def _p17(spark_dialect: bool) -> str:
    # eval set = source 'src0'; train = everything else.  A train doc is
    # contaminated if its exact digest matches an eval doc OR a shared
    # MinHash band key yields a verified token-Jaccard ≥ 0.8 candidate.
    hs, sig = _minhash_sig(spark_dialect)
    if spark_dialect:
        toks = "array_distinct(split(text, ' '))"
        band_key = (
            "concat_ws(':', slice(sig, band * {r} + 1, {r}))".format(r=_ROWS_PER_BAND)
        )
        bands_src = f"LATERAL VIEW explode(sequence(0, {_N_BANDS - 1})) AS band"
        inter = "size(array_intersect(t.toks, e.toks))"
        nsz = "size({s}.toks)"
    else:
        toks = "list_distinct(string_split(text, ' '))"
        band_key = "array_to_string(sig[band * {r} + 1 : band * {r} + {r}], ':')".format(
            r=_ROWS_PER_BAND
        )
        bands_src = f", (SELECT unnest(range(0, {_N_BANDS})) AS band) bx"
        inter = "len(list_intersect(t.toks, e.toks))"
        nsz = "len({s}.toks)"
    jac = f"{inter} / CAST({nsz.format(s='t')} + {nsz.format(s='e')} - {inter} AS DOUBLE)"
    return f"""
WITH base AS (
  SELECT doc_id, source, md5(text) AS digest, {toks} AS toks, {sig} AS sig
  FROM (SELECT doc_id, source, text, {hs} AS hs FROM {table_ref('documents', spark_dialect)}) h
),
bands AS (
  SELECT doc_id, source, band, {band_key} AS band_key
  FROM base {bands_src}
),
exact_hits AS (
  SELECT DISTINCT t.doc_id
  FROM base t JOIN base e ON t.digest = e.digest
  WHERE t.source <> 'src0' AND e.source = 'src0'
),
near_hits AS (
  SELECT DISTINCT t.doc_id
  FROM (
    SELECT DISTINCT tb.doc_id AS t_id, eb.doc_id AS e_id
    FROM bands tb JOIN bands eb
      ON tb.band = eb.band AND tb.band_key = eb.band_key
    WHERE tb.source <> 'src0' AND eb.source = 'src0'
  ) c
  JOIN base t ON t.doc_id = c.t_id
  JOIN base e ON e.doc_id = c.e_id
  WHERE {jac} >= {_DECON_T}
),
contaminated AS (
  SELECT doc_id FROM exact_hits UNION SELECT doc_id FROM near_hits
)
SELECT b.source,
       COUNT(*) AS n_docs,
       COUNT(c.doc_id) AS n_contaminated,
       COUNT(*) - COUNT(c.doc_id) AS n_kept
FROM base b
LEFT JOIN contaminated c ON b.doc_id = c.doc_id
WHERE b.source <> 'src0'
GROUP BY b.source
ORDER BY b.source
"""


@register("p17_decontaminate", oracle=_p17(False), tags=("pipeline", "dedup"))
def p17_decontaminate(spark, sf_dir):
    """Train-vs-eval decontamination: flag training documents that exactly
    or nearly (token Jaccard ≥ 0.8 via shared MinHash band keys) match a
    held-out eval set — the step every serious pretraining corpus runs so
    benchmarks stay uncontaminated.

    Scale shape: this is p02's machinery as a BIPARTITE join instead of a
    self-join — band keys of the (small) eval side join the train side,
    so candidates scale with eval size, not train²; the exact-digest pass
    is an equi-join on md5.  Both hit sets union to a doc_id list that
    anti-joins (here: LEFT JOIN + count) the corpus.  At 100 TB the eval
    side's bands broadcast and the train side never shuffles its text —
    only (doc_id, band_key) pairs.
    """
    return spark.sql(_p17(True), documents=load_table(spark, sf_dir, "documents"))



# ---------------------------------------------------------------------------
# p21 — fuzzy vocabulary join (edit distance <= 2, SymSpell-style blocking)
# ---------------------------------------------------------------------------


def _p21(spark_dialect: bool) -> str:
    # SymSpell symmetric-delete blocking: keys(tok) = tok plus every
    # deletion of up to TWO characters; two tokens within Levenshtein
    # distance 2 always share a key (deletes up to depth d on both sides
    # are a complete candidate generator for distance <= d), so the key
    # equi-join never misses and the O(len^2) levenshtein runs only on
    # candidates.  Key count is ~len^2/2 per DISTINCT token — vocabulary-
    # bounded, not corpus-bounded.
    if spark_dialect:
        del1 = "transform(sequence(1, length(tok)), i -> concat(substr(tok, 1, i - 1), substr(tok, i + 1)))"
        del2 = (
            "flatten(transform(sequence(1, length(tok)), i -> "
            "transform(sequence(i + 1, length(tok)), j -> "
            "concat(substr(tok, 1, i - 1), substr(tok, i + 1, j - i - 1), substr(tok, j + 1)))))"
        )
        variants = f"array_distinct(concat(array(tok), {del1}, if(length(tok) >= 2, {del2}, array())))"
        vocab = (
            "SELECT tok, COUNT(DISTINCT doc_id) AS df FROM {documents} "
            "LATERAL VIEW explode(array_distinct(split(text, ' '))) AS tok GROUP BY tok"
        )
        keys = f"SELECT tok, df, key FROM vocab LATERAL VIEW explode({variants}) AS key"
    else:
        del1 = "list_transform(range(1, length(tok) + 1), i -> substr(tok, 1, i - 1) || substr(tok, i + 1))"
        del2 = (
            "flatten(list_transform(range(1, length(tok) + 1), i -> "
            "list_transform(range(i + 1, length(tok) + 1), j -> "
            "substr(tok, 1, i - 1) || substr(tok, i + 1, j - i - 1) || substr(tok, j + 1))))"
        )
        variants = (
            f"list_distinct(list_concat(list_concat([tok], {del1}), "
            f"CASE WHEN length(tok) >= 2 THEN {del2} ELSE [] END))"
        )
        vocab = (
            "SELECT tok, COUNT(DISTINCT doc_id) AS df FROM documents, "
            "unnest(list_distinct(string_split(text, ' '))) AS u(tok) GROUP BY tok"
        )
        keys = f"SELECT tok, df, key FROM vocab, unnest({variants}) AS k(key)"
    return f"""
WITH vocab AS ({vocab}),
keys AS ({keys}),
cand AS (
  SELECT DISTINCT a.tok AS tok_a, a.df AS df_a, b.tok AS tok_b, b.df AS df_b
  FROM keys a JOIN keys b ON a.key = b.key AND a.tok < b.tok
)
SELECT tok_a, tok_b,
       CAST(levenshtein(tok_a, tok_b) AS INT) AS dist,
       CAST(df_a AS BIGINT) AS df_a,
       CAST(df_b AS BIGINT) AS df_b
FROM cand
WHERE levenshtein(tok_a, tok_b) <= 2
ORDER BY tok_a, tok_b
"""


@register("p21_fuzzy_vocab", oracle=_p21(False), tags=("pipeline", "dedup"))
def p21_fuzzy_vocab(spark, sf_dir):
    """Fuzzy vocabulary pairs: tokens within Levenshtein distance 2 plus
    their document frequencies — the typo/variant detection pass (OCR
    noise, inflections) that exact-token dedup and MinHash both miss.

    Scale shape: SymSpell symmetric-delete blocking — the corpus shuffles
    once to the DISTINCT vocabulary (with per-token df as a free partial
    agg), each vocab token expands map-side to ~len^2/2 deletion keys,
    candidates come from a single key equi-join (complete for distance
    <= 2 by the symmetric-delete property), and the expensive
    levenshtein verify touches candidates only.  Everything downstream
    of the first vocab aggregation is vocabulary-bounded, independent of
    corpus row count — the property that makes fuzzy matching viable at
    100 TB where all-pairs token comparison cannot be.
    """
    return spark.sql(_p21(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p26 — semantic dedup: k-means-clustered embedding near-dup (SemDeDup)
# ---------------------------------------------------------------------------

_SEM_COS_T = 0.40  # same boundary-safe cosine threshold as p05 (both
# engines compute the identical sequential double fold, so the comparison
# is bit-identical — never a threshold-straddling value-hash flake)


def _p26_oracle() -> str:
    from sqlrs_spark.operators.similarity import kmeans_cte_prefix

    cos = (
        "list_dot_product(ea.v, eb.v) "
        "/ sqrt(list_dot_product(ea.v, ea.v) * list_dot_product(eb.v, eb.v))"
    )
    return f"""{kmeans_cte_prefix()},
pairs AS (
  SELECT fb.vec_id, fb.cent_id, fa.vec_id AS keeper, {cos} AS cosine
  FROM final_assign fa
  JOIN final_assign fb ON fa.cent_id = fb.cent_id AND fa.vec_id < fb.vec_id
  JOIN e ea ON ea.vec_id = fa.vec_id
  JOIN e eb ON eb.vec_id = fb.vec_id
  WHERE {cos} >= {_SEM_COS_T}
)
SELECT vec_id, CAST(cent_id AS BIGINT) AS cent_id, MIN(keeper) AS dup_of
FROM pairs
GROUP BY vec_id, cent_id
ORDER BY vec_id
"""


@register("p26_semantic_dedup", oracle=_p26_oracle(), tags=("pipeline", "dedup"))
def p26_semantic_dedup(spark, sf_dir):
    """Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
    space with k-means, then mark near-duplicates WITHIN each cluster —
    a vector is dropped when a lower-id vector in its cluster has cosine
    >= threshold; output is (vec_id, cent_id, dup_of=min matching keeper),
    fully deterministic.

    Scale shape — the reason SemDeDup works at 100 TB where p05's exact
    all-pairs cannot: the trained quantizer (bit-stable integer-grid Lloyd
    loop shared with p18, similarity.py:kmeans_centroids) partitions the
    corpus into k clusters, and the quadratic pair scan runs per-cluster
    — O(sum c_i^2), with k chosen ~n/1e4 in production so clusters stay
    small and bounded.  The pair join is a shuffle on cent_id (ids +
    vectors, one partition per cluster lists), never an n x n cross
    product; the DuckDB oracle replays training and checks every reported
    cosine value.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sqlrs_spark.operators.similarity import _KM_SCALE, kmeans_centroids

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
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("cent_id"))
    assign = (
        corpus.crossJoin(F.broadcast(cents))
        .withColumn("cos", F.expr(f"{dot} / sqrt(({nv}) * ({ncv}))"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "cent_id", "v")
    )

    pair_dot = (
        "aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double), (a, p) -> a + p)"
    )
    na = "aggregate(va, cast(0.0 as double), (a, x) -> a + x * x)"
    nb = "aggregate(vb, cast(0.0 as double), (a, x) -> a + x * x)"
    left = assign.select(
        F.col("cent_id"), F.col("id").alias("keeper"), F.col("v").alias("va")
    )
    right = assign.select(
        F.col("cent_id"), F.col("id").alias("vec_id"), F.col("v").alias("vb")
    )
    pairs = (
        left.join(right, "cent_id")
        .filter(F.col("keeper") < F.col("vec_id"))
        .withColumn("cosine", F.expr(f"{pair_dot} / sqrt(({na}) * ({nb}))"))
        .filter(F.col("cosine") >= _SEM_COS_T)
    )
    return (
        pairs.groupBy("vec_id", F.col("cent_id").cast("bigint").alias("cent_id"))
        .agg(F.min("keeper").alias("dup_of"))
        .select("vec_id", "cent_id", "dup_of")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# p31 — incremental dedup: new batch vs existing corpus (delta ingest)
# ---------------------------------------------------------------------------


def _p31(spark_dialect: bool) -> str:
    """Dual-dialect builder for batch-vs-corpus incremental dedup.

    The daily-crawl shape: the corpus already exists (doc_id % 5 <> 0
    here), a new batch arrives (doc_id % 5 = 0), and each new doc gets a
    verdict WITHOUT re-deduplicating the corpus against itself — exact
    digest hit, MinHash near-dup hit (shared LSH band key, verified
    Jaccard >= threshold), or genuinely new.

    Scale shape: p17's bipartite-band pattern pointed the other way —
    candidates scale with |batch| x bucket-collision rate, never
    |corpus|^2; the corpus contributes only (digest) and (band, band_key)
    pairs to the joins, its text never shuffles, and at 100 TB the batch
    side's bands broadcast (a day's crawl vs the whole corpus).
    """
    hs, sig = _minhash_sig(spark_dialect)
    if spark_dialect:
        toks = "array_distinct(split(text, ' '))"
        band_key = "concat_ws(':', slice(sig, band * {r} + 1, {r}))".format(
            r=_ROWS_PER_BAND
        )
        bands_src = f"LATERAL VIEW explode(sequence(0, {_N_BANDS - 1})) AS band"
        inter = "size(array_intersect(t.toks, e.toks))"
        nsz = "size({s}.toks)"
    else:
        toks = "list_distinct(string_split(text, ' '))"
        band_key = "array_to_string(sig[band * {r} + 1 : band * {r} + {r}], ':')".format(
            r=_ROWS_PER_BAND
        )
        bands_src = f", (SELECT unnest(range(0, {_N_BANDS})) AS band) bx"
        inter = "len(list_intersect(t.toks, e.toks))"
        nsz = "len({s}.toks)"
    jac = f"{inter} / CAST({nsz.format(s='t')} + {nsz.format(s='e')} - {inter} AS DOUBLE)"
    return f"""
WITH base AS (
  SELECT doc_id, doc_id % 5 = 0 AS is_batch, md5(text) AS digest, {sig} AS sig
  FROM (SELECT doc_id, text, {hs} AS hs FROM {table_ref('documents', spark_dialect)}) h
),
toks_t AS (
  SELECT doc_id, {toks} AS toks FROM {table_ref('documents', spark_dialect)}
),
bands AS (
  SELECT doc_id, is_batch, band, {band_key} AS band_key
  FROM base {bands_src}
),
exact_hits AS (
  SELECT DISTINCT b.doc_id
  FROM base b JOIN base c ON b.digest = c.digest
  WHERE b.is_batch AND NOT c.is_batch
),
near_hits AS (
  SELECT DISTINCT c.b_id AS doc_id
  FROM (
    SELECT DISTINCT bb.doc_id AS b_id, cb.doc_id AS c_id
    FROM bands bb JOIN bands cb
      ON bb.band = cb.band AND bb.band_key = cb.band_key
    WHERE bb.is_batch AND NOT cb.is_batch
  ) c
  JOIN toks_t t ON t.doc_id = c.b_id
  JOIN toks_t e ON e.doc_id = c.c_id
  WHERE {jac} >= {_JACCARD_T}
)
SELECT b.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict
FROM base b
LEFT JOIN exact_hits e ON b.doc_id = e.doc_id
LEFT JOIN near_hits n ON b.doc_id = n.doc_id
WHERE b.is_batch
ORDER BY b.doc_id
"""


@register("p31_incremental_dedup", oracle=_p31(False), tags=("pipeline", "dedup"))
def p31_incremental_dedup(spark, sf_dir):
    """Incremental (delta) dedup: verdict per NEW document against the
    EXISTING corpus — 'exact_dup' (corpus digest hit), 'near_dup'
    (verified MinHash-LSH hit at p02's threshold) or 'new'.  See _p31
    for the bipartite scale shape.  Beyond-reference: the reference
    engine has no dedup surface; this extends SURVEY §2's pipeline
    family (p01/p02/p17 are the self-join and decontamination twins).
    """
    return spark.sql(_p31(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p32 — source-overlap contamination matrix (which sources copy which)
# ---------------------------------------------------------------------------


def _p32(spark_dialect: bool) -> str:
    """Dual-dialect builder for the source-pair shingle-overlap matrix.

    Corpus-audit twin of t13's doc-pair containment, lifted to SOURCE
    granularity: for every source pair, how many distinct token-5-gram
    digests they share and the containment (shared / smaller side) in
    exact ppm.  The audit that catches one crawl mirroring another
    before both get sampled into a training mix as "independent" data.

    Scale shape: one exploded-shingle shuffle to the DISTINCT (source,
    digest) relation (digests are 60-bit longs — the p16 hardening, so
    the wide shuffle carries 16 bytes/row, never gram text); the pair
    join is digest-keyed with fan-out bounded by sources-per-shingle
    (<= #sources, a constant), and the matrix is #sources^2 rows at most.
    """
    if spark_dialect:
        grams = (
            "SELECT source, "
            f"{md5int_spark('g')} AS gd "
            "FROM (SELECT source, explode(array_distinct(transform("
            " sequence(0, size(tk) - 5),"
            " i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])))) AS g"
            " FROM (SELECT source, split(text, ' ') AS tk FROM {documents}"
            "       WHERE text IS NOT NULL) WHERE size(tk) >= 5)"
        )
        idiv = "DIV"
    else:
        grams = (
            "SELECT source, "
            f"{md5int_duck('g')} AS gd "
            "FROM (SELECT source, unnest(list_distinct(list_transform("
            " range(0, len(tk) - 4),"
            " i -> array_to_string(tk[i + 1 : i + 5], ' ')))) AS g"
            " FROM (SELECT source, string_split(text, ' ') AS tk FROM documents"
            "       WHERE text IS NOT NULL) t WHERE len(tk) >= 5) u"
        )
        idiv = "//"
    return f"""
WITH grams AS (
  SELECT DISTINCT source, gd FROM ({grams}) g
),
sizes AS (
  SELECT source, COUNT(*) AS n_grams FROM grams GROUP BY source
),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
  FROM grams a JOIN grams b ON a.gd = b.gd AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.src_a, s.src_b,
       CAST(s.n_shared AS BIGINT) AS n_shared,
       CAST(sa.n_grams AS BIGINT) AS grams_a,
       CAST(sb.n_grams AS BIGINT) AS grams_b,
       CAST(s.n_shared * 1000000 {idiv} LEAST(sa.n_grams, sb.n_grams) AS BIGINT)
         AS containment_ppm
FROM shared s
JOIN sizes sa ON sa.source = s.src_a
JOIN sizes sb ON sb.source = s.src_b
ORDER BY s.src_a, s.src_b
"""


@register("p32_source_overlap_matrix", oracle=_p32(False), tags=("pipeline", "dedup"))
def p32_source_overlap_matrix(spark, sf_dir):
    """Source-overlap contamination matrix: distinct shared 5-gram digests
    and exact-ppm containment for every source pair (see _p32)."""
    return spark.sql(_p32(True), documents=load_table(spark, sf_dir, "documents"))
