"""Corpus sampling / packing operators for training-data pipelines.

Beyond-reference capability (BASELINE.json north star): the selection and
batching steps a 100 TB pretraining-corpus build needs between curation
(operators/dedup.py, operators/text.py) and tokenization — deterministic
stratified sampling, target-ratio domain mixing, and token-budget sequence
packing.

Determinism discipline: every sampling decision is a pure function of the
row (md5-derived hash — functions/hashing.py), never rand()/Math.random —
so reruns, retried tasks, and the DuckDB oracle all select the identical
subset.  That property is what makes sampled pipelines debuggable at
cluster scale: a lost executor recomputes its partition bit-identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlrs_spark.functions.hashing import h31_duck, h31_spark
from sqlrs_spark.operators.common import table_ref
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import load_table

# per-language sampling rate in 1/1000ths: downsample the dominant
# language, keep the rest at a higher rate (the usual rebalancing move)
_RATE_SQL = "CASE WHEN lang = 'en' THEN 100 ELSE 300 END"

# deterministic per-doc draw in [0, 1000): md5 of the doc id → 31-bit
# hash → mod 1000.  Independent of the minhash/fingerprint hash uses
# (different input string), so sampling doesn't correlate with dedup.
_DRAW_SPARK = f"pmod({h31_spark('cast(doc_id as string)')}, 1000)"
_DRAW_DUCK = f"(({h31_duck('doc_id::VARCHAR')}) % 1000)"


@register(
    "p12_stratified_sample",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
           MIN(doc_id) AS first_doc
    FROM documents
    WHERE {_DRAW_DUCK} < {_RATE_SQL}
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("pipeline", "sampling"),
)
def p12_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum rate sampling: each language keeps a fixed
    fraction of documents, chosen by a content-independent hash draw.

    The draw `md5(doc_id) mod 1000 < rate` is a Bernoulli filter evaluated
    row-local — a pure codegen projection+filter with NO shuffle, NO
    global coordination, and the same subset on every rerun.  This is the
    scale path for corpus rebalancing: at 100 TB it is a single scan, and
    the rate table extends to any stratum count without a plan change
    (vs. df.sampleBy, whose seeds don't reproduce across engines).
    Output is the per-stratum audit summary (count/chars) a mixing step
    consumes.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.expr(_DRAW_SPARK) < F.expr(_RATE_SQL))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sampled_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang")
    )


@register(
    "p13_token_budget_pack",
    oracle="""
    WITH d AS (
      SELECT source, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    SELECT source,
           CAST((cum - n_chars) // 16384 AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS pack_chars
    FROM d
    GROUP BY source, pack_id
    ORDER BY source, pack_id
    """,
    tags=("pipeline", "sampling"),
    bench=True,
)
def p13_token_budget_pack(spark, sf_dir):
    """Token-budget sequence packing: assign documents to fixed-budget
    packs (16 Ki chars ≈ one training sequence) by running offset within
    their source shard.

    A doc joins the pack its cumulative start offset falls in —
    floor((cum − own) / budget) — the standard offset-based packing that
    needs ONE pass: a running sum per source (window, ROWS UNBOUNDED
    PRECEDING partial-aggregates in a single shuffle on source) and a
    grouped rollup of pack stats.  Arithmetic is integer end-to-end
    (BIGINT div), exact past 2^53 where a double cumsum would drift at
    100 TB offsets.  Scale note: packing partitions by the source shard
    key, so parallelism = shard count; a production corpus has thousands
    of shards (here 20) — for fewer, pre-split sources on a hash prefix.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = (
        F.sum("n_chars")
        .over(
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum")
    )
    return (
        docs.select("source", "doc_id", "n_chars", w)
        .select(
            "source",
            F.expr("div(cum - n_chars, 16384)").alias("pack_id"),
            "n_chars",
        )
        .groupBy("source", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("pack_chars"))
        .orderBy("source", "pack_id")
    )


@register(
    "p14_domain_mix",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {h31_duck('doc_id::VARCHAR')}, doc_id) AS rk
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS mixed_chars
    FROM ranked
    WHERE rk <= CASE WHEN lang = 'en' THEN 120
                     WHEN lang = 'zh' THEN 80
                     ELSE 50 END
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("pipeline", "sampling"),
)
def p14_domain_mix(spark, sf_dir):
    """Exact-quota domain mixing: fill a fixed per-language document quota
    (the mixing-ratio recipe of a training run) with a deterministic,
    hash-ordered first-N per stratum.

    Ordering by the md5 draw makes the quota fill a uniform random — but
    reproducible — subset; doc_id breaks hash ties so row_number is total.
    Scale note: row_number partitioned by a 5-value stratum key funnels
    each stratum through one task — fine for quotas that fit one machine
    (they do: quota rows, not corpus rows, bound the output), but for
    billion-row quotas switch to the p12 rate filter with rate =
    quota/stratum_count estimated from a count — constant-space, no
    per-stratum funnel.  The window input is pre-pruned to (lang, doc_id,
    n_chars) so the funnel moves 3 columns, never the text.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.expr(h31_spark("cast(doc_id as string)")), F.col("doc_id")
        )
    )
    quota = F.expr(
        "CASE WHEN lang = 'en' THEN 120 WHEN lang = 'zh' THEN 80 ELSE 50 END"
    )
    return (
        docs.withColumn("rk", rk)
        .filter(F.col("rk") <= quota)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("mixed_chars"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# p22 — temperature-scaled source mixing (alpha = 0.5)
# ---------------------------------------------------------------------------

_P22_BUDGET = 60_000  # total char budget for the mixed corpus


def _p22(spark_dialect: bool) -> str:
    # alpha = 0.5 exactly, i.e. weight = sqrt(chars): sqrt is a correctly-
    # rounded IEEE-754 op in both engines, unlike pow(x, 0.7), which may
    # differ in the last ulp between Java's Math.pow and libm and would
    # poison the driver value hash.  The weight is then floored into a
    # BIGINT so the cross-source total is an integer sum — order-invariant
    # under any partitioning — and every downstream rate is a single
    # division of two exactly-computed BIGINTs: bit-identical everywhere.
    from sqlrs_spark.functions.hashing import md5int_duck, md5int_spark

    md5 = (md5int_spark if spark_dialect else md5int_duck)(
        "cast(doc_id as string)" if spark_dialect else "doc_id::VARCHAR"
    )
    mod = f"pmod({md5}, 1000000)" if spark_dialect else f"({md5} % 1000000)"
    return f"""
WITH src AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS src_chars,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM {table_ref('documents', spark_dialect)} GROUP BY source
),
w AS (
  SELECT source, src_chars, n_docs,
         CAST(floor(sqrt(CAST(src_chars AS DOUBLE)) * 1000) AS BIGINT) AS wt
  FROM src
),
tw AS (SELECT CAST(SUM(wt) AS BIGINT) AS totw FROM w),
rates AS (
  SELECT source, src_chars, n_docs, wt,
         least(1.0, CAST({_P22_BUDGET} * wt AS DOUBLE)
                    / CAST(totw * src_chars AS DOUBLE)) AS rate
  FROM w CROSS JOIN tw
),
kept AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
  FROM {table_ref('documents', spark_dialect)} d JOIN rates r ON d.source = r.source
  WHERE {mod} / 1e6 < r.rate
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.src_chars, round(r.rate, 9) AS rate,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(k.kept_chars, 0) AS BIGINT) AS kept_chars
FROM rates r LEFT JOIN kept k ON r.source = k.source
ORDER BY r.source
"""


@register("p22_temperature_mix", oracle=_p22(False), tags=("pipeline", "sampling"))
def p22_temperature_mix(spark, sf_dir):
    """Temperature-scaled source mixing (the multilingual-LM upsampling
    recipe): each source's sampling rate targets a share proportional to
    src_chars^alpha with alpha = 0.5, flattening the source distribution
    so small sources are upsampled relative to their raw size.

    Scale design: the per-source stats are one partial-agg shuffle over
    ~|sources| groups; the 20-row rate table broadcasts everywhere; the
    draw `md5(doc_id) mod 1e6 < rate` is the same row-local reproducible
    Bernoulli filter as p12 — a single scan at 100 TB, no coordination,
    rerun-stable.  Integer-domain weights (floor(sqrt(chars)*1000)) keep
    every rate bit-identical across engines and partitionings; see _p22.
    """
    return spark.sql(_p22(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p23 — weighted (probability-proportional-to-size) sampling without
# replacement via sequential Poisson sampling (Ohlsson 1998): priority =
# uniform_draw / weight, keep the k smallest priorities per stratum.
# Larger documents get smaller expected priorities, so selection
# probability is approximately proportional to n_chars — the standard
# fixed-size PPS design, and the float-safe one: the only floating-point
# op is a single IEEE division of two exact integers, which both engines
# round identically (vs. the textbook u^(1/w) / ln(u)/w keys, whose
# pow/ln results are NOT guaranteed bit-identical between Java and libm
# and would poison the driver value hash).
# ---------------------------------------------------------------------------

_P23_K = 10  # sample size per source stratum


def _p23(spark_dialect: bool) -> str:
    draw = (
        h31_spark("cast(doc_id as string)")
        if spark_dialect
        else h31_duck("doc_id::VARCHAR")
    )
    prio = f"CAST({draw} AS DOUBLE) / CAST(n_chars AS DOUBLE)"
    return f"""
WITH pri AS (
  SELECT source, doc_id, n_chars, {prio} AS priority
  FROM {table_ref('documents', spark_dialect)} WHERE n_chars > 0
),
ranked AS (
  SELECT source, doc_id, n_chars, priority,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY priority, doc_id) AS rk
  FROM pri
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)      AS n_docs,
       CAST(SUM(n_chars) AS BIGINT)  AS sampled_chars,
       CAST(MIN(doc_id) AS BIGINT)   AS first_doc,
       CAST(MAX(priority) AS DOUBLE) AS max_priority
FROM ranked
WHERE rk <= {_P23_K}
GROUP BY source
ORDER BY source
"""


@register("p23_pps_sample", oracle=_p23(False), tags=("pipeline", "sampling"))
def p23_pps_sample(spark, sf_dir):
    """Fixed-size weighted sample per stratum: sequential Poisson sampling
    (priority = hash_draw / n_chars, k smallest per source) — the
    deterministic PPS counterpart to p14's uniform quota fill.  Long
    documents are favored in proportion to their size, which is the usual
    shape for char-budgeted corpus selection.

    Scale design: the priority is a row-local codegen projection; the
    per-stratum top-k is a ROW_NUMBER window over (source) — same funnel
    bound as p14 (k rows per stratum survive, and the window input is
    pruned to 3 narrow columns before the shuffle, never the text).  At
    billion-row strata, swap the exact window for a per-partition
    partial top-k (each partition keeps its k smallest, then one final
    k-of-k·P reduction) — the same lossless two-level reduction
    p06_ann_bruteforce uses for its per-batch top-k.

    Zero-size docs are excluded up front (n_chars > 0, both dialects):
    a PPS weight must be positive — priority = draw/size is undefined
    at 0 (and ANSI Spark raises DIVIDE_BY_ZERO where DuckDB yields inf;
    round-6 degenerate-corpus sweep).
    """
    return spark.sql(_p23(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p25 — deterministic stratified train/val/test split assignment
# ---------------------------------------------------------------------------


def _p25(spark_dialect: bool) -> str:
    # Per-doc draw in [0, 10000): a salted md5 hash INDEPENDENT of the
    # p12 sampling draw (different input string — "split:<id>" — so split
    # membership never correlates with sampling keeps) and of content
    # (id-keyed, so a fixed doc keeps its split across corpus re-crawls).
    # 9800/100/100 = train/val/test per source stratum.
    from sqlrs_spark.functions.hashing import h31_duck, h31_spark

    if spark_dialect:
        key = "concat('split:', cast(doc_id as string))"
        draw = f"pmod({h31_spark(key)}, 10000)"
    else:
        key = "'split:' || doc_id::VARCHAR"
        draw = f"(({h31_duck(key)}) % 10000)"
    return f"""
WITH assigned AS (
  SELECT source, n_chars,
         CASE WHEN {draw} < 9800 THEN 'train'
              WHEN {draw} < 9900 THEN 'val'
              ELSE 'test' END AS split
  FROM {table_ref('documents', spark_dialect)}
)
SELECT source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM assigned
GROUP BY source, split
ORDER BY source, split
"""


@register("p25_split_assign", oracle=_p25(False), tags=("pipeline", "sampling"))
def p25_split_assign(spark, sf_dir):
    """Deterministic train/val/test split assignment (98/1/1 per source)
    with the per-(source, split) audit summary every corpus release ships.

    The split is a pure function of the document id — a salted hash draw
    (`md5('split:'||id) mod 10000`), disjoint from the p12 sampling draw
    — so (a) reruns, retried tasks, and both engines assign identically,
    (b) a document can never migrate between train and test across
    pipeline versions (the leakage mode id-independent randomness
    invites), and (c) membership is decidable row-locally at 100 TB: the
    assignment is a codegen projection with NO shuffle; only the
    audit aggregate (source x split, tiny) exchanges.  Composes with
    p17's near-dup decontamination, which removes train docs that
    collide with held-out content this hash-split placed in val/test.
    """
    return spark.sql(_p25(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p30 — quality-ordered selection under a global token budget
# ---------------------------------------------------------------------------

# integer type-token-ratio quality in millis — exact in both engines
_P30_FEAT_SPARK = """
SELECT doc_id, lang,
       CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(1000 * size(array_distinct(split(text, ' '))) AS BIGINT)
         DIV CAST(size(split(text, ' ')) AS BIGINT) AS q_milli
FROM {documents} WHERE text IS NOT NULL
"""
_P30_FEAT_DUCK = """
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(1000 * len(list_distinct(string_split(text, ' '))) AS BIGINT)
         // CAST(len(string_split(text, ' ')) AS BIGINT) AS q_milli
FROM documents WHERE text IS NOT NULL
"""

#: kept share of the corpus: budget = total tokens // _P30_DIV
_P30_DIV = 10


@register(
    "p30_quality_budget_select",
    # the oracle states the SPEC: one global window over (quality desc,
    # doc_id) keeping every doc whose exclusive running total is under
    # the budget — the textbook formulation the Spark plan must equal
    oracle=f"""
    WITH feat AS ({_P30_FEAT_DUCK}),
    ranked AS (
      SELECT *, SUM(n_tokens) OVER (ORDER BY q_milli DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
      FROM feat
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM ranked
    WHERE cum - n_tokens < (SELECT SUM(n_tokens) // {_P30_DIV} FROM feat)
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("pipeline", "sampling", "quality"),
)
def p30_quality_budget_select(spark, sf_dir):
    """Data selection under a token budget: keep the highest-quality
    documents (integer type-token-ratio score) until the budget — 1/10 of
    the corpus's tokens — is exhausted, ties at the boundary quality
    value resolved by doc_id.  This is the curation move behind
    quality-pruned pretraining mixes ("train on the best X% by score"),
    and the naive formulation is a GLOBAL SORT of the corpus.

    Spark-first plan avoids that sort entirely (the oracle spells the
    global-window spec; this plan computes the identical set):
    1. one partial-aggregating pass collapses the corpus to per-quality
       token totals — q_milli has at most 1001 values, so this frame is
       constant-size at ANY corpus scale;
    2. the quality cutoff q* and the boundary group's remaining budget r
       come from that tiny frame (driver-side running total — bounded,
       like the accepted single-row agg reads);
    3. every doc with q_milli > q* is kept with NO ordering requirement
       (a codegen filter), and only the ONE boundary quality group runs
       a doc_id-ordered window to spend the remaining r tokens.
    At 100 TB: one scan + one 1001-row aggregate + one filter + a window
    over a single quality stratum — vs the spec's full-corpus sort.
    """
    feat = spark.sql(_P30_FEAT_SPARK, documents=load_table(spark, sf_dir, "documents"))

    # tiny frame: per-quality totals, descending — at most 1001 rows
    qt = sorted(
        (
            (r["q_milli"], r["tk"])
            for r in feat.groupBy("q_milli")
            .agg(F.sum("n_tokens").alias("tk"))
            .collect()
        ),
        reverse=True,
    )
    total = sum(tk for _, tk in qt)
    budget = total // _P30_DIV

    cum = 0
    q_star, remaining = None, 0
    for q, tk in qt:
        if cum + tk >= budget:
            q_star, remaining = q, budget - cum
            break
        cum += tk
    if q_star is None:
        selected = feat  # budget >= total: everything is kept
    else:
        full = feat.filter(F.col("q_milli") > q_star)
        from pyspark.sql import Window as W

        boundary_w = (
            W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        boundary = (
            feat.filter(F.col("q_milli") == q_star)
            .withColumn("cum", F.sum("n_tokens").over(boundary_w))
            .filter(F.col("cum") - F.col("n_tokens") < remaining)
            .drop("cum")
        )
        selected = full.unionByName(boundary)
    return (
        selected.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# p36 — curriculum interleave ordering (global training schedule, no sort)
# ---------------------------------------------------------------------------


def _p36(spark_dialect: bool) -> str:
    """Dual-dialect builder for the curriculum training-order schedule.

    Orders the corpus quality-first WITHIN each source, then interleaves
    sources round-robin into one global position key — the schedule a
    curriculum-training run reads batches in: early positions are every
    source's best documents, and no source ever clumps (the failure mode
    of the naive `ORDER BY quality` global sort, which front-loads
    whichever source happens to score high and starves the rest).

    Scale shape: per-source quality rank is one window on the source
    key; the source index is a |sources|-row broadcast; the global
    position is ARITHMETIC — ``(rank-1) * n_sources + source_idx`` is
    unique by construction — so no global sort, no single-partition
    bottleneck, and a trainer can range-read any position slice.
    Quality is integer-ppm type-token ratio (exact in both engines).
    """
    if spark_dialect:
        ndist = "size(array_distinct(split(text, ' ')))"
        ntok = "size(split(text, ' '))"
        idiv = "DIV"
    else:
        ndist = "len(list_distinct(string_split(text, ' ')))"
        ntok = "len(string_split(text, ' '))"
        idiv = "//"
    return f"""
WITH q AS (
  SELECT doc_id, source,
         CAST((1000000 * {ndist}) {idiv} {ntok} AS BIGINT) AS quality_ppm
  FROM {table_ref('documents', spark_dialect)} WHERE text IS NOT NULL
),
ranked AS (
  SELECT doc_id, source, quality_ppm,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY quality_ppm DESC, doc_id) AS rk
  FROM q
),
srcidx AS (
  SELECT source,
         ROW_NUMBER() OVER (ORDER BY source) - 1 AS sidx,
         COUNT(*) OVER () AS n_src
  FROM (SELECT DISTINCT source FROM q) s
)
SELECT r.doc_id, r.source,
       CAST(r.rk AS BIGINT) AS rank_in_source,
       CAST((r.rk - 1) * s.n_src + s.sidx AS BIGINT) AS global_pos,
       r.quality_ppm
FROM ranked r JOIN srcidx s ON r.source = s.source
ORDER BY global_pos
"""


@register("p36_curriculum_order", oracle=_p36(False), tags=("pipeline", "sampling"))
def p36_curriculum_order(spark, sf_dir):
    """Curriculum training-order schedule: quality-ranked within source,
    round-robin interleaved across sources via arithmetic on the
    per-source rank — a deterministic global ordering with no global
    sort (see _p36)."""
    return spark.sql(_p36(True), documents=load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p37 — per-source token caps (domain balancing under a shared ceiling)
# ---------------------------------------------------------------------------

_P37_FEAT_SPARK = """
SELECT doc_id, source,
       CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(1000 * size(array_distinct(split(text, ' '))) AS BIGINT)
         DIV CAST(size(split(text, ' ')) AS BIGINT) AS q_milli
FROM {documents} WHERE text IS NOT NULL
"""
_P37_FEAT_DUCK = """
SELECT doc_id, source,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(1000 * len(list_distinct(string_split(text, ' '))) AS BIGINT)
         // CAST(len(string_split(text, ' ')) AS BIGINT) AS q_milli
FROM documents WHERE text IS NOT NULL
"""

#: per-source ceiling: no source may contribute more than total // _P37_DIV
#: tokens to the selected mix.  The driver corpus has 20 sources with
#: shares between ~4.1% and ~5.7%, so the /22 cap (~4.55%) genuinely
#: truncates the larger half and keeps the smaller sources whole — both
#: code paths execute at every SF (the bench replicas token-salt but
#: preserve per-source proportions); test_sampling_quality asserts the
#: split is non-vacuous
_P37_DIV = 22


@register(
    "p37_domain_cap_select",
    # the oracle states the SPEC: quality-first running total PER SOURCE,
    # keep while the exclusive cumulative stays under the shared cap —
    # the textbook per-domain formulation (one sorted window per source)
    oracle=f"""
    WITH feat AS ({_P37_FEAT_DUCK}),
    ranked AS (
      SELECT *, SUM(n_tokens) OVER (PARTITION BY source
                                    ORDER BY q_milli DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
      FROM feat
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM ranked
    WHERE cum - n_tokens < (SELECT SUM(n_tokens) // {_P37_DIV} FROM feat)
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline", "sampling", "quality"),
)
def p37_domain_cap_select(spark, sf_dir):
    """Domain balancing: cap every source at a shared token ceiling
    (1/22 of the corpus), filling each source's allowance quality-first
    (integer type-token ratio, ties by doc_id).  This is the "no domain
    dominates the mix" curation move (C4/RefinedWeb-style source caps);
    the naive formulation is one full sort PER SOURCE — and real corpora
    are source-skewed, so the biggest domain's sort is the straggler.

    Spark-first plan generalizes p30's stratification to GROUPED budgets:
    1. one pass collapses the corpus to per-(source, quality) token
       totals — at most |sources| x 1001 rows at any scale;
    2. each source's quality cutoff q*_s and boundary remainder r_s come
       from that tiny frame (bounded driver read, like p30's);
    3. docs above their source's cutoff pass a broadcast-joined FILTER
       (no ordering anywhere), and only each source's single boundary
       stratum runs a doc_id-ordered window.
    Skew-proof by construction: the per-source window the spec implies
    never touches the full fact, so a 90%-of-corpus domain costs a scan,
    not a single-task sort.  Oracle spells the per-source global-window
    spec; identical kept set.
    """
    feat = spark.sql(_P37_FEAT_SPARK, documents=load_table(spark, sf_dir, "documents"))

    # tiny frame: per-(source, quality) totals
    rows = (
        feat.groupBy("source", "q_milli")
        .agg(F.sum("n_tokens").alias("tk"))
        .collect()
    )
    per_src: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append((r["q_milli"], r["tk"]))
    total = sum(tk for qt in per_src.values() for _, tk in qt)
    cap = total // _P37_DIV

    # per-source cutoffs: q*_s = boundary quality, r_s = tokens left there
    cutoffs = []  # (source, q_star, remaining); q_star None => keep all
    for src, qt in per_src.items():
        qt.sort(reverse=True)
        cum = 0
        q_star, remaining = None, 0
        for q, tk in qt:
            if cum + tk >= cap:
                q_star, remaining = q, cap - cum
                break
            cum += tk
        cutoffs.append((src, q_star, remaining))

    cut_df = F.broadcast(
        spark.createDataFrame(
            cutoffs, "source string, q_star bigint, remaining bigint"
        )
    )
    joined = feat.join(cut_df, "source")
    full = joined.filter(
        F.col("q_star").isNull() | (F.col("q_milli") > F.col("q_star"))
    )

    from pyspark.sql import Window as W

    boundary_w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    boundary = (
        joined.filter(F.col("q_milli") == F.col("q_star"))
        .withColumn("cum", F.sum("n_tokens").over(boundary_w))
        .filter(F.col("cum") - F.col("n_tokens") < F.col("remaining"))
        .drop("cum")
    )
    return (
        full.unionByName(boundary)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# p39 — importance resampling to a prescribed target mix (flatten languages)
# ---------------------------------------------------------------------------


def _p39(spark_dialect: bool) -> str:
    """Dual-dialect resampler to a TARGET source distribution.

    Target here: the UNIFORM language mix (every language an equal
    share — the "don't let English drown the tail" rebalancing move;
    any prescribed weight vector drops into the same formula).  The
    driver corpus is genuinely skewed (en is ~44%, fr ~13%), so the
    filter has real bite.  With actual per-language doc counts n_l, the
    acceptance probability that converts the actual mix into the target
    in expectation while keeping the most data is

        p_l = (target_l / actual_l) / max_t(target_t / actual_t)
            = min(n) / n_l            (uniform target)

    i.e. every language is thinned toward the rarest language's count.
    The draw is the registry's deterministic md5 pattern with a
    p39-specific salt (integer ppm precision, exact in both engines);
    the per-language thresholds come from a |langs|-row count aggregate,
    so the plan is: tiny agg -> broadcast join -> scan-local filter ->
    per-language audit aggregate.  No window, no sort, nothing driver-side
    — rebalancing a 100 TB corpus costs one scan plus a 20-row join.
    """
    salted_spark = "'p39:' || cast(doc_id as string)"
    salted_duck = "'p39:' || doc_id::VARCHAR"
    if spark_dialect:
        draw = f"pmod({h31_spark(salted_spark)}, 1000000)"
        idiv = "DIV"
    else:
        draw = f"(({h31_duck(salted_duck)}) % 1000000)"
        idiv = "//"
    return f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_l FROM {table_ref('documents', spark_dialect)} GROUP BY lang
),
thresholds AS (
  SELECT lang, n_l,
         CAST((1000000 * (SELECT MIN(n_l) FROM counts)) {idiv} n_l AS BIGINT)
           AS keep_ppm
  FROM counts
),
kept AS (
  SELECT d.doc_id, d.lang, t.keep_ppm, t.n_l
  FROM {table_ref('documents', spark_dialect)} d JOIN thresholds t ON d.lang = t.lang
  WHERE {draw} < t.keep_ppm
)
SELECT lang,
       CAST(MAX(n_l) AS BIGINT) AS n_before,
       COUNT(*) AS n_kept,
       CAST(MAX(keep_ppm) AS BIGINT) AS keep_ppm,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM kept
GROUP BY lang
ORDER BY lang
"""


@register("p39_target_mix_resample", oracle=_p39(False), tags=("pipeline", "sampling"))
def p39_target_mix_resample(spark, sf_dir):
    """Importance resampling to a prescribed target mix — uniform across
    languages, acceptance min(n)/n_l per doc via a salted deterministic
    md5 draw (see _p39).  Completes the mixing family: p22 reweights by
    temperature, p37 caps by budget, p39 matches an exact target
    distribution in expectation."""
    return spark.sql(_p39(True), documents=load_table(spark, sf_dir, "documents"))
