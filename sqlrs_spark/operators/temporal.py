"""Temporal / interval operators Spark has no primitive for — the custom
operator family (as-of join, range join, exact quantiles) built as
compositions of DataFrame ops.

The reference has none of these (its join types are Inner/Left/Right/Full/
Cross only, src/binder/table/join.rs:18-24, and its aggregate set is
count/sum/min/max, src/executor/aggregate/ — SURVEY §2.3/§2.4); they are
beyond-reference extensions in the spirit of the training-data-pipeline
layer: event attribution, banding, distribution stats.

Scale design:
- as-of join: the naive formulation (pair join on key + time predicate +
  argmax) is O(matching pairs) and explodes on hot keys.  The tagged-window
  formulation used here is O(n log n) within each key partition: ONE scan
  projects both roles via CASE, one shuffle keyed by user, a per-key sort,
  and a running `last(..., ignorenulls)` — no pair materialization, skew
  bounded by the hottest single user.
- range join: the band table is tiny and static → broadcast nested-loop
  with the range predicate is the right plan at any fact size (each row
  probes B bands; no shuffle).  For *large* range tables the scale path is
  binning both sides to overlap keys and equi-joining on the bin.
- exact quantiles: Spark's `percentile` is an exact sort-based aggregate
  with a partial phase; at 100 TB you'd switch to `approx_percentile`
  (t-digest) — kept exact here because the driver hash-compares values.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlrs_spark.functions.hashing import h31_duck, md5int_duck
from sqlrs_spark.operators.common import VAL_NAN_NULL, epoch_us, packed_minmax, unpack_id
from sqlrs_spark.registry import register
from sqlrs_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x12 — as-of join (event attribution: click → most recent prior view)
# ---------------------------------------------------------------------------

_X12_ORACLE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'view'
)
SELECT c.event_id, c.user_id,
       epoch_us(c.ts) AS click_us,
       epoch_us(v.ts) AS view_us,
       v.value        AS view_value
FROM clicks c
ASOF LEFT JOIN views v ON c.user_id = v.user_id AND v.ts <= c.ts
ORDER BY c.event_id
"""


@register("x12_asof_join", oracle=_X12_ORACLE, tags=("extension", "temporal"), bench=True)
def x12_asof_join(spark, sf_dir, ev_src=None):
    """As-of join: for every click, the most recent view (ts <= click ts)
    by the same user — the DuckDB `ASOF JOIN` arbitrates correctness.

    Implementation is the tagged-window formulation (see module docstring):
    one scan tags views 0 / clicks 1 via CASE projections, sort within user by (ts, tag) so an
    equal-timestamp view sorts before the click (<= semantics), and carry
    the last non-null view value/ts forward.  (user_id, ts) pairs are
    unique in the event stream at microsecond precision, so the as-of
    choice is deterministic.  Timestamps exit as epoch micros (BIGINT) to
    stay timezone-proof.

    The optional events source is for the bucketed bench variant: reading
    events through a user_id-bucketed table
    (sources/bucketing.ensure_bucketed) lets the scan satisfy the window's
    hashpartitioning(user_id) requirement, removing the as-of join's one
    exchange.
    """
    ev = ev_src if ev_src is not None else load_table(spark, sf_dir, "events")
    # ONE scan, not a union of two: the tag/branch columns are CASE
    # projections over a single pass, so events is read once (the union
    # formulation scanned it twice) and the scan's partitioning survives
    # into the window — through a user_id-bucketed source the exchange
    # disappears entirely (Union discards children's partitioning, so the
    # two-scan form re-shuffled even bucketed input).
    is_click = F.col("event_type") == "click"
    tagged = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.when(is_click, F.col("event_id")).alias("event_id"),
        "user_id",
        "ts",
        is_click.cast("int").alias("tag"),
        F.when(~is_click, F.col("value")).alias("view_value"),
        F.when(~is_click, F.col("ts")).alias("view_ts"),
    )
    win = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged
        .withColumn("asof_value", F.last("view_value", ignorenulls=True).over(win))
        .withColumn("asof_ts", F.last("view_ts", ignorenulls=True).over(win))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            epoch_us("ts").alias("click_us"),
            epoch_us("asof_ts").alias("view_us"),
            F.col("asof_value").alias("view_value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# x13 — range (interval) join against a band dimension
# ---------------------------------------------------------------------------

_BANDS = [("low", 0.0, 5.0), ("mid", 5.0, 15.0), ("high", 15.0, 40.0), ("xl", 40.0, 1e12)]

_X13_ORACLE = f"""
SELECT event_type, band,
       COUNT(*) AS n_events,
       CAST(SUM(value::DECIMAL(18,2)) AS DOUBLE) AS total_value
FROM events
JOIN (VALUES {", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)})
     bands(band, lo, hi)
  ON value >= lo AND value < hi
GROUP BY event_type, band
ORDER BY event_type, band
"""


@register("x13_range_join", oracle=_X13_ORACLE, tags=("extension", "temporal"))
def x13_range_join(spark, sf_dir):
    """Range join: bucket event values into a band dimension via a
    non-equi interval predicate, then aggregate per (type, band).

    Spark picks BroadcastNestedLoopJoin for the 4-row band side — the
    correct plan (module docstring).  Money-style sums go through
    DECIMAL(18,2) so the hash matches the oracle at any partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("event_type", "band")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type", "band")
    )


# ---------------------------------------------------------------------------
# x14 — exact quantiles (distribution stats per group)
# ---------------------------------------------------------------------------

# Contract emits the three quartiles as SCALAR columns, not one array
# column: the driver's pandas canonicalization cannot hash list cells
# (the round-2 m03 lesson, applied here before x14's first driver row).
_X14_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS qty_q25,
       quantile_cont(l_quantity, 0.50) AS qty_median,
       quantile_cont(l_quantity, 0.75) AS qty_q75,
       MIN(l_quantity) AS qty_min,
       MAX(l_quantity) AS qty_max,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("x14_quantiles", oracle=_X14_ORACLE, tags=("extension", "agg"))
def x14_quantiles(spark, sf_dir):
    """Exact grouped quartiles of l_quantity (integral doubles, so the
    linear interpolation at quarter fractions is exact in both engines).
    Spark `percentile` ≡ DuckDB `quantile_cont` (both lower+(upper-lower)*f).
    One sort-based aggregate pass serves all three fractions.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
    return (
        li.groupBy("l_returnflag")
        .agg(
            q[0].alias("qty_q25"),
            q[1].alias("qty_median"),
            q[2].alias("qty_q75"),
            F.min("l_quantity").alias("qty_min"),
            F.max("l_quantity").alias("qty_max"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# p27 — CDC changelog apply (merge/upsert final-state materialization)
# ---------------------------------------------------------------------------

_P27_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_changes
  FROM events
)
SELECT user_id,
       event_id AS last_event_id,
       CAST(FLOOR((CASE WHEN isnan(value) THEN NULL ELSE value END) * 100 + 0.5)
            AS BIGINT) AS last_value_cents,
       CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
       n_changes
FROM ranked
WHERE rn = 1 AND event_type <> 'view'
ORDER BY user_id
"""


@register("p27_cdc_upsert", oracle=_P27_ORACLE, tags=("pipeline", "temporal", "cdc"))
def p27_cdc_upsert(spark, sf_dir):
    """CDC changelog apply: materialize the FINAL table state from an
    ordered change stream — the batch half of a Delta/Hudi-style MERGE,
    and the standard shape for keeping a training-corpus snapshot in sync
    with an upstream operational store.  The events table is read as a
    changelog keyed by user_id, ordered by (ts, event_id); the last
    change wins, and a terminal 'view' event acts as the DELETE marker
    (the key is absent from the final state).

    Spark-first plan (beyond-reference; the reference has no update
    concept — storage is append-only ColumnCatalog, SURVEY §4): the
    winner per key is a packed-decimal argmax AGGREGATE
    (common.packed_minmax — epoch-microseconds as the orderand, event_id
    as tie-break), NOT a ROW_NUMBER window: it partial-aggregates
    map-side, so 100 TB of changelog combines into one |keys|-row shuffle
    instead of a full per-partition sort (the q34/p10 lesson).  The
    winning rows' payloads are then retrieved with ONE equi-join on
    event_id — two narrow shuffles total, both on high-cardinality keys.
    The oracle states the same semantics as the textbook ROW_NUMBER()=1
    formulation.
    """
    ev = load_table(spark, sf_dir, "events")
    # NULL ts must still lose to every timestamped change (the oracle's
    # DESC NULLS LAST) but must NOT null the packed orderand: a key whose
    # changes ALL have NULL ts would aggregate to max(NULL)=NULL and the
    # key would vanish from the final state, while the oracle still picks
    # its max-event_id row (r8 degenerate-events finding).  Epoch 0 is a
    # safe below-all sentinel: the changelog's timestamps are data-epoch
    # microseconds (~1.7e15), and packed_minmax requires nonnegative
    # orderands so INT64_MIN is not available.
    packed = packed_minmax(F.coalesce(epoch_us("ts"), F.lit(0)), F.col("event_id"))
    winners = (
        ev.groupBy("user_id")
        .agg(F.max(packed).alias("w"), F.count("*").alias("n_changes"))
        .select(
            "user_id",
            unpack_id(F.col("w")).alias("event_id"),
            "n_changes",
        )
    )
    payload = ev.select("event_id", "event_type", "value", "ts")
    return (
        winners.join(payload, "event_id")
        .filter(F.col("event_type") != "view")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            # NaN value -> NULL cents in both dialects (a NaN winner is
            # reachable: r8 degenerate-events user 12)
            F.floor(F.expr(VAL_NAN_NULL) * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("last_value_cents"),
            epoch_us("ts").alias("last_ts_us"),
            "n_changes",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# p29 — corpus snapshot diff (dataset-versioning changelog derivation)
# ---------------------------------------------------------------------------

# Snapshot B is derived from the documents table by fixed modular rules so
# both engines construct the identical second corpus: doc_id % 97 == 0
# rows are DELETED, doc_id % 89 == 0 survivors get revised text, and every
# doc_id % 101 == 0 row spawns an ADDED doc at doc_id + 100_000_000 (clear
# of every tested id range, including the key-shifted replicas' 1e9 blocks).
_P29_ORACLE = f"""
WITH a AS (
  SELECT doc_id, lang, {md5int_duck("text")} AS digest FROM documents
),
b AS (
  SELECT doc_id, lang,
         {md5int_duck("CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]' ELSE text END")}
           AS digest
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 100000000, lang, {md5int_duck("text || ' [new]'")}
  FROM documents WHERE doc_id % 101 = 0
)
SELECT CASE WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.doc_id IS NULL THEN 'added'
            WHEN a.digest <> b.digest THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       COALESCE(a.lang, b.lang) AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(COALESCE(a.doc_id, b.doc_id)) AS BIGINT) AS id_checksum
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("p29_snapshot_diff", oracle=_P29_ORACLE, tags=("pipeline", "temporal", "cdc"))
def p29_snapshot_diff(spark, sf_dir):
    """Corpus snapshot diff: derive the added/removed/changed/unchanged
    changelog between two versions of a document corpus — the dataset-
    versioning primitive behind incremental re-training (only 'added' and
    'changed' docs re-enter the tokenize/dedup pipeline) and corpus audit
    reports.  The inverse of p27/s11, which APPLY a changelog: this one
    RECOVERS the changelog from two materialized states.

    Spark-first plan: content digests (the shared md5→60-bit-int
    primitive, functions/hashing.py) are computed map-side in each scan,
    so the single wide operation is one full-outer equi-join on doc_id —
    two narrow (id, lang, digest) relations co-partitioned on the key,
    never the text payloads.  At 100 TB both snapshots shuffle ids+
    digests only (~24 bytes/row); classification and the per-(type, lang)
    aggregate are codegen'd CASE + partial agg.  Snapshot B is derived
    from the same table by fixed modular rules (see _P29_ORACLE comment)
    so the driver can hash-verify real added/removed/changed/unchanged
    populations without a second stored corpus.
    """
    from sqlrs_spark.functions.hashing import md5int_spark

    docs = load_table(spark, sf_dir, "documents")
    a = docs.selectExpr(
        "doc_id", "lang", f"{md5int_spark('text')} AS digest"
    ).alias("a")
    b_kept = docs.filter(F.col("doc_id") % 97 != 0).selectExpr(
        "doc_id",
        "lang",
        md5int_spark(
            "CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]' ELSE text END"
        )
        + " AS digest",
    )
    new_digest = md5int_spark("text || ' [new]'")
    b_added = docs.filter(F.col("doc_id") % 101 == 0).selectExpr(
        "doc_id + 100000000 AS doc_id",
        "lang",
        f"{new_digest} AS digest",
    )
    b = b_kept.unionByName(b_added).alias("b")
    joined = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    change = (
        F.when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("a.digest") != F.col("b.digest"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(
            change.alias("change_type"),
            F.coalesce(F.col("a.lang"), F.col("b.lang")).alias("lang"),
            F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("did"),
        )
        .groupBy("change_type", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("did").cast("bigint").alias("id_checksum"),
        )
        .orderBy("change_type", "lang")
    )


# ---------------------------------------------------------------------------
# x32 — SCD Type-2 dimension build (full version history from a changelog)
# ---------------------------------------------------------------------------

_X32_ORACLE = """
SELECT user_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       event_id,
       event_type AS attr,
       CAST(FLOOR((CASE WHEN isnan(value) THEN NULL ELSE value END) * 100 + 0.5) AS BIGINT) AS value_cents,
       CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
       CAST(epoch_us(LEAD(ts) OVER w) AS BIGINT) AS valid_to_us,
       LEAD(ts) OVER w IS NULL AS is_current
FROM events
WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


@register("x32_scd2_history", oracle=_X32_ORACLE, tags=("extension", "temporal", "cdc"))
def x32_scd2_history(spark, sf_dir):
    """SCD Type-2 dimension build: the FULL version history p27's
    final-state MERGE discards.  Each change event opens a version row
    with ``valid_from = ts`` and ``valid_to = next change's ts`` (NULL on
    the open/current version) — the standard warehouse shape for
    point-in-time joins ("what was this user's state when the order
    shipped?").  Beyond-reference: the reference engine is append-only
    with no update concept (SURVEY §4); this completes the CDC family
    (p27 latest-state, p29 snapshot diff, s11 streaming apply, x32 full
    history).

    Spark-first plan: ONE window per key — ``lead(ts)`` closes each
    version and ``row_number`` numbers it in the same (user_id; ts,
    event_id) sort, so Catalyst fuses both into a single Window operator
    over a single hash-partition exchange.  No self-join against "the
    next change" (the naive formulation shuffles the changelog twice and
    explodes on hot keys); at 100 TB the cost is one changelog shuffle,
    skew bounded by the hottest single key, same as x12/x10.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    nxt = F.lead("ts").over(w)
    return (
        ev.select(
            "user_id",
            F.row_number().over(w).cast("bigint").alias("version"),
            "event_id",
            F.col("event_type").alias("attr"),
            F.floor(F.expr(VAL_NAN_NULL) * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("value_cents"),
            epoch_us("ts").alias("valid_from_us"),
            epoch_us(nxt).alias("valid_to_us"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


# ---------------------------------------------------------------------------
# x33 — interval-union length (sweep-line coverage per key)
# ---------------------------------------------------------------------------

#: each event opens a 30-minute activity interval; overlaps within a user
#: must be merged BEFORE summing — the union-of-intervals measure that a
#: plain SUM(duration) double-counts
_X33_SPAN_US = 30 * 60 * 1_000_000

_X33_ORACLE = f"""
WITH iv AS (
  SELECT user_id,
         CAST(epoch_us(ts) AS BIGINT) AS s,
         CAST(epoch_us(ts) AS BIGINT) + {_X33_SPAN_US} AS e
  FROM events WHERE ts IS NOT NULL
),
sweep AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(CASE WHEN prev_max_e IS NULL OR prev_max_e < s THEN 1 ELSE 0 END)
            AS BIGINT) AS n_blocks,
       CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(prev_max_e, s)), 0))
            AS BIGINT) AS covered_us
FROM sweep
GROUP BY user_id
ORDER BY user_id
"""


@register("x33_interval_union", oracle=_X33_ORACLE, tags=("extension", "temporal"))
def x33_interval_union(spark, sf_dir):
    """Interval-union coverage: per user, the total time covered by the
    union of that user's activity intervals (event ts + 30 min), with
    overlapping intervals merged — "how long was the user actually
    active", the measure a plain SUM(duration) double-counts.  Also
    emits the merged-block count (distinct activity bursts).

    Spark-first plan: the classic sweep-line as ONE window pass — sort
    intervals per key, carry the running MAX of all PREVIOUS interval
    ends (frame: unbounded preceding .. 1 preceding), and each row
    contributes ``max(0, e - max(s, prev_max_e))`` new covered time; a
    row whose start clears the running max opens a new merged block.
    No interval self-join (the naive overlap-merge is O(pairs) and
    explodes on dense keys); one shuffle on user_id, integer-exact
    microsecond arithmetic, then a hash agg on the same key — Catalyst
    plans the window and the agg on one exchange.  Beyond-reference:
    completes the interval family (x13/x31 join intervals, x33
    measures their union).
    """
    iv = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        epoch_us("ts").alias("s"),
        (epoch_us("ts") + F.lit(_X33_SPAN_US)).alias("e"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    sweep = iv.withColumn("prev_max_e", F.max("e").over(w))
    new_block = F.when(
        F.col("prev_max_e").isNull() | (F.col("prev_max_e") < F.col("s")), 1
    ).otherwise(0)
    gain = F.greatest(
        F.col("e") - F.greatest(F.col("s"), F.coalesce("prev_max_e", "s")),
        F.lit(0),
    )
    return (
        sweep.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            F.sum(new_block).cast("bigint").alias("n_blocks"),
            F.sum(gain).cast("bigint").alias("covered_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# p34 — incremental aggregate maintenance (materialized-view merge)
# ---------------------------------------------------------------------------

_P34_ORACLE = f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(SUM({{h31}}) AS BIGINT) AS text_digest,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM documents
GROUP BY source
ORDER BY source
"""


@register(
    "p34_incremental_agg",
    oracle=_P34_ORACLE.format(h31=h31_duck("text")),
    tags=("pipeline", "temporal", "maintenance"),
)
def p34_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance: the per-source corpus dashboard
    (doc/token counts, content digest, id high-water mark) kept up to
    date by MERGING a stored aggregate state with the aggregate of a new
    delta batch — never rescanning the full corpus.  The oracle is the
    FULL recompute over all documents, so the driver hash proves
    merge(state(old), agg(delta)) == agg(old ∪ delta) — the algebraic
    property every warehouse MV maintenance engine rests on (all four
    statistics are commutative monoids: counts/sums add, max takes max).

    Spark-first shape: the base state (doc_id % 10 != 0 here) is
    aggregated ONCE and written to parquet — standing in for the stored
    MV a production pipeline reads back; the per-ingest cost is then
    agg(delta) + a |sources|-row merge join, so a daily batch against a
    100 TB corpus costs one delta scan, not a corpus scan.  The merge is
    a full-outer join on the group key (new sources appear, quiet
    sources persist), coalesced monoid-wise.  Beyond-reference
    (SURVEY §4: the reference recomputes every query from base tables);
    completes the maintenance family (p27/s11 maintain row state, p34
    maintains aggregate state).
    """
    import os as _os
    import tempfile as _tempfile

    from sqlrs_spark.functions.hashing import h31_spark
    from sqlrs_spark.operators.common import materialize_then_rm

    docs = load_table(spark, sf_dir, "documents")

    def agg_state(df):
        return df.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
            F.sum(F.expr(h31_spark("text"))).cast("bigint").alias("text_digest"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )

    root = _tempfile.mkdtemp(prefix="sqlrs_mv_")
    state_path = _os.path.join(root, "state")
    agg_state(docs.filter(F.col("doc_id") % 10 != 0)).write.parquet(state_path)

    base = spark.read.parquet(state_path).alias("b")
    delta = agg_state(docs.filter(F.col("doc_id") % 10 == 0)).alias("d")
    zero = F.lit(0).cast("bigint")
    merged = base.join(delta, "source", "full_outer").select(
        "source",
        (F.coalesce("b.n_docs", zero) + F.coalesce("d.n_docs", zero)).alias("n_docs"),
        (F.coalesce("b.n_tokens", zero) + F.coalesce("d.n_tokens", zero)).alias(
            "n_tokens"
        ),
        (F.coalesce("b.text_digest", zero) + F.coalesce("d.text_digest", zero)).alias(
            "text_digest"
        ),
        F.greatest(
            F.coalesce("b.max_doc_id", F.lit(-(2**62))),
            F.coalesce("d.max_doc_id", F.lit(-(2**62))),
        ).alias("max_doc_id"),
    )
    return materialize_then_rm(merged.orderBy("source"), root)
