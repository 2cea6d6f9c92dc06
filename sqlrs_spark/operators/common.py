"""Shared helpers for operator implementations."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def table_ref(name: str, spark_dialect: bool) -> str:
    """Table ``name`` in a dual-dialect SQL text: in Spark's copy, the
    placeholder for the frame ``spark.sql(text, name=frame)`` binds; in
    the DuckDB oracle's, the table itself."""
    return "{%s}" % name if spark_dialect else name


# Degenerate-embedding policy, shared by every embeddings-reading operator
# (tests/test_degenerate_tables.py): vectors that cannot participate in
# cosine geometry — NULL arrays, zero vectors (norm 0 divides by zero
# under ANSI), and vectors carrying NaN — are dropped at the scan, with
# the IDENTICAL predicate in both engines so Spark and the DuckDB oracle
# agree on which rows exist.  At 100 TB this is the ingest-time validity
# filter any embedding store applies; it pushes down to the parquet scan
# as a deterministic row filter.
EMB_VALID_SPARK = (
    "embedding IS NOT NULL"
    " AND NOT exists(embedding, x -> isnan(x))"
    " AND exists(embedding, x -> x <> 0)"
)
EMB_VALID_DUCK = (
    "embedding IS NOT NULL"
    " AND len(list_filter(embedding, x -> isnan(x))) = 0"
    " AND len(list_filter(embedding, x -> x <> 0)) > 0"
)


def emb_scan(spark_dialect: bool) -> str:
    """``embeddings WHERE <validity policy>``, a FROM clause's body in
    either dialect (:func:`table_ref`)."""
    valid = EMB_VALID_SPARK if spark_dialect else EMB_VALID_DUCK
    return f"{table_ref('embeddings', spark_dialect)} WHERE {valid}"


# Degenerate-measure policy for events.value (tests/
# test_degenerate_tables.py): a NaN measure poisons money arithmetic in
# both engines (FLOOR(NaN*100)::BIGINT raises in DuckDB and under Spark
# ANSI) and NaN max/sort semantics are engine-specific — so value-reading
# operators treat NaN as NULL (missing measurement).  The CASE text is
# valid verbatim in BOTH dialects; isnan(NULL) is false in Spark and NULL
# in DuckDB, and either way a NULL value maps to NULL.
VAL_NAN_NULL = "CASE WHEN isnan(value) THEN NULL ELSE value END"


def materialize_then_rm(df: DataFrame, *paths: str) -> DataFrame:
    """Collect a small bounded result into an in-memory DataFrame, then
    delete the scratch dirs backing its lineage.

    Sink round-trip operators (v09-v12, s08) write full table copies to
    mkdtemp scratch; returning a LAZY plan over those files means the
    dirs can never be cleaned (the caller re-executes the plan), so every
    bench warm+timed invocation leaked a full copy — multiple GB of /tmp
    per run at the 1000x replica.  Their *results* are tiny bounded
    aggregates, so materializing them (the same rows the caller would
    collect) lets the scratch be removed eagerly.

    The rows come back as an Arrow table, which plans as a
    ``LocalTableScan`` (``session.local_frame``): collecting the result
    runs no Spark job, where a row list would build a PythonRDD whose
    every collect runs one on Python workers.
    """
    import shutil

    try:
        out = df.sparkSession.createDataFrame(df.toArrow(), df.schema)
    finally:
        # failure paths (task OOM, interrupt, bad data) must not leak the
        # scratch this helper exists to remove
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)
    return out


def presentation_sort(df: DataFrame, *cols) -> DataFrame:
    """``df.orderBy(*cols)`` for a small result, as one sorted partition.

    A range exchange samples its input for the RangePartitioner first, so
    the plan below it runs twice: a per-cell Python kernel (p38, p40)
    computes twice, and a drained streaming sink's few dozen rows cost
    3 jobs per collect.  One partition sorts them without a sample.
    """
    return df.repartition(1).sortWithinPartitions(*cols)


def dec2(c: str | Column) -> Column:
    """Money column → exact DECIMAL(18,2).

    The synthetic money columns are exact 2-decimal doubles; decimal
    aggregation is associative and overflow-free at any partitioning, so
    results are bit-identical regardless of Spark's partial-agg order (and
    identical to the DuckDB oracle's `x::DECIMAL(18,2)` path). At 100 TB
    this is also the correct type: double sums drift, decimals don't.
    """
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")


def as_double(c: Column) -> Column:
    return c.cast("double")


def epoch_us(c: str | Column) -> Column:
    """Timestamp → epoch microseconds (BIGINT), timezone-proof.

    The testdata parquet stores naive `timestamp[us]`, which Spark 4 reads
    as TIMESTAMP_NTZ while `unix_micros` requires TIMESTAMP_LTZ.  With the
    session pinned to UTC (session.py) the cast is value-preserving for
    NTZ and a no-op if a future regeneration ships tz-aware timestamps —
    either way matching DuckDB's `epoch_us` on the same file.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(col.cast("timestamp_ltz"))


def cents(c: str | Column) -> Column:
    """Money column (exact 2-decimal double) → exact BIGINT cents.

    FLOOR(x*100 + 0.5) is bit-identical across engines (double->int CAST
    is not: Spark truncates, DuckDB rounds half-even), and the double's
    representation error (~1e-9) is far below the 0.5 margin.  Long-typed
    money lets partial aggregates run as plain integer adds — measured 5x
    faster than DECIMAL(18,2) accumulation at the 1000x replica (q01) —
    and halves the shuffle width when revenue rides an exchange as one
    BIGINT instead of two decimals (q03/q05/q22/q28).  Same exactness and
    partitioning-invariance as dec2; the scale factor is explicit at the
    final divide.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col * 100 + F.lit(0.5)).cast("bigint")


def cents_sql(col: str) -> str:
    """DuckDB oracle twin of :func:`cents`."""
    return f"CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)"


def rev_cents() -> Column:
    """Revenue l_extendedprice*(1-l_discount) in exact 1e-4-dollar units:
    price_cents * (100 - discount_cents).  Per-row ≤ ~1e9, so a plain
    BIGINT group sum wraps around 9.2e18/1e9 ≈ 1e10 rows per group
    (~SF1500 if one group holds the whole table) — NOT enough headroom
    for the 100 TB target, and Spark's non-ANSI long SUM wraps silently
    while the DuckDB oracle promotes to HUGEINT.  Group sums therefore go
    through :func:`money_sum_aggs` (split-radix: two long partial sums,
    exact recombination in DECIMAL(38,0)), never a bare ``F.sum``."""
    return cents("l_extendedprice") * (100 - cents("l_discount"))


REV_CENTS_SQL = (
    "(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)))"
)

#: split-radix base for money sums: per-row money units divide into
#: hi = v div 1e6 and lo = v % 1e6 so BOTH partial sums stay long-typed
#: integer adds (the whole point of integer-cents aggregation) while the
#: exact total survives any scale: |lo| < 1e6 wraps past 9.2e12 rows per
#: group, |hi| ≤ ~2e3 (for 1e-4-dollar revenue/profit units) wraps past
#: 4.6e15 rows per group — both far beyond 100 TB (SF100k ≈ 6e11 rows).
#: Spark's `div`/`%` pair satisfies v = (v div b)*b + v % b for negative
#: values too (both truncate toward zero), so profit-style signed amounts
#: recombine exactly.
_MONEY_RADIX = 1_000_000


def money_sum_aggs(col: str) -> list[Column]:
    """Two overflow-safe partial aggregates for an integer-money column.

    Use inside ``.agg(*money_sum_aggs("rev_c"), ...)``; recombine with
    :func:`money_sum_total`.  The per-row div/mod runs inside the partial
    aggregate projection (codegen'd long ops, no extra row materialization)
    and the shuffle carries two longs per group per map partition.
    """
    return [
        F.sum(F.expr(f"{col} div {_MONEY_RADIX}")).alias(f"__{col}_hi"),
        F.sum(F.expr(f"{col} % {_MONEY_RADIX}")).alias(f"__{col}_lo"),
    ]


def money_sum_total(col: str, scale: float = 10000.0) -> Column:
    """Exact recombined money total as DOUBLE dollars.

    DECIMAL(38,0) recombination is exact at any SF; the one double cast at
    the end matches the oracle's ``CAST(SUM(...) AS BIGINT) / 10000.0``
    bit-for-bit while the total fits 2^53 (every tested SF), and at
    larger totals both engines round the same nearest-double way.
    """
    exact = (
        F.col(f"__{col}_hi").cast("decimal(38,0)") * _MONEY_RADIX
        + F.col(f"__{col}_lo")
    )
    return exact.cast("double") / scale


#: id-field width of the decimal argmin/argmax pack: ids (supp/doc/part
#: keys) stay below 1e15 far past the 100 TB point — the 1000x replica's
#: key-shift reaches ~1e12, and SF100k TPC-H keys ~6e11.
_PACK_BASE = 10**15


def packed_minmax(value: Column, id_col: Column) -> Column:
    """Lexicographic (value, id) orderand as ONE hash-aggregable DECIMAL.

    ``min(struct(value, id))`` is the natural argmin spelling, but a
    struct aggregation buffer is not UnsafeRow-mutable, so Spark demotes
    the ENTIRE aggregate to SortAggregate — a full per-partition sort of
    the fact-side input before any combining (measured on q34 at the
    1000x replica: the sort, not the shuffle, dominated its 27s).
    Packing both orderands into one DECIMAL(38,0) — ``value*1e15 + id``,
    both nonnegative, ``id < 1e15`` — restores HashAggregate: decimal is
    a fixed-width mutable buffer type at any precision, and because the
    id field occupies the low 15 decimal digits, decimal MIN/MAX order
    coincides exactly with the struct's lexicographic order (min value
    first, min id as tie-break; symmetrically for max).

    Bounds: |value| < 1e21 (money cents: max TPC-H extendedprice ~1e7
    cents — 14 orders of headroom) and 0 <= id < 1e15.  The VALUE may be
    negative (r8 star-schema sweep: negative prices): for v1 < v2,
    (v1-v2)*base <= -base < id2-id1 for any in-range ids, so decimal
    order still equals (value, id) lexicographic order at any signs —
    the unpackers use floor-mod to recover the fields (see unpack_id).
    The cast width is the binding bound: DECIMAL(21,0) * DECIMAL(16,0)
    -> DECIMAL(38,0) is the widest product that avoids Spark's
    precision-loss rewrite, so the arithmetic is exact in range; out of
    range, ANSI mode fails loudly, non-ANSI nulls the row out of the
    MIN/MAX (degraded, not mis-ordered — a NULL never wins an argmin).
    """
    v = value.cast("decimal(21,0)")
    base = F.lit(_PACK_BASE).cast("decimal(16,0)")
    return v * base + id_col.cast("decimal(16,0)")


def unpack_id(packed: Column) -> Column:
    """Low (id) field of a :func:`packed_minmax` value, as BIGINT.

    pmod, not ``%``: for a NEGATIVE packed value (a legal negative
    orderand — e.g. the r8 star-schema sweep's negative prices; see
    packed_minmax's bounds note) truncating remainder returns
    ``id - base``, so the id join silently loses the row.  Floor-mod
    recovers the id for any sign of the value field.
    """
    return F.pmod(packed, F.lit(_PACK_BASE).cast("decimal(16,0)")).cast("long")


def unpack_value(packed: Column) -> Column:
    """High (value) field of a :func:`packed_minmax` value, as BIGINT.

    Subtract-then-divide keeps the decimal division remainder-free, so
    the quotient is exact at any result scale (a bare ``floor(p/base)``
    can round up at the division's display scale before floor sees it).
    pmod for the same negative-value reason as :func:`unpack_id`.
    """
    pm = F.pmod(packed, F.lit(_PACK_BASE).cast("decimal(16,0)"))
    return ((packed - pm) / _PACK_BASE).cast("long")


#: Row ceiling for :func:`measured_broadcast`: ~0.5 GB of two-long rows,
#: well under Spark's 8 GB broadcast hard limit.
_BROADCAST_MAX_ROWS = 30_000_000


def measured_broadcast(df: DataFrame, rows: int | None = None) -> DataFrame:
    """Broadcast a reduced join side when its MEASURED row count fits.

    Catalyst's static estimate of a filtered or joined frame is a
    worst-case size, so it shuffles reductions that are small in fact;
    by the time AQE sees the real size the fact side's shuffle has
    already run.  Counting first costs one small job and lets the fact
    join plan as a broadcast hash join from the start.  Over the ceiling
    the frame comes back unhinted and the join keeps its shuffle plan.
    Nothing is cached: every call measures again.

    ``rows`` is an upper bound on ``df``'s row count that costs no job,
    such as the footer row count of the table ``df`` reduces
    (``sources.tables.file_rows``).  While it fits the ceiling ``df`` is
    hinted without a count; past it, or without it, ``df`` is counted.
    """
    if rows is None or rows > _BROADCAST_MAX_ROWS:
        rows = df.count()
    return F.broadcast(df) if rows <= _BROADCAST_MAX_ROWS else df
