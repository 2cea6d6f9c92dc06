"""Scaled benchmark: the bench query set on an N-fold key-shifted replica
of sf0.1, timed in both engines on identical bytes.

Builds (or reuses) the replica (``--factor 10`` ≈ sf1, ``--factor 100``
≈ sf10) as a directory of part files per table — the layout every real
cluster dataset has — then times the bench query set on it in BOTH
engines: Spark via bench.bench_spark, DuckDB by running each spec's oracle
SQL.  Prints one JSON line on stdout, with the host record bench.py
writes.

Replica design:
- **Key shifting** keeps join fan-out identical to the base data (replica
  i adds i*STRIDE to every join key, so each replica joins only within
  itself); nation/region are fixed-cardinality dimensions, copied once,
  preserving TPC-H's dim/fact ratios.
- **Token salting on documents** (replica i>0 suffixes every token with
  ``_r<i>``) keeps replicas token-disjoint, so each contributes the BASE
  corpus's duplicate-group structure and dedup candidates scale linearly
  with the factor — the honest 100-TB profile.  Verbatim text replication
  would instead multiply every duplicate group by the factor: at 100x all
  LSH buckets blow past the degenerate-bucket cap and candidate
  generation measures nothing, while exact dedup degenerates into a
  corpus that is 99% duplicates.
- Embeddings replicate as-is: vector count is the only cost driver for
  the scoring/bucketing plans, and tie-breaks are by (shifted) vec_id.

Usage: python tools/bench10x.py [--factor 10|100] [--dir DIR]
       [--skip-bucketed] > artifact.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STRIDE = 10**9
SRC = "/root/testdata/sf0.1"
MARKER_VERSION = "v2-salted-docs"

SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_ONCE = ["nation", "region"]


def build_replica(spark, dst: str, factor: int) -> None:
    from pyspark.sql import functions as F

    done_marker = os.path.join(dst, "_REPLICA_OK")
    stamp = f"{MARKER_VERSION} x{factor}\n"
    if os.path.exists(done_marker) and open(done_marker).read() == stamp:
        print(f"# reusing replica at {dst}", file=sys.stderr)
        return
    # part files per table: a real multi-file directory without drowning
    # the corpus in tiny files; more files at higher factors so every
    # core scans during the build AND the bench
    nparts = 16 if factor <= 10 else 64
    # Parallelism comes from the REPLICA side: the sf0.1 source is one
    # ~17 MB parquet file = one input split, so `source.crossJoin(rep)`
    # generates all factor×rows in a single task (measured: the x1000
    # build crawled at ~45 MB/min).  Partitioning the replica ids and
    # broadcasting the small base table instead gives every core its own
    # slice of replicas to generate, and the write needs no extra
    # repartition — the replica partitioning IS the file layout.
    rep = (
        spark.range(factor)
        .select(F.col("id").alias("__r"))
        .repartition(min(factor, nparts))
    )
    for t, cols in SHIFT_COLS.items():
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        df = rep.crossJoin(F.broadcast(base))
        for c in cols:
            df = df.withColumn(c, F.col(c) + F.col("__r") * STRIDE)
        if t == "documents":
            # token-salt replicas 1..n-1 (module docstring: linear, not
            # multiplicative, duplicate structure)
            salted = F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda tok: F.concat(
                        tok, F.lit("_r"), F.col("__r").cast("string")
                    ),
                ),
                " ",
            )
            df = df.withColumn(
                "text", F.when(F.col("__r") == 0, F.col("text")).otherwise(salted)
            )
        df.drop("__r").write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"# built {t} x{factor}", file=sys.stderr)
    for t in COPY_ONCE:
        spark.read.parquet(f"{SRC}/{t}.parquet").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")
    open(done_marker, "w").write(stamp)


def _duck_con(dst: str):
    """A fresh baseline connection per QUERY, not per sweep.

    An in-memory duckdb connection has NO temp_directory, so memory-
    heavy operators cannot spill and die with a hard bad_alloc instead
    (first hit: p33's 750M-span coverage window at the 100x replica
    took the whole bench process down mid-artifact).  And the connection
    must be per-query: p33/p38 complete standalone at 100x but DNF when
    the 10 preceding queries' allocator state is still resident — one
    long-lived connection accumulates enough fragmentation to eat the
    memory limit.

    The memory limit is half of physical RAM.  DuckDB's resident set
    overshoots it (p33 at 100x on a 15.7 GiB host: 8.2-8.5 GB under a
    7.8 GB limit; it completed in one run and failed with bad_alloc in
    another, and failed under a quarter of RAM).  The stopped Spark JVM,
    which stays up while the baseline runs, first gives back its heap
    (``main``).  Spill is capped at half the disk space free when the
    query starts, so a runaway query fails as a DNF instead of filling
    the disk: p38/p40's candidate pairs grow with factor² on this replica
    design (exact-copy embeddings), and p40 at 100x filled a disk with
    spill before the cap."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 4}")
    spill = os.path.join(tempfile.gettempdir(), "sqlrs_duck_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    con.execute(f"SET max_temp_directory_size='{shutil.disk_usage(spill).free // 2 >> 20}MB'")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    con.execute(f"SET memory_limit='{ram_mb // 2}MB'")
    for t in list(SHIFT_COLS) + COPY_ONCE:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet/*.parquet'"
        )
    return con


def duck_one(name: str, dst: str) -> None:
    """Subprocess entry: time ONE baseline query in its own process and
    print 'DUCKRES <name> <best>'.  Process isolation, not just
    connection isolation: at the 1000x replica p33's DNF hit the memory
    limit INSIDE the parent python, and even with the connection closed
    glibc never returned the ~65 GB of freed arena pages to the OS, so
    the parent sat at 64 GB RSS until the kernel OOM-killed it.  A child
    process gives every byte back on exit, unconditionally."""
    from sqlrs_spark.registry import all_specs

    spec = all_specs()[name]
    con = _duck_con(dst)
    # .arrow(): same columnar materialization contract the Spark side is
    # timed on (df.toArrow)
    w0 = time.perf_counter()
    con.execute(spec.oracle).arrow()  # warm (I/O cache, plan)
    warm_s = time.perf_counter() - w0
    # same slow-query protocol as bench.bench_spark: one timed rep past
    # a 2-minute warm run
    best = float("inf")
    for _ in range(1 if warm_s > 120 else 2):
        t0 = time.perf_counter()
        con.execute(spec.oracle).arrow()
        best = min(best, time.perf_counter() - t0)
    con.close()
    print(f"DUCKRES {name} {round(best, 4)}")


def bench_duckdb(specs, dst: str) -> tuple[dict[str, float], dict[str, str]]:
    import subprocess

    timings: dict[str, float] = {}
    dnf: dict[str, str] = {}
    for s in specs:
        if not s.oracle:
            continue
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--duck-one", s.name, "--dir", dst],
            capture_output=True,
            text=True,
        )
        best = None
        for line in r.stdout.splitlines():
            if line.startswith(f"DUCKRES {s.name} "):
                best = float(line.split()[-1])
                break
        if best is None:
            # one baseline query dying must not zero out the artifact:
            # record the DNF honestly and keep timing the rest (the
            # ratio set simply excludes the query at this factor).  Keep
            # the exception line, not the hint DuckDB appends to it.
            err = [ln for ln in r.stderr.splitlines() if "Error" in ln]
            dnf[s.name] = (err[-1] if err else f"exit {r.returncode}")[:200]
            print(f"# duckdb {s.name}: DNF ({dnf[s.name]})", file=sys.stderr)
            continue
        timings[s.name] = best
        print(f"# duckdb {s.name}: {best:.3f}s", file=sys.stderr)
    return timings, dnf


def bench_bucketed(spark, dst: str) -> dict[str, float]:
    """Time q03/q05/q28/q25 through the bucketed storage layout: the SAME
    registered entries, passed orders/lineitem co-bucketed on orderkey as
    explicit sources — the zero-Exchange fact join / agg made measurable
    at scale.  The one-time ETL write is timed separately (reused across
    runs via the table-exists check, like any real ingest-time layout).

    Only the orderkey layout is measured: a partkey-bucketed lineitem for
    q34 (2.22 s against 1.62 s plain at 10×, 10.30 s against 7.76 s at
    100×, after a 55.7 s ETL) and user_id-bucketed events for x12 (1.63 s
    against 0.84 s at 10×) both lost to the plain path on a 4-core host.

    buckets=64 here vs ensure_bucketed_facts' default 32: the replica
    benches size buckets to the big replicas' core count; tables are
    content-hash-named per (source digest, bucket count), so running
    x26 (32 buckets, testdata SFs) and this section (64, replica dirs)
    against the SAME directory would build two layouts — they never
    share a directory in practice, but if you point both at one, expect
    double ETL/storage.
    """
    import gc

    from sqlrs_spark.operators.analytics import q25_large_orders
    from sqlrs_spark.operators.analytics_deep import q28_nation_profit
    from sqlrs_spark.operators.relational import q03_shipping_priority, q05_local_volume
    from sqlrs_spark.sources.bucketing import ensure_bucketed_facts

    t0 = time.perf_counter()
    orders_t, lineitem_t = ensure_bucketed_facts(spark, dst, buckets=64)
    etl = time.perf_counter() - t0

    runs = {
        "q03_shipping_priority[bucketed]": lambda: q03_shipping_priority(
            spark, dst, spark.table(orders_t), spark.table(lineitem_t)
        ),
        "q05_local_volume[bucketed]": lambda: q05_local_volume(
            spark, dst, spark.table(orders_t), spark.table(lineitem_t)
        ),
        "q28_nation_profit[bucketed]": lambda: q28_nation_profit(
            spark, dst, spark.table(orders_t), spark.table(lineitem_t)
        ),
        "q25_large_orders[bucketed]": lambda: q25_large_orders(
            spark, dst, spark.table(orders_t), spark.table(lineitem_t)
        ),
    }
    timings: dict[str, float] = {"bucketed_etl_once": round(etl, 4)}
    for name, fn in runs.items():
        gc.collect()
        spark.sparkContext._jvm.System.gc()  # drive ContextCleaner (bench.py note)
        fn().toArrow()  # warm
        best = float("inf")
        for _ in range(2):
            s = time.perf_counter()
            fn().toArrow()
            best = min(best, time.perf_counter() - s)
        timings[name] = round(best, 4)
        print(f"# {name}: {best:.3f}s", file=sys.stderr)
    return timings


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--dir", default=None)
    ap.add_argument("--skip-bucketed", action="store_true")
    ap.add_argument(
        "--duck-one",
        default=None,
        help="time ONE DuckDB baseline query in this process and exit (the"
        " per-query baseline subprocess entry; see duck_one)",
    )
    args = ap.parse_args()
    dst = args.dir or f"/tmp/sqlrs_replica{args.factor}x"

    if args.duck_one:
        duck_one(args.duck_one, dst)
        return

    from bench import bench_spark, env_record
    from sqlrs_spark.session import build_spark

    builder = build_spark("sqlrs_replica_build")
    build_replica(builder, dst, args.factor)
    builder.stop()

    spark, specs, spark_t = bench_spark(dst, app=f"sqlrs_spark_bench{args.factor}x")
    bucketed_t = {} if args.skip_bucketed else bench_bucketed(spark, dst)
    env = env_record(spark)
    jvm = spark._jvm
    spark.stop()
    # the JVM outlives the session; a full GC returns the stopped
    # session's heap pages to the OS (2.0 -> 0.8 GB RSS after three
    # queries at 10x) before the DuckDB baseline needs them
    jvm.System.gc()
    duck_t, duck_dnf = bench_duckdb(specs, dst)

    common = [n for n in spark_t if n in duck_t]
    result = {
        "metric": f"bench{args.factor}x_total",
        "value": round(sum(spark_t.values()), 4),
        "unit": "sec",
        "queries": spark_t,
        "duckdb_total": round(sum(duck_t.values()), 4),
        "duckdb_queries": duck_t,
        "ratio_total": round(
            sum(spark_t[n] for n in common) / max(sum(duck_t[n] for n in common), 1e-9),
            3,
        ),
        "ratio_queries": {
            n: round(spark_t[n] / max(duck_t[n], 1e-9), 2) for n in common
        },
        # registered entries read plain parquet directories, so "queries"
        # is plain by construction; the "bucketed" section passes the
        # bucketed tables explicitly
        "layout": "plain",
        "sf": f"~{args.factor / 10:g} ({args.factor}x key-shifted token-salted sf0.1,"
        " multi-file layout)",
        "env": env,
    }
    if duck_dnf:
        # baseline queries that died (e.g. OOM) — their ratios are absent
        # at this factor, not silently one-sided
        result["duckdb_dnf"] = duck_dnf
    if bucketed_t:
        result["bucketed"] = bucketed_t
    print(json.dumps(result))


if __name__ == "__main__":
    main()
