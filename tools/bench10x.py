"""Scaled benchmark (VERDICT r1 #4): the tracked perf artifact.

Builds (or reuses) an N-fold key-shifted replica of sf0.1 (``--factor 10``
≈ sf1, ``--factor 100`` ≈ sf10) as a directory of part files per table —
the layout every real cluster dataset has — then times the bench query set
on it in BOTH engines on identical bytes: Spark via bench.bench_spark,
DuckDB by running each spec's oracle SQL.  Emits one JSON line and writes
BENCH{factor}X_r{N}.json.

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

Usage: python tools/bench10x.py [--round N] [--factor 10|100] [--dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
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

# Queries excluded at specific replica factors, with the honest reason
# recorded in the artifact.  p38: embeddings replicate as EXACT copies
# (module docstring), so at factor F every LSH cell holds ~F duplicates
# of each distinct vector — candidate generation degenerates to
# O(corpus x F) (32 BILLION pairs at 1000x, ~an hour PER EXECUTION in
# EITHER engine).  Real corpora don't have 1000-way exact-duplicate
# embedding floods (and a production pipeline collapses exact dups
# before graph construction); the 10x/100x points carry p38's scale
# trend on this replica design.
SKIP_AT_FACTOR: dict[str, tuple[int, str]] = {
    "p38_knn_graph": (
        1000,
        "replica embeddings are exact copies: cells hold ~factor"
        " duplicates each, candidate pairs degenerate to corpus x factor"
        " (~32B at 1000x, ~1h/execution in both engines); trend recorded"
        " at 10x/100x",
    ),
    "p40_semantic_clusters": (
        1000,
        "embeds p38's candidate pipeline (connected components over its"
        " mutual-kNN edges), so it inherits p38's exact-duplicate replica"
        " degeneracy at 1000x; trend recorded at 10x/100x",
    ),
}


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
    must be per-query: p33/p38 complete standalone under the same 100GB
    ceiling (measured: 33s/336s at 100x) but DNF when the 10 preceding
    queries' allocator state is still resident — one long-lived
    connection accumulates enough fragmentation to eat the ceiling.
    Per-query isolation is also the protocol symmetry: the Spark side's
    suspicious numbers get fresh pre-warmed JVMs (fresh-retry)."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 4}")
    spill = os.path.join(tempfile.gettempdir(), "sqlrs_duck_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    con.execute("SET memory_limit='100GB'")
    for t in list(SHIFT_COLS) + COPY_ONCE:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet/*.parquet'"
        )
    return con


def duck_one(name: str, dst: str) -> None:
    """Subprocess entry: time ONE baseline query in its own process and
    print 'DUCKRES <name> <best>'.  Process isolation, not just
    connection isolation: r7/r8's 1000x runs both died the same way —
    p33's DNF hit the 100GB ceiling INSIDE the parent python, and even
    with the connection closed (6d79943) glibc never returns the ~65 GB
    of freed arena pages to the OS, so the parent sat at 64 GB RSS and
    the kernel OOM-killed it under the later fresh-retry JVMs.  A child
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


def bench_duckdb(specs, dst: str, factor: int) -> tuple[dict[str, float], dict[str, str]]:
    import subprocess

    timings: dict[str, float] = {}
    dnf: dict[str, str] = {}
    for s in specs:
        if not s.oracle:
            continue
        r = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--duck-one",
                s.name,
                "--factor",
                str(factor),
                "--dir",
                dst,
            ],
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
            # ratio set simply excludes the query at this factor)
            tail = (r.stderr or "").strip().splitlines()
            dnf[s.name] = (tail[-1] if tail else f"exit {r.returncode}")[:200]
            print(f"# duckdb {s.name}: DNF ({dnf[s.name]})", file=sys.stderr)
            continue
        timings[s.name] = best
        print(f"# duckdb {s.name}: {best:.3f}s", file=sys.stderr)
    return timings, dnf


def bench_bucketed(spark, dst: str, only: str | None = None) -> dict[str, float]:
    """Time q03/q05/q28/q25/x12 through the bucketed storage layout
    (round-2 verdict #9): the SAME registered entries, passed
    orders/lineitem co-bucketed on orderkey and events bucketed on
    user_id as explicit sources — the zero-Exchange fact join / agg /
    window made measurable at scale.  The one-time ETL write is timed separately
    (reused across runs via the table-exists check, like any real
    ingest-time layout).

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
    from sqlrs_spark.operators.analytics_deep import q28_nation_profit, q34_min_cost_supplier
    from sqlrs_spark.operators.relational import q03_shipping_priority, q05_local_volume
    from sqlrs_spark.operators.temporal import x12_asof_join
    from sqlrs_spark.sources.bucketing import ensure_bucketed, ensure_bucketed_facts

    t0 = time.perf_counter()
    orders_t, lineitem_t = ensure_bucketed_facts(spark, dst, buckets=64)
    events_t = ensure_bucketed(spark, dst, "events", "user_id", buckets=64)
    etl = time.perf_counter() - t0

    # q34's wide shuffle keys on l_partkey — the orderkey layout above
    # cannot serve it (a table buckets one way).  r4 verdict #6: measure
    # a SECOND, partkey-bucketed lineitem layout; its storage cost is the
    # honest price of serving both key workloads shuffle-free, so its ETL
    # is timed under its own key.
    t0 = time.perf_counter()
    li_pk_t = ensure_bucketed(spark, dst, "lineitem", "l_partkey", buckets=64)
    etl_pk = time.perf_counter() - t0

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
        "x12_asof_join[bucketed]": lambda: x12_asof_join(
            spark, dst, spark.table(events_t)
        ),
        "q34_min_cost_supplier[bucketed]": lambda: q34_min_cost_supplier(
            spark, dst, spark.table(li_pk_t)
        ),
    }
    timings: dict[str, float] = {
        "bucketed_etl_once": round(etl, 4),
        "bucketed_etl_partkey_once": round(etl_pk, 4),
    }
    for name, fn in runs.items():
        if only is not None and name != only:
            continue
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


# --- fresh-retry self-defense (r5 verdict #4) -----------------------------
#
# The family-ordered sweep shares one JVM and one page cache; a query
# running late in the sweep can time page-cache competition instead of its
# plan (r5's p16: 120.4s in the artifact vs 44.7s fresh-process — a 2.7x
# artifact-vs-reality gap documented only in prose).  Defense: any query
# whose sweep number exceeds the PREVIOUS round's artifact by more than
# the documented ±30% noise band is re-run once in its own pre-warmed
# subprocess, and the artifact records BOTH numbers; ratios use the fresh
# number (the defensible one — it is how any real deployment would run
# the query: not 20th in a fixed sweep).

NOISE_BAND = 1.3
#: every sweep number past this many seconds is fresh-verified even
#: without a reference: the expensive tail is exactly where page-cache
#: competition bites (p16), and an inflated reference from a PREVIOUS
#: round would otherwise grandfather the inflation forever (r5's p16 was
#: 120.4s in-artifact vs 44.7s fresh — a prev*1.3 rule alone never fires).
#: 10s, not 30: r6's first 1000x pass showed q01 carrying 11.3s in-sweep
#: vs 3.8s fresh-process (experiment script at git revision e90cdda) —
#: page-cache competition inflates well below the 30s tail, and a stable
#: sweep number can be a STABLY inflated one the prev*1.3 rule never
#: questions.  Sub-10s
#: numbers are left alone (with the 2s floor below): there the fresh
#: JVM's cold-JIT variance exceeds any cache effect.
ALWAYS_FRESH_ABOVE_S = 10.0


def fresh_one(name: str, dst: str) -> None:
    """Subprocess entry: time ONE query in a fresh pre-warmed JVM under
    the exact bench session conf; prints 'FRESH <name> <best>s'."""
    from bench import bench_session_conf, shuffle_parts, verify_heap
    from sqlrs_spark.registry import all_specs
    from sqlrs_spark.session import build_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    conf = bench_session_conf(dst, cpus)
    spark = build_spark(
        f"sqlrs_fresh_{name.split('[')[0]}",
        cores=cpus,
        shuffle_partitions=shuffle_parts(dst, cpus),
        extra_conf=conf,
    )
    verify_heap(spark, conf)
    if name.endswith("[bucketed]"):
        t = bench_bucketed(spark, dst, only=name)
        best = t[name]
    else:
        fn = all_specs()[name].fn
        w0 = time.perf_counter()
        fn(spark, dst).toArrow()  # warm
        warm_s = time.perf_counter() - w0
        best = float("inf")
        for _ in range(1 if warm_s > 120 else 2):  # slow-query protocol
            t0 = time.perf_counter()
            fn(spark, dst).toArrow()
            best = min(best, time.perf_counter() - t0)
        best = round(best, 4)
    print(f"FRESH {name} {best}")
    spark.stop()


def fresh_retries(
    timings: dict[str, float], prev: dict[str, float], dst: str, factor: int
) -> dict[str, dict[str, float]]:
    """Re-run every >noise-band query in its own subprocess; returns
    {name: {"timed": sweep_number, "fresh": fresh_number}}."""
    import subprocess

    out: dict[str, dict[str, float]] = {}
    for name, now in timings.items():
        if name.startswith("bucketed_etl"):
            continue
        before = prev.get(name)
        regressed = before is not None and now > before * NOISE_BAND
        # [bucketed] entries are ALWAYS fresh-verified (r6 verdict #4):
        # the bucketed section runs at the very end of the sweep — after
        # 18 plain queries and possibly a from-scratch ETL — where
        # page-cache contamination peaks, and r6's q03[bucketed] sat at
        # 9.38s, under BOTH the 1.3x band (prev 8.07s -> 10.5s trigger)
        # and the 10s always-fresh threshold, leaving the one regressed
        # number in the artifact unadjudicated.  There are only six such
        # entries, so the extra subprocesses are cheap.
        bucketed = name.endswith("[bucketed]")
        if not regressed and not bucketed and now < ALWAYS_FRESH_ABOVE_S:
            continue
        if now < 2.0:
            # sub-2s absolutes are engine floor: a fresh JVM's cold-start
            # variance there exceeds any page-cache effect the retry
            # exists to detect (10x r6: q03 sweep 1.25s, "fresh" 3.55s)
            continue
        print(f"# fresh-retry {name}: {now}s vs prev {before}s", file=sys.stderr)
        r = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--fresh-one",
                name,
                "--factor",
                str(factor),
                "--dir",
                dst,
            ],
            capture_output=True,
            text=True,
        )
        for line in r.stdout.splitlines():
            if line.startswith(f"FRESH {name} "):
                out[name] = {"timed": now, "fresh": float(line.split()[-1])}
                break
        else:
            print(f"# fresh-retry {name} FAILED: {r.stderr[-500:]}", file=sys.stderr)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=2)
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--dir", default=None)
    ap.add_argument("--skip-bucketed", action="store_true")
    ap.add_argument(
        "--only-bucketed",
        action="store_true",
        help="re-time only the bucketed-layout section and merge it into the"
        " existing BENCH{factor}X_r{round}.json (plain-layout numbers kept)",
    )
    ap.add_argument(
        "--fresh-one",
        default=None,
        help="time ONE query in this fresh process and exit (the fresh-retry"
        " subprocess entry; expects the replica to already exist)",
    )
    ap.add_argument(
        "--duck-one",
        default=None,
        help="time ONE DuckDB baseline query in this process and exit (the"
        " per-query baseline subprocess entry; see duck_one)",
    )
    args = ap.parse_args()
    dst = args.dir or f"/tmp/sqlrs_replica{args.factor}x"
    out = os.path.join(REPO, f"BENCH{args.factor}X_r{args.round:02d}.json")

    if args.fresh_one:
        fresh_one(args.fresh_one, dst)
        return
    if args.duck_one:
        duck_one(args.duck_one, dst)
        return

    from bench import bench_conf, bench_spark, total_bytes, verify_heap
    from sqlrs_spark.session import build_spark

    # The FIRST SparkContext of the process launches the JVM, and
    # spark.driver.memory / the cached local-dir roots are fixed at that
    # point — later sessions' requests are silently ignored.  So the
    # replica builder must carry the bench-sized conf, predicted from the
    # source size (the replica itself may not exist yet): replica bytes
    # ≈ factor × sf0.1 bytes (dims copied once, doc salting adds ~3%).
    first_jvm_conf = bench_conf(None, inp=args.factor * total_bytes(SRC))
    builder = build_spark("sqlrs_replica_build", extra_conf=first_jvm_conf)
    heap_gb = verify_heap(builder, first_jvm_conf)
    build_replica(builder, dst, args.factor)
    builder.stop()

    if args.only_bucketed:
        # IDENTICAL session conf to the full bench (warehouse dir, RAM
        # shuffle, heap, splits) — a plain build_spark() here would miss
        # the warehouse override and re-run the fact ETL into the cwd,
        # and its timings would merge into an artifact measured under a
        # different memory/shuffle regime
        from bench import bench_session_conf

        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
        from bench import shuffle_parts as _sp

        spark = build_spark(
            f"sqlrs_spark_bench{args.factor}x_bucketed",
            cores=cpus,
            shuffle_partitions=_sp(dst, cpus),
            extra_conf=bench_session_conf(dst, cpus),
        )
        bucketed_t = bench_bucketed(spark, dst)
        spark.stop()
        with open(out) as f:
            result = json.load(f)
        result["bucketed"] = bucketed_t
        print(json.dumps(result))
        with open(out, "w") as f:
            f.write(json.dumps(result, indent=2) + "\n")
        print(f"# wrote {out} (bucketed section only)", file=sys.stderr)
        return

    skipped = {
        n: why for n, (at, why) in SKIP_AT_FACTOR.items() if args.factor >= at
    }
    spark, specs, spark_t = bench_spark(
        dst, app=f"sqlrs_spark_bench{args.factor}x", exclude=tuple(skipped)
    )
    bucketed_t = {} if args.skip_bucketed else bench_bucketed(spark, dst)
    spark.stop()
    duck_t, duck_dnf = bench_duckdb(specs, dst, args.factor)

    # checkpoint the phase results so a death in the fresh-retry phase
    # (two rounds of 1000x runs died exactly there) still leaves the
    # sweep + baseline numbers on disk; removed on successful completion
    with open(out + ".partial", "w") as f:
        json.dump(
            {
                "queries": spark_t,
                "bucketed": bucketed_t,
                "duckdb_queries": duck_t,
                "duckdb_dnf": duck_dnf,
            },
            f,
            indent=2,
        )

    # DuckDB-side timings swing on shared hardware between rounds (r3: q03
    # oracle 22.9s→4.2s with unchanged SQL) — flag >1.5× swings vs the
    # previous round's artifact so ratio movements are attributable to the
    # Spark side vs baseline noise.
    drift: dict[str, dict[str, float]] = {}
    prev_spark: dict[str, float] = {}
    prev_path = os.path.join(REPO, f"BENCH{args.factor}X_r{args.round - 1:02d}.json")
    if os.path.exists(prev_path):
        with open(prev_path) as f:
            prev_art = json.load(f)
        prev_duck = prev_art.get("duckdb_queries", {})
        prev_spark = dict(prev_art.get("queries", {}))
        prev_spark.update(prev_art.get("bucketed", {}))
        # a prior round's DEFENSIBLE number is the better reference: the
        # min of (sweep, fresh) — taking fresh unconditionally would let a
        # SLOWER un-adopted fresh retry inflate the baseline, so a real
        # next-round regression vs the adopted number could pass the 30%
        # band un-retried (review finding, round 6)
        for n, pair in prev_art.get("fresh_retry", {}).items():
            prev_spark[n] = min(pair["fresh"], pair["timed"])
        for n, now in duck_t.items():
            prev = prev_duck.get(n)
            if prev and max(now / prev, prev / now) > 1.5:
                drift[n] = {"prev": prev, "now": now, "swing": round(now / prev, 2)}

    # fresh-retry self-defense (r5 verdict #4): re-measure every
    # above-noise-band regression in its own pre-warmed process and let
    # the defensible number carry the ratios
    retried = fresh_retries({**spark_t, **bucketed_t}, prev_spark, dst, args.factor)
    for n, pair in retried.items():
        # the retry is a DIAGNOSTIC for sweep-side inflation (page-cache
        # competition, the r5 p16 case): adopt the fresh number only when
        # it CONFIRMS the sweep number was inflated.  A fresh number at or
        # above the sweep's means the sweep was fine — keep it (adopting
        # the slower of two honest measurements would just re-introduce
        # the artifact-vs-reality gap in the other direction); both
        # numbers stay in the artifact's fresh_retry section either way.
        use = min(pair["fresh"], pair["timed"])
        if n in spark_t:
            spark_t[n] = use
        if n in bucketed_t:
            bucketed_t[n] = use

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
    }
    result["driver_heap_gb"] = heap_gb
    if skipped:
        result["skipped"] = skipped
    if duck_dnf:
        # baseline queries that died (e.g. OOM) — their ratios are absent
        # at this factor, not silently one-sided
        result["duckdb_dnf"] = duck_dnf
    if drift:
        result["duckdb_drift"] = drift
    if bucketed_t:
        result["bucketed"] = bucketed_t
    if retried:
        # both numbers on record: "timed" is the family-ordered sweep's
        # (page-cache-competition-prone), "fresh" the own-process rerun
        # that replaced it in queries/bucketed/ratios
        result["fresh_retry"] = retried
    line = json.dumps(result)
    print(line)
    with open(out, "w") as f:
        f.write(json.dumps(result, indent=2) + "\n")
    if os.path.exists(out + ".partial"):
        os.remove(out + ".partial")
    print(f"# wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
