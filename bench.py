"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

tools/bench10x.py reuses the helpers here to time the same query set on a
10x key-shifted replica against DuckDB on identical data.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def table_bytes(sf_dir: str, entry: str) -> int:
    # a "table" is either a single parquet file or a directory of part
    # files (the layout every real cluster dataset has) — getsize on a
    # directory returns the dirent size, not the data size
    path = os.path.join(sf_dir, entry)
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path)


def total_bytes(sf_dir: str) -> int:
    return sum(table_bytes(sf_dir, f) for f in os.listdir(sf_dir))


def shuffle_parts(sf_dir: str, cpus: int) -> int:
    """Scale-aware shuffle partition count: at least one per core, and at
    most ~64 MB of (compressed, so ~3x that live) input per partition,
    capped at 2048.

    Pinning partitions = cores is only right while a partition's share of
    a shuffled table fits the per-thread heap; at the 1000x replica
    (~21 GB input, 600M-row lineitem) 32 partitions meant ~1 GB hash-join
    builds per task and the shuffled-hash preference OOMed the JVM.
    Sizing by bytes keeps builds bounded at any SF, and AQE coalesces the
    excess partitions away when the actual shuffle is small — the same
    sizing rule a 1000-executor cluster uses."""
    return max(cpus, min(2048, total_bytes(sf_dir) // (64 << 20)))


def split_bytes(sf_dir: str, cpus: int) -> int:
    """Scale-aware input split size: target ≥2 splits per core on the
    largest table so every core scans, clamped to [4 MiB, 128 MiB].  At
    cluster scale (TB+ inputs) the formula saturates at Spark's 128 MiB
    default — this only kicks in when the data is small relative to the
    core count.  The 4 MiB floor matters at toy SFs: below a few MB per
    task the per-task scheduling overhead dominates the scan itself
    (measured ~25% of total bench wall at sf0.1 with a 1 MiB floor)."""
    biggest = max((table_bytes(sf_dir, f) for f in os.listdir(sf_dir)), default=0)
    return min(max(biggest // (2 * cpus), 4 << 20), 128 << 20)


def bench_conf(sf_dir: str | None, inp: int | None = None) -> dict[str, str]:
    """Environment-level conf that scales with the benched data size.

    ``inp`` overrides the measured input size — used by tools/bench10x to
    size the FIRST session of the process (the replica builder) for a
    replica that does not exist yet.  spark.driver.memory (and the cached
    local-dir roots) only take effect when the first SparkContext of the
    process launches the JVM; a later bench session's request is silently
    ignored, so whoever starts the JVM must carry the bench-sized conf.

    - ``spark.local.dir`` on a RAM-backed fs when one exists: shuffle
      blocks + spills then never touch the data disk.  Measured at the
      1000x replica (21 GB input, this container's virtio disk): q25's
      orderkey agg swung 81-130s with disk-backed shuffle vs a stable
      ~27s on tmpfs — the disk's writeback stalls, not the engine, were
      the bottleneck.  This mirrors a production cluster, where
      local.dir points at dedicated NVMe, never the data volume; and it
      is the same storage class DuckDB's in-RAM intermediates enjoy on
      the comparison side.
    - driver (=executor in local mode) heap clamped to [16g, 24g].  The
      ceiling is a PAGE-CACHE budget, measured the hard way in round 4:
      a 42g heap request (2 bytes/input byte) made the kernel evict the
      21 GB replica from page cache as the JVM lazily touched its heap,
      and every few runs re-read the dataset from the virtio disk at
      ~350 MB/s — 30-150s swings on identical plans (a bare `cat` of the
      supposedly-cached lineitem spent 28s in the kernel).  Round 3's
      stable artifacts in fact ran on the 16g default (the larger
      request was silently ignored — the first-JVM conf bug), so the
      "GC-thrash at 16g" rationale the old formula carried was never
      actually observed under a correctly-applied heap.  On a box where
      heap + dataset don't both fit, protect the dataset: the executor
      spills shuffle to (RAM-backed) local dirs anyway, while a cache
      miss on the base table costs the full disk re-read.
    """
    conf: dict[str, str] = {}
    shm = "/dev/shm"
    if inp is None:
        inp = total_bytes(sf_dir)
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        # capacity, not just writability: Docker's default shm is 64 MB,
        # and a shuffle volume can approach the (compressed) input size —
        # require 4x headroom or shuffle writes die mid-bench with ENOSPC
        # and tmpfs pressure competes with the heap this same function
        # requests.  Falls back to Spark's default local dir otherwise.
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 4 * inp:
                conf["spark.local.dir"] = os.path.join(shm, "sqlrs_shuffle")
        except OSError:
            pass
    mem_gb = max(16, min(24, (2 * inp) >> 30))
    conf["spark.driver.memory"] = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{mem_gb}g"
    )
    return conf


def verify_heap(spark, conf: dict[str, str]) -> float:
    """Return the JVM's actual max heap in GiB and warn if it is well below
    the heap ``conf`` requested — which happens whenever an earlier session
    of the same process launched the JVM with a smaller (default) heap.
    The caller should then fix session ordering, not trust the timings."""
    actual_gb = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / (1 << 30)
    req = conf.get("spark.driver.memory", "")
    if req.endswith("g") and req[:-1].isdigit():
        req_gb = int(req[:-1])
        # -Xmx N g reports slightly under N (survivor-space accounting)
        if actual_gb < 0.8 * req_gb:
            print(
                f"# WARNING: JVM heap {actual_gb:.1f} GiB < requested {req_gb} GiB"
                " — spark.driver.memory was set after the JVM launched;"
                " timings below run under the wrong heap",
                file=sys.stderr,
            )
    return round(actual_gb, 2)


def bench_session_conf(sf_dir: str, cpus: int) -> dict[str, str]:
    """The full extra_conf the bench session runs with — shared with
    tools/bench10x's --only-bucketed path so a bucketed-only re-time uses
    the IDENTICAL session (warehouse dir, RAM shuffle, heap, split sizes)
    as the run whose artifact it merges into."""
    return {
        "spark.sql.files.maxPartitionBytes": str(split_bytes(sf_dir, cpus)),
        "spark.sql.files.openCostInBytes": str(256 << 10),
        # the bench materializes full results via toArrow; at the
        # 1000x replica wide outputs (t01: 5M rows) exceed the 1 GiB
        # default and kill the job mid-collect
        "spark.driver.maxResultSize": "6g",
        # bucketed-layout tables (tools/bench10x.bench_bucketed) are
        # GBs at the big replicas — keep them out of the repo's cwd
        # warehouse; they're reused across runs like any ingest layout
        "spark.sql.warehouse.dir": os.path.join(
            tempfile.gettempdir(), "sqlrs_warehouse"
        ),
        **bench_conf(sf_dir),
    }


def bench_spark(
    sf_dir: str,
    cpus: int | None = None,
    app: str = "sqlrs_spark_bench",
    exclude: tuple[str, ...] = (),
):
    """Build the bench session and time every bench-flagged spec.

    Protocol: one untimed warm run per query (JIT + codegen + parquet
    footer cache), then best-of-2 timed runs — steady-state engine
    throughput, the number that scales to a long-lived cluster, with
    local-machine noise (GC pauses, other processes) damped.  Both timed
    runs execute the full plan.
    """
    from sqlrs_spark.registry import all_specs
    from sqlrs_spark.session import build_spark

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    conf = bench_session_conf(sf_dir, cpus)
    spark = build_spark(
        app,
        cores=cpus,
        shuffle_partitions=shuffle_parts(sf_dir, cpus),
        extra_conf=conf,
    )
    verify_heap(spark, conf)
    import gc

    # Fixed family order (q, x, t, p), independent of registry order: when
    # the documents-heavy p-queries ran FIRST, their n-gram shuffles (tmpfs
    # pages compete with page cache) evicted lineitem before the q-family
    # ran, re-reading 18 GB from disk inside timed q03/q22 runs (q22
    # 13.7s -> 30.6s on unchanged code).  Grouping by table family makes
    # the cache working set transition once per family instead of
    # thrashing per query.  bench_duckdb shares the list, so both engines
    # run the identical sequence.
    fam = {"q": 0, "x": 1, "t": 2, "p": 3}
    specs = sorted(
        (s for s in all_specs().values() if s.bench and s.name not in exclude),
        key=lambda s: (fam.get(s.name[0], 4), s.name),
    )
    timings: dict[str, float] = {}
    for s in specs:
        # Drop py4j references from the previous spec AND force a JVM GC:
        # ContextCleaner only releases broadcasts/shuffle files when the
        # JVM collects their weak references, and Python-side gc.collect()
        # never triggers that — with a heap big enough to avoid organic
        # GCs, cleanup lags whole queries behind and the accumulated
        # shuffle/broadcast state evicts the dataset's page cache (p16
        # measured 167s mid-session vs 47s in a fresh JVM at the 1000x
        # replica; r3's 81s mid-session ran on a smaller heap whose
        # organic GCs masked the missing explicit collection).
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        # Materialize via Arrow (df.toArrow) — the columnar batch transfer
        # any real Python consumer of the engine uses, and the same
        # result contract the DuckDB side is timed on (.arrow()).  Plain
        # .collect() deserializes row-at-a-time through py4j and, for
        # wide-output queries at scale, times the gateway instead of the
        # engine (measured: t01's 500k-row output dominated its bench10x
        # number).
        w0 = time.perf_counter()
        s.fn(spark, sf_dir).toArrow()  # warm
        warm_s = time.perf_counter() - w0
        # slow queries get ONE timed rep: past two minutes per execution
        # the best-of-2 protocol doubles wall-clock for noise damping the
        # long runtime already provides (variance is amortized over
        # thousands of tasks), and the replica benches must stay runnable
        reps = 1 if warm_s > 120 else 2
        best, n = float("inf"), 0
        for _ in range(reps):
            t0 = time.perf_counter()
            n = s.fn(spark, sf_dir).toArrow().num_rows
            best = min(best, time.perf_counter() - t0)
        timings[s.name] = round(best, 4)
        print(f"# {s.name}: {best:.3f}s ({n} rows)", file=sys.stderr)
    return spark, specs, timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, _, timings = bench_spark(sf_dir)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                # registered entries read plain parquet directories; only
                # tools/bench10x.bench_bucketed passes bucketed tables
                "layout": "plain",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
