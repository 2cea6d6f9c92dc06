"""The repo benchmark: one workload under one seed, end-to-end metrics or
(with ``--trace 1``) per-layer metrics, every result checked.

    python3 perfbench/run.py --workload star_x10 --seed 1 --seconds 10 --trace 0

Run from the repository root.  Everything the run writes stays under
``perfbench/_work`` (generated inputs cached by seed, expected digests,
results); the Spark warehouse, local dirs and temp files live in a
per-run directory there that is removed at the end.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (each ``{"value", "unit"}``).  The environment record, the
DuckDB reference times and the per-operation table go to stderr and to
``perfbench/_work/results/``.

Protocol, in one client process on ``local[nproc]``, every loop closed:
1. generate the seed's inputs and expected results (cached; untimed);
2. set up the session SETUPS times, each a fresh SparkContext:
   ``build_spark`` + ``register_views`` (the first also launches the JVM);
3. one cold round (pass or cycle) in the last fresh session;
4. WARMUP_S seconds of untimed rounds, operation by operation: right
   after the cold round the JVM still compiles hot paths, and the first
   warm sql_session cycle ran 10-25% slower than the next;
5. at least MIN_WARM warm rounds, then further rounds, operation by
   operation, until ``--seconds`` have passed since the first warm one.
   Each warm round starts from the same state (``Workload.reset``).  With
   ``--trace 1`` odd rounds are traced and even rounds are not, so the
   traced run measures its own slowdown against untraced rounds of the
   same seed and session.

End-to-end metrics (``--trace 0``) come from the untraced run.  Each time
is wall time times the phase's CPU share (``tracing.cpu_share``): on a
shared host the hypervisor takes the CPUs away for 5-30% of the time they
are wanted, varying from minute to minute; on a host of its own the share
is 1.  Every bound is 0.25.  Reported as context with the per-layer
metrics (``--trace 1``) and not gated: ``read_p50_ms``, whose run-to-run
spread over seeds was 0.13-0.22 of its median, because a run has only a
few samples of the statement at the median; ``read_p90_ms`` and the write
percentiles, with fewer than ten samples beyond them in a run; and
``stmts_per_s``, which would gate ``total_s`` a second time.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SETUPS = 3
WARMUP_S = 5.0
MIN_WARM = 1

END_TO_END = {
    "setup_s": "s",
    "cold_total_s": "s",
    "total_s": "s",
    "geomean_s": "s",
    "peak_rss_mb": "MB",
}


def host_conf(run_root: str, data: str, cores: int) -> tuple[dict[str, str], int]:
    """Session conf sized from the host: the heap is a sixteenth of
    physical RAM within [1, 4] GiB, leaving the rest to Python workers, the
    page cache and other tenants.  Shuffle, spill and temp files go to the
    run directory: the benchmark writes nothing outside its checkout, so
    RAM-backed ``/dev/shm`` is not used and no tmpfs budget is needed."""
    from bench import split_bytes

    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = min(max(ram_mb // 16, 1024), 4096)
    tmp = os.path.join(run_root, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(run_root, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "spark.sql.files.maxPartitionBytes": str(split_bytes(data, cores)),
        "spark.sql.files.openCostInBytes": str(256 << 10),
        "spark.ui.showConsoleProgress": "false",
    }
    return conf, heap_mb


def table_layout(data: str) -> dict[str, dict[str, int]]:
    import pyarrow.parquet as pq

    out = {}
    for name in sorted(os.listdir(data)):
        path = os.path.join(data, name)
        if not name.endswith(".parquet"):
            continue
        files = (
            [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        out[name[: -len(".parquet")]] = {
            "files": len(files),
            "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
        }
    return out


def git_rev() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def environment(spark, args, heap_mb: int, data: str) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    shm = os.statvfs("/dev/shm") if os.path.isdir("/dev/shm") else None
    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20,
        "shm_free_mb": shm.f_bavail * shm.f_frsize >> 20 if shm else None,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "git_rev": git_rev(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "heap_requested_mb": heap_mb,
        # Runtime.maxMemory, as bench.verify_heap reads it
        "heap_max_mb": spark._jvm.java.lang.Runtime.getRuntime().maxMemory() >> 20,
        "inputs": table_layout(data),
    }


def pct(xs: list[float], q: float) -> float:
    import numpy

    return float(numpy.percentile(xs, q)) if xs else 0.0


def setup_s(setups: list[dict]) -> float:
    """JVM launch + the median session set-up.  The JVM launches once per
    run, so its time is the first ``build_spark``'s excess over the median
    ``build_spark`` of the fresh sessions that follow."""
    later = statistics.median(s["build_s"] for s in setups[1:])
    return setups[0]["build_s"] - later + statistics.median(s["total_s"] for s in setups)


def medians(ops) -> dict[str, float]:
    """Each operation name's median latency."""
    per_name: dict[str, list[float]] = {}
    for o in ops:
        per_name.setdefault(o.name, []).append(o.latency_s)
    return {n: statistics.median(v) for n, v in per_name.items()}


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def end_to_end(wl, setups: list[dict], peak_mb: float) -> dict[str, float]:
    warm = [o for o in wl.ops if o.phase == "warm"]
    cold = [o for o in wl.ops if o.phase == "cold"]
    med = medians(warm)
    # one round at each operation's median speed: a run's last round may
    # stop part-way, and how many rounds fit depends on the host
    first = [o for o in warm if o.round == 1]
    return {
        "setup_s": setup_s(setups),
        "cold_total_s": sum(o.latency_s for o in cold),
        "total_s": sum(med[o.name] for o in first),
        "geomean_s": geomean(med.values()),
        "peak_rss_mb": peak_mb,
    }


def per_layer(wl, setups: list[dict], rounds: list[dict], share: float) -> dict[str, float]:
    """Median over the complete traced rounds of each layer's per-round
    sum, with context measured on the untraced rounds in between."""
    from tracing import LAYER_UNITS

    traced = {r["round"] for r in rounds if r["traced"] and r["complete"]}
    sums: dict[int, dict[str, float]] = {}
    for o in wl.ops:
        if o.phase == "warm" and o.round in traced:
            acc = sums.setdefault(o.round, {})
            for k, v in o.layers.items():
                acc[k] = acc.get(k, 0.0) + v
    keys = {k for r in sums.values() for k in r}
    med = {k: statistics.median(r.get(k, 0.0) for r in sums.values()) for k in keys}
    out = {k: med.get(k, 0.0) for k in LAYER_UNITS}
    out["session.build_s"] = statistics.median(s["build_s"] for s in setups[1:])
    out["sources.register_s"] = statistics.median(s["register_s"] for s in setups)
    before = med.get("spark.exchange.partitions_before", 0.0)
    out["spark.exchange.coalesced_ratio"] = (
        med.get("spark.exchange.partitions_after", 0.0) / before if before else 1.0
    )
    py = sum(out[f"spark.python.{k}_s"] for k in ("boot", "init", "compute"))
    out["spark.python.compute_share"] = out["spark.python.compute_s"] / py if py else 0.0
    for k in ("prepare", "execute"):
        out[f"client_context.{k}_ms"] = med.get(f"client_context.{k}_s", 0.0) * 1e3
    user = wl.context.get("user_bytes", 0)
    out["statements.bytes_per_user_byte"] = wl.context["warehouse_bytes"] / user if user else 0.0
    # context from the untraced rounds: percentiles a run has too few
    # samples to repeat, and the closed loop's rate (its own checks included)
    plain = [o for o in wl.ops if o.phase == "warm" and not o.traced]
    reads = [o.latency_s * 1e3 for o in plain if o.kind == "read"]
    out["read_p50_ms"] = pct(reads, 50)
    out["read_p90_ms"] = pct(reads, 90)
    writes = [o.latency_s * 1e3 for o in plain if o.kind == "write"]
    out["statements.write_p50_ms"] = pct(writes, 50)
    out["statements.write_p90_ms"] = pct(writes, 90)
    done = [r for r in rounds if not r["traced"] and r["complete"]]
    stmts = sum(1 for o in plain if o.round in {r["round"] for r in done})
    out["stmts_per_s"] = stmts / (share * sum(r["elapsed_s"] for r in done))
    # what tracing costs: traced over untraced median latency, per
    # operation.  With one round of each (corpus_x10) it also holds what the
    # JVM still sped up between the two rounds.
    on = medians(o for o in wl.ops if o.phase == "warm" and o.traced)
    off = medians(plain)
    out["trace.slowdown_ratio"] = geomean(on[k] / off[k] for k in on.keys() & off.keys())
    return out


def stop_jvm(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt", action="store_true", help="self-test: perturb every expected digest"
    )
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        from bench import shuffle_parts
        from sqlrs_spark.session import build_spark
        from sqlrs_spark.sources.tables import register_views
        from tracing import cpu_share, cpu_ticks, tree_hwm_mb
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the sqlrs_spark sources are missing here: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_root = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    # Python workers import sqlrs_spark; temp files stay in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_root, "tmp")
    spark = None
    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    try:
        wl = WORKLOADS[args.workload](args.seed, WORK)
        data = wl.prepare()
        phase("prepare_s")
        if args.corrupt:
            wl.corrupt()
        cores = len(os.sched_getaffinity(0))
        conf, heap_mb = host_conf(run_root, data, cores)
        tr = wl.tracer
        tr.enabled = bool(args.trace)
        share: dict[str, float] = {}
        walls = []
        k0 = cpu_ticks()
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            with tr.span("session.build", f"setup{i}"):
                spark = build_spark(
                    f"perfbench_{args.workload}",
                    cores=cores,
                    shuffle_partitions=shuffle_parts(data, cores),
                    extra_conf=conf,
                )
            t1 = time.perf_counter()
            with tr.span("sources.register", f"setup{i}"):
                register_views(spark, data)
            walls.append((t1 - t0, time.perf_counter() - t1))
        share["setup"] = cpu_share(k0, cpu_ticks())
        setups = [
            {"build_s": b * share["setup"], "register_s": r * share["setup"],
             "total_s": (b + r) * share["setup"], "wall_s": b + r}
            for b, r in walls
        ]
        tr.enabled = False
        tr.layers.clear()
        phase("setup_s")
        env = environment(spark, args, heap_mb, data)
        print(json.dumps({"environment": env}), file=sys.stderr, flush=True)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        wl.start(spark)
        k0 = cpu_ticks()
        wl.run_round("cold", 0)
        share["cold"] = cpu_share(k0, cpu_ticks())
        phase("cold_s")
        warm_until = time.perf_counter() + WARMUP_S
        n = 0
        while time.perf_counter() < warm_until:
            n += 1
            wl.reset()
            wl.run_round("warmup", n, warm_until)
        phase("warmup_s")
        k0 = cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        # a traced run needs a traced and an untraced round at least
        min_warm = MIN_WARM + args.trace
        rounds: list[dict] = []
        while len(rounds) < min_warm or time.perf_counter() < deadline:
            rnd = len(rounds) + 1
            wl.reset()
            tr.enabled = bool(args.trace) and rnd % 2 == 1
            t0 = time.perf_counter()
            done = wl.run_round("warm", rnd, deadline if rnd > min_warm else None)
            rounds.append(
                {"round": rnd, "traced": tr.enabled, "complete": done,
                 "elapsed_s": time.perf_counter() - t0}
            )
        tr.enabled = False
        share["warm"] = cpu_share(k0, cpu_ticks())
        phase("warm_s")
        peak = tree_hwm_mb(jvm_pid)
        wl.finish()
        phase("finish_s")
        for o in wl.ops:
            o.latency_s = o.wall_s * share.get(o.phase, 1.0)

        attempted = len(wl.ops)
        failed = sum(not o.ok for o in wl.ops)
        if args.trace:
            from tracing import LAYER_UNITS, PREDICTIONS

            values, units = per_layer(wl, setups, rounds, share["warm"]), LAYER_UNITS
            wl.context["predictions"] = PREDICTIONS
        else:
            values, units = end_to_end(wl, setups, peak), END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        detail = {
            "environment": env,
            "setups": setups,
            "phases": phases,
            "cpu_share": share,
            "context": wl.context,
            "rounds": rounds,
            "ops": [o.__dict__ for o in wl.ops],
            "spans": tr.spans,
            "result": result,
        }
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        out = os.path.join(
            WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
        )
        with open(out, "w") as f:
            json.dump(detail, f, indent=1, default=str)
        print(f"# details: {out}", file=sys.stderr)
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
