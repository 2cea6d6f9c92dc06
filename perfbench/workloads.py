"""The three workloads: expected results, the closed loop that runs each,
and the per-operation record every metric is computed from.

- ``star_x10``: the 10 relational bench specs over the 10x replica.
- ``corpus_x10``: the 11 pipeline bench specs over the same replica.
- ``sql_session``: one ClientContext over the base views, fed a seeded
  stream of reads and writes (3:1).

A pass (star, corpus) runs every spec once, warm passes in a seeded
order; a cycle (sql_session) runs the CYCLE of statements, always from
the same state (``reset``).  Cold rounds keep a fixed order, so which
operation pays for loading the code the others share does not depend on
the seed.  Given a deadline, a round stops before the first operation
that would start after it.  Each operation's wall time runs from the
first call into the program to the materialized result; checking the
result against its expected digest happens outside that interval.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import random
import sys
import time
from dataclasses import dataclass, field

import datagen
from tracing import Tracer, job_counts, plan_metrics

STAR = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_volume",
    "q06_simple_agg",
    "q22_volume_shipping",
    "q25_large_orders",
    "q28_nation_profit",
    "q34_min_cost_supplier",
    "x12_asof_join",
    "x18_funnel",
)
CORPUS = (
    "t01_token_count",
    "t09_unicode_clean",
    "p01_dedup_exact",
    "p06_ann_bruteforce",
    "p11_corpus_pipeline",
    "p13_token_budget_pack",
    "p16_dedup_minhash_capped",
    "p20_tfidf_terms",
    "p33_span_scrub",
    "p38_knn_graph",
    "p40_semantic_clusters",
)


def digest(names: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, with tests/oracle.py's value
    normalisation (columns sorted by name, rows as a sorted multiset)."""
    from tests.oracle import rows_multiset

    return hashlib.sha256(repr(rows_multiset(rows, names)).encode()).hexdigest()


def arrow_digest(tbl) -> str:
    return digest(tbl.column_names, list(zip(*[c.to_pylist() for c in tbl.columns])))


def duck_connect(data_dir: str):
    import duckdb

    from sqlrs_spark.sources.tables import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 4}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'")
    return con


@dataclass
class Op:
    """One executed operation: the record every metric is built from."""

    name: str
    kind: str  # "read", "write" or "check"
    phase: str  # "cold", "warmup", "warm" or "check"
    round: int  # pass or cycle number
    wall_s: float
    ok: bool
    traced: bool = False
    layers: dict[str, float] = field(default_factory=dict)
    #: wall_s times the phase's CPU share (less hypervisor steal), set
    #: once the run has ended
    latency_s: float = 0.0


class Workload:
    """Shared run state: the session, the tracer and the op log."""

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.ops: list[Op] = []
        self.tracer = Tracer()
        self.context: dict = {}
        self.salt = ""

    def corrupt(self) -> None:
        """Self-test hook: make every expected digest wrong."""
        self.salt = "!"

    def failed(self, name: str, why: str) -> None:
        print(f"# FAILED {name}: {why}", file=sys.stderr, flush=True)

    def reset(self) -> None:
        """Restore the state every warm round starts from."""


class SpecWorkload(Workload):
    """star_x10 / corpus_x10: registry specs run through
    ``spec.fn(spark, dir).toArrow()``, checked against each spec's DuckDB
    oracle digest computed once per generated data set."""

    specs: tuple[str, ...] = ()

    def prepare(self) -> str:
        """Generate (or reuse) the replica and its expected digests; time
        each DuckDB oracle once on the identical bytes, as context."""
        from sqlrs_spark.registry import all_specs

        self.data = datagen.materialize(self.seed, os.path.join(self.work, "data"), True)
        path = os.path.join(self.data, f"expected-{self.NAME}.json")
        if not os.path.exists(path):
            reg = all_specs()
            con = duck_connect(self.data)
            exp = {}
            for name in self.specs:
                t0 = time.perf_counter()
                tbl = con.execute(reg[name].oracle).arrow()
                exp[name] = {
                    "digest": arrow_digest(tbl),
                    "rows": tbl.num_rows,
                    "duckdb_s": time.perf_counter() - t0,
                }
            con.close()
            with open(path + ".tmp", "w") as f:
                json.dump(exp, f, indent=1)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            self.expected = json.load(f)
        self.context["duckdb_s"] = {n: round(e["duckdb_s"], 4) for n, e in self.expected.items()}
        return self.data

    def start(self, spark) -> None:
        from sqlrs_spark.registry import all_specs

        self.spark = spark
        reg = all_specs()
        self.fns = {n: reg[n].fn for n in self.specs}
        self.rng = random.Random(self.seed)

    def run_round(self, phase: str, rnd: int, deadline: float | None = None) -> bool:
        """One pass: every spec once, warm passes in a seeded order.
        Returns whether the pass completed before ``deadline``."""
        order = list(self.specs)
        if phase == "warm":
            self.rng.shuffle(order)
        sc = self.spark.sparkContext
        tr = self.tracer
        for name in order:
            if deadline is not None and time.perf_counter() >= deadline:
                return False
            op = f"{phase}{rnd}:{name}"
            sc.setJobGroup(op, name)
            ok, err = True, ""
            t0 = time.perf_counter()
            try:
                with tr.span("operators.build", op):
                    df = self.fns[name](self.spark, self.data)
                if tr.enabled:
                    tr.add(op, "operators.eager_jobs", job_counts(sc, (op,), set())["spark.jobs"])
                with tr.span("catalyst.plan", op):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("execution.materialize", op):
                    tbl = df.toArrow()
                wall = time.perf_counter() - t0
                got = arrow_digest(tbl)
                want = self.expected[name]["digest"] + self.salt
                if got != want:
                    ok, err = False, f"digest {got[:12]} != {want[:12]}"
                if tr.enabled:
                    tr.merge(op, plan_metrics(df))
                    tr.merge(op, job_counts(sc, (op,), set()))
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                wall = time.perf_counter() - t0
                ok, err = False, f"{type(e).__name__}: {str(e)[:300]}"
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if not ok:
                self.failed(op, err)
            layers = dict(tr.layers.pop(op, {}))
            self.ops.append(Op(name, "read", phase, rnd, wall, ok, tr.enabled, layers))
        return True

    def finish(self) -> None:
        pass


class StarX10(SpecWorkload):
    NAME = "star_x10"
    specs = STAR


class CorpusX10(SpecWorkload):
    NAME = "corpus_x10"
    specs = CORPUS


# --- sql_session ----------------------------------------------------------

#: statement kinds of one cycle in order, reads : writes = 9 : 3.  The
#: order is fixed and only the literals are seeded, so each statement finds
#: the same state in every cycle: scratch_agg scans the two files the
#: insert and the copy before it wrote, tables lists the CTAS table.
CYCLE = (
    "point", "insert", "agg", "copy", "scratch_agg", "describe",
    "point", "ctas", "tables", "explain", "agg", "point",
)
WRITES = ("insert", "ctas", "copy")
TAGS = ("amber", "birch", "cedar", "dune", "ember")
COPY_FILES = 4
COPY_ROWS = 20
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
POINT_SQL = (
    "select o_orderkey, o_custkey, o_orderstatus, o_totalprice from orders where o_orderkey = ?"
)
SCRATCH_COLS = "k bigint, v double, tag varchar"
SCRATCH_AGG_SQL = (
    "select tag, count(*) as n, cast(sum(k) as bigint) as sk, max(v) as mv from scratch group by tag"
)


def _scratch_rows(rng: random.Random, n: int) -> list[tuple]:
    return [
        (rng.randrange(10**6), rng.randrange(4000) / 4.0, rng.choice(TAGS)) for _ in range(n)
    ]


class SqlSession(Workload):
    """A closed loop of short statements on one ClientContext.

    Every statement's expected result comes from a DuckDB mirror that
    replays the same writes, so reads are checked against DuckDB on the
    same state; catalog reads (describe, sqlrs_tables(), explain) are
    checked against the state the generator expects.  The contents of
    every written table are checked after each cycle, and then ``reset``
    restores the state each cycle starts from: the base views, an empty
    scratch table and no CTAS tables.  So within a cycle the scratch table
    grows small files that later reads scan, but how much state a cycle
    sees does not depend on how many cycles fit in the run.
    """

    NAME = "sql_session"
    BASE_TABLES = frozenset(
        ("region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings", "scratch")
    )

    def prepare(self) -> str:
        self.data = datagen.materialize(self.seed, os.path.join(self.work, "data"), False)
        csv_dir = os.path.join(self.data, "csv")
        if not os.path.isdir(csv_dir):
            rng = random.Random(self.seed * 7919 + 1)
            os.makedirs(csv_dir + ".tmp", exist_ok=True)
            for i in range(COPY_FILES):
                with open(os.path.join(csv_dir + ".tmp", f"copy_{i}.csv"), "w", newline="") as f:
                    w = csv.writer(f)
                    w.writerow(["k", "v", "tag"])
                    w.writerows(_scratch_rows(rng, COPY_ROWS))
            os.replace(csv_dir + ".tmp", csv_dir)
        self.csvs = [os.path.join(csv_dir, f"copy_{i}.csv") for i in range(COPY_FILES)]
        self.duck = duck_connect(self.data)
        self.duck.execute(f"CREATE TABLE scratch ({SCRATCH_COLS})")
        self.rng = random.Random(self.seed)
        self.n_ctas = 0
        self.user_bytes = 0
        self.tables = set(self.BASE_TABLES)
        return self.data

    def start(self, spark) -> None:
        from sqlrs_spark.client_context import ClientContext

        self.spark = spark
        self.ctx = ClientContext(spark)
        self.ctx.query(f"create table scratch ({SCRATCH_COLS})")
        self.point = self.ctx.prepare(POINT_SQL)
        # jobs already counted: the context's job group spans every statement
        self.seen_jobs: set[int] = set()
        self.warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def reset(self) -> None:
        self._check_tables()
        for i in range(self.n_ctas):
            self.ctx.query(f"drop table ctas_{i}")
            self.duck.execute(f"DROP TABLE ctas_{i}")
        self.ctx.query("drop table scratch")
        self.ctx.query(f"create table scratch ({SCRATCH_COLS})")
        self.duck.execute("DELETE FROM scratch")
        self.n_ctas = 0
        self.user_bytes = 0
        self.tables = set(self.BASE_TABLES)

    # statement generation: (kind, sql or key, check) with check(names, rows) -> str|None
    def _statement(self, kind: str):
        rng, duck = self.rng, self.duck
        if kind == "point":
            key = rng.randrange(datagen.ORDERS)
            want = _duck_digest(duck, POINT_SQL, [key])
            return key, _digest_check(want + self.salt)
        if kind == "agg":
            d = rng.randrange(0, 9) / 100.0
            y = 1995 + rng.randrange(0, 7)
            sql = (
                "select l_returnflag, l_linestatus, count(*) as n,"
                " cast(sum(l_quantity) as bigint) as q, max(l_extendedprice) as mx"
                f" from lineitem where l_discount >= {d} and l_shipdate < timestamp '{y}-07-01'"
                " group by l_returnflag, l_linestatus"
            )
            return sql, _digest_check(_duck_digest(duck, sql) + self.salt)
        if kind == "scratch_agg":
            want = _duck_digest(duck, SCRATCH_AGG_SQL) + self.salt
            return SCRATCH_AGG_SQL, _digest_check(want)
        if kind == "describe":
            t = rng.choice(["orders", "scratch"])
            cols = ORDER_COLS if t == "orders" else ["k", "v", "tag"]
            return f"describe {t}", _column_check("column_name", cols)
        if kind == "tables":
            return "select table_name from sqlrs_tables()", _set_check(set(self.tables))
        if kind == "explain":
            q = rng.randrange(1, 50)
            sql = (
                "explain select l_returnflag, count(*) from lineitem"
                f" where l_quantity > {q} group by l_returnflag"
            )
            return sql, _column_check("type", ["logical_plan", "logical_plan_opt", "physical_plan"])
        if kind == "insert":
            rows = _scratch_rows(rng, 4)
            duck.executemany("INSERT INTO scratch VALUES (?, ?, ?)", rows)
            self.user_bytes += sum(len(f"{k},{v},{t}\n") for k, v, t in rows)
            vals = ", ".join(f"({k}, {v}, '{t}')" for k, v, t in rows)
            return f"insert into scratch values {vals}", None
        if kind == "ctas":
            name = f"ctas_{self.n_ctas}"
            self.n_ctas += 1
            sql = (
                f"create table {name} as select o_orderkey, o_custkey, o_totalprice"
                f" from orders where o_orderkey % {rng.randrange(5, 40)} = {rng.randrange(5)}"
            )
            duck.execute(sql)
            self.user_bytes += _csv_bytes(duck, name)
            self.tables.add(name)
            return sql, None
        path = rng.choice(self.csvs)
        duck.execute(f"INSERT INTO scratch SELECT * FROM read_csv_auto('{path}', header=true)")
        self.user_bytes += os.path.getsize(path)
        return f"copy scratch from '{path}' (HEADER)", None

    def run_round(self, phase: str, rnd: int, deadline: float | None = None) -> bool:
        """One cycle: the CYCLE of statements, each generated (and
        mirrored in DuckDB) just before it runs.  Returns whether the cycle
        completed before ``deadline``."""
        sc = self.spark.sparkContext
        tr = self.tracer
        if tr.enabled:  # jobs of untraced cycles and resets are not this cycle's
            self.seen_jobs.update(sc.statusTracker().getJobIdsForGroup(self.ctx._group))
        for i, kind in enumerate(CYCLE):
            if deadline is not None and time.perf_counter() >= deadline:
                return False
            stmt, check = self._statement(kind)
            op = f"{phase}{rnd}:{i}:{kind}"
            files0 = _tree_stats(self.warehouse) if tr.enabled and kind in WRITES else None
            sc.setJobGroup(op, kind)
            ok, err, df = True, "", None
            t0 = time.perf_counter()
            try:
                if kind == "point":
                    with tr.span("client_context.execute", op):
                        res = self.ctx.execute_prepared(self.point, stmt)
                else:
                    with tr.span("client_context.prepare", op):
                        pending = self.ctx.pending_query(stmt)
                    df = pending.dataframe
                    with tr.span("catalyst.plan", op):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("client_context.execute", op):
                        res = pending.execute()
                wall = time.perf_counter() - t0
                if check is not None:
                    why = check(res.names, res.rows)
                    if why:
                        ok, err = False, why
                if tr.enabled:
                    tr.add(op, "client_context.rows", len(res.rows))
                    if df is not None and kind in ("agg", "scratch_agg"):
                        tr.merge(op, plan_metrics(df))
                    tr.merge(op, job_counts(sc, (op, self.ctx._group), self.seen_jobs))
                    if files0 is not None:
                        tr.add(op, "statements.files_written", _tree_stats(self.warehouse)[0] - files0[0])
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                wall = time.perf_counter() - t0
                ok, err = False, f"{type(e).__name__}: {str(e)[:300]}"
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if not ok:
                self.failed(op, err)
            layers = dict(tr.layers.pop(op, {}))
            kind_rw = "write" if kind in WRITES else "read"
            self.ops.append(Op(kind, kind_rw, phase, rnd, wall, ok, tr.enabled, layers))
        return True

    def _check_tables(self) -> None:
        """Check the contents of every table the stream has written."""
        for name in ["scratch"] + [f"ctas_{i}" for i in range(self.n_ctas)]:
            sql = f"select * from {name}"
            ok, err = True, ""
            try:
                res = self.ctx.query(sql)
                want = _duck_digest(self.duck, sql) + self.salt
                why = _digest_check(want)(res.names, res.rows)
                if why:
                    ok, err = False, why
            except Exception as e:  # noqa: BLE001
                ok, err = False, f"{type(e).__name__}: {str(e)[:300]}"
            if not ok:
                self.failed(f"check:{name}", err)
            self.ops.append(Op(f"check:{name}", "check", "check", 0, 0.0, ok))

    def finish(self) -> None:
        self._check_tables()
        # the last cycle's writes: what the warehouse holds now
        self.context["user_bytes"] = self.user_bytes
        self.context["warehouse_bytes"] = _tree_stats(self.warehouse)[1]
        self.duck.close()


def _duck_digest(con, sql: str, params=None) -> str:
    tbl = con.execute(sql, params).arrow() if params else con.execute(sql).arrow()
    return arrow_digest(tbl)


def _digest_check(want: str):
    def check(names, rows):
        got = digest(names, rows)
        return None if got == want else f"digest {got[:12]} != {want[:12]}"

    return check


def _column_check(col: str, want: list[str]):
    def check(names, rows):
        got = [r[names.index(col)] for r in rows] if col in names else None
        return None if got == want else f"{col} {got} != {want}"

    return check


def _set_check(want: set[str]):
    def check(names, rows):
        got = {r[0] for r in rows}
        return None if got == want else f"tables {sorted(got ^ want)} differ"

    return check


def _csv_bytes(con, table: str) -> int:
    rows = con.execute(f"SELECT * FROM {table}").fetchall()
    return sum(len(",".join(map(str, r))) + 1 for r in rows)


def _tree_stats(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``, ignoring Spark's marker files."""
    files = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


WORKLOADS = {w.NAME: w for w in (StarX10, CorpusX10, SqlSession)}
