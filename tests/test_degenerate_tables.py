"""Degenerate-table sweep for the embeddings and events families
(the documents sweep found 14 real divergences; the other two table
families never had the treatment).

Fixtures are constructed adversarially per family:

- **embeddings**: zero vectors (cosine/PQ paths divide by norms), NULL
  embedding arrays, NaN elements inside otherwise-normal vectors, NULL
  labels.  Dimensionality (64) matches the driver testdata — the PQ/
  patch-grid operators assume the production dim, and an empty array is
  a schema violation no real corpus exhibits, so it is out of scope.
- **events**: NULL ts (watermark/window paths), NULL event_type (pivot/
  funnel match keys), NULL value (aggregates), NULL and malformed props
  (JSON extraction), a single-event user (degenerate sessions), a user
  whose events all share one timestamp (window ties), and out-of-order
  event ids vs ts.

Policy, same as the documents sweep: an operator may choose any
degenerate-row policy (skip, count, classify) — it must implement the
SAME policy in both engines, and any irreconcilable engine difference
gets pinned in DEVIATIONS.md with a regression test.
"""

from __future__ import annotations

import math
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sqlrs_spark.registry import all_specs
from tests.oracle import compare
from tests.test_load_table import schema_mismatches

SPECS = all_specs()

_ALL_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _tables_of(sql: str) -> set[str]:
    return {t for t in _ALL_TABLES if re.search(rf"\b{t}\b", sql)}


def _family_specs(table: str) -> list[str]:
    """Ops whose oracle reads ``table`` (documents may ride along — the
    degenerate documents fixture from the r6 sweep is provided too)."""
    out = []
    for name, s in SPECS.items():
        if not s.oracle:
            continue
        ts = _tables_of(s.oracle)
        if table in ts and ts <= {table, "documents"}:
            out.append(name)
    return out


DIM = 64


def _vec(i: int) -> list[float]:
    # deterministic pseudo-random unit-ish vector; no numpy RNG state
    return [math.sin(0.7 * i + 0.13 * j) / 3.0 for j in range(DIM)]


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("degenerate_tables"))

    # --- embeddings: 40 rows -------------------------------------------
    vecs: list[list[float] | None] = []
    for i in range(40):
        if i % 11 == 0:
            vecs.append(None)  # NULL array
        elif i % 7 == 0:
            vecs.append([0.0] * DIM)  # zero vector: norm == 0
        elif i == 17:
            v = _vec(i)
            v[3] = float("nan")  # NaN element
            vecs.append(v)
        else:
            vecs.append(_vec(i))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(40), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(
                    [None if i % 13 == 0 else i % 4 for i in range(40)],
                    pa.int32(),
                ),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )

    # --- events: 90 rows over 8 users ----------------------------------
    base = 1_700_000_000_000_000  # micros epoch, naive
    ids, tss, users, etypes, values, props = [], [], [], [], [], []
    types = ["view", "click", "purchase", "error"]
    for i in range(90):
        ids.append(i)
        if i % 9 == 0:
            tss.append(None)  # NULL ts
        elif i % 10 == 7:
            tss.append(base + 3_600_000_000)  # shared-tie timestamp
        else:
            # out-of-order vs event_id on purpose
            tss.append(base + ((i * 37) % 90) * 60_000_000)
        if i < 80:
            users.append(i % 6)
        elif i == 80:
            users.append(7)  # single-event user
        else:
            users.append(8)  # all-ties user (ts fixed below)
        if i > 80:
            tss[-1] = base + 7_200_000_000
        etypes.append(None if i % 7 == 0 else types[i % 4])
        values.append(
            None if i % 8 == 0 else (float("nan") if i == 33 else round(i * 0.7, 2))
        )
        if i % 12 == 0:
            props.append(None)
        elif i % 12 == 1:
            props.append("not json {")
        elif i % 12 == 2:
            props.append("")
        else:
            props.append('{"k": %d}' % (i % 17))
    # Users whose argmax-by-ts winner exercises the sentinel/NULL paths
    # the earlier fixture never reached —
    #   user 9:  ALL ts NULL (winner decided purely by event_id tie-break;
    #            r7's fixture gave every user >=1 timestamped event, so the
    #            all-NULL key never beat s11's (-1,-1) init sentinel)
    #   user 10: ALL ts NULL and the winner's event_type is NULL (the
    #            oracle's `event_type <> 'view'` is 3VL-false -> excluded)
    #   user 11: timestamped, winner's event_type NULL (same exclusion on
    #            the normal path)
    #   user 12: single all-NULL-ts event with NaN value (cents-NULL path
    #            through the sentinel branch)
    for eid, e_ts, u, ety, val, pr in [
        (90, None, 9, "click", 1.5, '{"k": 1}'),
        (91, None, 9, "purchase", None, None),
        (92, None, 9, "error", 2.5, '{"k": 2}'),
        (93, None, 10, "click", 3.0, '{"k": 3}'),
        (94, None, 10, None, 4.0, '{"k": 4}'),
        (95, base + 9_000_000_000, 11, "click", 5.0, '{"k": 5}'),
        (96, base + 9_060_000_000, 11, None, 6.0, '{"k": 6}'),
        (97, None, 12, "purchase", float("nan"), ""),
    ]:
        ids.append(eid)
        tss.append(e_ts)
        users.append(u)
        etypes.append(ety)
        values.append(val)
        props.append(pr)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(tss, pa.timestamp("us")),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(etypes, pa.string()),
                "value": pa.array(values, pa.float64()),
                "props": pa.array(props, pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )

    # --- documents (ride-along, same shape as the r6 docs sweep) -------
    texts = []
    for i in range(60):
        if i % 13 == 0:
            texts.append(None)
        elif i % 7 == 0:
            texts.append("")
        else:
            texts.append(f"tok{i} tok{i % 5} the quick tok{i % 3} brown fox")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(
                    [["en", "en", "fr", "de", "zh"][i % 5] for i in range(len(texts))],
                    pa.string(),
                ),
                "source": pa.array(
                    [f"s{i % 4}" for i in range(len(texts))], pa.string()
                ),
                "n_chars": pa.array([len(t) if t else 0 for t in texts], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


@pytest.fixture(scope="module")
def degenerate_duck(degenerate_dir):
    con = duckdb.connect()
    for t in ("embeddings", "events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{degenerate_dir}/{t}.parquet'"
        )
    return con


def test_degenerate_tables_load_with_the_inferred_schema(spark, degenerate_dir):
    assert schema_mismatches(spark, degenerate_dir, ("embeddings", "events", "documents")) == []


@pytest.mark.parametrize("name", _family_specs("embeddings"))
def test_embeddings_op_survives_degenerate_table(
    spark, name, degenerate_dir, degenerate_duck
):
    spec = SPECS[name]
    ok, msg = compare(spec.fn(spark, degenerate_dir), degenerate_duck, spec.oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", _family_specs("events"))
def test_events_op_survives_degenerate_table(
    spark, name, degenerate_dir, degenerate_duck
):
    spec = SPECS[name]
    ok, msg = compare(spec.fn(spark, degenerate_dir), degenerate_duck, spec.oracle)
    assert ok, f"{name}: {msg}"


# ---------------------------------------------------------------------------
# Star-schema family: lineitem/orders/customer/part/supplier
# + region/nation under NULL join keys, NULL dates, zero/negative
# quantities, dangling FKs, and duplicate-key floods.  NaN in money columns
# is OUT OF SCOPE: unlike events.value (a measurement that can plausibly be
# NaN), TPC-H money/quantity columns come from a generator whose domain is
# finite decimals — a NaN there is a schema violation no ingest would pass.
# ---------------------------------------------------------------------------


def _dt(y, m, d):
    import datetime

    return datetime.datetime(y, m, d)


@pytest.fixture(scope="module")
def star_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("degenerate_star"))

    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1, 2], pa.int32()),
                "r_name": pa.array(["AMERICA", "ASIA", None], pa.string()),
            }
        ),
        os.path.join(d, "region.parquet"),
    )

    # nation 3 dangles to region 99; nation 4 has a NULL name; nation 5
    # carries a NULL region join key
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0, 1, 2, 3, 4, 5], pa.int32()),
                "n_name": pa.array(
                    ["ALPHA", "BETA", "GAMMA", "DANGLING", None, "ZETA"], pa.string()
                ),
                "n_regionkey": pa.array([0, 1, 2, 99, 0, None], pa.int32()),
            }
        ),
        os.path.join(d, "nation.parquet"),
    )

    # custkey NULL row, NULL nationkey, NULL name/acctbal/segment,
    # negative acctbal (legal in TPC-H), a 3-row duplicate-key flood on
    # custkey 9, and a customer pointing at the dangling nation
    cust = [
        (1, "Customer#1", 0, 100.25, "BUILDING"),
        (2, "Customer#2", 1, -50.75, "AUTOMOBILE"),
        (3, "Customer#3", 2, 0.0, "MACHINERY"),
        (4, "Customer#4", None, 200.0, "BUILDING"),
        (5, None, 0, None, None),
        (None, "Customer#null", 1, 10.0, "HOUSEHOLD"),
        (7, "Customer#7", 3, 75.5, "BUILDING"),
        (8, "Customer#8", 0, 25.0, "FURNITURE"),
        (9, "Customer#9a", 0, 1.0, "BUILDING"),
        (9, "Customer#9b", 1, 2.0, "BUILDING"),
        (9, "Customer#9c", 2, 3.0, "AUTOMOBILE"),
        (10, "Customer#10", 5, 30.0, "BUILDING"),
    ]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([r[0] for r in cust], pa.int64()),
                "c_name": pa.array([r[1] for r in cust], pa.string()),
                "c_nationkey": pa.array([r[2] for r in cust], pa.int32()),
                "c_acctbal": pa.array([r[3] for r in cust], pa.float64()),
                "c_mktsegment": pa.array([r[4] for r in cust], pa.string()),
            }
        ),
        os.path.join(d, "customer.parquet"),
    )

    supp = [
        (1, "Supplier#1", 0, 500.0),
        (2, "Supplier#2", 1, -100.0),
        (3, None, None, None),
        (None, "Supplier#null", 2, 50.0),
        (4, "Supplier#4a", 0, 10.0),
        (4, "Supplier#4b", 1, 20.0),
    ]
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([r[0] for r in supp], pa.int64()),
                "s_name": pa.array([r[1] for r in supp], pa.string()),
                "s_nationkey": pa.array([r[2] for r in supp], pa.int32()),
                "s_acctbal": pa.array([r[3] for r in supp], pa.float64()),
            }
        ),
        os.path.join(d, "supplier.parquet"),
    )

    prt = [
        (1, "part one", "Brand#1", "TYPE A", 10, 100.0),
        (2, "part two", "Brand#2", "PROMO TYPE", 20, 200.0),
        (3, None, None, None, None, None),
        (None, "part null", "Brand#3", "TYPE C", 5, 50.0),
        (5, "part five", "Brand#1", "TYPE A", 0, 0.0),
    ]
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([r[0] for r in prt], pa.int64()),
                "p_name": pa.array([r[1] for r in prt], pa.string()),
                "p_brand": pa.array([r[2] for r in prt], pa.string()),
                "p_type": pa.array([r[3] for r in prt], pa.string()),
                "p_size": pa.array([r[4] for r in prt], pa.int32()),
                "p_retailprice": pa.array([r[5] for r in prt], pa.float64()),
            }
        ),
        os.path.join(d, "part.parquet"),
    )

    # order 103: NULL custkey; 104: dangling custkey; 105: NULL price/
    # date/priority; NULL-orderkey row; 106 x3: duplicate-orderkey flood
    # onto the duplicate customer 9 (join fan-out 3x3)
    odr = [
        (100, 1, "O", 1000.0, _dt(1995, 2, 10), "1-URGENT"),
        (101, 2, "F", 2000.0, _dt(1996, 6, 1), "2-HIGH"),
        (102, 3, "O", 500.0, _dt(1997, 1, 5), "5-LOW"),
        (103, None, "O", 300.0, _dt(1995, 3, 1), "3-MEDIUM"),
        (104, 999, "F", 400.0, _dt(1998, 7, 4), "1-URGENT"),
        (105, 4, "O", None, None, None),
        (None, 1, "O", 100.0, _dt(1999, 9, 9), "2-HIGH"),
        (106, 9, "P", 50.0, _dt(1995, 5, 5), "4-NOT SPECIFIED"),
        (106, 9, "P", 60.0, _dt(1995, 5, 6), "4-NOT SPECIFIED"),
        (106, 9, "P", 70.0, _dt(1995, 5, 7), "3-MEDIUM"),
        (107, 5, "P", 250.0, _dt(2000, 12, 31), "4-NOT SPECIFIED"),
    ]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in odr], pa.int64()),
                "o_custkey": pa.array([r[1] for r in odr], pa.int64()),
                "o_orderstatus": pa.array([r[2] for r in odr], pa.string()),
                "o_totalprice": pa.array([r[3] for r in odr], pa.float64()),
                "o_orderdate": pa.array([r[4] for r in odr], pa.timestamp("us")),
                "o_orderpriority": pa.array([r[5] for r in odr], pa.string()),
            }
        ),
        os.path.join(d, "orders.parquet"),
    )

    # (orderkey, partkey, suppkey, linenumber, qty, price, disc, tax,
    #  returnflag, linestatus, shipdate)
    li = [
        (100, 1, 1, 1, 10.0, 1000.0, 0.05, 0.02, "N", "O", _dt(1995, 3, 1)),
        (100, 2, 2, 2, 5.0, 500.0, 0.0, 0.0, "A", "F", _dt(1995, 4, 1)),
        (101, 2, 2, 1, 20.0, 4000.0, 0.1, 0.08, "R", "F", _dt(1996, 7, 1)),
        (102, 5, 4, 1, 0.0, 0.0, 0.0, 0.0, "N", "O", _dt(1997, 2, 1)),  # zero qty+price
        (102, 1, 1, 2, -5.0, -250.0, 0.02, 0.01, "R", "O", _dt(1997, 3, 1)),  # negatives
        (103, 3, 3, 1, None, None, None, None, None, None, None),  # NULL flood
        (104, None, None, 1, 7.0, 700.0, 0.04, 0.03, "A", "F", _dt(1998, 8, 1)),  # NULL part/supp keys
        (None, 1, 1, 1, 3.0, 300.0, 0.01, 0.0, "N", "O", _dt(1999, 1, 1)),  # NULL orderkey
        (888, 2, 2, 1, 9.0, 900.0, 0.06, 0.05, "R", "F", _dt(1999, 2, 2)),  # dangling orderkey
        (106, 1, 1, 1, 4.0, 400.0, 0.03, 0.02, "N", "O", _dt(1995, 6, 1)),
        (106, 1, 1, 1, 4.0, 400.0, 0.03, 0.02, "N", "O", _dt(1995, 6, 1)),  # exact dup line
        (105, 2, 4, 1, 12.0, 1200.0, 1.0, 0.0, "A", "O", _dt(1996, 1, 1)),  # 100% discount
        (107, 5, 1, 1, 50.0, 2500.0, 0.07, 0.04, "R", "O", _dt(2001, 1, 1)),
        (107, 3, 3, 2, 1.0, 50.0, 0.0, 0.0, "N", "F", None),  # NULL shipdate only
    ]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in li], pa.int64()),
                "l_partkey": pa.array([r[1] for r in li], pa.int64()),
                "l_suppkey": pa.array([r[2] for r in li], pa.int64()),
                "l_linenumber": pa.array([r[3] for r in li], pa.int32()),
                "l_quantity": pa.array([r[4] for r in li], pa.float64()),
                "l_extendedprice": pa.array([r[5] for r in li], pa.float64()),
                "l_discount": pa.array([r[6] for r in li], pa.float64()),
                "l_tax": pa.array([r[7] for r in li], pa.float64()),
                "l_returnflag": pa.array([r[8] for r in li], pa.string()),
                "l_linestatus": pa.array([r[9] for r in li], pa.string()),
                "l_shipdate": pa.array([r[10] for r in li], pa.timestamp("us")),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    return d


_STAR = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}


def _star_specs() -> list[str]:
    out = []
    for name, s in SPECS.items():
        if not s.oracle:
            continue
        ts = _tables_of(s.oracle)
        if ts and ts <= _STAR:
            out.append(name)
    return out


@pytest.fixture(scope="module")
def star_duck(star_dir):
    con = duckdb.connect()
    for t in sorted(_STAR):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star_dir}/{t}.parquet'")
    return con


def test_degenerate_star_loads_with_the_inferred_schema(spark, star_dir):
    assert schema_mismatches(spark, star_dir, sorted(_STAR)) == []


@pytest.mark.parametrize("name", _star_specs())
def test_star_op_survives_degenerate_table(spark, name, star_dir, star_duck):
    spec = SPECS[name]
    ok, msg = compare(spec.fn(spark, star_dir), star_duck, spec.oracle)
    assert ok, f"{name}: {msg}"
