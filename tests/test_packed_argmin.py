"""Property tests for common.packed_minmax — the hash-aggregable
lexicographic argmin/argmax orderand.

The whole trick rests on one algebraic claim: for nonnegative
``value < 1e22`` and ``id < 1e15``, decimal order of
``value * 1e15 + id`` coincides with lexicographic order of
``(value, id)``.  Hypothesis drives the claim directly on integers
(the decimal arithmetic in Spark is exact integer arithmetic at
scale 0), including adversarial near-boundary ids; a Spark-side test
pins that the full pack→MIN→unpack round trip matches a struct-min
reference on a real DataFrame.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sqlrs_spark.operators.common import _PACK_BASE
from sqlrs_spark.plans import node_names

# bounds documented in packed_minmax's contract
VALUES = st.integers(min_value=0, max_value=10**22 - 1)
IDS = st.one_of(
    st.integers(min_value=0, max_value=_PACK_BASE - 1),
    # adversarial: ids at the field boundary, where a packing bug
    # would bleed into the value field
    st.sampled_from([0, 1, _PACK_BASE - 1, _PACK_BASE // 2, 10**12]),
)


def pack(v: int, i: int) -> int:
    return v * _PACK_BASE + i


@given(a=st.tuples(VALUES, IDS), b=st.tuples(VALUES, IDS))
@settings(max_examples=500, deadline=None)
def test_pack_order_is_lexicographic(a, b):
    # decimal MIN/MAX over the pack ≡ tuple min/max over (value, id)
    assert (pack(*a) < pack(*b)) == (a < b)
    assert (pack(*a) == pack(*b)) == (a == b)


@given(v=VALUES, i=IDS)
@settings(max_examples=500, deadline=None)
def test_pack_round_trips(v, i):
    p = pack(v, i)
    assert p % _PACK_BASE == i  # unpack_id
    assert (p - p % _PACK_BASE) // _PACK_BASE == v  # unpack_value


@pytest.mark.usefixtures("spark")
def test_spark_packed_min_matches_struct_min(spark):
    # full pipeline on a DataFrame: pack → groupBy MIN → unpack must
    # equal the struct-min reference (which is correct but SortAggregate)
    from pyspark.sql import functions as F

    from sqlrs_spark.operators.common import packed_minmax, unpack_id, unpack_value

    rows = [
        # (group, value, id) — includes ties on value (id breaks them),
        # a zero id, and a boundary-adjacent id
        ("g1", 5, 7), ("g1", 5, 3), ("g1", 9, 1),
        ("g2", 0, 0), ("g2", 0, _PACK_BASE - 1),
        ("g3", 10_499_991, 999_000_000_999), ("g3", 10_499_991, 42),
    ]
    df = spark.createDataFrame(rows, "g string, v long, i long")
    packed = (
        df.groupBy("g")
        .agg(F.min(packed_minmax(F.col("v"), F.col("i"))).alias("m"))
        .select("g", unpack_value(F.col("m")).alias("v"), unpack_id(F.col("m")).alias("i"))
    )
    ref = (
        df.groupBy("g")
        .agg(F.min(F.struct("v", "i")).alias("m"))
        .select("g", F.col("m.v").alias("v"), F.col("m.i").alias("i"))
    )
    assert sorted(map(tuple, packed.collect())) == sorted(map(tuple, ref.collect()))
    # and the packed plan must hash-aggregate — the reason it exists
    names = node_names(packed)
    assert "SortAggregate" not in names, names
