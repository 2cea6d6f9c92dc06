"""Every registered query must carry a DuckDB oracle and match it exactly
(row count + schema names + order-insensitive values) at sf0.001.
"""

from __future__ import annotations

import pytest

import __spark_entry__
from sqlrs_spark.registry import REGISTRY, all_specs
from tests.oracle import compare, register_duck_views

SPECS = all_specs()


@pytest.fixture(scope="module")
def duck_views(duck, sf_dir):
    register_duck_views(duck, sf_dir)
    return duck


@pytest.mark.parametrize("spec", list(SPECS.values()), ids=list(SPECS))
def test_oracle_parity(spec, spark, sf_dir, duck_views):
    df = spec.fn(spark, sf_dir)
    ok, msg = compare(df, duck_views, spec.oracle)
    assert ok, f"{spec.name}: {msg}"


def test_registry_nonempty():
    assert len(SPECS) >= 15


def test_every_entry_has_an_oracle():
    missing = [name for name, spec in SPECS.items() if not spec.oracle]
    assert not missing, f"registry entries without a DuckDB oracle: {missing}"


def test_spark_entry_contract(monkeypatch):
    """``__spark_entry__`` exposes the whole registry in registration order,
    and ``entry`` runs q01."""
    queries = __spark_entry__.queries()
    assert list(queries) == list(REGISTRY)
    assert all(queries[n] is s.fn for n, s in REGISTRY.items())
    assert set(__spark_entry__.oracle_sql()) == set(REGISTRY)
    monkeypatch.setattr(REGISTRY["q01_pricing_summary"], "fn", lambda spark, sf: "q01")
    assert __spark_entry__.entry(None) == "q01"
