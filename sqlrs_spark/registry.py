"""Query registry — single source of truth for every implemented operator.

Every implemented operator gets a named QuerySpec: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus the exact DuckDB oracle SQL its
output is diffed against.  ``__spark_entry__.py``, ``bench.py`` and the
pytest oracle suite all read from this registry; ``all_specs()`` returns
the entries in registration order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over views region/nation/.../embeddings
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    """Decorator: add a query callable to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, bench=bench, doc=fn.__doc__ or ""
        )
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    # import for side effect of registration
    import sqlrs_spark.operators.relational  # noqa: F401
    import sqlrs_spark.operators.analytics  # noqa: F401
    import sqlrs_spark.operators.analytics_deep  # noqa: F401
    import sqlrs_spark.operators.statements  # noqa: F401
    import sqlrs_spark.operators.extensions  # noqa: F401
    import sqlrs_spark.operators.dedup  # noqa: F401
    import sqlrs_spark.operators.sampling  # noqa: F401
    import sqlrs_spark.operators.temporal  # noqa: F401
    import sqlrs_spark.operators.similarity  # noqa: F401
    import sqlrs_spark.operators.rag  # noqa: F401
    import sqlrs_spark.operators.text  # noqa: F401
    import sqlrs_spark.operators.multimodal  # noqa: F401
    import sqlrs_spark.streaming.ops  # noqa: F401

    return REGISTRY
