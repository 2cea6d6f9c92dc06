"""sqlrs_spark — a PySpark-native analytics engine.

Re-implements the capability surface of the reference engine (Fedomn/sqlrs,
an embedded Arrow/Rust OLAP engine — see SURVEY.md) as an idiomatic Spark
library: the logical plan is declared with the DataFrame / Spark SQL API and
Catalyst + Tungsten pick the physical strategy. On top of the reference's
relational surface it adds the operators a large-scale training-data
pipeline needs (dedup, similarity search, text analysis, multimodal
plumbing), all designed for 100 TB / multi-executor scale.

The package imports nothing, pyspark included: Python workers start from
``python -m sqlrs_spark.pyworker``, which must clean ``sys.path`` before
pyspark is first imported.  Import ``Session`` / ``build_spark`` from
``sqlrs_spark.session`` and ``ClientContext`` from
``sqlrs_spark.client_context``.
"""

__version__ = "0.1.0"
