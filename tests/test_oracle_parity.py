"""Every registered query must carry a DuckDB oracle and match it exactly
(row count + schema names + order-insensitive values) at sf0.001, and its
plan must be free of red-flag nodes.
"""

from __future__ import annotations

import pytest

import __spark_entry__
from sqlrs_spark.plans import node_names, seq
from sqlrs_spark.registry import REGISTRY, all_specs
from sqlrs_spark.sources.tables import register_views
from tests.oracle import compare, register_duck_views

SPECS = all_specs()

#: Plan nodes that do not scale, each with the only entries allowed to
#: carry it: no cartesian products; Python evaluation only where the JVM
#: has no equivalent (NFC normalization); nested-loop joins only where one
#: broadcasts a small side (centroids, bands, 1-row aggregates, a cross
#: join), so a new one needs a reason to join this list.
RED_FLAGS = {
    "CartesianProduct": set(),
    "BatchEvalPython": set(),
    "ArrowEvalPython": {"t09_unicode_clean"},
    "BroadcastNestedLoopJoin": {
        "q10_cross_join",
        "q11_scalar_subquery",
        "q26_inactive_customers",
        "q29_important_parts",
        "p05_dedup_embedding",
        "p08_ann_ivf",
        "p15_ann_multiprobe",
        "p18_ann_ivf_kmeans",
        "p19_rag_prep",
        "p20_tfidf_terms",
        "p22_temperature_mix",
        "p26_semantic_dedup",
        "x13_range_join",
    },
}


_SINK = "a sink that writes by design"
_CSV = "a CSV source, whose header and types Spark infers with jobs"
_LOOP = "a driver loop: each round collects the last round's result"

#: Entries whose build (``spec.fn``) runs Spark jobs, each with its
#: reason.  Every other entry only plans its frame: loading a table reads
#: the schema from a footer, and a measured broadcast takes its bound from
#: footer row counts.  Jobs a streaming query runs carry that query's own
#: job group and are not counted here.
EAGER_BUILDS = {
    "v03_ddl_roundtrip": _SINK,
    "v04_csv_roundtrip": _CSV,
    "v06_ctas": _SINK,
    "v08_replacement_scan": _CSV,
    "v09_partitioned_sink": _SINK,
    "v10_jsonl_roundtrip": _SINK,
    "v11_partitioned_write": _SINK,
    "v12_orc_roundtrip": _SINK,
    "v13_schema_evolution": _SINK,
    "v14_gzip_jsonl_source": _SINK,
    "v15_corrupt_csv": _SINK,
    "x34_dynamic_partition_pruning": _SINK,
    "p34_incremental_agg": _SINK,
    "s08_stream_foreachbatch_sink": _SINK,
    "x26_bucketed_fact_join": "it writes the bucketed ETL's tables while it builds",
    "x30_observed_metrics": "it runs its observed plan to harvest the metrics",
    "p06_ann_bruteforce": "a bounded driver collect: the 10 query vectors",
    "p30_quality_budget_select": "a bounded driver collect: at most 1001 quality totals",
    "p37_domain_cap_select": "a bounded driver collect: per-(source, quality) totals",
    "p38_knn_graph": "a count of the corpus sizes the LSH cells",
    "p40_semantic_clusters": "a count of the corpus sizes the LSH cells",
    "s09_stream_stream_outer_join": "a bounded driver collect: the last view and click times",
    "s10_stream_session_window": "a bounded driver collect: the last event time",
    "p09_dedup_clusters": _LOOP,
    "p18_ann_ivf_kmeans": _LOOP,
    "p26_semantic_dedup": _LOOP,
}


#: Entries that change the session catalog by design, each with its
#: reason.  Every other entry leaves the caller's session as it found it:
#: the same tables and temp views, the same conf.
CATALOG_WRITERS = {
    "v03_ddl_roundtrip": "CREATE TABLE + INSERT: DDL by design",
    "v06_ctas": "CREATE TABLE AS SELECT: DDL by design",
    "x26_bucketed_fact_join": "it writes and registers the bucketed ETL's tables while it builds",
}


def jobs_run(spark, fn, group: str):
    """``(fn(), the number of Spark jobs fn ran)``, counted by job group
    around the whole call, so jobs started while a frame is built count
    as well as those of a collect."""
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)


def cache_is_empty(spark) -> bool:
    """No frame is persisted in ``spark``'s shared CacheManager."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def session_tables(spark) -> set[str]:
    """Tables and temp views the session catalog lists, without a job
    (``Catalog.listTables()`` runs one)."""
    catalog = spark._jsparkSession.sessionState().catalog()
    return {t.unquotedString() for t in seq(catalog.listTables("default"))}


def session_state(spark) -> tuple[set[str], dict[str, str]]:
    """What an entry may not change in the caller's session: its tables
    and temp views, and its conf."""
    return session_tables(spark), spark.conf.getAll


def red_flags(name: str, df) -> list[str]:
    """The red-flag nodes in ``df``'s plan that entry ``name`` may not carry."""
    names = set(node_names(df))
    return [f for f, allowed in RED_FLAGS.items() if f in names and name not in allowed]


@pytest.fixture(scope="module")
def duck_views(duck, sf_dir):
    register_duck_views(duck, sf_dir)
    return duck


@pytest.mark.parametrize("spec", list(SPECS.values()), ids=list(SPECS))
def test_oracle_parity(spec, spark, sf_dir, duck_views):
    # a frame an earlier test left cached is that test's leak, not this entry's
    assert cache_is_empty(spark), "cached state left by an earlier test on this session"
    before = session_state(spark)
    df, jobs = jobs_run(spark, lambda: spec.fn(spark, sf_dir), f"build {spec.name}")
    assert not jobs or spec.name in EAGER_BUILDS, f"{spec.name}: building ran {jobs} Spark jobs"
    flagged = red_flags(spec.name, df)
    assert not flagged, f"{spec.name}: red-flag plan nodes {flagged}"
    ok, msg = compare(df, duck_views, spec.oracle)
    assert ok, f"{spec.name}: {msg}"
    # no persisted frame outlives the query that built it
    assert cache_is_empty(spark), f"{spec.name}: left cached state behind"
    # operators return DataFrames: they bind their inputs as frames, never
    # as the caller's views, and set no conf
    if spec.name not in CATALOG_WRITERS:
        assert session_state(spark) == before, f"{spec.name}: changed the session's views or conf"


def test_register_views_runs_no_job(spark, sf_dir):
    # a session of its own: the views stay out of the shared session
    session = spark.newSession()
    _, jobs = jobs_run(session, lambda: register_views(session, sf_dir), "register_views")
    assert jobs == 0


def test_eager_builds_are_registered_entries():
    assert set(EAGER_BUILDS) <= set(SPECS)
    assert set(CATALOG_WRITERS) <= set(SPECS)


def test_materialized_result_collects_without_a_job(spark, sf_dir):
    # a sink round-trip's result comes back as an Arrow table, which
    # plans as a LocalTableScan
    df = SPECS["v09_partitioned_sink"].fn(spark, sf_dir)
    rows, jobs = jobs_run(spark, df.collect, "collect v09")
    assert rows and jobs == 0


def test_v14_reads_packed_gzip_shards(spark, sf_dir, duck_views):
    # with one minimum partition, Spark packs the small gzip shards into
    # fewer partitions than shards (as a 2-core session does on its own):
    # a shard is never split, so the shards only bound the partitions
    key = "spark.sql.files.minPartitionNum"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        spec = SPECS["v14_gzip_jsonl_source"]
        ok, msg = compare(spec.fn(spark, sf_dir), duck_views, spec.oracle)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert ok, msg


def test_streaming_result_sorts_without_a_sample(spark, sf_dir):
    # the drained sink's few rows sort in one partition: the scan and the
    # single-partition sort, 2 jobs; an orderBy's range exchange samples
    # them first, 3 jobs
    df = SPECS["s01_stream_tumbling"].fn(spark, sf_dir)
    rows, jobs = jobs_run(spark, df.collect, "collect s01")
    assert rows and jobs == 2


def test_registry_nonempty():
    assert len(SPECS) >= 15


def test_every_entry_has_an_oracle():
    missing = [name for name, spec in SPECS.items() if not spec.oracle]
    assert not missing, f"registry entries without a DuckDB oracle: {missing}"


def test_spark_entry_contract(monkeypatch, spark):
    """``__spark_entry__`` exposes the whole registry in registration order;
    each fn pins the session's runtime conf, then calls through to its
    entry; ``entry`` runs q01."""
    assert list(__spark_entry__.queries()) == list(REGISTRY)
    assert set(__spark_entry__.oracle_sql()) == set(REGISTRY)
    calls = []
    monkeypatch.setattr(
        REGISTRY["q01_pricing_summary"], "fn", lambda s, sf: calls.append((s, sf)) or "q01"
    )
    session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert __spark_entry__.queries()["q01_pricing_summary"](session, "sf") == "q01"
    assert calls == [(session, "sf")]
    assert session.conf.get("spark.sql.session.timeZone") == "UTC"
    assert __spark_entry__.entry(session) == "q01"
    assert len(calls) == 2 and calls[-1][0] is session


def test_red_flags_reach_into_cached_relations(spark):
    # no entry persists a frame any more, but a user-cached one must not
    # hide a cross join: the walk follows InMemoryTableScan into the
    # cached plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cached = spark.range(3).crossJoin(spark.range(4).withColumnRenamed("id", "j")).persist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    try:
        assert red_flags("q01_pricing_summary", cached.groupBy().count()) == ["CartesianProduct"]
    finally:
        cached.unpersist()

