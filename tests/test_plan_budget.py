"""Plan budget of a warm graph refresh: a committed extraction table read
back from parquet through run_pipeline_from_extracted + write_bundle, with
AQE off (the benchmark's configuration).

Every intermediate two branches read is computed once: the only extraction
scans left outside the persisted intermediates are the co-occurrence
branch's presence rows, the relation ('r') and mention ('m') rows are
scanned once per refresh, and the predicate spec is inlined as expressions,
so no plan joins it. The job count and the per-table exchange counts are
pinned: a change that adds a scan, a broadcast, a shuffle or a job has to
update this file and say why."""

from __future__ import annotations

import re
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kgraph_spark import synth
from kgraph_spark.config import PipelineConfig
from kgraph_spark.operators.canonicalize import merge_mapping
from kgraph_spark.operators.export import write_bundle
from kgraph_spark.operators.mentions import extract_all
from kgraph_spark.operators.relationships import same_as_edges
from kgraph_spark.pipeline import run_pipeline_from_extracted

# Spark jobs of one warm refresh at the test session's local[8] / 8 shuffle
# partitions (22 before the shared intermediates were persisted and the
# predicate spec inlined): the input's schema read, the merge-map collect
# (an alias-index broadcast and one collect job), then per table its
# broadcasts and its write job — entities 2 + 1, relationships 4 + 1,
# mentions 1, evidence 1
JOBS = 13
# per table, outside the persisted subtrees: (extraction scans, broadcast
# exchanges, shuffle exchanges)
BUDGET = {
    "entities": (0, 0, 2),
    "relationships": (2, 3, 6),
    "mentions": (0, 0, 0),
    "evidence": (0, 0, 0),
}


@pytest.fixture(scope="module")
def aqe_off(spark):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, before)


def _settled_job_count(sc, group: str) -> int:
    """Jobs of a group, once the asynchronous status listener stops adding
    any."""
    n, deadline = -1, time.monotonic() + 10
    while time.monotonic() < deadline:
        time.sleep(0.5)
        m = len(sc.statusTracker().getJobIdsForGroup(group))
        if m == n:
            break
        n = m
    return n


def _children(node):
    it = node.children().iterator()
    while it.hasNext():
        yield it.next()


def _walk(node, outside: Counter, scans: Counter, cached: dict) -> None:
    """Count exchanges and scans outside persisted subtrees into `outside`,
    and extraction scans by row kind over the whole plan into `scans`,
    entering each persisted subtree once (keyed in `cached`)."""
    name = node.getClass().getSimpleName()
    if name == "InMemoryTableScanExec":
        rel = node.relation()
        key = rel.cacheBuilder().cachedPlan().toString()
        if key not in cached:
            cached[key] = Counter()
            _walk(rel.cacheBuilder().cachedPlan(), cached[key], scans, cached)
        return
    outside[name] += 1
    if name == "FileSourceScanExec":
        kind = re.search(r"EqualTo\(kind,(\w+)\)", node.toString())
        scans[kind.group(1) if kind else None] += 1
    for child in _children(node):
        _walk(child, outside, scans, cached)


@pytest.fixture(scope="module")
def warm_refresh(aqe_off, tmp_path_factory):
    spark = aqe_off
    sc = spark.sparkContext
    root = tmp_path_factory.mktemp("plan_budget")
    gaz = synth.gazetteer_rows()
    extract_all(synth.documents_df(spark, 120), sc.broadcast(gaz)).write.parquet(
        str(root / "extracted")
    )

    def refresh(i: int):
        group = f"plan-budget-{i}"
        sc.setJobGroup(group, "graph refresh")
        try:
            res = run_pipeline_from_extracted(spark, spark.read.parquet(str(root / "extracted")), gaz)
            write_bundle(res.tables, str(root / f"bundle-{i}"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return res, _settled_job_count(sc, group)

    cold, _ = refresh(0)
    cold.unpersist()
    n_cached = sc._jsc.getPersistentRDDs().size()
    res, jobs = refresh(1)
    persisted = sc._jsc.getPersistentRDDs().size() - n_cached
    plans = {name: df._jdf.queryExecution().executedPlan() for name, df in res.tables.items()}
    yield res, jobs, persisted, plans
    res.unpersist()


def test_warm_refresh_job_count(warm_refresh):
    _res, jobs, _persisted, _plans = warm_refresh
    assert jobs == JOBS


@pytest.mark.parametrize("table", sorted(BUDGET))
def test_table_plan_budget(warm_refresh, table):
    _res, _jobs, _persisted, plans = warm_refresh
    outside, scans, cached = Counter(), Counter(), {}
    _walk(plans[table], outside, scans, cached)
    got = (
        outside["FileSourceScanExec"],
        outside["BroadcastExchangeExec"],
        outside["ShuffleExchangeExec"],
    )
    assert got == BUDGET[table], plans[table].toString()


def test_shared_intermediates_computed_once(warm_refresh):
    """Over all four tables, each persisted subtree entered once: the
    relation and mention rows are scanned once, the presence rows only by
    the co-occurrence branch, and the four persisted intermediates are
    resolved relations, merge map, merged mentions and validated
    relations."""
    res, _jobs, persisted, plans = warm_refresh
    outside, scans, cached = Counter(), Counter(), {}
    for plan in plans.values():
        _walk(plan, outside, scans, cached)
    assert scans == {"r": 1, "m": 1, "p": 2}
    assert persisted == len(res.persisted) == len(cached) == 4


def test_no_plan_joins_the_predicate_spec(warm_refresh):
    """The spec's columns appear in no table plan and no persisted plan."""
    _res, _jobs, _persisted, plans = warm_refresh
    cached = {}
    for plan in plans.values():
        _walk(plan, Counter(), Counter(), cached)
    for text in [plan.toString() for plan in plans.values()] + list(cached):
        assert "subject_types" not in text and "is_merge_signal" not in text, text


@pytest.mark.parametrize("aqe, jobs", [("false", 1), ("true", 2)])
def test_same_as_edge_collect_jobs(spark, aqe, jobs):
    """merge_mapping's driver probe over same_as_edges (a distinct over 8
    shuffle partitions of persisted relations) is one Spark job with AQE
    off, where a limit over the 8 partitions ran a take() loop of one job
    per round (three here); with AQE on the distinct's map stage is its
    own job, so two. With fewer edges than the threshold the driver builds
    the map as a local relation, so the probe is the only job; with more,
    the distributed loop gives the same map."""
    sc = spark.sparkContext
    ids = F.col("id")
    resolved = (
        spark.range(0, 40, numPartitions=8)
        .filter(ids % 2 == 0)
        .select(
            F.format_string("prov-%02d", ids).alias("subject_id"),
            F.lit("same_as").alias("predicate"),
            F.format_string("prov-%02d", ids + 1).alias("object_id"),
            F.lit(0.9).alias("confidence"),
        )
        .persist()
    )
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        resolved.count()
        edges = same_as_edges(resolved, PipelineConfig())
        group = f"same-as-collect-{aqe}"
        sc.setJobGroup(group, "SAME_AS edge collect")
        try:
            mapping = merge_mapping(edges)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert _settled_job_count(sc, group) == jobs
        local = sorted(tuple(r) for r in mapping.collect())
        assert local == [(f"prov-{i + 1:02d}", f"prov-{i:02d}") for i in range(0, 40, 2)]
        distributed = merge_mapping(edges, local_threshold=5)
        assert sorted(tuple(r) for r in distributed.collect()) == local
    finally:
        spark.conf.set(key, before)
        resolved.unpersist()
