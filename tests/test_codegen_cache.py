"""A warm graph refresh reuses the generated code of the previous one.

One pass of the graph layers compiles more distinct classes than Spark's
default generated-code cache holds (100), so with the default every rerun in
the same session recompiled most of them. session.get_spark sizes the cache
to the pipeline; this locks that in by counting Janino compilations."""

from __future__ import annotations

import pytest

from kgraph_spark import synth
from kgraph_spark.operators.export import write_bundle
from kgraph_spark.operators.mentions import extract_all
from kgraph_spark.pipeline import run_pipeline_from_extracted


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture
def aqe_off(spark):
    # the benchmark's configuration; with AQE on, a rerun may re-plan a stage
    # into a new shape and compile a few classes
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, before)


def test_warm_graph_refresh_compiles_no_classes(aqe_off, tmp_path):
    spark = aqe_off
    path = str(tmp_path / "extracted")
    gaz = synth.gazetteer_rows()
    extract_all(synth.documents_df(spark, 120), spark.sparkContext.broadcast(gaz)).write.parquet(
        path
    )

    def refresh(out: str) -> int:
        before = _compilations(spark)
        res = run_pipeline_from_extracted(spark, spark.read.parquet(path), gaz)
        write_bundle(res.tables, out)
        res.unpersist()
        return _compilations(spark) - before

    # the counter sees this session's compilations, so 0 below is a real count
    assert _compilations(spark) > 0
    refresh(str(tmp_path / "bundle-1"))
    assert refresh(str(tmp_path / "bundle-2")) == 0
