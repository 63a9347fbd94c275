"""Driver-built dimension tables are JVM local relations.

session.local_frame must be a drop-in for spark.createDataFrame(rows,
schema) — same schema (nullability included) and same rows — for the
schema of every driver-built table on a pipeline or job path, while its
plan is a LocalTableScan instead of a Python-RDD scan (`Scan ExistingRDD`),
whose every read forks Python workers. The graph-refresh path (committed
extraction table -> run_pipeline_from_extracted) must then carry no
Python-RDD scan in any bundle table."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from kgraph_spark import synth
from kgraph_spark.config import PREDICATE_SPECS
from kgraph_spark.operators import canonicalize
from kgraph_spark.operators.mentions import extract_all
from kgraph_spark.pipeline import run_pipeline_from_extracted
from kgraph_spark.schemas import PREDICATE_SPEC
from kgraph_spark.session import local_frame

MERGE_MAP = "entity_id string, final_id string"

# (schema, rows) for the schema of every converted call site; each row set
# mixes None in nullable columns, null and empty arrays, int/bool/long
# fields and non-ASCII strings as the schema allows
CASES = {
    "alias_index": (
        "norm_key string, entity_id string, entity_type string",
        [("café au lait", "C0001", "drug"), ("ß-blocker", None, "drug"), ("x", "prov-1", None)],
    ),
    "predicate_spec": (
        PREDICATE_SPEC,
        list(PREDICATE_SPECS)
        + [("naïve_pred", None, [], 2, True, False), ("übertrifft", [], None, -1, False, True)],
    ),
    "merge_mapping": (MERGE_MAP, [("prov-ä", "C0000001"), ("prov-b", None)]),
    "stage_metrics": (
        "stage string, group_key string, n long",
        [("résolve", None, 2**40), ("export", "g", 0)],
    ),
    "synonym_cache": (
        "name_key string, entity_class string, cache_cid string",
        [("anti-tnf α", "Drug", "C0000002"), ("x", None, None)],
    ),
    "pass2_constraints": (
        "pred_lower string, subj_types array<string>, obj_types array<string>",
        [("treats", ["drug", "procédure"], []), ("causes", None, ["disease"]), ("x", [], None)],
    ),
    "pass2_evidence": (
        "paper_id string, evidence_id string, text string",
        [("PMC1", "ev:1", "Tumour → metástasis 肿瘤"), ("PMC2", None, None)],
    ),
}


def _jvm_schema(df) -> T.StructType:
    return T.StructType.fromJson(json.loads(df._jdf.schema().json()))


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_dataframe(spark, case, empty):
    schema, rows = CASES[case]
    rows = [] if empty else rows
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    declared = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    # the declared nullability (PREDICATE_SPEC's non-null fields) survives
    assert got.schema == want.schema == declared
    assert _jvm_schema(got) == _jvm_schema(want) == declared
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)
    plan = _executed_plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.fixture(scope="module")
def refreshed(spark, tmp_path_factory):
    """The graph-refresh path: a committed extraction table (parquet) run
    through run_pipeline_from_extracted."""
    path = str(tmp_path_factory.mktemp("extracted") / "extracted")
    gaz = synth.gazetteer_rows()
    extract_all(synth.documents_df(spark, 120), spark.sparkContext.broadcast(gaz)).write.parquet(
        path
    )
    return run_pipeline_from_extracted(spark, spark.read.parquet(path), gaz)


@pytest.mark.parametrize("table", ["entities", "relationships", "mentions", "evidence"])
def test_bundle_tables_scan_no_python_rdd(refreshed, table):
    plan = _executed_plan(refreshed.tables[table])
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan


def test_merge_mapping_of_no_edges_is_empty_identity(spark):
    edges = local_frame(spark, [], "src string, dst string")
    mapping = canonicalize.merge_mapping(edges)
    assert mapping.schema == T.StructType.fromDDL(MERGE_MAP)
    assert mapping.count() == 0
    df = local_frame(
        spark, [("d1", "C0000001"), ("d2", "prov-a"), ("d3", None)], "doc_id string, entity_id string"
    )
    merged = canonicalize.apply_merge(df, mapping, "entity_id")
    assert merged.columns == df.columns
    assert sorted(merged.collect(), key=repr) == sorted(df.collect(), key=repr)
