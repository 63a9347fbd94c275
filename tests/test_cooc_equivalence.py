"""The two co-occurrence formulations (join-based operator form vs the
shuffle-minimal fast form used by the pipeline) must agree exactly."""

from __future__ import annotations

from kgraph_spark import synth
from kgraph_spark.config import PipelineConfig
from kgraph_spark.operators import resolve
from kgraph_spark.operators.mentions import (
    extract_all,
    presence_from_extracted,
    windows_from_extracted,
)
from kgraph_spark.operators.relationships import (
    cooccurrence_triples,
    cooccurrence_triples_fast,
)


def test_join_and_fast_cooccurrence_agree(spark):
    cfg = PipelineConfig()
    docs = synth.documents_df(spark, 150)
    gaz = synth.gazetteer_rows()
    gb = spark.sparkContext.broadcast(gaz)
    ai = resolve.alias_index_df(spark, gaz)
    ex = extract_all(docs, gb, cfg).persist()
    mm = resolve.resolve_mentions(presence_from_extracted(ex), ai)

    fast = {
        (r["doc_id"], r["subject_id"], r["object_id"]): round(r["confidence"], 9)
        for r in cooccurrence_triples_fast(mm, cfg).collect()
    }
    joined = {
        (r["doc_id"], r["subject_id"], r["object_id"]): round(r["confidence"], 9)
        for r in cooccurrence_triples(mm, windows_from_extracted(ex), cfg).collect()
    }
    assert fast == joined
    assert fast, "expected co-occurrence pairs"
    ex.unpersist()


def test_dict_encoded_pipeline_equals_string_pipeline(spark):
    """The pipeline's co_occurs_with rows (dictionary-encoded, fused F1+F10:
    8-byte codes through the accumulate shuffle) equal the per-doc
    string-pair oracle built directly from the same extraction:
    accumulate_triples(symmetric_order(cooccurrence_triples_fast(...)))."""
    from pyspark.sql import functions as F

    from kgraph_spark.operators.canonicalize import apply_merge
    from kgraph_spark.operators.relationships import (
        accumulate_triples,
        predicate_spec_df,
        symmetric_order,
    )
    from kgraph_spark.pipeline import run_pipeline_from_extracted

    cfg = PipelineConfig()
    docs = synth.documents_df(spark, 120)
    gaz = synth.gazetteer_rows()
    gb = spark.sparkContext.broadcast(gaz)
    ex = extract_all(docs, gb, cfg).persist()
    res = run_pipeline_from_extracted(spark, ex, gaz, cfg)

    presence = apply_merge(
        resolve.resolve_mentions(presence_from_extracted(ex), resolve.alias_index_df(spark, gaz)),
        res.merge_mapping,
        "entity_id",
    )
    oracle = accumulate_triples(
        symmetric_order(cooccurrence_triples_fast(presence, cfg), predicate_spec_df(spark)),
        cfg.max_source_documents,
    )

    def rows(df):
        return {
            (
                r["subject_id"], r["object_id"], round(r["confidence"], 9),
                tuple(r["source_documents"]), r["evidence_count"],
            )
            for r in df.filter(F.col("predicate") == "co_occurs_with").collect()
        }

    got = rows(res.triples)
    assert got == rows(oracle)
    assert got, "expected co-occurrence triples"
    res.unpersist()
    ex.unpersist()
