"""Tests for the F4/F5/F13 validation extras, C6 vocab pre-pass, D9
reconciliation and H3/H4 lookups."""

from __future__ import annotations

import pandas as pd

from kgraph_spark.operators.canonicalize import reconcile_by_name
from kgraph_spark.operators.validation_extra import (
    evidence_containment_filter,
    predicate_semantics_filter,
    repair_evidence_ids,
    vocab_prepass,
)


def test_evidence_containment(spark):
    rels = spark.createDataFrame(
        [("aspirin", "headache", "aspirin treats headache"),
         ("aspirin", "headache", "something unrelated"),
         ("aspirin", "headache", None)],
        "subject_norm string, object_norm string, evidence string",
    )
    out = evidence_containment_filter(rels).collect()
    assert len(out) == 1 and out[0]["evidence"] == "aspirin treats headache"


def test_predicate_semantics_polarity(spark):
    rels = spark.createDataFrame(
        [("treats", "drug failed to help and did not work"),      # only-negative → drop
         ("treats", "improved outcomes observed"),                 # positive → keep
         ("causes", "improved outcomes observed"),                 # only-positive causes → drop
         ("causes", "patients developed symptoms"),                # neutral → keep
         ("treats", "not effective but improved survival")],       # mixed → keep
        "predicate string, evidence string",
    )
    out = {(r["predicate"], r["evidence"]) for r in predicate_semantics_filter(rels).collect()}
    assert ("treats", "drug failed to help and did not work") not in out
    assert ("causes", "improved outcomes observed") not in out
    assert len(out) == 3


def test_repair_evidence_ids(spark):
    df = spark.createDataFrame(
        [("PMC1", "PMC_UNKNOWN:intro:0:llm"),
         ("PMC1", "==CURRENT_PAPER==:m:1:llm"),
         ("PMC1", "PMC999:r:2:llm"),      # wrong PMC id → repaired
         ("PMC1", "PMC1:d:3:llm"),        # correct → untouched
         ("PMC1", "10.1/abc:d:4:llm")],   # non-PMC id → untouched
        "doc_id string, evidence_id string",
    )
    out = [r["evidence_id"] for r in repair_evidence_ids(df).collect()]
    assert out == [
        "PMC1:intro:0:llm", "PMC1:m:1:llm", "PMC1:r:2:llm", "PMC1:d:3:llm", "10.1/abc:d:4:llm",
    ]


def test_vocab_prepass(spark):
    m = spark.createDataFrame(
        [("d1", "Aspirin", "drug", 1.0), ("d2", "aspirin", "drug", 0.8),
         ("d1", "BRCA1", "gene", 1.0)],
        "doc_id string, text string, entity_type string, confidence double",
    )
    out = {(r["norm_name"], r["entity_type"]): (r["doc_frequency"], r["total_mentions"], r["max_confidence"])
           for r in vocab_prepass(m).collect()}
    assert out[("aspirin", "drug")] == (2, 2, 1.0)
    assert out[("brca1", "gene")] == (1, 1, 1.0)


def test_reconcile_by_name(spark):
    ents = spark.createDataFrame(
        [("prov-b", "drug", "aspirin"),
         ("RxNorm:1", "drug", "Aspirin"),     # same norm name+class → merge, auth wins
         ("prov-z", "disease", "aspirin")],   # different class → untouched
        "entity_id string, entity_type string, name string",
    )
    m = {r["entity_id"]: r["final_id"] for r in reconcile_by_name(ents).collect()}
    assert m == {"prov-b": "RxNorm:1"}


def test_entity_lookups(spark):
    from kgraph_spark.operators.graph import find_by_triple, find_entities, get_by_subject

    ents = spark.createDataFrame(
        [("E1", "drug", "Aspirin", ["acetylsalicylic acid"]),
         ("E2", "drug", "Olaparib", []),
         ("E3", "disease", "aspirin allergy", [])],
        "entity_id string, entity_type string, name string, synonyms array<string>",
    )
    assert {r["entity_id"] for r in find_entities(ents, "aspirin").collect()} == {"E1", "E3"}
    assert {r["entity_id"] for r in find_entities(ents, "aspirin", "drug").collect()} == {"E1"}
    assert {r["entity_id"] for r in find_entities(ents, "salicylic").collect()} == {"E1"}

    edges = spark.createDataFrame(
        [("E1", "treats", "E3")], "subject_id string, predicate string, object_id string"
    )
    assert get_by_subject(edges, "E1").count() == 1
    assert find_by_triple(edges, "E1", "treats", "E3").count() == 1
    assert find_by_triple(edges, "E1", "causes", "E3").count() == 0


def test_entity_search_alias_index(spark):
    """H3 scale path (r3 verdict item 7): with the exploded alias index the
    substring predicate must run on the narrow index and reach entities by
    LeftSemi — no Contains filter against the wide entities columns — and
    results must equal the scan path exactly."""
    from conftest import plan_text
    from kgraph_spark.operators.graph import entity_alias_index, find_entities

    ents = spark.createDataFrame(
        [("E1", "drug", "Aspirin", ["acetylsalicylic acid"]),
         ("E2", "drug", "Olaparib", None),
         ("E3", "disease", "aspirin allergy", [])],
        "entity_id string, entity_type string, name string, synonyms array<string>",
    )
    idx = entity_alias_index(ents)
    assert {(r["alias_lc"], r["entity_id"]) for r in idx.collect()} == {
        ("aspirin", "E1"), ("acetylsalicylic acid", "E1"),
        ("olaparib", "E2"), ("aspirin allergy", "E3"),
    }
    for needle, etype in [("aspirin", None), ("aspirin", "drug"), ("salicylic", None),
                          ("zzz", None)]:
        scan = {r["entity_id"] for r in find_entities(ents, needle, etype).collect()}
        indexed = find_entities(ents, needle, etype, alias_index=idx)
        assert {r["entity_id"] for r in indexed.collect()} == scan, needle

    plan = plan_text(find_entities(ents, "aspirin", alias_index=idx))
    assert "LeftSemi" in plan
    # the substring predicate touches alias_lc only — the wide columns
    # (name/synonyms) appear in no Contains condition
    assert "Contains" in plan
    for line in plan.splitlines():
        if "Contains" in line:
            assert "name" not in line and "synonyms" not in line, line


def test_evidence_containment_semantic_fallback(spark):
    """A paraphrased quote (no substring match) passes ONLY via the semantic
    path; substring rows never touch the embedding seam; unrelated quotes
    still drop. Injects a toy encoder where the paraphrase embeds parallel
    to both endpoint names (a real encoder's behavior the deterministic
    hash embedding deliberately lacks)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kgraph_spark.operators.validation_extra import (
        evidence_containment_semantic_filter,
    )

    # toy semantic space: paraphrase + both endpoint names share direction
    vecs = {
        "aspirin": [1.0, 0.0],
        "headache": [0.9, 0.1],
        "the analgesic relieved cranial pain": [0.95, 0.05],
        "stock prices rose sharply": [0.0, 1.0],
        # near 'headache' — would pass the object semantically if consulted
        "aspirin relieved the discomfort": [0.9, 0.1],
        # empty evidence must reject BEFORE the encoder is consulted, even
        # though this encoder would pass it (reference 'evidence_empty')
        "": [0.95, 0.05],
    }

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def toy_embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: vecs.get(t, [0.0, -1.0]))

    rels = spark.createDataFrame(
        [("r1", "aspirin", "headache", "aspirin treats headache"),      # substring path
         ("r2", "aspirin", "headache", "the analgesic relieved cranial pain"),  # semantic only
         ("r3", "aspirin", "headache", "stock prices rose sharply"),    # fails both
         ("r4", "aspirin", "headache", None),                           # no evidence
         # exactly ONE endpoint string-matches → reference early exit
         # (relationships.py:747-750): dropped WITHOUT consulting semantics,
         # even though the toy encoder would pass the other endpoint
         ("r5", "aspirin", "headache", "aspirin relieved the discomfort"),
         ("r6", "aspirin", "headache", "")],                            # empty quote
        "rel_id string, subject_norm string, object_norm string, evidence string",
    )
    kept = {r["rel_id"] for r in
            evidence_containment_semantic_filter(rels, 0.5, embed_fn=toy_embed).collect()}
    assert kept == {"r1", "r2"}

    # with the default hash embedding (identity, not semantics) the
    # paraphrase does NOT sneak through — the substring contract is intact
    from kgraph_spark.operators.validation_extra import evidence_containment_filter

    strict = {r["rel_id"] for r in evidence_containment_filter(rels).collect()}
    default_sem = {r["rel_id"] for r in
                   evidence_containment_semantic_filter(rels).collect()}
    assert strict == {"r1"}
    assert default_sem == {"r1"}


def test_evidence_marker_disease_context_rescue(spark):
    """The marker-disease fallback (reference relationships.py:765-774):
    an indicates/disease row whose quote names the marker (semantically)
    and carries disease-context words is rescued IF the disease name
    appears in the full document content; non-marker predicates and
    missing-context quotes stay dropped."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kgraph_spark.operators.validation_extra import (
        evidence_containment_semantic_filter,
    )

    vecs = {
        "her2": [1.0, 0.0],
        "breast cancer": [0.0, 1.0],
        # quote embeds near the marker only
        "strong ihc staining was observed for the receptor": [0.95, 0.05],
        "the receptor was mentioned in passing": [0.95, 0.05],
    }

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def toy_embed(texts):
        return texts.map(lambda t: vecs.get(t, [-1.0, 0.0]))

    rels = spark.createDataFrame(
        [("r1", "d1", "her2", "breast cancer", "indicates", "disease",
          "strong ihc staining was observed for the receptor"),   # rescued
         ("r2", "d2", "her2", "breast cancer", "indicates", "disease",
          "strong ihc staining was observed for the receptor"),   # disease NOT in doc → drop
         ("r3", "d1", "her2", "breast cancer", "treats", "disease",
          "strong ihc staining was observed for the receptor"),   # wrong predicate → drop
         ("r4", "d1", "her2", "breast cancer", "indicates", "disease",
          "the receptor was mentioned in passing")],              # no context word → drop
        "rel_id string, doc_id string, subject_norm string, object_norm string, "
        "predicate string, object_type string, evidence string",
    )
    docs = spark.createDataFrame(
        [("d1", "patients with breast cancer showed HER2 overexpression"),
         ("d2", "a completely unrelated document")],
        "doc_id string, content string",
    )
    kept = {r["rel_id"] for r in evidence_containment_semantic_filter(
        rels, 0.5, embed_fn=toy_embed, documents=docs).collect()}
    assert kept == {"r1"}

    # without the documents dimension the rescue is unavailable (reference
    # with no window context): everything here fails containment
    no_docs = {r["rel_id"] for r in evidence_containment_semantic_filter(
        rels, 0.5, embed_fn=toy_embed).collect()}
    assert no_docs == set()
