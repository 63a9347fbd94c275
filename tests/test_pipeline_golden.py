"""End-to-end correctness gate: Spark pipeline vs the pure-Python golden
oracle on the deterministic synthetic corpus (BASELINE.json: triple-set
P/R ≥ 0.95; here we require exact agreement on a 300-doc corpus)."""

from __future__ import annotations

import pytest

from kgraph_spark import synth
from kgraph_spark.golden import run_golden, triple_prf
from kgraph_spark.pipeline import run_pipeline

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    docs_local = synth.generate_documents_local(N_DOCS)
    vocab = synth.build_vocabulary()
    docs_df = synth.documents_df(spark, N_DOCS)
    return docs_local, vocab, docs_df


@pytest.fixture(scope="module")
def golden(corpus):
    docs_local, vocab, _ = corpus
    return run_golden(docs_local, vocab["gazetteer"])


@pytest.fixture(scope="module")
def result(spark, corpus):
    _, _, docs_df = corpus
    return run_pipeline(spark, docs_df, synth.gazetteer_rows())


def test_distributed_generation_matches_local(corpus):
    docs_local, _, docs_df = corpus
    got = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in docs_df.collect()}
    want = {d["doc_id"]: [tuple(s) for s in d["spans"]] for d in docs_local}
    assert got == want


def test_triple_set_precision_recall(golden, result):
    got = {
        (r["subject_id"], r["predicate"], r["object_id"]): r
        for r in result.triples.collect()
    }
    want = golden["triples"]
    p, r, f = triple_prf(set(want), set(got))
    missing = sorted(set(want) - set(got))[:10]
    extra = sorted(set(got) - set(want))[:10]
    assert p >= 0.95 and r >= 0.95, (
        f"P={p:.4f} R={r:.4f} missing={missing} extra={extra}"
    )
    # exact agreement expected, not just ≥0.95
    assert p == 1.0 and r == 1.0, f"missing={missing} extra={extra}"


def test_triple_values_match(golden, result):
    got = {
        (r["subject_id"], r["predicate"], r["object_id"]): r
        for r in result.triples.collect()
    }
    n_quoted = 0
    for key, g in golden["triples"].items():
        row = got[key]
        assert abs(row["confidence"] - g["confidence"]) < 1e-9, (key, row, g)
        assert sorted(row["source_documents"]) == g["source_documents"], key
        assert row["evidence_count"] == g["evidence_count"], (key, row, g)
        # RelationshipRow evidence enrichment (kgbundle/models.py:59-61)
        assert row["strongest_evidence_quote"] == g["strongest_evidence_quote"], key
        if g["evidence_confidence_avg"] is None:
            assert row["evidence_confidence_avg"] is None, key
        else:
            n_quoted += 1
            assert abs(row["evidence_confidence_avg"] - g["evidence_confidence_avg"]) < 1e-9, key
    assert n_quoted > 0, "expected at least one quote-bearing triple"


def test_mentions_match(golden, result):
    got = {
        (r["doc_id"], r["text"].casefold(), r["entity_type"]): (
            r["start_offset"], r["end_offset"], r["confidence"], r["entity_id"], r["para_idx"],
        )
        for r in result.mentions.collect()
    }
    want = {}
    for did, ms in golden["mentions"].items():
        for m in ms:
            fid = golden["winner_of"].get(m["entity_id"], m["entity_id"])
            want[(did, m["text"].casefold(), m["entity_type"])] = (
                m["start_offset"], m["end_offset"], m["confidence"], fid, m["para_idx"],
            )
    assert got == want


def test_entities_match(golden, result):
    got = {r["entity_id"]: r for r in result.entities.collect()}
    assert set(got) == set(golden["entities"])
    for eid, g in golden["entities"].items():
        row = got[eid]
        assert row["usage_count"] == g["usage_count"], eid
        assert abs(row["confidence"] - g["confidence"]) < 1e-9, eid
        assert sorted(row["supporting_documents"]) == sorted(g["docs"]), eid
        assert row["status"] == g["status"], eid
        assert row["merged_into"] == g["merged_into"], eid


def test_unpersist_releases_only_what_the_pipeline_persisted(spark):
    """run_pipeline_from_extracted's caller owns the extraction frame:
    res.unpersist() must leave it cached. run_pipeline persists its own
    extraction and hands it back, so its unpersist() releases it."""
    from kgraph_spark.operators.mentions import extract_all
    from kgraph_spark.pipeline import run_pipeline_from_extracted

    docs = synth.documents_df(spark, 30)
    gaz = synth.gazetteer_rows()
    gb = spark.sparkContext.broadcast(gaz)
    frame = extract_all(docs, gb).persist()
    res = run_pipeline_from_extracted(spark, frame, gaz)
    res.unpersist()
    assert frame.is_cached
    assert res.extracted is None
    frame.unpersist()

    own = run_pipeline(spark, docs, gaz)
    assert own.extracted is not None and own.extracted.is_cached
    own.unpersist()
    assert not own.extracted.is_cached
