"""Tests for sources (A1/A2/A4), embeddings+cache (I1), embedding resolve/
dedup (D3/D10/D11), promotion (E1–E3), caches (A8/A9), H2 query, B2/C1."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kgraph_spark.functions.embeddings import embed_with_cache, hash_embedding

JATS = """<article xmlns:xlink="http://www.w3.org/1999/xlink">
  <front><article-meta>
    <article-id pub-id-type="pmid">123</article-id>
    <article-id pub-id-type="doi">10.1/abc</article-id>
    <title-group><article-title>A  Title</article-title></title-group>
    <abstract><p>the abstract text.</p></abstract>
  </article-meta></front>
  <body>
    <sec><p>first body para.</p><graphic xlink:href="f1.png"/><p>second para.</p></sec>
  </body>
</article>"""


def test_jats_parse_roundtrip(spark):
    from kgraph_spark.sources.documents import parse_jats_xml, xml_documents

    d = parse_jats_xml(JATS)
    assert d["doc_id"] == "10.1/abc"  # doi preferred over pmid
    kinds = [s[0] for s in d["spans"]]
    assert kinds == ["text", "text", "media", "text"]
    offsets = [s[3] for s in d["spans"]]
    assert offsets == sorted(offsets) and len(set(offsets)) == len(offsets)

    df = spark.createDataFrame([(JATS,), ("<notxml",)], "raw string")
    out = xml_documents(df).collect()
    assert len(out) == 1 and out[0]["doc_id"] == "10.1/abc"


def test_json_paper_source(spark, tmp_path):
    from kgraph_spark.sources.documents import json_paper_documents

    p = tmp_path / "papers.jsonl"
    p.write_text(
        json.dumps({"paper_id": "P1", "abstract": "abs text",
                    "sections": [{"name": "s1", "text": "body one"}]}) + "\n"
        + json.dumps({"paper_id": "P2", "abstract": None, "sections": []}) + "\n"
    )
    out = {r["doc_id"]: [s["text"] for s in r["spans"]] for r in json_paper_documents(spark, str(p)).collect()}
    assert out == {"P1": ["abs text", "body one"]}


def test_bundle_filename_is_ground_truth(spark, tmp_path):
    from kgraph_spark.sources.documents import bundle_paper_id_from_filename

    f = tmp_path / "paper_PMC99.json"
    f.write_text(json.dumps({"paper": {"pmcid": "HALLUCINATED"}}))
    df = bundle_paper_id_from_filename(spark.read.json(str(tmp_path)))
    assert df.collect()[0]["paper_id"] == "PMC99"


# ---- I1 embeddings + cache ------------------------------------------------

def test_hash_embedding_deterministic_normalized():
    a = hash_embedding("Breast  Cancer")
    b = hash_embedding("breast cancer")  # normalization-invariant
    assert a == b
    assert abs(sum(x * x for x in a) - 1.0) < 1e-6


def test_embed_with_cache_only_computes_misses(spark):
    texts = spark.createDataFrame([("e1", "alpha"), ("e2", "beta")], "entity_id string, name string")
    cached_vec = [1.0] + [0.0] * 31
    cache = spark.createDataFrame([("e1", cached_vec)], "entity_id string, embedding array<float>")
    out = {r["entity_id"]: r["embedding"] for r in embed_with_cache(texts, cache).collect()}
    assert list(out["e1"]) == cached_vec              # hit: cache value, not recomputed
    assert [round(x, 6) for x in out["e2"]] == [round(x, 6) for x in hash_embedding("beta")]


# ---- E1–E3 promotion --------------------------------------------------------

def test_promote_and_rewrite(spark):
    from kgraph_spark.operators.promotion import promote_and_rewrite

    entities = spark.createDataFrame(
        [
            ("prov-x", "drug", "aspirin", "provisional", 0.9, 3, ["aspirin"], "d1", 3, ["d1"]),
            ("prov-y", "drug", "unknownium", "provisional", 0.5, 1, ["unknownium"], "d1", 1, ["d1"]),
            ("C1", "disease", "headache", "canonical", 1.0, 5, ["headache"], "d1", 5, ["d1"]),
        ],
        "entity_id string, entity_type string, name string, status string, confidence double, "
        "usage_count long, synonyms array<string>, first_seen_document string, "
        "total_mentions long, supporting_documents array<string>",
    )
    triples = spark.createDataFrame(
        [("prov-x", "treats", "C1", 0.9, ["d1"], 1)],
        "subject_id string, predicate string, object_id string, confidence double, "
        "source_documents array<string>, evidence_count long",
    )
    kb = spark.createDataFrame(
        [("RxNorm:11", "aspirin", "drug", ["acetylsalicylic acid"], None)],
        "canonical_id string, name string, entity_type string, synonyms array<string>, url string",
    )
    ents2, tri2, id_map = promote_and_rewrite(entities, triples, kb)
    m = {r["entity_id"]: r["final_id"] for r in id_map.collect()}
    assert m == {"prov-x": "RxNorm:11"}    # KB hit promoted to canonical id
    e = {r["entity_id"]: r["status"] for r in ents2.collect()}
    assert e["RxNorm:11"] == "canonical"
    assert e["prov-y"] == "provisional"    # below force threshold, no KB hit
    t = tri2.collect()
    assert len(t) == 1 and t[0]["subject_id"] == "RxNorm:11"  # E3 rewrite


# ---- A8/A9 caches ------------------------------------------------------------

def test_synonym_cache_lookup_and_idempotent_merge(spark):
    from kgraph_spark.sources.caches import (
        SYNONYM_CACHE_SCHEMA,
        negative_cache_filter,
        synonym_cache_lookup,
        synonym_cache_merge,
    )

    cache = spark.createDataFrame(
        [("tumor", "disease", "C7", 0.9, "merged", ["p1"])], SYNONYM_CACHE_SCHEMA
    )
    names = spark.createDataFrame(
        [("Tumour", "disease"), ("new thing", "drug")], "name string, entity_class string"
    )
    got = {r["name"]: r["cached_canonical_id"] for r in synonym_cache_lookup(names, cache).collect()}
    assert got == {"Tumour": "C7", "new thing": None}  # spelling-normalized hit

    new = spark.createDataFrame(
        [("tumor", "disease", "C7", 0.95, "automated", ["p2"])], SYNONYM_CACHE_SCHEMA
    )
    merged1 = synonym_cache_merge(cache, new)
    merged2 = synonym_cache_merge(merged1, new)  # idempotent
    assert sorted(map(tuple, merged1.collect())) == sorted(map(tuple, merged2.collect()))
    row = merged1.collect()[0]
    assert row["confidence"] == 0.95 and row["source_papers"] == ["p1", "p2"]

    bad = spark.createDataFrame([("new thing", "drug")], "name string, entity_class string")
    left = negative_cache_filter(names, bad, ["name", "entity_class"]).collect()
    assert [r["name"] for r in left] == ["Tumour"]


# ---- H2 query / B2 / C1 -------------------------------------------------------

def test_bfs_query_language(spark):
    """node_filter matches the REGISTERED entity type from the entities dim,
    not the id prefix — ids here deliberately carry misleading prefixes
    (HGNC:7 is a gene, prov-x is a drug)."""
    import pytest

    from kgraph_spark.operators.graph import run_bfs_query

    edges = spark.createDataFrame(
        [("HGNC:7", "treats", "prov-x"), ("prov-x", "co_occurs_with", "UMLS:3")],
        "subject_id string, predicate string, object_id string",
    )
    entities = spark.createDataFrame(
        [("HGNC:7", "gene"), ("prov-x", "drug"), ("UMLS:3", "disease")],
        "entity_id string, entity_type string",
    )
    nodes, sub = run_bfs_query(
        edges,
        {"seeds": ["HGNC:7"], "max_hops": 2, "directed": True,
         "node_filter": {"entity_types": ["gene", "drug"]},
         "edge_filter": {"predicates": ["treats"]}},
        entities=entities,
    )
    n = {r["entity_id"]: (r["hop"], r["is_full"]) for r in nodes.collect()}
    assert n == {"HGNC:7": (0, True), "prov-x": (1, True), "UMLS:3": (2, False)}
    assert [(r["subject_id"], r["object_id"]) for r in sub.collect()] == [("HGNC:7", "prov-x")]

    # a filter without the dimension must refuse, not guess from prefixes
    with pytest.raises(ValueError):
        run_bfs_query(edges, {"seeds": ["HGNC:7"], "max_hops": 1,
                              "node_filter": {"entity_types": ["gene"]}})


def test_extract_subgraph_truncation_and_confidence(spark):
    from kgraph_spark.operators.graph import extract_subgraph

    # star: S -> n0..n9 (conf 0.9), S -> weak (conf 0.2)
    rows = [("S", "r", f"n{i}", 0.9) for i in range(10)] + [("S", "r", "weak", 0.2)]
    edges = spark.createDataFrame(
        rows, "subject_id string, predicate string, object_id string, confidence double"
    )
    seeds = spark.createDataFrame([("S",)], "entity_id string")

    full = extract_subgraph(edges, seeds, max_hops=1, directed=True)
    assert not full.truncated
    assert full.nodes.count() == 12 and full.edges.count() == 11

    # min_confidence shapes topology (reference graph_traversal.py:337-338)
    conf = extract_subgraph(edges, seeds, max_hops=1, min_confidence=0.5, directed=True)
    got = {r["entity_id"] for r in conf.nodes.collect()}
    assert "weak" not in got and not conf.truncated

    # node cap → truncated flag + deterministic (hop, id) keep-set
    capped = extract_subgraph(edges, seeds, max_hops=1, max_nodes=5, directed=True)
    assert capped.truncated and capped.nodes.count() == 5
    kept = {r["entity_id"] for r in capped.nodes.collect()}
    assert "S" in kept  # seeds (hop 0) survive truncation first

    # edge cap → truncated flag
    ecap = extract_subgraph(edges, seeds, max_hops=1, max_edges=3, directed=True)
    assert ecap.truncated and ecap.edges.count() == 3


def test_chunk_spans_abstract_window_zero(spark):
    from kgraph_spark.operators.chunking import chunk_spans
    from kgraph_spark.schemas import DOCUMENTS

    doc = spark.createDataFrame(
        [("D1", [("text", "the abstract", None, 0),
                 ("media", "", "media://D1/0", 1),
                 ("text", "x" * 2000, None, 2)])],
        schema=DOCUMENTS,
    )
    chunks = sorted(chunk_spans(doc, window_size=1536, overlap=400).collect(),
                    key=lambda r: r["chunk_index"])
    assert chunks[0]["content"] == "the abstract" and chunks[0]["chunk_index"] == 0
    assert chunks[1]["chunk_index"] == 1 and len(chunks[1]["content"]) == 1536
    assert chunks[2]["start_offset"] == 1536 - 400


def test_mentions_from_metadata_filters(spark):
    from kgraph_spark.operators.mentions import mentions_from_metadata

    docs = spark.createDataFrame(
        [("d1", [("aspirin", "drug", "RxNorm:1"),
                 ("Disease", "disease", None),       # bare type label → drop
                 ("ab", "gene", None)])],            # too short → drop
        "doc_id string, entities array<struct<name string, entity_type string, canonical_id string>>",
    )
    out = mentions_from_metadata(docs).collect()
    assert len(out) == 1
    assert out[0]["text"] == "aspirin" and out[0]["canonical_id_hint"] == "RxNorm:1"
    assert out[0]["confidence"] == 0.9


def test_preferred_authoritative_id_per_class(spark):
    """D7 per-class merge-key election (reference dedup.py:96-121 +
    test_dedup.py authoritative-ID preference): genes prefer HGNC with
    UMLS→HGNC cross-lookup; other classes take the priority chain."""
    from kgraph_spark.operators.resolve import preferred_authoritative_id

    schema = ("eid string, entity_class string, canonical_id string, umls_id string, "
              "hgnc_id string, rxnorm_id string, uniprot_id string")
    rows = [
        # gene with both umls and hgnc → hgnc wins, bare digits formatted
        ("g1", "Gene", None, "C0017337", "1100", None, None),
        # gene with umls only → cross-lookup resolves to HGNC
        ("g2", "Gene", None, "C0079419", None, None, None),
        # gene with umls only, no cross-lookup row → umls itself
        ("g3", "Gene", None, "C0999999", None, None, None),
        # gene with nothing authoritative → null merge key (D5 fallback)
        ("g4", "Gene", None, None, None, None, None),
        # non-gene: canonical_id first
        ("d1", "Disease", "MeSH:D001", "C0006142", None, None, None),
        # non-gene: umls before rxnorm
        ("d2", "Drug", None, "C0004057", None, "1191", None),
        # non-gene: rxnorm when umls absent
        ("d3", "Drug", None, None, None, "1191", None),
        # whitespace-padded ids still classify (config twin strips)
        ("d4", "Disease", "  MeSH:D002  ", None, None, None, None),
    ]
    xl = spark.createDataFrame([("C0079419", "HGNC:11998")], "umls_id string, hgnc_id string")
    out = {
        r["eid"]: r["merge_key"]
        for r in preferred_authoritative_id(spark.createDataFrame(rows, schema), xl).collect()
    }
    assert out == {
        "g1": "HGNC:1100",
        "g2": "HGNC:11998",
        "g3": "C0999999",
        "g4": None,
        "d1": "MeSH:D001",
        "d2": "C0004057",
        "d3": "1191",
        "d4": "MeSH:D002",
    }
