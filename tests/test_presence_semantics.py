"""Co-occurrence presence must derive from RAW occurrences (reference
window-re-scan semantics, sherlock relationships.py:81-98), not from the
C5-deduped mentions table: an entity whose surface repeats across paragraphs
is present in every one of them.

Regression for the round-1 divergence where presence came from deduped
mentions (one para_idx per surface per document), silently undercounting
pairs and confidence on natural text."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgraph_spark.config import PipelineConfig
from kgraph_spark.golden import run_golden
from kgraph_spark.pipeline import run_pipeline


def _doc(doc_id: str, paras: list[str]) -> dict:
    return {
        "doc_id": doc_id,
        "spans": [("text", p, None, i) for i, p in enumerate(paras)],
    }


GAZ = [
    ("alpha", "MeSH:1", "disease", 1.0),
    ("beta", "MeSH:2", "drug", 1.0),
]

# alpha appears in para 0 AND para 6; beta only in para 6. With N=5 windows,
# the only window containing both is one covering para 6 — reachable only if
# alpha's para-6 occurrence counts (the C5 dedup keeps alpha at para 0).
PAD = "filler words to make this paragraph long enough for the window rule"
PARAS = [
    f"alpha {PAD}.",
    f"{PAD} one.",
    f"{PAD} two.",
    f"{PAD} three.",
    f"{PAD} four.",
    f"{PAD} five.",
    f"alpha beta {PAD}.",
]


def _spark_pairs(spark):
    docs = spark.createDataFrame(
        [(d["doc_id"], [(k, t, m, o) for (k, t, m, o) in d["spans"]]) for d in [_doc("d1", PARAS)]],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    res = run_pipeline(spark, docs, GAZ)
    rows = res.triples.filter(F.col("predicate") == "co_occurs_with").collect()
    res.unpersist()
    return {(r["subject_id"], r["object_id"]): r["confidence"] for r in rows}


def test_repeated_surface_counts_in_every_paragraph(spark):
    pairs = _spark_pairs(spark)
    assert ("MeSH:1", "MeSH:2") in pairs, (
        "alpha's para-6 occurrence must make the (alpha, beta) pair co-occur"
    )


def test_golden_agrees_on_presence(spark):
    from kgraph_spark.functions.extraction import GazetteerEntry

    g = run_golden([_doc("d1", PARAS)], [GazetteerEntry(*row) for row in GAZ])
    golden_pairs = {
        (s, o): v["confidence"]
        for (s, p, o), v in g["triples"].items()
        if p == "co_occurs_with"
    }
    assert golden_pairs == _spark_pairs(spark)
    assert ("MeSH:1", "MeSH:2") in golden_pairs


def test_window_count_reflects_occurrences(spark):
    # alpha in paras 0..6 (every para), beta in para 6 only → the pair
    # co-occurs in EVERY valid window containing para 6: windows j=2..6
    # exist only while j+N-1 <= 6 and j <= n-N → j in {0,1,2}; beta at
    # para 6 is inside windows j in {2}, so n=1... use para counts directly:
    paras = [f"alpha {PAD} {i}." for i in range(7)]
    paras[6] = f"alpha beta {PAD}."
    docs = [_doc("d2", paras)]
    from kgraph_spark.functions.extraction import GazetteerEntry

    g = run_golden(docs, [GazetteerEntry(*row) for row in GAZ])
    cfg = PipelineConfig()
    n_windows_with_beta = len([j for j in range(len(paras) - cfg.cooccur_window + 1)
                               if j <= 6 <= j + cfg.cooccur_window - 1])
    key = ("MeSH:1", "co_occurs_with", "MeSH:2")
    assert key in g["triples"]
    expected_conf = min(
        cfg.cooccur_max_conf,
        cfg.cooccur_base_conf + cfg.cooccur_step_conf * n_windows_with_beta,
    )
    assert abs(g["triples"][key]["confidence"] - expected_conf) < 1e-9


def test_merged_tombstone_lookup_by_old_id(spark):
    """D12 tombstones: a SAME_AS merge loser stays queryable with
    status='merged' and merged_into=winner (reference kgschema/entity.py:61-68
    — a user looking up an old entity id must not get nothing)."""
    gaz = [
        ("acme alpha", "MeSH:10", "disease", 1.0),
        ("acme beta", "MeSH:20", "disease", 1.0),
    ]
    paras = [
        f"acme alpha {PAD} one.",
        "Acme alpha is also known as acme beta.",
        f"acme beta {PAD} two.",
        f"{PAD} three.",
        f"{PAD} four.",
    ]
    res = run_pipeline(
        spark,
        spark.createDataFrame(
            [("d1", [("text", p, None, i) for i, p in enumerate(paras)])],
            "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
        ),
        gaz,
    )
    rows = {r["entity_id"]: r for r in res.entities.collect()}
    res.unpersist()
    # winner = lexicographically-smallest authoritative id (MeSH:10)
    assert rows["MeSH:10"]["status"] == "canonical"
    assert rows["MeSH:10"]["merged_into"] is None
    loser = rows["MeSH:20"]
    assert loser["status"] == "merged"
    assert loser["merged_into"] == "MeSH:10"
    assert loser["usage_count"] >= 1  # its own pre-merge mentions
