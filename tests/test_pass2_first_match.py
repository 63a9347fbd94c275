"""Pass-2 first-match rules on hand-built inputs, checked against the
reference semantics the golden replays.

synonym_cache_table: per (name key, class) the FIRST qualifying cache entry
decides, even when its canonical_id is null — a later entry must not fill
that miss. accumulate_triples: the group's first row sets linguistic_trust
verbatim; a later row replaces it only on a strict confidence improvement
carrying a non-empty trust, so '' never overwrites a real trust."""

from __future__ import annotations

import json

from golden.medlit_pass2_golden import cache_lookup

from kgraph_spark.operators.medlit_pass2 import accumulate_triples, synonym_cache_table


def _entry(a: tuple, b: tuple, resolution="merged", confidence=0.9) -> dict:
    def side(s):
        name, cls, cid = s
        return {"name": name, "class": cls, "canonical_id": cid}

    return {"resolution": resolution, "confidence": confidence,
            "entity_a": side(a), "entity_b": side(b)}


CACHE = {
    # first match has a null id; the later match must NOT resolve it
    "aspirin": [
        _entry(("Aspirin", "Drug", None), ("acetylsalicylic acid", "Drug", "C1")),
        _entry(("aspirin", "Drug", "C2"), ("asa", "Drug", "C2")),
    ],
    # a non-merged and a low-confidence entry are skipped; the next decides
    "heparin": [
        _entry(("heparin", "Drug", "C3"), ("x", "Drug", "C3"), resolution="distinct"),
        _entry(("heparin", "Drug", "C4"), ("x", "Drug", "C4"), confidence=0.5),
        _entry(("x", "Drug", "C5"), ("Heparin", "Drug", "C5")),
    ],
    # classes decide independently; the Gene side's first match is empty
    "tnf": [
        _entry(("TNF", "Gene", ""), ("tnf", "Protein", "P9")),
        _entry(("tnf", "Gene", "G7"), ("other", "Gene", "G7")),
    ],
    # a name that never matches its key: no row
    "ghost": [_entry(("not ghost", "Drug", "C8"), ("also not", "Drug", "C8"))],
}


def test_synonym_cache_first_match_wins_even_when_null(spark, tmp_path):
    path = tmp_path / "cache.json"
    path.write_text(json.dumps(CACHE))
    got = {(r["name_key"], r["entity_class"]): r["cache_cid"]
           for r in synonym_cache_table(spark, str(path)).collect()}
    classes = {"Drug", "Gene", "Protein", "Disease"}
    for key in CACHE:
        for cls in classes:
            assert got.get((key, cls)) == (cache_lookup(CACHE, key, cls) or None), (key, cls)
    assert got == {("heparin", "Drug"): "C5", ("tnf", "Protein"): "P9"}


REL_SCHEMA = (
    "paper_id string, pos int, subject string, predicate string, object_id string, "
    "evidence_ids array<string>, source_papers array<string>, confidence double, "
    "linguistic_trust string"
)


def _trust(spark, rows: list[tuple[float, str | None]]) -> tuple[float, str | None]:
    """Fold one (subject, predicate, object) group whose rows come from
    papers p0, p1, ... in that order; return its (confidence, trust)."""
    papers = [f"p{i}" for i in range(len(rows))]
    rels = spark.createDataFrame(
        [(p, 0, "d", "TREATS", "s", [], [], c, t) for p, (c, t) in zip(papers, rows)],
        REL_SCHEMA,
    )
    entities = spark.createDataFrame(
        [(p, pos, lid, cls) for p in papers
         for pos, (lid, cls) in enumerate([("d", "Drug"), ("s", "Disease")])],
        "paper_id string, pos int, local_id string, entity_class string",
    )
    assignments = spark.createDataFrame(
        [(cls, "assign", p, lid, cid) for p in papers
         for lid, cls, cid in [("d", "Drug", "C1"), ("s", "Disease", "C2")]],
        "entity_class string, row_type string, a string, b string, cid string",
    )
    index = spark.createDataFrame([], "name_key string, entity_class string, cid string")
    out = accumulate_triples(spark, rels, entities, assignments, index).collect()
    assert [(r["subject"], r["object"]) for r in out] == [("C1", "C2")]
    return out[0]["confidence"], out[0]["linguistic_trust"]


def test_accumulate_empty_trust_does_not_replace(spark):
    assert _trust(spark, [(0.5, "high"), (0.9, "")]) == (0.9, "high")
    # the first row's trust is kept verbatim, even when empty
    assert _trust(spark, [(0.5, ""), (0.4, "low")]) == (0.5, "")
    # a strict improvement with a real trust still replaces it
    assert _trust(spark, [(0.5, ""), (0.9, None), (0.95, "medium")]) == (0.95, "medium")
