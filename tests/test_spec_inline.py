"""validate_relations and symmetric_order inline the predicate spec as
expressions instead of joining it. Exhaustively, over every predicate of
PREDICATE_SPECS plus an unknown and a null predicate, and every
(subject_type, object_type) pair drawn from the spec's types plus a foreign
type, they must equal the golden twins (golden.validate_doc_relations over
golden._CONSTRAINTS, golden's SYMMETRIC_PREDICATES ordering) and the
broadcast-join form they replaced — swaps and F8 tie-breaks included."""

from __future__ import annotations

import itertools
import time

import pytest
from pyspark.sql import functions as F

from kgraph_spark.config import PREDICATE_SPECS, SYMMETRIC_PREDICATES
from kgraph_spark.golden import validate_doc_relations
from kgraph_spark.operators import relationships

PREDICATES = [p for (p, *_rest) in PREDICATE_SPECS] + ["zaps"]
TYPES = sorted({t for (_p, st, ot, *_r) in PREDICATE_SPECS for t in (st or []) + (ot or [])})
TYPES += ["foreign"]
RESOLVED = (
    "doc_id string, subject_text string, predicate string, object_text string, "
    "confidence double, para_idx int, evidence string, subject_id string, "
    "subject_type string, object_id string, object_type string"
)
OUT = ["doc_id", "subject_id", "predicate", "object_id", "confidence", "evidence"]


def _join_validate(resolved, spec):
    """The broadcast-join form of validate_relations the inlined one replaced."""
    r = resolved.filter(F.col("predicate") != "same_as").join(F.broadcast(spec), "predicate")

    def has(types, col):
        return F.col(types).isNull() | F.array_contains(F.col(types), F.col(col))

    valid_asis = has("subject_types", "subject_type") & has("object_types", "object_type")
    swap = ~valid_asis & has("subject_types", "object_type") & has("object_types", "subject_type")
    r = r.filter(valid_asis | swap).select(
        "doc_id", "predicate", "confidence", "evidence", "specificity",
        F.when(swap, F.col("object_id")).otherwise(F.col("subject_id")).alias("subject_id"),
        F.when(swap, F.col("subject_id")).otherwise(F.col("object_id")).alias("object_id"),
    )
    w = r.groupBy("doc_id", "subject_id", "object_id").agg(
        F.min(F.struct(
            (-F.col("specificity")).alias("nspec"), (-F.col("confidence")).alias("nconf"),
            "predicate", "evidence", "confidence",
        )).alias("_w")
    )
    return w.select(
        "doc_id", "subject_id", F.col("_w.predicate").alias("predicate"), "object_id",
        F.col("_w.confidence").alias("confidence"), F.col("_w.evidence").alias("evidence"),
    )


def _join_symmetric(triples, spec):
    """The broadcast-join form of symmetric_order the inlined one replaced."""
    t = triples.join(F.broadcast(spec.select("predicate", "symmetric")), "predicate", "left")
    sym = F.coalesce(F.col("symmetric"), F.lit(False))
    return t.select(
        *[c for c in triples.columns if c not in ("subject_id", "object_id")],
        F.when(sym, F.least("subject_id", "object_id")).otherwise(F.col("subject_id"))
        .alias("subject_id"),
        F.when(sym, F.greatest("subject_id", "object_id")).otherwise(F.col("object_id"))
        .alias("object_id"),
    )


@pytest.fixture(scope="module")
def spec(spark):
    return relationships.predicate_spec_df(spark)


def _rows(df) -> set:
    return {tuple(r[c] for c in OUT) for r in df.collect()}


def _resolved_rows():
    """One document per (subject_type, object_type) pair, holding every
    predicate between the same two endpoints: swaps land on the reversed
    pair, and the predicates valid as-is compete in F8. Confidences repeat
    across predicates (0.7 / 0.8) and evidence differs, so the tie-breaks
    past specificity are exercised."""
    rows = []
    for i, (st, ot) in enumerate(itertools.product(TYPES, TYPES)):
        for j, pred in enumerate(PREDICATES):
            rows.append((
                f"d{i}", "s", pred, "o", 0.7 + 0.1 * (j % 2), 0, f"ev{j % 3}",
                "S", st, "O", ot,
            ))
    return rows


def _golden(rows) -> set:
    cols = [c.split()[0] for c in RESOLVED.split(", ")]
    by_doc: dict[str, list[dict]] = {}
    for r in rows:
        d = dict(zip(cols, r))
        by_doc.setdefault(d["doc_id"], []).append(d)
    return {
        tuple(r[c] for c in OUT)
        for rels in by_doc.values()
        for r in validate_doc_relations(rels)
    }


def test_validate_matches_golden_and_join_form(spark, spec):
    rows = _resolved_rows()
    resolved = spark.createDataFrame(rows, RESOLVED)
    got = _rows(relationships.validate_relations(resolved, spec))
    assert got == _golden(rows)
    assert got == _rows(_join_validate(resolved, spec))
    # the grid reaches every branch: kept as-is, swapped (only swapped rows
    # compete on the reversed pair, so specificity-0 predicates win there),
    # and F8 winners from all three specificity levels
    assert {s for (_d, s, *_r) in got} == {"S", "O"}
    winners = {p for (_d, _s, p, *_r) in got}
    assert {"associated_with", "indicates"} <= winners
    assert winners - {"associated_with", "indicates"}


def test_validate_null_types_and_predicates_match_join_form(spark, spec):
    """Null endpoint types and a null predicate take the join form's
    three-valued path (a NULL membership blocks the swap)."""
    rows = [
        (f"n{i}", "s", pred, "o", 0.8, 0, "ev", "S", st, "O", ot)
        for i, (pred, st, ot) in enumerate(
            itertools.product(PREDICATES + [None], TYPES[:2] + [None], TYPES[:2] + [None])
        )
    ]
    resolved = spark.createDataFrame(rows, RESOLVED)
    assert _rows(relationships.validate_relations(resolved, spec)) == _rows(
        _join_validate(resolved, spec)
    )


def test_validate_without_evidence_column(spark, spec):
    rows = [r for r in _resolved_rows() if r[0] in ("d0", "d1", "d13")]
    resolved = spark.createDataFrame(rows, RESOLVED).drop("evidence")
    assert _rows(relationships.validate_relations(resolved, spec)) == _rows(
        _join_validate(resolved.withColumn("evidence", F.lit("")), spec)
    )


def test_symmetric_order_every_predicate(spark, spec):
    rows = [
        ("d", s, p, o, 0.9, "ev")
        for p in PREDICATES + [None]
        for s, o in (("B", "A"), ("A", "B"), ("C", "C"))
    ]
    triples = spark.createDataFrame(
        rows,
        "doc_id string, subject_id string, predicate string, object_id string, "
        "confidence double, evidence string",
    )
    out = relationships.symmetric_order(triples, spec)
    assert out.columns == triples.columns
    got = _rows(out)
    want = {
        (d, min(s, o), p, max(s, o), c, e) if p in SYMMETRIC_PREDICATES else (d, s, p, o, c, e)
        for (d, s, p, o, c, e) in rows
    }
    assert got == want
    assert got == _rows(_join_symmetric(triples, spec))


def test_spec_collect_launches_no_job(spark, spec):
    sc = spark.sparkContext
    group = "spec-inline-collect"
    sc.setJobGroup(group, "inline the predicate spec")
    try:
        triples = spark.createDataFrame(
            [("d", "B", "interacts_with", "A")],
            "doc_id string, subject_id string, predicate string, object_id string",
        )
        relationships.symmetric_order(triples, spec)
        relationships.validate_relations(
            spark.createDataFrame(_resolved_rows()[:3], RESOLVED), spec
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(1)  # the status tracker is fed by an asynchronous listener
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
