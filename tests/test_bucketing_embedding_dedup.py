from __future__ import annotations


def test_bucketed_triples_roundtrip_and_lookup(spark, tmp_path):
    from kgraph_spark.operators.export import write_bucketed_triples
    from kgraph_spark.operators.graph import get_by_subject

    # spark.sql.warehouse.dir is static; the session default (cwd/spark-warehouse)
    # receives the managed table, dropped at the end
    triples = spark.createDataFrame(
        [("A", "treats", "B", 0.9, ["d1"], 1), ("C", "causes", "B", 0.8, ["d2"], 1)],
        "subject_id string, predicate string, object_id string, confidence double, "
        "source_documents array<string>, evidence_count long",
    )
    write_bucketed_triples(triples, "triples_bucketed_test", buckets=4)
    back = spark.table("triples_bucketed_test")
    assert back.count() == 2
    got = get_by_subject(back, "A").collect()
    assert len(got) == 1 and got[0]["object_id"] == "B"
    spark.sql("DROP TABLE triples_bucketed_test")


def test_no_cross_join_in_any_embedding_pairing_plan(spark):
    """The similarity pairing must never be unblocked OR class-only: the
    self-join is keyed on an LSH bucket (classes grow with
    the corpus, buckets are bounded by similarity structure), so the
    physical plan has no CartesianProduct / BroadcastNestedLoopJoin and
    every equi-join key set includes the bucket column
    (the reference's own O(n²) warning, kgraph/ingest.py:877-880)."""
    from kgraph_spark.operators.similarity import blocked_pair_similarity

    v = [float(i) for i in range(8)]
    ents = spark.createDataFrame(
        [("prov-a", "drug", "provisional", v),
         ("prov-b", "disease", "provisional", v),
         ("RxNorm:1", "drug", "canonical", v)],
        "entity_id string, entity_type string, status string, embedding array<float>",
    )
    plan = blocked_pair_similarity(ents, 0.9)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "bucket#" in plan, plan  # the pairing join is LSH-bucket keyed


def test_banded_lsh_pairing_recall_at_088(spark):
    """Statistical recall check: pairs at cosine ≥ 0.88 survive the banded
    blocking with high probability (1-(1-p^4)^6 ≈ 0.985 at the threshold,
    higher above it) — build 40 planted near-duplicate pairs plus noise and
    require ≥ 90% of the above-threshold pairs to come back."""
    import math
    import random

    from kgraph_spark.operators.similarity import blocked_pair_similarity, cosine_col  # noqa: F401

    rng = random.Random(7)
    rows = []
    expected = set()
    dim = 16
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        # perturb by a small angle: cosine ~0.95-0.995
        eps = rng.uniform(0.1, 0.3)
        twin = [x + rng.gauss(0, eps) for x in base]
        na = math.sqrt(sum(x * x for x in base))
        nb = math.sqrt(sum(x * x for x in twin))
        cos = sum(a * b for a, b in zip(base, twin)) / (na * nb)
        ia, ib = f"e{i:03d}a", f"e{i:03d}b"
        rows.append((ia, "cls", base))
        rows.append((ib, "cls", twin))
        if cos >= 0.88:
            expected.add((ia, ib))
    for j in range(60):  # unrelated noise
        rows.append((f"n{j:03d}", "cls", [rng.gauss(0, 1) for _ in range(dim)]))
    ents = spark.createDataFrame(
        [(i, c, [float(x) for x in v]) for i, c, v in rows],
        "entity_id string, entity_type string, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in blocked_pair_similarity(ents, 0.88, dim=dim).collect()
    }
    found = expected & got
    assert len(expected) >= 20  # the fixture actually planted pairs
    assert len(found) / len(expected) >= 0.9, (len(found), len(expected))
