from __future__ import annotations

from kgraph_spark.operators.provenance import PAPER_META_SCHEMA, expand_provenance


def test_expand_provenance(spark):
    papers = spark.createDataFrame(
        [
            ("P1",
             [("Ada B Lovelace", "Analytical Engines Institute", "0abc"),
              ("Charles Babbage", "Analytical Engines Institute", None),
              ("", "x", None)],
             ["P2", "P3", ""]),
            ("P2", None, None),
        ],
        PAPER_META_SCHEMA,
    )
    triples = spark.createDataFrame(
        [("E1", "treats", "E9", 0.9, ["P1"], 3),
         ("E2", "causes", "E9", 0.9, ["P1"], 2),
         ("E3", "treats", "E9", 0.9, ["P1"], 1)],
        "subject_id string, predicate string, object_id string, confidence double, "
        "source_documents array<string>, evidence_count long",
    )
    out = {(r["subject_id"], r["predicate"], r["object_id"])
           for r in expand_provenance(papers, triples).collect()}
    assert ("Author:lovelace_a", "authored", "PAPER:P1") in out
    assert ("Author:babbage_c", "authored", "PAPER:P1") in out
    assert ("Author:lovelace_a", "affiliated_with", "ROR:0abc") in out
    assert ("Author:babbage_c", "affiliated_with",
            "Institution:analytical-engines-institute") in out
    assert ("PAPER:P1", "cites", "PAPER:P2") in out
    assert ("PAPER:P1", "cites", "PAPER:P3") in out
    # DESCRIBED: top-2 entities by per-doc relationship count
    assert ("PAPER:P1", "described", "E1") in out
    assert ("PAPER:P1", "described", "E2") in out
    assert ("PAPER:P1", "described", "E3") not in out
    # empty author name and empty cited id dropped
    assert not any(s.startswith("Author:_") for s, _p, _o in out)
    assert ("PAPER:P1", "cites", "PAPER:") not in out


def test_jsonl_bundle_byte_identical_across_runs(spark, tmp_path):
    """A6 JSONL bundle contract: two runs over the same input produce
    byte-identical .jsonl files; manifest carries counts + git commit."""
    import json

    from kgraph_spark import synth
    from kgraph_spark.operators.export import write_bundle_jsonl
    from kgraph_spark.pipeline import run_pipeline

    outs = []
    for run in ("a", "b"):
        res = run_pipeline(spark, synth.documents_df(spark, 60), synth.gazetteer_rows())
        d = tmp_path / run
        m = write_bundle_jsonl(res.tables, str(d))
        res.unpersist()
        outs.append((d, m))
    (da, ma), (db, mb) = outs
    for name in ("entities", "relationships", "mentions", "evidence"):
        ba = (da / f"{name}.jsonl").read_bytes()
        bb = (db / f"{name}.jsonl").read_bytes()
        assert ba == bb, f"{name}.jsonl differs between identical runs"
        assert ma["counts"][name] == mb["counts"][name] > 0
        # round-trips through a JSON reader with the same row count
        assert spark.read.json(str(da / f"{name}.jsonl")).count() == ma["counts"][name]
    man = json.loads((da / "manifest.json").read_text())
    assert man["git_commit"] not in ("", None)
    assert len(man["git_commit"]) in (7, 40) or man["git_commit"] == "unknown"


def test_jsonl_bundle_distributed_fallback_above_guard(spark, tmp_path):
    """A table above max_driver_rows must use the sorted distributed text
    write (no driver collect); concatenating its parts in filename order
    reproduces byte-for-byte what the driver-side path writes."""
    from kgraph_spark.operators.export import write_bundle_jsonl

    df = spark.createDataFrame(
        [(i, f"name-{i % 7}", None if i % 3 else "x") for i in range(200)],
        "id long, name string, flag string",
    ).repartition(8)

    small = tmp_path / "small"
    big = tmp_path / "big"
    m1 = write_bundle_jsonl({"t": df}, str(small))                      # driver path
    m2 = write_bundle_jsonl({"t": df}, str(big), max_driver_rows=50)    # fallback
    assert m1["formats"]["t"] == "jsonl" and m2["formats"]["t"] == "jsonl.d"
    assert m1["counts"]["t"] == m2["counts"]["t"] == 200
    assert not (big / "t.jsonl").exists()

    parts = sorted((big / "t.jsonl.d").glob("part-*"))
    assert len(parts) >= 1
    concat = b"".join(p.read_bytes() for p in parts)
    assert concat == (small / "t.jsonl").read_bytes()


def test_merge_upsert_semantics(spark):
    from pyspark.sql import functions as F

    from kgraph_spark.operators.export import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)], "id long, v string, version long"
    )
    upd = spark.createDataFrame(
        [(2, "B", 1, False), (3, "C", 1, True), (4, "d", 1, False)],
        "id long, v string, version long, is_deleted boolean",
    )
    got = {r["id"]: r["v"] for r in merge_upsert(base, upd, ["id"], "version", "is_deleted").collect()}
    # 1 untouched, 2 updated, 3 deleted, 4 inserted
    assert got == {1: "a", 2: "B", 4: "d"}


def test_merge_upsert_version_tie_updates_win(spark):
    from kgraph_spark.operators.export import merge_upsert

    base = spark.createDataFrame([(1, "old", 5)], "id long, v string, version long")
    upd = spark.createDataFrame([(1, "new", 5)], "id long, v string, version long")
    got = merge_upsert(base, upd, ["id"], "version").collect()
    assert got[0]["v"] == "new"  # same version: the update side wins


def test_merge_upsert_stale_update_loses(spark):
    import pytest

    from kgraph_spark.operators.export import merge_upsert

    base = spark.createDataFrame([(1, "cur", 7)], "id long, v string, version long")
    upd = spark.createDataFrame([(1, "stale", 3)], "id long, v string, version long")
    assert merge_upsert(base, upd, ["id"], "version").collect()[0]["v"] == "cur"
    with pytest.raises(ValueError):
        merge_upsert(base, upd.withColumn("extra", upd["v"]), ["id"], "version")
