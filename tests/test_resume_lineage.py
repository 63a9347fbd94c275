"""I4 / north-rule resumability: kill mid-stage, rerun, the same bundle as
the one-shot run, committed shards not recomputed; lineage + metrics rows
recorded. The resumable run is the two halves the benchmark measures —
sharded extraction, then graph construction + bundle write — and nothing
else."""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import pytest

from kgraph_spark import synth
from kgraph_spark.lineage import checkpointed_pipeline, read_lineage, run_sharded_stage
from kgraph_spark.operators.export import write_bundle
from kgraph_spark.operators.mentions import extract_all
from kgraph_spark.pipeline import run_pipeline, run_pipeline_from_extracted

N_DOCS = 150


def triple_rows(df) -> set:
    return {(r["subject_id"], r["predicate"], r["object_id"], r["confidence"], r["evidence_count"])
            for r in df.collect()}


def test_kill_and_resume(spark, tmp_path):
    docs = synth.documents_df(spark, N_DOCS)
    gaz = synth.gazetteer_rows()
    workdir = str(tmp_path / "ckpt")
    out = str(tmp_path / "bundle")

    # killed run: simulate failure after 3 of 8 shards
    with pytest.raises(RuntimeError, match="simulated kill"):
        checkpointed_pipeline(spark, docs, gaz, workdir, out, n_shards=8, fail_after=3)
    assert not Path(out).exists()

    committed = sorted(
        int(p.name.split("=")[1])
        for p in (Path(workdir) / "extracted").glob("shard=*")
        if (p / "_SUCCESS").exists()
    )
    assert len(committed) == 3
    mtimes_before = {
        s: os.path.getmtime(Path(workdir) / "extracted" / f"shard={s}" / "_SUCCESS")
        for s in committed
    }

    time.sleep(1.1)
    # resume: completes remaining shards without touching committed ones
    manifest = checkpointed_pipeline(spark, docs, gaz, workdir, out, n_shards=8)
    for s, before in mtimes_before.items():
        after = os.path.getmtime(Path(workdir) / "extracted" / f"shard={s}" / "_SUCCESS")
        assert after == before, f"shard {s} was recomputed on resume"

    # the same four tables as the one-shot run, and the same triples
    plain = run_pipeline(spark, docs, gaz)
    one_shot = write_bundle(plain.tables, str(tmp_path / "one_shot"))
    assert sorted(manifest["counts"]) == ["entities", "evidence", "mentions", "relationships"]
    assert manifest["counts"] == one_shot["counts"]
    assert json.loads((Path(out) / "manifest.json").read_text())["counts"] == manifest["counts"]
    assert triple_rows(spark.read.parquet(out + "/relationships")) == triple_rows(plain.triples)
    plain.unpersist()
    # the workdir holds the committed extraction and the two tables only
    assert sorted(p.name for p in Path(workdir).iterdir()) == ["extracted", "lineage", "metrics"]

    # lineage: one committed row per shard; one metrics row, the bundle's
    lin = read_lineage(spark, workdir)
    rows = {(r["stage"], r["shard"]): r for r in lin.collect()}
    assert len(rows) == 8
    assert all(r["status"] == "committed" for r in rows.values())
    assert sum(r["n_input_docs"] for r in rows.values()) == N_DOCS
    metrics = spark.read.parquet(str(Path(workdir) / "metrics")).collect()
    assert {r["stage"] for r in metrics} == {"bundle"}
    assert [json.loads(r["counters_json"]) for r in metrics] == [manifest["counts"]]


def _bundle_files(out: str) -> dict:
    return {str(p): p.stat().st_mtime_ns for p in Path(out).rglob("*") if p.is_file()}


def test_rerun_is_idempotent(spark, tmp_path):
    """A rerun over the same committed shards and gazetteer returns the
    bundle's manifest without a Spark job or a rewritten file; a changed
    gazetteer rebuilds the bundle."""
    docs = synth.documents_df(spark, 60)
    gaz = synth.gazetteer_rows()
    workdir = str(tmp_path / "ckpt2")
    out = str(tmp_path / "bundle")
    sc = spark.sparkContext
    m1 = checkpointed_pipeline(spark, docs, gaz, workdir, out, n_shards=4)
    files = _bundle_files(out)
    try:
        sc.setJobGroup("rerun-finished", "checkpointed_pipeline rerun")
        m2 = checkpointed_pipeline(spark, docs, gaz, workdir, out, n_shards=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m2 == m1
    assert _settled_job_count(sc, "rerun-finished") == 0
    assert _bundle_files(out) == files
    assert spark.read.parquet(out + "/relationships").count() == m1["counts"]["relationships"]
    # second run added no lineage rows and no metrics row (nothing recomputed)
    assert read_lineage(spark, workdir).count() == 4
    assert spark.read.parquet(str(Path(workdir) / "metrics")).count() == 1

    changed = [(alias, cid, etype, round(conf - 0.01, 2)) for alias, cid, etype, conf in gaz]
    m3 = checkpointed_pipeline(spark, docs, changed, workdir, out, n_shards=4)
    assert m3["inputs"]["gazetteer"] != m1["inputs"]["gazetteer"]
    assert m3["inputs"]["extracted_lineage"] == m1["inputs"]["extracted_lineage"]
    # every table rewritten: its part files carry a new write's id
    parts = {k for k in _bundle_files(out) if "/part-" in k}
    assert parts and parts.isdisjoint(files)
    assert json.loads((Path(out) / "manifest.json").read_text()) == m3
    assert read_lineage(spark, workdir).count() == 4


def _settled_job_count(sc, group: str) -> int:
    """Jobs of a group, once the asynchronous status listener stops adding
    any."""
    n, deadline = -1, time.monotonic() + 10
    while time.monotonic() < deadline:
        time.sleep(0.5)
        m = len(sc.statusTracker().getJobIdsForGroup(group))
        if m == n:
            break
        n = m
    return n


def test_resume_is_the_two_halves(spark, tmp_path):
    """A checkpointed run launches exactly the Spark jobs of
    run_sharded_stage(extract_all) plus run_pipeline_from_extracted +
    write_bundle on the same input — no count, re-read or second write of
    its own — and leaves nothing cached."""
    docs = synth.documents_df(spark, 60)
    gaz = synth.gazetteer_rows()
    sc = spark.sparkContext
    try:
        sc.setJobGroup("resume-halves-extract", "run_sharded_stage")
        gb = sc.broadcast(gaz)
        extracted = run_sharded_stage(
            spark, "extracted", docs, lambda d: extract_all(d, gb), str(tmp_path / "a"),
            n_shards=4,
        )
        sc.setJobGroup("resume-halves-graph", "run_pipeline_from_extracted + write_bundle")
        res = run_pipeline_from_extracted(spark, extracted, gaz)
        halves = write_bundle(res.tables, str(tmp_path / "a_bundle"))
        res.unpersist()
        gb.destroy()

        n_cached = sc._jsc.getPersistentRDDs().size()
        sc.setJobGroup("resume-checkpointed", "checkpointed_pipeline")
        manifest = checkpointed_pipeline(
            spark, docs, gaz, str(tmp_path / "b"), str(tmp_path / "b_bundle"), n_shards=4
        )
        assert sc._jsc.getPersistentRDDs().size() == n_cached
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert manifest["counts"] == halves["counts"]
    n_extract = _settled_job_count(sc, "resume-halves-extract")
    n_graph = _settled_job_count(sc, "resume-halves-graph")
    assert n_extract >= 1 and n_graph >= 4
    assert _settled_job_count(sc, "resume-checkpointed") == n_extract + n_graph
