"""run_sharded_stage commits pending shards in waves, one Spark job each:
a failed wave leaves the earlier waves committed with their lineage rows,
a killed run's leftovers are removed, the lineage counts observed on the
write job match the committed data, and a run launches one job per wave."""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kgraph_spark import synth
from kgraph_spark.lineage import (
    LINEAGE_SCHEMA,
    _append_rows,
    read_lineage,
    run_sharded_stage,
    shard_col,
)
from kgraph_spark.operators.mentions import EXTRACTED_SCHEMA, extract_all

N_DOCS = 150
COLS = [c.strip().split(" ")[0] for c in EXTRACTED_SCHEMA.split(",")]


@pytest.fixture(scope="module")
def docs(spark):
    return synth.documents_df(spark, N_DOCS)


@pytest.fixture(scope="module")
def extract(spark):
    gaz = spark.sparkContext.broadcast(synth.gazetteer_rows())
    yield lambda d: extract_all(d, gaz)
    gaz.destroy()


def digest(df) -> tuple:
    """Row count and an order-free content hash of the extraction columns."""
    r = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*COLS).cast("decimal(38,0)"))
    ).first()
    return r[0], r[1]


def committed(stage_dir: Path) -> list[int]:
    return sorted(
        int(p.name.split("=")[1])
        for p in stage_dir.glob("shard=*")
        if (p / "_SUCCESS").exists()
    )


def lineage_by_shard(spark, workdir) -> dict[int, list]:
    rows: dict[int, list] = {}
    for r in read_lineage(spark, workdir).collect():
        rows.setdefault(r["shard"], []).append(r)
    return rows


def test_failed_wave_keeps_committed_waves_and_their_lineage(spark, tmp_path, docs, extract):
    workdir = str(tmp_path / "ckpt")
    stage_dir = Path(workdir) / "extracted"
    calls = []

    def dies_on_second_wave(d):
        calls.append(1)
        out = extract(d)
        if len(calls) == 2:  # the job fails while evaluating rows, like a killed executor
            out = out.withColumn("text", F.raise_error(F.lit("wave two died")))
        return out

    with pytest.raises(Exception, match="wave two died"):
        run_sharded_stage(spark, "extracted", docs, dies_on_second_wave, workdir, n_shards=8)
    assert committed(stage_dir) == [0, 1, 2, 3]
    rows = lineage_by_shard(spark, workdir)
    assert sorted(rows) == [0, 1, 2, 3]
    assert all(len(v) == 1 for v in rows.values())

    out = run_sharded_stage(spark, "extracted", docs, extract, workdir, n_shards=8)
    rows = lineage_by_shard(spark, workdir)
    assert sorted(rows) == list(range(8))
    assert all(len(v) == 1 for v in rows.values())
    assert sum(v[0]["n_input_docs"] for v in rows.values()) == N_DOCS
    assert digest(out) == digest(extract(docs))


def test_killed_run_leftovers_are_removed(spark, tmp_path, docs, extract):
    workdir = str(tmp_path / "ckpt")
    stage_dir = Path(workdir) / "extracted"
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_sharded_stage(spark, "extracted", docs, extract, workdir, n_shards=8, fail_after=3)
    assert committed(stage_dir) == [0, 1, 2]

    # what a kill mid-wave leaves: staged output, and a shard directory
    # whose rename landed but whose _SUCCESS did not
    part = next((stage_dir / "shard=0").glob("part-*.parquet"))
    for leftover in (stage_dir / "_staging-dead" / "shard=5", stage_dir / "shard=7"):
        leftover.mkdir(parents=True)
        shutil.copy(part, leftover / part.name)
    # reads skip the staging directory
    n_committed = sum(v[0]["n_output_rows"] for v in lineage_by_shard(spark, workdir).values())
    n_stale = spark.read.parquet(str(stage_dir / "shard=7")).count()
    assert spark.read.parquet(str(stage_dir)).count() == n_committed + n_stale

    # a rerun that stops before shard 7 still removes both leftovers
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_sharded_stage(spark, "extracted", docs, extract, workdir, n_shards=8, fail_after=1)
    assert committed(stage_dir) == [0, 1, 2, 3]
    assert sorted(p.name for p in stage_dir.iterdir()) == [f"shard={s}" for s in range(4)]
    n_committed = sum(v[0]["n_output_rows"] for v in lineage_by_shard(spark, workdir).values())
    assert spark.read.parquet(str(stage_dir)).count() == n_committed

    out = run_sharded_stage(spark, "extracted", docs, extract, workdir, n_shards=8)
    assert committed(stage_dir) == list(range(8))
    assert not list(stage_dir.glob("_staging-*"))
    assert digest(out) == digest(extract(docs))


def test_observed_counts_match_committed_data_with_empty_shards(spark, tmp_path, extract):
    docs = synth.documents_df(spark, 12)
    n_shards = 16  # more shards than docs: some commit no rows
    workdir = str(tmp_path / "ckpt")
    stage_dir = Path(workdir) / "extracted"
    out = run_sharded_stage(spark, "extracted", docs, extract, workdir, n_shards=n_shards)

    rows = lineage_by_shard(spark, workdir)
    assert sorted(rows) == list(range(n_shards))
    empty = []
    for s, (r,) in rows.items():
        n_docs = docs.filter(shard_col(F.col("doc_id"), n_shards) == s).count()
        assert r["n_input_docs"] == n_docs, s
        assert r["n_output_rows"] == spark.read.parquet(str(stage_dir / f"shard={s}")).count(), s
        if n_docs == 0:
            empty.append(s)
    assert empty
    assert committed(stage_dir) == list(range(n_shards))
    assert out.count() == sum(r["n_output_rows"] for (r,) in rows.values())
    assert digest(out) == digest(extract(docs))

    # a rerun skips every shard, the empty ones included
    markers = {p: os.path.getmtime(p) for p in stage_dir.glob("shard=*/_SUCCESS")}
    time.sleep(1.1)
    again = run_sharded_stage(spark, "extracted", docs, extract, workdir, n_shards=n_shards)
    assert {p: os.path.getmtime(p) for p in markers} == markers
    assert read_lineage(spark, workdir).count() == n_shards
    assert again.count() == out.count()


def test_all_empty_stage_is_readable(spark, tmp_path, docs, extract):
    out = run_sharded_stage(spark, "extracted", docs.limit(0), extract,
                            str(tmp_path / "ckpt"), n_shards=4)
    assert out.count() == 0
    assert out.drop("shard").schema == extract(docs).schema


def test_output_without_input_doc_id_is_rejected(spark, tmp_path, docs, extract):
    with pytest.raises(ValueError, match="must carry doc_id"):
        run_sharded_stage(spark, "extracted", docs, lambda d: extract(d).drop("doc_id"),
                          str(tmp_path / "a"), n_shards=4)

    # rows whose doc_id hashes outside the wave would be dropped with the
    # staging directory: the wave fails before publishing anything
    workdir = tmp_path / "b"
    with pytest.raises(ValueError, match="outside the shards"):
        run_sharded_stage(
            spark, "extracted", docs,
            lambda d: extract(d).withColumn("doc_id", F.concat("doc_id", F.lit("#"))),
            str(workdir), n_shards=8,
        )
    assert committed(workdir / "extracted") == []
    assert not (workdir / "lineage").exists()


def _jobs_in_group(sc, group: str, at_least: int) -> int:
    """Jobs of a group, once the asynchronous status listener has seen at
    least `at_least` of them and no more arrive."""
    deadline = time.monotonic() + 10
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    while n < at_least and time.monotonic() < deadline:
        time.sleep(0.05)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
    time.sleep(0.5)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_wave(spark, tmp_path, docs, extract):
    sc = spark.sparkContext
    workdir = tmp_path / "ckpt"
    try:
        sc.setJobGroup("sharded-stage-jobs", "run_sharded_stage")
        run_sharded_stage(spark, "extracted", docs, extract, str(workdir), n_shards=8)
        # two wave writes plus the schema listing of the returned read
        assert 2 <= _jobs_in_group(sc, "sharded-stage-jobs", at_least=2) <= 4

        sc.setJobGroup("append-rows-jobs", "_append_rows")
        _append_rows(workdir / "lineage", [("x", 0, 1, 1, 0.1, "committed", 0)], LINEAGE_SCHEMA)
        assert _jobs_in_group(sc, "append-rows-jobs", at_least=0) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert read_lineage(spark, str(workdir)).count() == 9
