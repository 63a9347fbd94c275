"""Checkpointed stage execution with per-partition lineage + metrics
(SURVEY.md §2 I4; north_rule: "every stage checkpoints per-partition
progress and lineage/metric rows ... so a killed job resumes without
recomputation").

The reference resumes per paper via skip-if-exists on immutable bundle
files with atomic write-then-rename (examples/medlit/scripts/extract.py:357-359,
CONCURRENCY.md:96-120). The Spark restatement:

  * a stage's input is sharded by a deterministic hash of doc_id
    (pmod(xxhash64(doc_id), n_shards)) — any executor layout produces the
    same shard membership;
  * pending shards run in waves of MAX_CONCURRENT: one Spark job per
    wave scans the documents once, keeps the wave's shards and writes the
    stage output partitioned by shard into a hidden staging directory;
  * each shard of the wave is then published by a directory rename and a
    _SUCCESS marker, the commit record — locally parquet stands in for an
    Iceberg snapshot commit;
  * resume = skip shards whose commit marker exists — the anti-join on
    committed work, generalized. A kill loses at most one wave of work;
  * every shard appends a lineage row (stage, shard, docs, rows, seconds,
    status) as soon as its wave is published, and every checkpointed run
    a metrics row — both are append-only tables written on the driver.

checkpointed_pipeline is the resumable form of the one-shot run: the
sharded extraction above, then the same graph construction and bundle
write (pipeline.run_pipeline_from_extracted + export.write_bundle). Under
its workdir it leaves `extracted/shard=<s>/` (the committed extraction),
`lineage/` and `metrics/`; the four bundle tables and manifest.json go to
its out_dir. The manifest records the digests of the inputs it was built
from, so a rerun over the same committed shards and gazetteer returns it
without building the graph again.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
import uuid
from pathlib import Path
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

LINEAGE_SCHEMA = pa.schema([
    ("stage", pa.string()), ("shard", pa.int32()), ("n_input_docs", pa.int64()),
    ("n_output_rows", pa.int64()), ("seconds", pa.float64()), ("status", pa.string()),
    ("finished_at_unix", pa.int64()),
])
METRICS_SCHEMA = pa.schema([
    ("stage", pa.string()), ("counters_json", pa.string()), ("finished_at_unix", pa.int64()),
])
# shards per wave: each wave is one Spark job, and a kill loses at most one wave
MAX_CONCURRENT = 4


def shard_col(doc_id_col, n_shards: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_shards)).cast("int")


def _append_rows(path: Path, rows: list[tuple], schema: pa.Schema) -> None:
    """Append rows as one parquet file, written on the driver (no Spark job)
    under a dot-name that readers skip, then renamed into place."""
    path.mkdir(parents=True, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
    pq.write_table(table, path / f".{name}")
    (path / f".{name}").rename(path / name)


def _observe_shards(df: DataFrame, shard: Column, wave: list[int]) -> tuple[DataFrame, Observation]:
    """Per-shard row counts of `df`, and of its rows outside the wave, taken
    by the job that consumes it."""
    obs = Observation()
    counts = [F.sum((shard == s).cast("long")).alias(str(s)) for s in wave]
    stray = F.sum((~shard.isin(wave)).cast("long")).alias("stray")
    return df.observe(obs, *counts, stray), obs


def _pending_shards(out_root: Path, n_shards: int) -> list[int]:
    """Shards without a commit marker."""
    return [s for s in range(n_shards) if not (out_root / f"shard={s}" / "_SUCCESS").exists()]


def _remove_leftovers(out_root: Path) -> None:
    """A killed run leaves staging directories and shard directories without
    a commit marker; neither is committed work."""
    for p in out_root.iterdir():
        staged = p.name.startswith("_staging-")
        uncommitted = p.name.startswith("shard=") and not (p / "_SUCCESS").exists()
        if p.is_dir() and (staged or uncommitted):
            shutil.rmtree(p)


def _run_wave(stage: str, docs: DataFrame, fn: Callable[[DataFrame], DataFrame],
              out_root: Path, n_shards: int, wave: list[int]) -> list[tuple]:
    """Run `fn` over one wave of shards and commit them, in one Spark job;
    returns the wave's lineage rows."""
    t0 = time.time()
    shard = shard_col(F.col("doc_id"), n_shards)
    wave_docs, seen_in = _observe_shards(docs.filter(shard.isin(wave)), shard, wave)
    out = fn(wave_docs)
    if "doc_id" not in out.columns:
        raise ValueError(
            f"stage {stage!r}: the stage function's output must carry doc_id "
            f"(columns: {out.columns})"
        )
    schema = out.schema
    out, seen_out = _observe_shards(out.withColumn("shard", shard), F.col("shard"), wave)
    staging = out_root / f"_staging-{uuid.uuid4().hex}"
    out.write.partitionBy("shard").parquet(str(staging))
    n_in, n_out = seen_in.get, seen_out.get
    if n_out["stray"]:
        raise ValueError(
            f"stage {stage!r}: {n_out['stray']} output rows carry a doc_id outside "
            "the shards of their input"
        )

    for s in wave:
        dst = out_root / f"shard={s}"
        shutil.rmtree(dst, ignore_errors=True)
        staged = staging / f"shard={s}"
        if staged.exists():
            staged.rename(dst)
        else:  # no output rows: a schema-only file keeps even an all-empty stage readable
            dst.mkdir()
            pq.write_table(to_arrow_schema(schema).empty_table(), dst / "part-empty.parquet")
        (dst / "_SUCCESS").touch()
    shutil.rmtree(staging)
    seconds, finished = round(time.time() - t0, 3), int(time.time())
    return [
        (stage, s, n_in[str(s)] or 0, n_out[str(s)] or 0, seconds, "committed", finished)
        for s in wave
    ]


def run_sharded_stage(
    spark: SparkSession,
    stage: str,
    docs: DataFrame,
    fn: Callable[[DataFrame], DataFrame],
    workdir: str,
    n_shards: int = 8,
    fail_after: int | None = None,
) -> DataFrame:
    """Run `fn` over doc shards with skip-if-committed resume.

    fn: pure transform documents → stage output. Its output must carry the
    doc_id of the document each row came from: the output's shard is
    recomputed from it (ValueError otherwise). Determinism is guaranteed by
    the content-hashed ID scheme.
    fail_after: test hook — raise once N shards of this run are committed,
    after their lineage rows are appended, to simulate a killed job.

    Pending shards commit in waves of MAX_CONCURRENT, each wave ONE Spark
    job: it scans the documents once, keeps the wave's shards, runs `fn`
    and writes partitioned by shard into a hidden `_staging-<uuid>`
    directory. The job also takes each shard's input docs and output rows
    as observed metrics, so no separate count job runs. Each shard of the
    wave is then published (stale directory removed, staged directory
    renamed into place, _SUCCESS touched; a shard with no output rows gets
    a schema-only file) and the wave's lineage rows are appended before the
    next wave starts. A kill therefore loses at most MAX_CONCURRENT
    shards of work, and the lineage rows of at most the wave it interrupts
    mid-publish. A lineage row's `seconds` is its wave's time. Leftovers of
    a killed run (staging directories, shard directories without _SUCCESS)
    are removed first. At real scale each shard publish is an Iceberg
    snapshot commit.

    Returns the stage output DataFrame (reading all committed shards)."""
    out_root = Path(workdir) / stage
    out_root.mkdir(parents=True, exist_ok=True)
    _remove_leftovers(out_root)
    pending = _pending_shards(out_root, n_shards)  # resume = skip-if-exists (I4)
    todo = pending if fail_after is None else pending[:fail_after]
    for i in range(0, len(todo), MAX_CONCURRENT):
        rows = _run_wave(stage, docs, fn, out_root, n_shards, todo[i:i + MAX_CONCURRENT])
        _append_rows(Path(workdir) / "lineage", rows, LINEAGE_SCHEMA)
    if len(todo) < len(pending):
        raise RuntimeError(f"simulated kill after {len(todo)} shards")
    return spark.read.parquet(str(out_root))


def write_stage_metrics(workdir: str, stage: str, counters: dict) -> None:
    """G3 stage statistics row → append-only metrics table."""
    _append_rows(
        Path(workdir) / "metrics",
        [(stage, json.dumps(counters, sort_keys=True), int(time.time()))],
        METRICS_SCHEMA,
    )


def read_lineage(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.parquet(str(Path(workdir) / "lineage"))


def _bundle_inputs(workdir: str, stage: str, gazetteer_rows: list[tuple]) -> dict:
    """What a bundle is built from: the stage's lineage rows (one per shard
    commit, so a new or re-committed shard changes them), read on the
    driver, and the gazetteer rows. Digests of both."""
    lineage = Path(workdir) / "lineage"
    rows = []
    if lineage.exists():
        rows = [json.dumps(r, sort_keys=True) for r in pq.read_table(lineage).to_pylist()
                if r["stage"] == stage]
    return {
        f"{stage}_lineage": hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest(),
        "gazetteer": hashlib.sha256(json.dumps(gazetteer_rows, default=str).encode()).hexdigest(),
    }


def checkpointed_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    gazetteer_rows: list[tuple],
    workdir: str,
    out_dir: str,
    n_shards: int = 8,
    fail_after: int | None = None,
) -> dict:
    """Resumable form of pipeline.run_pipeline + export.write_bundle: the
    expensive extraction pass is sharded + checkpointed under `workdir`
    (kill → rerun recomputes only missing shards); graph construction then
    runs from the committed extraction table and writes the four bundle
    tables to `out_dir`, each table write a single atomic commit. Appends
    one `bundle` metrics row with the manifest counts, releases what the
    graph layers persisted, and returns the manifest.

    A rerun whose every shard is committed, and whose out_dir holds a
    manifest written for the same lineage rows and gazetteer, returns that
    manifest and runs no Spark job; a new shard, a changed gazetteer or a
    missing manifest rebuild the bundle."""
    from kgraph_spark.operators.export import write_bundle
    from kgraph_spark.operators.mentions import extract_all
    from kgraph_spark.pipeline import run_pipeline_from_extracted

    done = Path(out_dir) / "manifest.json"
    if done.exists() and not _pending_shards(Path(workdir) / "extracted", n_shards):
        manifest = json.loads(done.read_text())
        if manifest.get("inputs") == _bundle_inputs(workdir, "extracted", gazetteer_rows):
            return manifest

    gaz_bcast = spark.sparkContext.broadcast(gazetteer_rows)
    try:
        extracted = run_sharded_stage(
            spark,
            "extracted",
            docs,
            lambda d: extract_all(d, gaz_bcast),
            workdir,
            n_shards=n_shards,
            fail_after=fail_after,
        )
    finally:
        gaz_bcast.destroy()
    res = run_pipeline_from_extracted(spark, extracted, gazetteer_rows)
    try:
        manifest = write_bundle(
            res.tables, out_dir, inputs=_bundle_inputs(workdir, "extracted", gazetteer_rows)
        )
    finally:
        res.unpersist()
    write_stage_metrics(workdir, "bundle", manifest["counts"])
    return manifest
