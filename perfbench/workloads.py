"""Inputs, reference outputs, correctness gates and the untraced workloads.

Each workload drives the package only through its public entry points:

  extract_shards  documents parquet -> lineage.run_sharded_stage(extract_all)
  graph_refresh   committed extraction table -> pipeline.run_pipeline_from_extracted
                  -> export.write_bundle

The references are computed outside the timed region: the pure-Python golden
oracle for graph_refresh, and one un-sharded `extract_all` for
extract_shards. Both are reduced to small digests and cached per
(seed, docs) so a repeated invocation skips them."""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgraph_spark import synth
from kgraph_spark.config import PipelineConfig
from kgraph_spark.lineage import run_sharded_stage
from kgraph_spark.operators.export import write_bundle
from kgraph_spark.operators.mentions import EXTRACTED_SCHEMA, extract_all
from kgraph_spark.pipeline import run_pipeline_from_extracted

EXTRACTED_COLS = [c.strip().split(" ")[0] for c in EXTRACTED_SCHEMA.split(",")]
N_SHARDS = 8  # run_sharded_stage's default, as jobs/run_kg_construct.py uses it


@dataclass
class Corpus:
    seed: int
    n_docs: int
    docs_path: str
    gazetteer: list[tuple]
    extracted_path: str | None = None  # graph_refresh input, committed once


def write_documents(path: Path, n_docs: int, seed: int, n_files: int) -> None:
    """synth.generate_documents_local written as parquet without Spark, in
    as many files as synth.documents_df would have partitions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = ("kind", "text", "media_ref", "offset")
    span = pa.struct(list(zip(names, (pa.string(), pa.string(), pa.string(), pa.int32()))))
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    docs = synth.generate_documents_local(n_docs, seed)
    path.mkdir(parents=True)
    step = -(-n_docs // n_files)
    for i in range(0, n_docs, step):
        part = docs[i:i + step]
        table = pa.table({"doc_id": [d["doc_id"] for d in part],
                          "spans": [[dict(zip(names, s)) for s in d["spans"]] for d in part]},
                         schema=schema)
        pq.write_table(table, path / f"part-{i // step:05d}.parquet")


def make_corpus(spark: SparkSession, root: Path, n_docs: int, seed: int, with_extracted: bool) -> Corpus:
    docs_path = root / "documents"
    write_documents(docs_path, n_docs, seed, spark.sparkContext.defaultParallelism)
    corpus = Corpus(seed, n_docs, str(docs_path), synth.gazetteer_rows(seed))
    if with_extracted:
        # the resume path's input: the extraction table, committed once and
        # read back from disk by every run
        corpus.extracted_path = str(root / "extracted")
        gaz = spark.sparkContext.broadcast(corpus.gazetteer)
        extract_all(spark.read.parquet(corpus.docs_path), gaz).write.parquet(corpus.extracted_path)
        gaz.destroy()
    return corpus


# ---- the workloads (one run each; the caller times the call) -------------


def graph_refresh(spark: SparkSession, corpus: Corpus, out: Path):
    extracted = spark.read.parquet(corpus.extracted_path)
    res = run_pipeline_from_extracted(spark, extracted, corpus.gazetteer)
    write_bundle(res.tables, str(out))
    return res.unpersist


def extract_shards(spark: SparkSession, corpus: Corpus, out: Path):
    gaz = spark.sparkContext.broadcast(corpus.gazetteer)
    cfg = PipelineConfig()
    run_sharded_stage(
        spark, "extracted", spark.read.parquet(corpus.docs_path),
        lambda d: extract_all(d, gaz, cfg), str(out), n_shards=N_SHARDS,
    )
    return gaz.destroy


RUNNERS = {"extract_shards": extract_shards, "graph_refresh": graph_refresh}


# ---- references ------------------------------------------------------------


def triple_key_digest(keys) -> str:
    h = hashlib.sha256()
    for s, p, o in sorted(keys):
        h.update(f"{s}\x1f{p}\x1f{o}\n".encode())
    return h.hexdigest()


def golden_reference(corpus: Corpus) -> dict:
    from kgraph_spark.golden import run_golden

    g = run_golden(
        synth.generate_documents_local(corpus.n_docs, corpus.seed),
        synth.build_vocabulary(corpus.seed)["gazetteer"],
    )
    return {"triples": len(g["triples"]), "triples_sha256": triple_key_digest(g["triples"]),
            "entities": len(g["entities"])}


def extraction_digest(df: DataFrame) -> dict:
    """Rows per kind (m/p/r) and an order-free content digest: the sum of a
    64-bit hash over every column of every row."""
    rows = (
        df.select(*EXTRACTED_COLS)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.xxhash64(*EXTRACTED_COLS).cast("decimal(38,0)")).alias("h"))
        .collect()
    )
    return {r["kind"]: [r["n"], str(r["h"])] for r in rows}


def extraction_reference(spark: SparkSession, corpus: Corpus) -> dict:
    gaz = spark.sparkContext.broadcast(corpus.gazetteer)
    try:
        return extraction_digest(extract_all(spark.read.parquet(corpus.docs_path), gaz))
    finally:
        gaz.destroy()


def cached_reference(cache: Path, workload: str, spark: SparkSession, corpus: Corpus) -> dict:
    kind = "extraction" if workload == "extract_shards" else "golden"
    path = cache / f"{kind}-seed{corpus.seed}-docs{corpus.n_docs}.json"
    if path.exists():
        return json.loads(path.read_text())
    ref = extraction_reference(spark, corpus) if kind == "extraction" else golden_reference(corpus)
    cache.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(ref))
    tmp.replace(path)
    return ref


# ---- observed outputs and the gates -----------------------------------------


@dataclass
class Output:
    """What a run committed, reduced to what the gate compares."""

    triple_keys: set | None = None  # graph_refresh
    triple_rows: int | None = None
    entities: int | None = None
    extraction: dict | None = None  # extract_shards

    @property
    def triples(self) -> int:
        """Committed relationships rows; for extract_shards the raw relation
        rows ('r') extraction committed."""
        if self.extraction is not None:
            return self.extraction.get("r", [0])[0]
        return self.triple_rows


def read_output(spark: SparkSession, workload: str, out: Path) -> Output:
    if workload == "extract_shards":
        return Output(extraction=extraction_digest(spark.read.parquet(str(out / "extracted"))))
    rel = spark.read.parquet(str(out / "relationships")).select(
        "subject_id", "predicate", "object_id").toPandas()
    return Output(
        triple_keys=set(rel.itertuples(index=False, name=None)),
        triple_rows=len(rel),
        entities=spark.read.parquet(str(out / "entities")).count(),
    )


def passes(workload: str, got: Output, ref: dict) -> bool:
    if workload == "extract_shards":
        return got.extraction == ref
    return (
        got.triple_rows == len(got.triple_keys) == ref["triples"]
        and got.entities == ref["entities"]
        and triple_key_digest(got.triple_keys) == ref["triples_sha256"]
    )


def gate_rejects_perturbation(spark: SparkSession, workload: str, out: Path, got: Output, ref: dict) -> bool:
    """Self-check of the gate: change one committed row and confirm the gate
    no longer passes. Run once per invocation on the warm-up output."""
    if workload == "extract_shards":
        df = spark.read.parquet(str(out / "extracted")).withColumn(
            "_i", F.monotonically_increasing_id())
        first = df.agg(F.min("_i")).first()[0]
        bad = df.withColumn(
            "text",
            F.when(F.col("_i") == first, F.concat(F.coalesce("text", F.lit("")), F.lit("#")))
            .otherwise(F.col("text")),
        )
        return not passes(workload, Output(extraction=extraction_digest(bad)), ref)
    s, p, o = next(iter(sorted(got.triple_keys)))
    changed = (got.triple_keys - {(s, p, o)}) | {(s, p, o + "#")}
    perturbed = [
        Output(changed, got.triple_rows, got.entities),  # one triple rewritten
        Output(got.triple_keys, got.triple_rows + 1, got.entities),  # one row duplicated
        Output(got.triple_keys, got.triple_rows, got.entities + 1),  # one entity added
    ]
    return not any(passes(workload, bad, ref) for bad in perturbed)


def output_mb(out: Path) -> float:
    return sum(f.stat().st_size for f in out.rglob("*") if f.is_file()) / 2**20


def remove(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
