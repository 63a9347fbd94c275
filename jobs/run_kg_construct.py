#!/usr/bin/env python
"""spark-submit entry point for the KG construction pipeline.

Deployment shape (north_rule): the package ships via --py-files, the job
reads the interleaved documents table, runs the checkpointed pipeline, and
writes the bundle tables + lineage/metrics under --workdir.

    zip -r kgraph_spark.zip kgraph_spark
    spark-submit --py-files kgraph_spark.zip jobs/run_kg_construct.py \
        --input /path/documents_parquet --workdir /path/out \
        [--synth-docs N] [--shards 64] [--no-checkpoint]

On a real cluster pass --master/--num-executors etc. to spark-submit; the
job itself only sets analysis-level configs."""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="documents parquet path (doc_id, spans)")
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="generate a synthetic corpus of N docs instead of --input")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--no-checkpoint", action="store_true",
                    help="single-shot run_pipeline instead of sharded checkpointing")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from kgraph_spark.session import SESSION_CONF

    spark = SparkSession.builder.appName("kg_construct").config(map=SESSION_CONF).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from kgraph_spark import synth
    from kgraph_spark.lineage import checkpointed_pipeline
    from kgraph_spark.operators.export import write_bundle
    from kgraph_spark.pipeline import run_pipeline

    if args.synth_docs:
        docs = synth.documents_df(spark, args.synth_docs)
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synth-docs is required")

    gaz = synth.gazetteer_rows()
    t0 = time.time()
    if args.no_checkpoint:
        res = run_pipeline(spark, docs, gaz)
        manifest = write_bundle(res.tables, args.workdir + "/bundle")
        n_triples = manifest["counts"]["relationships"]
    else:
        triples = checkpointed_pipeline(spark, docs, gaz, args.workdir, n_shards=args.shards)
        n_triples = triples.count()
    dt = time.time() - t0
    n_docs = docs.count()
    print(json.dumps({
        "docs": n_docs,
        "triples": n_triples,
        "sec": round(dt, 2),
        "triples_per_sec": round(n_triples / dt, 1),
    }))


if __name__ == "__main__":
    sys.exit(main())
