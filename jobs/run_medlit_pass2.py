#!/usr/bin/env python
"""spark-submit entry point for the medlit Pass-2 merge (real-corpus mode).

Reads per-paper Pass-1 bundles (JSON files or an equivalent parquet/Iceberg
table with the same nested columns), merges them with the exact reference
semantics (operators/medlit_pass2.py), and writes entities / triples /
id_map parquet under --workdir.

    zip -r kgraph_spark.zip kgraph_spark
    spark-submit --py-files kgraph_spark.zip jobs/run_medlit_pass2.py \
        --bundles /path/pass1_bundles \
        --synonym-cache /path/seeded_synonym_cache.json \
        --workdir /path/out
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bundles", required=True, help="directory of paper_*.json bundles")
    ap.add_argument("--synonym-cache", required=True, help="seeded synonym cache JSON")
    ap.add_argument("--workdir", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from kgraph_spark.session import SESSION_CONF

    spark = SparkSession.builder.appName("medlit_pass2").config(map=SESSION_CONF).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from kgraph_spark.operators.medlit_pass2 import run_pass2

    t0 = time.time()
    out = run_pass2(spark, args.bundles, args.synonym_cache)
    n = {}
    for name in ("entities", "triples", "id_map"):
        path = f"{args.workdir}/{name}"
        out[name].write.mode("overwrite").parquet(path)
        n[name] = spark.read.parquet(path).count()
    print(json.dumps({"elapsed_sec": round(time.time() - t0, 2), **n}))


if __name__ == "__main__":
    main()
