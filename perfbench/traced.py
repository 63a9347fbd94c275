"""The traced run. graph_refresh: each layer's public functions called in
`pipeline.run_pipeline_from_extracted` order, its output materialized inside
a named span, and the span's Spark jobs tagged with `setJobGroup`.
extract_shards: the workload's own `run_sharded_stage(..., extract_all)` call
inside one `lineage` span.

A span records wall time and /proc CPU of the JVM and the Python processes
(procs.py). After the composition has committed its output, the stage
metrics of each span's job group are read from Spark's status REST API:
rows, shuffle write, spill and failed tasks. Spans live in memory and are
reported when the run ends; tracing adds materializations (persist + count)
that the untraced run does not make, and that cost is reported as
`trace.overhead_s`.

The composition mirrors the pipeline under the default PipelineConfig. A
traced run's committed triples (graph_refresh) or extraction digest
(extract_shards) must equal those of the untraced run next to it, which
catches drift if pipeline.py is rewired."""

from __future__ import annotations

import inspect
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgraph_spark.config import PipelineConfig
from kgraph_spark.lineage import run_sharded_stage
from kgraph_spark.operators import canonicalize, export, relationships, resolve
from kgraph_spark.operators.mentions import (
    extract_all,
    mentions_from_extracted,
    presence_from_extracted,
    relations_from_extracted,
)
from kgraph_spark.session import estimated_scan_bytes

LAYERS = (
    "scan", "lineage", "resolve", "canonicalize", "relationships.validate",
    "relationships.cooccurrence", "relationships.accumulate", "export",
)
FIELDS = ("wall_s", "jvm_cpu_s", "python_cpu_s", "rows_in", "rows_out",
          "shuffle_write_mb", "spill_mb", "failed_tasks", "jobs")
EXTRAS = ("canonicalize.edges", "canonicalize.distributed",
          "relationships.accumulate.salted", "relationships.cooccurrence.pairs")
TRACE = ("trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s", "trace.coverage")
METRIC_NAMES = [f"{layer}.{f}" for layer in LAYERS for f in FIELDS] + list(EXTRAS) + list(TRACE)

# merge_mapping unions on the driver below this many SAME_AS edges
_LOCAL_CC_EDGES = inspect.signature(canonicalize.merge_mapping).parameters["local_threshold"].default


class Span:
    def __init__(self, layer: str, group: str) -> None:
        self.layer = layer
        self.group = group
        self.rows_in = 0
        self.rows_out = 0
        self.wall_s = self.jvm_cpu_s = self.python_cpu_s = 0.0


class Tracer:
    def __init__(self, spark: SparkSession, tree, run_id: int) -> None:
        self.spark = spark
        self.tree = tree
        self.run_id = run_id
        self.spans: list[Span] = []
        self._kept: list[DataFrame] = []

    @contextmanager
    def span(self, layer: str):
        sc = self.spark.sparkContext
        sp = Span(layer, f"perfbench.{self.run_id}.{layer}")
        sc.setJobGroup(sp.group, layer)
        s0, t0 = self.tree.sample(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            s1 = self.tree.sample()
            sp.jvm_cpu_s = s1.jvm_cpu_s - s0.jvm_cpu_s
            sp.python_cpu_s = s1.python_cpu_s - s0.python_cpu_s
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def keep(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Materialize a layer output: cache it and count it."""
        df = df.persist()
        self._kept.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self._kept:
            df.unpersist()
        self._kept.clear()


# ---- the compositions --------------------------------------------------------


def _graph_layers(tr: Tracer, spark: SparkSession, extracted: DataFrame, n_extracted: int,
                  n_salts: int, gazetteer: list[tuple], out: Path, cfg: PipelineConfig) -> dict:
    extras = {}
    spec = relationships.predicate_spec_df(spark)
    with tr.span("resolve") as sp:
        alias_index = resolve.alias_index_df(spark, gazetteer)
        mentions, n_m = tr.keep(resolve.resolve_mentions(mentions_from_extracted(extracted), alias_index))
        resolved_rel, n_r = tr.keep(resolve.resolve_relation_endpoints(
            relations_from_extracted(extracted), alias_index))
        presence, n_p = tr.keep(resolve.resolve_mentions(presence_from_extracted(extracted), alias_index))
        sp.rows_in, sp.rows_out = n_extracted, n_m + n_r + n_p
    with tr.span("canonicalize") as sp:
        edges, n_edges = tr.keep(relationships.same_as_edges(resolved_rel, cfg))
        mapping, n_map = tr.keep(canonicalize.merge_mapping(edges, cfg.cc_max_iterations))
        merged_mentions, n_mm = tr.keep(canonicalize.apply_merge(mentions, mapping, "entity_id"))
        merged_presence, n_mp = tr.keep(canonicalize.apply_merge(presence, mapping, "entity_id"))
        sp.rows_in, sp.rows_out = n_r + n_m + n_p, n_edges + n_map + n_mm + n_mp
    extras["canonicalize.edges"] = n_edges
    extras["canonicalize.distributed"] = int(n_edges > _LOCAL_CC_EDGES)
    with tr.span("relationships.validate") as sp:
        validated = canonicalize.apply_merge(
            relationships.validate_relations(resolved_rel, spec), mapping, "subject_id", "object_id")
        per_doc_rel, n_v = tr.keep(relationships.symmetric_order(
            validated.select("doc_id", "subject_id", "predicate", "object_id", "confidence", "evidence"),
            spec))
        sp.rows_in, sp.rows_out = n_r, n_v
    with tr.span("relationships.cooccurrence") as sp:
        cooc, n_c = tr.keep(relationships.cooccurrence_accumulated(
            merged_presence, cfg, cfg.max_source_documents))
        sp.rows_in, sp.rows_out = n_mp, n_c
    with tr.span("relationships.accumulate") as sp:
        appear = relationships.appears_in_triples(merged_mentions, cfg).select(
            "*", F.lit(None).cast("string").alias("evidence"))
        per_doc = per_doc_rel.unionByName(relationships.symmetric_order(appear, spec))
        if n_salts:
            acc = relationships.accumulate_triples_salted(per_doc, cfg.max_source_documents, n_salts)
        else:
            acc = relationships.accumulate_triples(per_doc, cfg.max_source_documents)
        triples, n_t = tr.keep(acc.unionByName(
            cooc.withColumn("evidence_confidence_avg", F.lit(None).cast("double"))
            .withColumn("strongest_evidence_quote", F.lit(None).cast("string"))))
        sp.rows_in, sp.rows_out = n_v + n_mm + n_c, n_t
    extras["relationships.accumulate.salted"] = int(bool(n_salts))
    with tr.span("export") as sp:
        ent_caps = {"max_supporting_documents": cfg.max_supporting_documents,
                    "max_synonyms": cfg.max_synonyms}
        entities = export.entities_table(merged_mentions, cfg.promotion, **ent_caps).unionByName(
            export.tombstone_entities(mentions, mapping, **ent_caps))
        tables = {
            "entities": entities,
            "relationships": triples,
            "mentions": export.mentions_table(merged_mentions),
            "evidence": export.evidence_table(per_doc_rel),
        }
        manifest = export.write_bundle(tables, str(out))
        sp.rows_in, sp.rows_out = n_mm + n_m + n_map + n_t + n_v, sum(manifest["counts"].values())
    extras["relationships.cooccurrence.pairs"] = cooc.agg(F.sum("evidence_count")).first()[0] or 0
    return extras


def _auto_salts(scan_source: DataFrame, cfg: PipelineConfig) -> int:
    """run_pipeline_from_extracted's AUTO salting decision, taken on the
    uncached input: a cached plan no longer lists its input files."""
    if cfg.accumulate_n_salts is not None:
        return cfg.accumulate_n_salts
    nbytes = estimated_scan_bytes(scan_source)
    if nbytes is not None:
        big = nbytes >= cfg.salt_auto_min_input_bytes
    else:
        big = scan_source.rdd.getNumPartitions() >= cfg.salt_auto_min_partitions
    return cfg.auto_n_salts if big else 0


def traced_graph_refresh(tr: Tracer, spark: SparkSession, corpus, out: Path) -> dict:
    cfg = PipelineConfig()
    with tr.span("scan") as sp:
        source = spark.read.parquet(corpus.extracted_path)
        n_salts = _auto_salts(source, cfg)
        extracted, n_x = tr.keep(source)
        sp.rows_in = sp.rows_out = n_x
    return _graph_layers(tr, spark, extracted, n_x, n_salts, corpus.gazetteer, out, cfg)


def traced_extract_shards(tr: Tracer, spark: SparkSession, corpus, out: Path) -> dict:
    """The workload itself, run_sharded_stage(..., extract_all), as one
    lineage span. Shards are extracted and committed concurrently from a
    driver thread pool, and each shard's extraction runs inside its own
    commit job, so the sharded stage cannot be split into a mentions and a
    lineage span without changing the work: per-shard scans, extraction
    and commits are all reported under lineage."""
    from perfbench.workloads import N_SHARDS

    cfg = PipelineConfig()
    gaz = spark.sparkContext.broadcast(corpus.gazetteer)
    with tr.span("lineage") as sp:
        sc = spark.sparkContext

        def extract_shard(shard_docs: DataFrame) -> DataFrame:
            # shard writes run on run_sharded_stage's pool threads, which do
            # not inherit the job group
            sc.setJobGroup(sp.group, "lineage")
            return extract_all(shard_docs, gaz, cfg)

        committed = run_sharded_stage(spark, "extracted", spark.read.parquet(corpus.docs_path),
                                      extract_shard, str(out), n_shards=N_SHARDS)
    sp.rows_in, sp.rows_out = corpus.n_docs, committed.count()
    gaz.destroy()
    return {}


COMPOSITIONS = {"extract_shards": traced_extract_shards, "graph_refresh": traced_graph_refresh}


# ---- stage metrics from the status REST API -------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def stage_metrics(spark: SparkSession, spans: list[Span]) -> dict[str, dict]:
    """Per span: stage metrics summed over the jobs of its job group."""
    base = spark.sparkContext.uiWebUrl
    app = _get(f"{base}/api/v1/applications")[0]["id"]
    api = f"{base}/api/v1/applications/{app}"
    # the status store is fed by an asynchronous listener: wait for it
    deadline = time.monotonic() + 10
    while _get(f"{api}/jobs?status=running") and time.monotonic() < deadline:
        time.sleep(0.05)
    jobs = _get(f"{api}/jobs")
    stages = {}
    for s in _get(f"{api}/stages"):
        stages.setdefault(s["stageId"], []).append(s)
    out = {}
    for sp in spans:
        mine = [j for j in jobs if j.get("jobGroup") == sp.group]
        attempts = [a for j in mine for sid in j["stageIds"] for a in stages.get(sid, ())]
        out[sp.layer] = {
            "jobs": len(mine),
            "shuffle_write_mb": sum(a["shuffleWriteBytes"] for a in attempts) / 2**20,
            "spill_mb": sum(a["diskBytesSpilled"] for a in attempts) / 2**20,
            "failed_tasks": sum(a["numFailedTasks"] for a in attempts),
        }
    return out


def traced_run(bench, run_id: int) -> tuple[dict, object]:
    """One traced composition; returns (metrics, committed output)."""
    tr = Tracer(bench.spark, bench.tree, run_id)
    out = bench.fresh_out()
    t0 = time.perf_counter()
    extras = COMPOSITIONS[bench.workload](tr, bench.spark, bench.corpus, out)
    wall = time.perf_counter() - t0
    covered = sum(sp.wall_s for sp in tr.spans)
    # a layer this workload does not run gets an empty span: its times are
    # the tracer's own bookkeeping between two samples, not program time
    for layer in sorted(set(LAYERS) - {sp.layer for sp in tr.spans}, key=LAYERS.index):
        with tr.span(layer):
            pass
    got = bench.check(out)
    spark_side = stage_metrics(bench.spark, tr.spans)
    tr.release()
    bench.release(None, out)

    metrics = {name: 0.0 for name in METRIC_NAMES}
    for sp in tr.spans:
        st = spark_side[sp.layer]
        for f in ("wall_s", "jvm_cpu_s", "python_cpu_s", "rows_in", "rows_out"):
            metrics[f"{sp.layer}.{f}"] = getattr(sp, f)
        for f in ("shuffle_write_mb", "spill_mb", "failed_tasks", "jobs"):
            metrics[f"{sp.layer}.{f}"] = st[f]
    metrics.update(extras)
    metrics["trace.wall_s"] = wall
    metrics["trace.coverage"] = covered / wall
    return metrics, got


def same_output(a, b) -> bool:
    if a is None or b is None:
        return False
    if a.extraction is not None:
        return a.extraction == b.extraction
    return a.triple_keys == b.triple_keys and a.triple_rows == b.triple_rows


def measure_traced(bench, seconds: float) -> tuple[dict, dict]:
    """Alternate an untraced run with a traced one until `seconds` pass;
    report per-layer medians over the traced runs."""
    traced, untraced_walls, matches = [], [], []
    t_end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < t_end:
        plain = bench.run_once()
        if not plain:
            break
        untraced_walls.append(plain["wall_s"])
        metrics, got = traced_run(bench, len(traced))
        traced.append(metrics)
        matches.append(same_output(got, plain["output"]))
    if not traced:
        raise RuntimeError("no traced run completed")
    med = {name: statistics.median(m[name] for m in traced) for name in METRIC_NAMES}
    med["trace.untraced_wall_s"] = statistics.median(untraced_walls)
    med["trace.overhead_s"] = med["trace.wall_s"] - med["trace.untraced_wall_s"]
    extra = {"traced_runs": len(traced), "traced_match": all(matches),
             "trace_wall_s_all": [m["trace.wall_s"] for m in traced],
             "untraced_wall_s_all": untraced_walls}
    return med, extra
