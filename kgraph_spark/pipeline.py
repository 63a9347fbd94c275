"""End-to-end KG construction pipeline (SURVEY.md §3.2 Spark restatement).

    documents(doc_id, spans)
      → mentions (fused chunk+gazetteer pUDF)          [no shuffle]
      → resolved mentions (broadcast alias-index join) [no shuffle]
      → raw pattern relations (pUDF)                   [no shuffle]
      → resolved relations (broadcast joins)           [no shuffle]
      → SAME_AS connected components → merge map       [tiny iterative]
      → validated relations (swap/constraints/F8)      [one (doc,s,o) shuffle]
      → appears_in triples + symmetric ordering
        + cross-doc accumulation                       [one (s,p,o) shuffle]
      → co-occurrence pairs, dictionary-encoded and
        accumulated on their own                       [one pair-code shuffle]
      → entities / mentions / relationships / evidence tables

This is the one graph every entry point builds: run_pipeline (documents in),
run_pipeline_from_extracted (a committed extraction table in — the resume
and graph-refresh path) and the jobs that call either. It has no switches
beyond PipelineConfig's thresholds, caps and salting.

The per-document stages all co-partition on doc_id; the global shuffles
are the triple accumulation and the co-occurrence accumulation (plus the
tiny CC loop over merge edges).

Extraction is the only layer that runs Python. The driver-built dimensions
(alias index, SAME_AS merge map) are JVM local relations
(session.local_frame), so resolution, canonicalization and accumulation are
plain broadcast joins and aggregates that start no Python worker; the
predicate spec is inlined into validation and symmetric ordering as
expressions, so nothing joins it.

Plan inventory of run_pipeline_from_extracted + export.write_bundle, per
refresh. Every intermediate two branches read is persisted and computed
once:
  * persisted: resolved relations (read by the SAME_AS edges and by
    validation), the merge map, the merged mentions carrying their
    pre-merge id (entities, tombstones, appears_in, mentions table), and
    the validated, merged, symmetric-ordered relations (relationships
    per-doc branch, evidence table);
  * extraction scans: 'r' rows once, 'm' rows once, 'p' rows twice (the
    co-occurrence window sets and its code dictionary);
  * shuffles: SAME_AS edge distinct, F8 (doc, s, o) election, entity
    summary, tombstone summary, appears_in distinct, (s,p,o)
    accumulation, and the co-occurrence branch's window sets, doc sets,
    pair-code accumulation and code dictionary;
  * broadcasts: the alias index (relation endpoints, mentions, presence),
    the merge map (mentions, both relation endpoints, presence) and the
    code dictionary (decode of both pair ends); each is one Spark job at
    most, and repeats within one plan reuse the first.
With AQE off a warm refresh runs 13 Spark jobs at local[2] and at
local[8]; the merge-map collect is one of them at any partition count
(tests/test_plan_budget.py pins the count and the per-table exchanges).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgraph_spark.config import PipelineConfig
from kgraph_spark.operators import canonicalize, export, relationships, resolve
from kgraph_spark.operators.mentions import (
    extract_all,
    mentions_from_extracted,
    presence_from_extracted,
    relations_from_extracted,
)

# the merged mentions' column holding each mention's pre-merge entity id
PRE_MERGE_ID = "pre_merge_id"


@dataclass
class PipelineResult:
    mentions: DataFrame
    merge_mapping: DataFrame
    triples: DataFrame
    entities: DataFrame
    # the extraction table, set only when the pipeline persisted it itself
    # (run_pipeline); a caller's frame passed to run_pipeline_from_extracted
    # stays the caller's to release
    extracted: DataFrame | None = None
    tables: dict[str, DataFrame] = field(default_factory=dict)
    # the shared intermediates run_pipeline_from_extracted persisted
    persisted: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        for df in (self.extracted, *self.persisted):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    gazetteer_rows: list[tuple],
    cfg: PipelineConfig | None = None,
) -> PipelineResult:
    cfg = cfg or PipelineConfig()
    gaz_bcast = spark.sparkContext.broadcast(gazetteer_rows)

    # Input-parallelism guard: small-file parquet inputs bin-pack into a
    # handful of scan partitions (files.maxPartitionBytes/openCost), which
    # caps the extraction stage at that task count regardless of cores —
    # measured as a flat 13s floor at any parallelism. A corpus at real
    # scale always has ≥ cores partitions, so this is a no-op there.
    #
    # 3× cores, not 1×: the Python extraction stage is the longest stage in
    # the job, and with exactly one task per core any straggler core (GC,
    # hypervisor steal, data skew) sets the stage wall-clock. 3-4 waves let
    # fast cores absorb a slow core's share — measured 1.27×→~3× stage
    # scaling 4→16 cores under CPU steal. Same rule a real cluster uses.
    target = spark.sparkContext.defaultParallelism * 3
    from kgraph_spark.session import scan_partitions_or_slices

    if scan_partitions_or_slices(docs) < target:
        docs = docs.repartition(target)

    # ---- pass 1: fused extraction + resolution (map-only, one scan) ------
    # the single expensive Python pass — every downstream branch (mentions,
    # relations, windows) is a cached columnar filter
    extracted = extract_all(docs, gaz_bcast, cfg).persist()
    result = run_pipeline_from_extracted(spark, extracted, gazetteer_rows, cfg)
    result.extracted = extracted
    return result


def run_pipeline_from_extracted(
    spark: SparkSession,
    extracted: DataFrame,
    gazetteer_rows: list[tuple],
    cfg: PipelineConfig | None = None,
) -> PipelineResult:
    """Graph construction from an already-materialized extraction table —
    the resume entry point (lineage.checkpointed_pipeline reads committed
    extraction shards and continues here; perfbench's graph_refresh reads
    a committed extraction table).

    Each intermediate that two branches read is computed once and
    persisted: the resolved relations (SAME_AS edges and validation), the
    validated, merged relations (the relationships per-doc branch and the
    evidence table), and the merged mentions, which keep their pre-merge id
    so the merge losers' tombstones need no second pass. The caller owns
    `extracted`: the result's unpersist() releases only the frames persisted
    here."""
    cfg = cfg or PipelineConfig()
    alias_index = resolve.alias_index_df(spark, gazetteer_rows)
    spec = relationships.predicate_spec_df(spark)
    resolved_rel = resolve.resolve_relation_endpoints(
        relations_from_extracted(extracted), alias_index
    ).persist()

    # ---- pass 2a: canonical merge (D8 connected components) --------------
    edges = relationships.same_as_edges(resolved_rel, cfg)
    mapping = canonicalize.merge_mapping(edges, cfg.cc_max_iterations).persist()

    pre_merge = resolve.resolve_mentions(mentions_from_extracted(extracted), alias_index)
    mentions_merged_from = canonicalize.apply_merge(
        pre_merge.select("*", F.col("entity_id").alias(PRE_MERGE_ID)), mapping, "entity_id"
    ).persist()
    merged_mentions = mentions_merged_from.drop(PRE_MERGE_ID)

    # ---- pass 2b: relation validation + per-doc triples -------------------
    validated = canonicalize.apply_merge(
        relationships.validate_relations(resolved_rel, spec), mapping, "subject_id", "object_id"
    )
    per_doc_rel = relationships.symmetric_order(
        validated.select(
            "doc_id", "subject_id", "predicate", "object_id", "confidence", "evidence"
        ),
        spec,
    ).persist()

    # co-occurrence presence comes from the RAW-occurrence 'p' rows (every
    # occurrence counts — reference window-re-scan semantics), not from the
    # C5-deduped mentions; resolution is the same broadcast alias join
    presence = canonicalize.apply_merge(
        resolve.resolve_mentions(presence_from_extracted(extracted), alias_index),
        mapping,
        "entity_id",
    )
    appear = relationships.appears_in_triples(merged_mentions, cfg).select(
        "*", F.lit(None).cast("string").alias("evidence")
    )
    per_doc = per_doc_rel.unionByName(relationships.symmetric_order(appear, spec))

    # ---- pass 3: accumulation + export tables -----------------------------
    n_salts = cfg.accumulate_n_salts
    if n_salts is None:
        # AUTO (config.py rationale): salt when the input is estimated big
        # enough that a hot pair's distinct-doc set threatens one reducer.
        # File-stat bytes — no Spark job, and independent of the session's
        # split size; in-memory frames (tests) fall back to slice count.
        from kgraph_spark.session import estimated_scan_bytes

        nbytes = estimated_scan_bytes(extracted)
        if nbytes is not None:
            big = nbytes >= cfg.salt_auto_min_input_bytes
        else:
            big = extracted.rdd.getNumPartitions() >= cfg.salt_auto_min_partitions
        n_salts = cfg.auto_n_salts if big else 0
    if n_salts:
        # hot-pair guard: per-salt capped partials bound reducer state
        acc = relationships.accumulate_triples_salted(per_doc, cfg.max_source_documents, n_salts)
    else:
        acc = relationships.accumulate_triples(per_doc, cfg.max_source_documents)
    # co_occurs_with shares no (s,p,o) group with the other branches
    # (disjoint predicates), so its F1+F10 run fused and dictionary-encoded
    # (relationships.cooccurrence_accumulated) — the dominant pair stream
    # shuffles 8-byte codes, not id strings
    acc_cooc = relationships.cooccurrence_accumulated(
        presence, cfg, cfg.max_source_documents
    )
    triples = acc.unionByName(
        acc_cooc.select(
            "*",
            F.lit(None).cast("double").alias("evidence_confidence_avg"),
            F.lit(None).cast("string").alias("strongest_evidence_quote"),
        )
    )
    ent_caps = {
        "max_supporting_documents": cfg.max_supporting_documents,
        "max_synonyms": cfg.max_synonyms,
    }
    entities = export.entities_table(merged_mentions, cfg.promotion, **ent_caps).unionByName(
        # D12 tombstones: merge losers stay queryable with merged_into
        export.tombstones_of_merged(mentions_merged_from, PRE_MERGE_ID, **ent_caps)
    )

    tables = {
        "entities": entities,
        "relationships": triples,
        "mentions": export.mentions_table(merged_mentions),
        "evidence": export.evidence_table(per_doc_rel),
    }
    return PipelineResult(
        mentions=merged_mentions,
        merge_mapping=mapping,
        triples=triples,
        entities=entities,
        tables=tables,
        persisted=[resolved_rel, mapping, mentions_merged_from, per_doc_rel],
    )
