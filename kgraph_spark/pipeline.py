"""End-to-end KG construction pipeline (SURVEY.md §3.2 Spark restatement).

    documents(doc_id, spans)
      → mentions (fused chunk+gazetteer pUDF)          [no shuffle]
      → resolved mentions (broadcast alias-index join) [no shuffle]
      → raw pattern relations (pUDF)                   [no shuffle]
      → resolved relations (broadcast joins)           [no shuffle]
      → SAME_AS connected components → merge map       [tiny iterative]
      → validated relations (swap/constraints/F8)      [per-doc window]
      → appears_in + co-occurrence triples             [per-doc self-join]
      → symmetric ordering + cross-doc accumulation    [one (s,p,o) shuffle]
      → entities / mentions / relationships / evidence tables

The per-document stages all co-partition on doc_id; the only global shuffle
is the final triple accumulation (plus the tiny CC loop over merge edges).

Extraction is the only layer that runs Python. The driver-built dimensions
(alias index, predicate spec, SAME_AS merge map) are JVM local relations
(session.local_frame), so resolution, canonicalization, validation and
accumulation are plain broadcast joins and aggregates that start no Python
worker.
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


@dataclass
class PipelineResult:
    mentions: DataFrame
    merge_mapping: DataFrame
    validated_relations: DataFrame
    triples: DataFrame
    entities: DataFrame
    extracted: DataFrame | None = None
    tables: dict[str, DataFrame] = field(default_factory=dict)

    def unpersist(self) -> None:
        for df in (self.extracted, self.mentions, self.merge_mapping):
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
    persist_intermediates: bool = True,
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
    extracted = extract_all(docs, gaz_bcast, cfg)
    if persist_intermediates:
        # the single expensive Python pass — every downstream branch
        # (mentions, relations, windows) is a cached columnar filter
        extracted = extracted.persist()
    docs_for_rescue = None
    if cfg.evidence_validation and cfg.semantic_evidence_threshold is not None:
        # F4 rung-4 marker-disease rescue needs the full document content
        # (reference relationships.py:765-774); assembled lazily and joined
        # only against the neither-endpoint residue rows
        from kgraph_spark.operators.chunking import assemble_content

        docs_for_rescue = assemble_content(docs).select("doc_id", "content")
    return run_pipeline_from_extracted(
        spark, extracted, gazetteer_rows, cfg, persist_intermediates,
        documents=docs_for_rescue, _owns_extracted=True,
    )


def run_pipeline_from_extracted(
    spark: SparkSession,
    extracted: DataFrame,
    gazetteer_rows: list[tuple],
    cfg: PipelineConfig | None = None,
    persist_intermediates: bool = True,
    embedding_dedup: bool = False,
    promotion_kb: DataFrame | None = None,
    documents: DataFrame | None = None,
    evidence_embed_fn=None,
    _owns_extracted: bool = False,
) -> PipelineResult:
    """Graph construction from an already-materialized extraction table —
    the resume entry point (lineage.checkpointed_pipeline reads committed
    extraction shards and continues here).

    embedding_dedup=True adds the D10 pass: provisional entities get
    deterministic embeddings (I1), same-class pairs with cosine ≥ 0.88
    contribute merge edges alongside SAME_AS relations. With the identity
    hash embeddings this merges only identical normalized surfaces (already
    merged by the alias index), so it is parity-neutral on the synthetic
    corpus — the seam is what a real embedding model plugs into."""
    cfg = cfg or PipelineConfig()
    alias_index = resolve.alias_index_df(spark, gazetteer_rows)
    spec = relationships.predicate_spec_df(spark)
    mentions = resolve.resolve_mentions(mentions_from_extracted(extracted), alias_index)
    raw_rel = relations_from_extracted(extracted)
    if cfg.evidence_validation:
        # F4/F5 guard rails run pre-resolution, where the raw rows still
        # carry surfaces + evidence (parity-neutral for the deterministic
        # extractor, whose quotes contain both surfaces by construction;
        # the contract for plug-in extractors). Containment matches the
        # RAW surface key (norm_key of subject_text), not the spelling-
        # normalized dedup key — the reference checks name/synonym
        # substrings of the quote (relationships.py:114-125), and a quote
        # saying 'tumour' does not contain the dedup key 'tumor'.
        from kgraph_spark.functions.normalize import norm_key_col
        from kgraph_spark.operators import validation_extra

        raw_rel = raw_rel.withColumn(
            "_s_surf", norm_key_col(F.col("subject_text"))
        ).withColumn("_o_surf", norm_key_col(F.col("object_text")))
        if cfg.semantic_evidence_threshold is not None:
            had_object_type = "object_type" in raw_rel.columns
            if documents is not None and not had_object_type:
                # rung-4 rescue gates on the object's REGISTERED type
                # (object_type == 'disease'); the raw pattern rows carry
                # surfaces only, so look the type up on the dedup key via
                # the broadcast alias index — a map-side hash probe per
                # relation row, no shuffle
                raw_rel = raw_rel.join(
                    F.broadcast(
                        alias_index.select(
                            F.col("norm_key").alias("_ot_key"),
                            F.col("entity_type").alias("object_type"),
                        )
                    ),
                    F.col("object_norm") == F.col("_ot_key"),
                    "left",
                ).drop("_ot_key")
            raw_rel = validation_extra.evidence_containment_semantic_filter(
                raw_rel,
                cfg.semantic_evidence_threshold,
                embed_fn=evidence_embed_fn,
                subject_col="_s_surf",
                object_col="_o_surf",
                documents=documents,
            )
            if documents is not None and not had_object_type:
                raw_rel = raw_rel.drop("object_type")
        else:
            raw_rel = validation_extra.evidence_containment_filter(
                raw_rel, subject_col="_s_surf", object_col="_o_surf"
            )
        raw_rel = validation_extra.predicate_semantics_filter(raw_rel).drop(
            "_s_surf", "_o_surf"
        )
    resolved_rel = resolve.resolve_relation_endpoints(raw_rel, alias_index)

    # ---- pass 2a: canonical merge (D8 connected components) --------------
    edges = relationships.same_as_edges(resolved_rel, cfg)
    if embedding_dedup:
        from kgraph_spark.functions.embeddings import embed_with_cache
        from kgraph_spark.operators.canonicalize import is_authoritative_col
        from kgraph_spark.operators.embedding_resolve import provisional_merge_edges

        prov = (
            mentions.filter(~is_authoritative_col(F.col("entity_id")))
            .groupBy("entity_id")
            .agg(
                F.min("text").alias("name"),
                F.min("entity_type").alias("entity_type"),
            )
            .withColumn("status", F.lit("provisional"))
        )
        from kgraph_spark.functions.embeddings import DIM as _EMB_DIM

        embedded = embed_with_cache(prov, None, text_col="name")
        # dim passed explicitly: inferring it would run a .first() action
        # against the unpersisted groupBy+embed subplan, recomputing it
        emb_edges = provisional_merge_edges(embedded, dim=_EMB_DIM).select("src", "dst")
        edges = edges.unionByName(emb_edges).distinct()
    mapping = canonicalize.merge_mapping(edges, cfg.cc_max_iterations).persist()

    merged_mentions = canonicalize.apply_merge(mentions, mapping, "entity_id")
    if persist_intermediates:
        merged_mentions = merged_mentions.persist()

    # ---- pass 2b: relation validation + per-doc triples -------------------
    validated = relationships.validate_relations(resolved_rel, spec)
    validated = canonicalize.apply_merge(validated, mapping, "subject_id", "object_id")

    # co-occurrence presence comes from the RAW-occurrence 'p' rows (every
    # occurrence counts — reference window-re-scan semantics), not from the
    # C5-deduped mentions; resolution is the same broadcast alias join
    presence = canonicalize.apply_merge(
        resolve.resolve_mentions(presence_from_extracted(extracted), alias_index),
        mapping,
        "entity_id",
    )
    appear = relationships.appears_in_triples(merged_mentions, cfg)
    no_quote = F.lit(None).cast("string").alias("evidence")
    per_doc = validated.select(
        "doc_id", "subject_id", "predicate", "object_id", "confidence", "evidence"
    ).unionByName(appear.select("*", no_quote))

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
        def _accumulate(df, max_src):
            return relationships.accumulate_triples_salted(df, max_src, n_salts)
    else:
        _accumulate = relationships.accumulate_triples
    if cfg.cooc_dict_encode:
        # co_occurs_with shares no (s,p,o) group with the other branches
        # (disjoint predicates), so its F1+F10 run fused and
        # dictionary-encoded (relationships.cooccurrence_accumulated) —
        # the dominant pair stream shuffles 8-byte codes, not id strings
        acc_cooc = relationships.cooccurrence_accumulated(
            presence, cfg, cfg.max_source_documents
        )
        per_doc = relationships.symmetric_order(per_doc, spec)
        triples = _accumulate(
            per_doc, cfg.max_source_documents
        ).unionByName(
            acc_cooc.withColumn(
                "evidence_confidence_avg", F.lit(None).cast("double")
            ).withColumn("strongest_evidence_quote", F.lit(None).cast("string"))
        )
    else:
        cooc = relationships.cooccurrence_triples_fast(presence, cfg)
        per_doc = relationships.symmetric_order(
            per_doc.unionByName(cooc.select("*", no_quote)), spec
        )
        triples = _accumulate(per_doc, cfg.max_source_documents)
    entities = export.entities_table(
        merged_mentions,
        cfg_promotion(cfg),
        max_supporting_documents=cfg.max_supporting_documents,
        max_synonyms=cfg.max_synonyms,
    ).unionByName(
        # D12 tombstones: merge losers stay queryable with merged_into
        export.tombstone_entities(
            mentions,
            mapping,
            max_supporting_documents=cfg.max_supporting_documents,
            max_synonyms=cfg.max_synonyms,
        )
    )
    if promotion_kb is not None:
        # E2/E3 post-pass: provisional entities that name-match the KB get
        # their id swapped to the canonical id and triples rewritten. With
        # the gazetteer extractor this is a no-op (KB surfaces resolve
        # canonically at mention time); it matters for extractors that emit
        # surfaces outside the gazetteer (C1 metadata, LLM plug-ins).
        from kgraph_spark.operators.promotion import promote_and_rewrite

        entities, triples, _id_map = promote_and_rewrite(
            entities, triples, promotion_kb, cfg_promotion(cfg)
        )

    tables = {
        "entities": entities,
        "relationships": triples,
        "mentions": export.mentions_table(merged_mentions),
        "evidence": export.evidence_table(
            relationships.symmetric_order(
                validated.select(
                    "doc_id", "subject_id", "predicate", "object_id", "confidence", "evidence"
                ),
                spec,
            )
        ),
    }
    return PipelineResult(
        mentions=merged_mentions,
        merge_mapping=mapping,
        validated_relations=validated,
        triples=triples,
        entities=entities,
        extracted=extracted if persist_intermediates else None,
        tables=tables,
    )


def cfg_promotion(cfg: PipelineConfig):
    return cfg.promotion
