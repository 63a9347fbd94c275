"""Materialize / export (SURVEY.md §2 A5–A7, G1–G3).

Produces the four bundle tables of the reference's export contract
(kgbundle/kgbundle/models.py: EntityRow / RelationshipRow / MentionRow /
EvidenceRow; JSONL exporter kgraph/export.py:147-296) as DataFrames, plus a
manifest dict. Summary columns are window/agg functions (G1/G2,
export.py:95-130)."""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgraph_spark.config import PromotionConfig
from kgraph_spark.operators.canonicalize import is_authoritative_col
from kgraph_spark.session import local_frame


def entities_table(
    resolved_mentions: DataFrame,
    promo: PromotionConfig | None = None,
    n_salts: int | None = None,
    max_supporting_documents: int = 10_000,
    max_synonyms: int = 1_000,
) -> DataFrame:
    """G1 entity provenance summary + E1 promotion semantics.

    status: canonical when the merge key is an authoritative ontology id;
    provisional otherwise, force-promoted to canonical at confidence ≥ 0.7
    (reference promotion.py:86-96, domain.py:106-109).

    n_salts: two-phase salted aggregation for the hot-entity key (the skew
    corpus plants one entity in ~10% of documents; its collect_set of
    supporting documents otherwise materializes in a single reducer —
    functions/skew.py rationale). Semantics identical (tested).

    supporting_documents / synonyms are capped to a sorted deterministic
    prefix (same scale guard as accumulate_triples' source_documents): a
    hot entity in 10% of a 100-TB corpus must not materialize 10% of all
    doc ids in one row. usage_count/total_mentions stay exact; the mentions
    table keeps full provenance. In the salted path the cap applies PER
    SALT too (bounding the phase-1 agg buffers), and by the same prefix
    argument as accumulate_triples_salted the final prefix of the union of
    per-salt prefixes equals the global prefix — output is identical to the
    unsalted form at any cap (equivalence-tested)."""
    promo = promo or PromotionConfig()
    src = resolved_mentions
    group_keys = ["entity_id"]
    if n_salts:
        from kgraph_spark.functions.skew import with_salt

        src = with_salt(resolved_mentions, n_salts)
        partial = src.groupBy("entity_id", "_salt").agg(
            # ties broken by the elected value itself (lexicographic) so the
            # election is deterministic under any encounter order and the
            # salted min-of-mins equals the unsalted global min exactly
            F.min_by(
                F.col("entity_type"),
                F.struct(-F.col("confidence"), F.col("entity_type")),
            ).alias("_etype"),
            F.max("confidence").alias("_conf"),
            F.count("*").alias("_n"),
            F.min_by(
                F.struct(F.col("text"), F.col("confidence"), F.col("start_offset")),
                F.struct(-F.col("confidence"), F.col("start_offset"), F.col("text")),
            ).alias("_namerec"),
            F.slice(F.array_sort(F.collect_set("text")), 1, max_synonyms).alias("_texts"),
            F.min("doc_id").alias("_first"),
            F.slice(F.array_sort(F.collect_set("doc_id")), 1, max_supporting_documents).alias(
                "_docs"
            ),
        )
        agg = partial.groupBy("entity_id").agg(
            F.min_by(
                F.col("_etype"), F.struct(-F.col("_conf"), F.col("_etype"))
            ).alias("entity_type"),
            F.max("_conf").alias("confidence"),
            F.sum("_n").alias("usage_count"),
            F.min_by(
                F.col("_namerec.text"),
                F.struct(
                    -F.col("_namerec.confidence"),
                    F.col("_namerec.start_offset"),
                    F.col("_namerec.text"),
                ),
            ).alias("name"),
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("_texts")))),
                1,
                max_synonyms,
            ).alias("synonyms"),
            F.min("_first").alias("first_seen_document"),
            F.sum("_n").alias("total_mentions"),
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("_docs")))),
                1,
                max_supporting_documents,
            ).alias("supporting_documents"),
        )
    else:
        agg = src.groupBy(*group_keys).agg(
            F.min_by(
                F.col("entity_type"),
                F.struct(-F.col("confidence"), F.col("entity_type")),
            ).alias("entity_type"),
            F.max("confidence").alias("confidence"),
            F.count("*").alias("usage_count"),
            F.min_by(
                F.col("text"),
                F.struct(-F.col("confidence"), F.col("start_offset"), F.col("text")),
            ).alias("name"),
            F.slice(F.array_sort(F.collect_set("text")), 1, max_synonyms).alias("synonyms"),
            F.min("doc_id").alias("first_seen_document"),
            F.count("*").alias("total_mentions"),
            F.slice(F.array_sort(F.collect_set("doc_id")), 1, max_supporting_documents).alias(
                "supporting_documents"
            ),
        )
    is_auth = is_authoritative_col(F.col("entity_id"))
    promoted = (F.col("confidence") >= promo.force_promote_confidence) & (
        F.col("usage_count") >= promo.min_usage
    )
    return agg.withColumn(
        "status",
        F.when(is_auth | promoted, F.lit("canonical")).otherwise(F.lit("provisional")),
    ).withColumn("merged_into", F.lit(None).cast("string"))


def tombstone_entities(
    pre_merge_mentions: DataFrame,
    mapping: DataFrame,
    max_supporting_documents: int = 10_000,
    max_synonyms: int = 1_000,
) -> DataFrame:
    """D12 merged-entity tombstones: losers of a SAME_AS/embedding merge stay
    queryable as status='merged' rows pointing at the winner (reference
    kgschema/entity.py:61-68: MERGED entities keep merged_into; its merge
    tests look old ids up and follow the pointer).

    pre_merge_mentions: resolved mentions BEFORE apply_merge (so loser ids
    still appear); mapping: (entity_id=loser, final_id=winner). Output schema
    == entities_table so the two union cleanly."""
    losers = pre_merge_mentions.join(
        F.broadcast(mapping), "entity_id", "inner"  # inner keeps loser rows only
    )
    return losers.groupBy("entity_id").agg(
        F.min_by(
            F.col("entity_type"),
            F.struct(-F.col("confidence"), F.col("entity_type")),
        ).alias("entity_type"),
        F.max("confidence").alias("confidence"),
        F.count("*").alias("usage_count"),
        F.min_by(
            F.col("text"),
            F.struct(-F.col("confidence"), F.col("start_offset"), F.col("text")),
        ).alias("name"),
        F.slice(F.array_sort(F.collect_set("text")), 1, max_synonyms).alias("synonyms"),
        F.min("doc_id").alias("first_seen_document"),
        F.count("*").alias("total_mentions"),
        F.slice(F.array_sort(F.collect_set("doc_id")), 1, max_supporting_documents).alias(
            "supporting_documents"
        ),
        F.min("final_id").alias("merged_into"),  # constant per loser
    ).withColumn("status", F.lit("merged"))


def mentions_table(resolved_mentions: DataFrame) -> DataFrame:
    """MentionRow contract (models.py:64-79)."""
    return resolved_mentions.select(
        "entity_id",
        F.col("doc_id").alias("document_id"),
        "start_offset",
        "end_offset",
        F.col("text").alias("text_span"),
        "confidence",
        F.lit("gazetteer").alias("extraction_method"),
    )


def evidence_table(validated_relations: DataFrame) -> DataFrame:
    """EvidenceRow contract (models.py:82-96): relationship_key subj:pred:obj
    + the evidence quote as text_span (models.py:94) when the input carries
    one (validated pattern relations do)."""
    text_span = (
        F.col("evidence")
        if "evidence" in validated_relations.columns
        else F.lit(None).cast("string")
    )
    return validated_relations.select(
        F.concat_ws(":", "subject_id", "predicate", "object_id").alias("relationship_key"),
        F.col("doc_id").alias("document_id"),
        text_span.alias("text_span"),
        "confidence",
        F.lit(True).alias("supports"),
    )


def manifest(tables: dict[str, DataFrame]) -> dict:
    """BundleManifestV1-style counts (models.py:119-138, export.py:176-288)."""
    return {
        "version": 1,
        "created_at_unix": int(time.time()),
        "counts": {name: df.count() for name, df in tables.items()},
    }


def write_bundle(tables: dict[str, DataFrame], out_dir: str) -> dict:
    """A6/A7 sink: one parquet table per bundle component + manifest.json.

    Parquet stands in for Iceberg locally (no Iceberg runtime jar in this
    sandbox); the writer API is the same `df.write` path and each table write
    is the atomic stage commit."""
    from pyspark.sql import Observation

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    m = {"version": 1, "created_at_unix": int(time.time()), "counts": {}}
    for name, df in tables.items():
        path = str(out / name)
        # manifest count observed ON the write job itself — one scan per
        # table per export, no post-write re-read (r3 verdict item 9)
        obs = Observation(f"bundle_{name}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
        m["counts"][name] = obs.get["n"]
    (out / "manifest.json").write_text(json.dumps(m, indent=2))
    return m


def _git_commit() -> str:
    """Producing commit for the manifest (reference manifest carries the
    exporter git hash, kgraph/export.py:176-288)."""
    import subprocess

    try:
        return (
            subprocess.run(
                ["git", "rev-parse", "HEAD"],
                cwd=Path(__file__).resolve().parent,
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            or "unknown"
        )
    except Exception:
        return "unknown"


def write_bundle_jsonl(
    tables: dict[str, DataFrame], out_dir: str, max_driver_rows: int = 5_000_000
) -> dict:
    """A6 JSONL bundle sink — the kgbundle consumer contract
    (kgraph/export.py:147-296): entities.jsonl / relationships.jsonl /
    mentions.jsonl / evidence.jsonl + manifest.json with per-table counts
    and the producing git commit.

    Determinism contract: rows are totally ordered by their serialized JSON
    (ties are identical lines), so two runs over the same inputs produce
    byte-identical output. The bundle is a corpus-level export — orders of
    magnitude below the raw corpus — so tables up to max_driver_rows are
    written driver-side as a single .jsonl (the reference exporter's
    single-file contract). A table ABOVE the guard falls back to a globally
    sorted distributed text write (`<name>.jsonl.d/part-*`, range-partitioned
    by the same sort key: concatenating parts in filename order reproduces
    the exact single-file bytes) instead of silently OOMing the driver; the
    manifest records which format each table used. The 100-TB
    materialization path remains the parquet/Iceberg writer (write_bundle)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    m: dict = {
        "version": 1,
        "created_at_unix": int(time.time()),
        "git_commit": _git_commit(),
        "counts": {},
        "formats": {},
    }
    for name, df in tables.items():
        key = F.to_json(F.struct(*df.columns))
        # cheap size probe FIRST (limit+count: scan short-circuits at
        # guard+1 rows, nothing sorted or serialized, driver gets one int) —
        # the previous single-scan TakeOrdered probe answered "over the
        # guard?" by collecting guard+1 SERIALIZED rows (potentially several
        # GB) into the driver before falling back, so the OOM guard itself
        # carried the spike it guards against (ADVICE r3). Small tables pay
        # one extra cheap scan; a big table never touches the driver.
        over_guard = df.limit(max_driver_rows + 1).count() > max_driver_rows
        lines = None
        if not over_guard:
            # the collect itself stays hard-bounded (limit+1): a table whose
            # cardinality changed between the probe and this scan (sampling,
            # rand()-derived filters, a growing source) must fall back to the
            # distributed writer rather than truncate or OOM the driver
            got = df.orderBy(key).limit(max_driver_rows + 1).toJSON().collect()
            if len(got) <= max_driver_rows:
                lines = got
        if lines is not None:
            (out / f"{name}.jsonl").write_text("\n".join(lines) + ("\n" if lines else ""))
            m["counts"][name] = len(lines)
            m["formats"][name] = "jsonl"
        else:
            (
                df.select(key.alias("value"))
                .orderBy("value")
                .write.mode("overwrite")
                .text(str(out / f"{name}.jsonl.d"))
            )
            m["counts"][name] = df.count()
            m["formats"][name] = "jsonl.d"
    (out / "manifest.json").write_text(json.dumps(m, indent=2, sort_keys=True))
    return m


def write_bucketed_triples(
    triples: DataFrame, table_name: str = "triples_bucketed", buckets: int = 64
) -> None:
    """Persist the triples table bucketed by subject_id (Spark bucketBy →
    managed table). At cluster scale this is the read-path contract: H4
    get_by_subject lookups prune to one bucket, and BFS frontier joins
    co-locate without a shuffle on the edge side (SURVEY.md §2 H4 note).
    Iceberg's equivalent is a bucket(subject_id, N) partition transform."""
    (
        triples.write.mode("overwrite")
        .bucketBy(buckets, "subject_id")
        .sortBy("subject_id")
        .format("parquet")
        .saveAsTable(table_name)
    )


def stage_metrics(df: DataFrame, stage: str, group_col: str | None = None) -> DataFrame:
    """G3 stage statistics (kgraph/stage_models.py:73-262): per-stage counts,
    optionally grouped — persisted by the pipeline into the metrics table
    (north-rule lineage/metrics requirement)."""
    if group_col:
        return df.groupBy(F.col(group_col).alias("group_key")).agg(
            F.count("*").alias("n")
        ).withColumn("stage", F.lit(stage))
    return local_frame(
        df.sparkSession, [(stage, None, df.count())], "stage string, group_key string, n long"
    ).select("group_key", "n", "stage")


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str = "version",
    delete_col: str | None = None,
) -> DataFrame:
    """Batch twin of Iceberg's MERGE INTO (the snapshot-commit seam
    write_bundle documents): last-writer-wins upsert of `updates` into
    `base` per key — highest `version_col` wins, updates beat base on
    version ties, and a winning update row with `delete_col`=true removes
    the key entirely. Contract: (key, version) unique within each input
    (the Iceberg equality-delete precondition).

    ONE shuffle on the key: both sides union with a source tag, then a
    max_by(payload, (version, tag)) aggregate — O(1) state per key, no
    window sort, no join. Under an Iceberg runtime the same statement is
    `MERGE INTO ... WHEN MATCHED`, with bucket-transform pruning limiting
    the rewrite to touched files; this operator restates the exact
    row-level semantics on the parquet stand-in."""
    cols = base.columns
    if set(updates.columns) - set(cols + ([delete_col] if delete_col else [])):
        raise ValueError("updates columns must be a subset of base (+ delete flag)")
    dcol = (
        F.coalesce(F.col(delete_col), F.lit(False))
        if delete_col and delete_col in updates.columns
        else F.lit(False)
    )
    b = base.select(*cols, F.lit(0).alias("_tag"), F.lit(False).alias("_del"))
    u = updates.select(*cols, F.lit(1).alias("_tag"), dcol.alias("_del"))
    payload = F.struct(*[F.col(c) for c in cols if c not in key_cols], F.col("_del"))
    won = (
        b.unionByName(u)
        .groupBy(*key_cols)
        .agg(
            F.max_by(
                payload, F.struct(F.col(version_col), F.col("_tag"))
            ).alias("_w")
        )
    )
    out = won.select(
        *key_cols, *[F.col(f"_w.{c}") for c in cols if c not in key_cols],
        F.col("_w._del").alias("_del"),
    )
    return out.filter(~F.col("_del")).drop("_del").select(*cols)
