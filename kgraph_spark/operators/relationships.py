"""Relationship validation, co-occurrence, and triple accumulation
(SURVEY.md §2 F1, F6–F11).

Everything here is pure DataFrame algebra — the validation chain the
reference runs per-row in Python (examples/medlit/pipeline/relationships.py,
dedup.py:435-514) becomes broadcast joins + column expressions, and the
sherlock co-occurrence extractor (examples/sherlock/pipeline/relationships.py:32-112)
becomes an explode + self-join on (doc, window) keys.

Shuffle inventory (the scale story):
  * validation: zero shuffles (broadcast constraint dim + window-dedup per
    doc key, which co-partitions with the extraction output);
  * co-occurrence: one shuffle on (doc_id, window_j) for the pair self-join —
    keys are per-document so cardinality is bounded and skew-free;
  * accumulation: one shuffle on the (s,p,o) triple key with map-side partial
    aggregation (the reference's dict upsert, memory.py:399-422)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgraph_spark.config import PREDICATE_SPECS, PipelineConfig
from kgraph_spark.session import local_frame


def predicate_spec_df(spark: SparkSession) -> DataFrame:
    from kgraph_spark.schemas import PREDICATE_SPEC

    return local_frame(spark, PREDICATE_SPECS, PREDICATE_SPEC)


def validate_relations(resolved: DataFrame, spec: DataFrame) -> DataFrame:
    """F6 swap correction + F7 type-constraint validation + F8 specificity
    dedup, per document.

    resolved: output of resolve.resolve_relation_endpoints (same_as rows are
    consumed by canonicalize, not validated here)."""
    sp = F.broadcast(spec)
    r = resolved.filter(F.col("predicate") != "same_as").join(sp, "predicate", "inner")

    sub_ok = F.col("subject_types").isNull() | F.array_contains(
        F.col("subject_types"), F.col("subject_type")
    )
    obj_ok = F.col("object_types").isNull() | F.array_contains(
        F.col("object_types"), F.col("object_type")
    )
    swap_sub_ok = F.col("subject_types").isNull() | F.array_contains(
        F.col("subject_types"), F.col("object_type")
    )
    swap_obj_ok = F.col("object_types").isNull() | F.array_contains(
        F.col("object_types"), F.col("subject_type")
    )
    valid_asis = sub_ok & obj_ok
    should_swap = ~valid_asis & swap_sub_ok & swap_obj_ok  # F6 (dedup.py:178-206)

    r = (
        r.withColumn("_keep", valid_asis | should_swap)
        .filter(F.col("_keep"))
        .withColumn(
            "_s", F.when(should_swap, F.col("object_id")).otherwise(F.col("subject_id"))
        )
        .withColumn(
            "_o", F.when(should_swap, F.col("subject_id")).otherwise(F.col("object_id"))
        )
        .withColumn("subject_id", F.col("_s"))
        .withColumn("object_id", F.col("_o"))
        .drop("_s", "_o", "_keep")
    )

    # F8: per (doc, subject, object) keep the most specific predicate
    # (relationships.py:55-74; ties → max confidence, then predicate asc,
    # then evidence asc — fully deterministic, mirrored in golden).
    # Hash min-of-struct aggregation instead of a sort-window: map-side
    # partial aggregation, no per-partition sort. min over
    # (-specificity, -confidence, predicate, evidence) == (spec DESC,
    # conf DESC, pred ASC, evidence ASC).
    ev = F.col("evidence") if "evidence" in r.columns else F.lit("")
    grouped = r.groupBy("doc_id", "subject_id", "object_id").agg(
        F.min(
            F.struct(
                (-F.col("specificity")).alias("nspec"),
                (-F.col("confidence")).alias("nconf"),
                F.col("predicate").alias("predicate"),
                ev.alias("evidence"),
                F.col("confidence").alias("confidence"),
            )
        ).alias("_w")
    )
    return grouped.select(
        "doc_id",
        "subject_id",
        F.col("_w.predicate").alias("predicate"),
        "object_id",
        F.col("_w.confidence").alias("confidence"),
        F.col("_w.evidence").alias("evidence"),
    )


def same_as_edges(resolved: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Merge-signal edges for connected components (D8, dedup.py:370-404)."""
    return (
        resolved.filter(
            (F.col("predicate") == "same_as")
            & (F.col("confidence") >= cfg.same_as_min_conf)
            & (F.col("subject_id") != F.col("object_id"))
        )
        .select(F.col("subject_id").alias("src"), F.col("object_id").alias("dst"))
        .distinct()
    )


def appears_in_triples(resolved_mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Every entity seen in a document → (entity, appears_in, DOC:doc_id)
    (sherlock relationships.py:44-58, conf 0.95)."""
    return (
        resolved_mentions.select("doc_id", "entity_id")
        .distinct()
        .select(
            "doc_id",
            F.col("entity_id").alias("subject_id"),
            F.lit("appears_in").alias("predicate"),
            F.concat(F.lit("DOC:"), F.col("doc_id")).alias("object_id"),
            F.lit(cfg.appears_in_conf).alias("confidence"),
        )
    )


def windows_from_paragraphs(paragraphs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(doc_id, win_j) valid co-occurrence windows from the paragraphs
    table: j ≤ n_paras - N and joined window text ≥ min chars. Standalone
    operator form; the fused extractor (mentions.extract_all) emits the
    same rows for free during extraction."""
    N = cfg.cooccur_window
    wlen = Window.partitionBy("doc_id").orderBy("para_idx").rowsBetween(0, N - 1)
    return (
        paragraphs.withColumn("win_len", F.sum("para_len").over(wlen) + F.lit(N - 1))
        .filter(F.col("para_idx") <= F.col("n_paras") - N)
        .filter(F.col("win_len") >= cfg.cooccur_min_chars)
        .select("doc_id", F.col("para_idx").alias("win_j"))
    )


def cooccurrence_triples(
    resolved_mentions: DataFrame, windows: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """F1 co-occurrence: sliding N-paragraph windows; every unordered entity
    pair present in the same window, counted per document; conf =
    min(0.95, 0.60 + 0.10·n) (sherlock relationships.py:81-112).

    windows: (doc_id, win_j) valid windows (windows_from_paragraphs or the
    fused extractor). 'Present in window j' ⇔ the entity has a mention in a
    paragraph k ∈ [j, j+N-1] — generated by exploding each mention's
    candidate window range (an equi-join, not a range join)."""
    N = cfg.cooccur_window
    membership = (
        resolved_mentions.select("doc_id", "entity_id", "para_idx")
        .distinct()
        .withColumn(
            "win_j",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("para_idx") - (N - 1)), F.col("para_idx")
                )
            ),
        )
        .join(windows, ["doc_id", "win_j"], "inner")  # drops invalid/short windows
        .select("doc_id", "win_j", "entity_id")
        .distinct()
    )

    a = membership.alias("a")
    b = membership.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.win_j") == F.col("b.win_j"))
            & (F.col("a.entity_id") < F.col("b.entity_id")),
            "inner",
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.entity_id").alias("subject_id"),
            F.col("b.entity_id").alias("object_id"),
        )
        .agg(F.count("*").alias("n"))
    )
    conf = F.least(
        F.lit(cfg.cooccur_max_conf),
        F.lit(cfg.cooccur_base_conf) + F.lit(cfg.cooccur_step_conf) * F.col("n"),
    )
    return pairs.select(
        "doc_id",
        "subject_id",
        F.lit("co_occurs_with").alias("predicate"),
        "object_id",
        conf.alias("confidence"),
    )


def cooccurrence_triples_fast(resolved_mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Shuffle-minimal F1 co-occurrence for presence rows carrying the
    extraction-precomputed `valid_wins` array (the pipeline feeds the
    RAW-occurrence 'p' rows — reference window-re-scan presence semantics,
    sherlock relationships.py:81-98 — not the C5-deduped mentions).

    The join-based form (cooccurrence_triples) shuffles every generated
    pair row (~170 rows/doc) through the (doc,s,o) aggregation — measured
    as the scaling bottleneck at 100k docs (the shuffle is O(pairs) and
    disk-bound, so it doesn't speed up with cores). This form:

        mentions → explode(valid_wins)                       [map-side]
        → groupBy(doc, win): sorted distinct entity set      [shuffle of
          O(mentions) rows]
        → groupBy(doc): windows per doc                      [small shuffle]
        → pair arrays via nested array transforms            [in-partition]
        → groupBy(doc, s, o): count                          [NO extra data
          moves: rows are hash(doc)-distributed, so map-side partial
          aggregation collapses each doc's pairs to final counts before
          the exchange]

    Pair rows never cross the wire; shuffle volume is O(mentions + distinct
    pairs) instead of O(window-pair incidences)."""
    ent_wins = (
        resolved_mentions.filter(F.size("valid_wins") > 0)
        .select("doc_id", "entity_id", F.explode("valid_wins").alias("w"))
        .groupBy("doc_id", "entity_id")
        .agg(F.array_sort(F.collect_set("w")).alias("wins"))
    )
    docsets = ent_wins.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("entity_id", "wins"))).alias("ents")
    )
    # pair each entity pair ONCE with n = |wins(a) ∩ wins(b)| — the earlier
    # per-window formulation regenerated a pair for every shared window
    # (~5× duplication from sliding-window overlap) and then needed a 69M-row
    # hash aggregate to count them (measured 123s at 450k docs → 2.9× faster
    # this way). array_intersect keeps it exact for any window count (no
    # 64-window bitmask cap), and rows stay hash(doc)-distributed end-to-end:
    # with doc a subset of the former grouping keys there is no further
    # exchange, and now there is no final aggregate at all.
    es = F.col("ents")
    pair_arrays = F.flatten(
        F.transform(
            es,
            lambda x, i: F.filter(
                F.transform(
                    F.slice(es, i + 2, F.size(es)),
                    lambda y: F.struct(
                        x["entity_id"].alias("s"),
                        y["entity_id"].alias("o"),
                        F.size(F.array_intersect(x["wins"], y["wins"])).alias("n"),
                    ),
                ),
                lambda p: p["n"] > 0,
            ),
        )
    )
    pairs = docsets.select("doc_id", F.explode(pair_arrays).alias("p"))
    conf = F.least(
        F.lit(cfg.cooccur_max_conf),
        F.lit(cfg.cooccur_base_conf) + F.lit(cfg.cooccur_step_conf) * F.col("p.n"),
    )
    return pairs.select(
        "doc_id",
        F.col("p.s").alias("subject_id"),
        F.lit("co_occurs_with").alias("predicate"),
        F.col("p.o").alias("object_id"),
        conf.alias("confidence"),
    )


def cooccurrence_accumulated(
    resolved_mentions: DataFrame,
    cfg: PipelineConfig,
    max_source_documents: int = 10_000,
) -> DataFrame:
    """F1 + F10 fused for the co-occurrence branch: per-doc pair generation
    (pair-once, intersect-counted — see cooccurrence_triples_fast) with the
    69M-row pair stream DICTIONARY-ENCODED (xxhash64 codes, 8 bytes) instead
    of carrying entity-id strings, accumulated cross-doc on the codes, and
    decoded once on the ~1000× smaller accumulated output via a join against
    the code→id dictionary (entity-vocabulary-sized: broadcast locally,
    sort-merge at cluster scale — the same dictionary-encoded-shuffle trick
    columnar engines use).

    Legitimate because co_occurs_with shares no (s,p,o) group with the other
    relationship branches (disjoint predicates), so accumulating it
    separately is semantically identical to the unioned accumulate; and
    conf = min(.95, .6+.1·n) is monotone in n, so max-over-docs(conf) =
    conf(max n) — computed once per accumulated pair. Final ordering is
    normalized to (least, greatest) on the DECODED ids, matching
    symmetric_order/golden exactly.

    xxhash64 codes: a collision would merge two entities' pair groups;
    P ≈ k²/2^65 (k = entity vocabulary) — negligible below ~10^8 entities,
    swap in a dense dictionary join above that."""
    base = (
        resolved_mentions.filter(F.size("valid_wins") > 0)
        .select("doc_id", "entity_id", F.explode("valid_wins").alias("w"))
        .withColumn("code", F.xxhash64("entity_id"))
    )
    # code→id dictionary: a column-pruned distinct over the entity column
    # (map-side partial agg collapses to the vocabulary per partition)
    ent_dict = (
        resolved_mentions.select("entity_id")
        .distinct()
        .withColumn("code", F.xxhash64("entity_id"))
    )
    ent_wins = base.groupBy("doc_id", "code").agg(F.array_sort(F.collect_set("w")).alias("wins"))
    docsets = ent_wins.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("code", "wins"))).alias("ents")
    )
    es = F.col("ents")
    pair_arrays = F.flatten(
        F.transform(
            es,
            lambda x, i: F.filter(
                F.transform(
                    F.slice(es, i + 2, F.size(es)),
                    lambda y: F.struct(
                        x["code"].alias("s"),
                        y["code"].alias("o"),
                        F.size(F.array_intersect(x["wins"], y["wins"])).alias("n"),
                    ),
                ),
                lambda p: p["n"] > 0,
            ),
        )
    )
    pairs = docsets.select("doc_id", F.explode(pair_arrays).alias("p"))
    acc = pairs.groupBy(F.col("p.s").alias("sc"), F.col("p.o").alias("oc")).agg(
        F.max("p.n").alias("max_n"),
        F.slice(F.array_sort(F.collect_set("doc_id")), 1, max_source_documents).alias(
            "source_documents"
        ),
        F.count("*").alias("evidence_count"),
    )
    conf = F.least(
        F.lit(cfg.cooccur_max_conf),
        F.lit(cfg.cooccur_base_conf) + F.lit(cfg.cooccur_step_conf) * F.col("max_n"),
    )
    # decode on the accumulated (small) side; broadcast — the dictionary is
    # entity-vocabulary-sized, never corpus-sized (swap for a sort-merge
    # join if the vocabulary outgrows executor memory)
    ds = F.broadcast(ent_dict.select(F.col("code").alias("sc"), F.col("entity_id").alias("_s")))
    do = F.broadcast(ent_dict.select(F.col("code").alias("oc"), F.col("entity_id").alias("_o")))
    return (
        acc.join(ds, "sc").join(do, "oc")
        .select(
            F.least("_s", "_o").alias("subject_id"),
            F.lit("co_occurs_with").alias("predicate"),
            F.greatest("_s", "_o").alias("object_id"),
            conf.alias("confidence"),
            "source_documents",
            "evidence_count",
        )
    )


def symmetric_order(triples: DataFrame, spec: DataFrame) -> DataFrame:
    """F11: symmetric predicates stored as (least, greatest)
    (examples/medlit/pipeline/utils.py:4-10) — built-in least/greatest."""
    sym = F.broadcast(spec.select("predicate", "symmetric"))
    t = triples.join(sym, "predicate", "left").withColumn(
        "_sym", F.coalesce(F.col("symmetric"), F.lit(False))
    )
    s = F.when(F.col("_sym"), F.least("subject_id", "object_id")).otherwise(F.col("subject_id"))
    o = F.when(F.col("_sym"), F.greatest("subject_id", "object_id")).otherwise(F.col("object_id"))
    # compute both into fresh columns before replacing — a chained
    # withColumn("subject_id", ...) would feed the already-rewritten subject
    # into greatest() and collapse the pair into a self-loop
    return (
        t.withColumn("_s2", s)
        .withColumn("_o2", o)
        .drop("subject_id", "object_id", "symmetric", "_sym")
        .withColumnRenamed("_s2", "subject_id")
        .withColumnRenamed("_o2", "object_id")
    )


def accumulate_triples(per_doc_triples: DataFrame, max_source_documents: int = 10_000) -> DataFrame:
    """F10 cross-document accumulation (dedup.py:435-514): groupBy triple key,
    max confidence, union of source documents, evidence count. Map-side
    partial aggregation makes this one well-behaved shuffle.

    When the input carries an `evidence` quote column (validated pattern
    relations do; co-occurrence/appears_in rows carry null), the output is
    enriched with the reference's RelationshipRow evidence summary
    (kgbundle/models.py:59-61, built at kgraph/export.py:114-130):
    strongest_evidence_quote = quote of the max-confidence evidence (ties →
    max quote, deterministic) and evidence_confidence_avg = mean evidence
    confidence; both null for quote-less relationship kinds."""
    # source_documents capped (sorted → deterministic prefix) so a hot pair
    # co-occurring in millions of documents cannot blow up the triple row;
    # evidence_count stays exact and the evidence table keeps full per-doc
    # provenance. (The collect_set agg buffer itself still sees every id —
    # at true 100-TB scale provenance should be read from the normalized
    # evidence table, and this array treated as a bounded sample.)
    aggs = [
        F.max("confidence").alias("confidence"),
        F.slice(
            F.array_sort(F.collect_set("doc_id")), 1, max_source_documents
        ).alias("source_documents"),
        F.count("*").alias("evidence_count"),
    ]
    if "evidence" in per_doc_triples.columns:
        with_ev = F.when(
            F.col("evidence").isNotNull(),
            F.struct(F.col("confidence").alias("c"), F.col("evidence").alias("q")),
        )
        aggs += [
            F.max(with_ev).alias("_best"),  # max ignores nulls
            F.avg(F.when(F.col("evidence").isNotNull(), F.col("confidence"))).alias(
                "evidence_confidence_avg"
            ),
        ]
    out = (
        per_doc_triples.filter(F.col("subject_id") != F.col("object_id"))
        .groupBy("subject_id", "predicate", "object_id")
        .agg(*aggs)
    )
    if "evidence" in per_doc_triples.columns:
        out = out.withColumn("strongest_evidence_quote", F.col("_best.q")).drop("_best")
    return out


def accumulate_triples_salted(
    per_doc_triples: DataFrame,
    max_source_documents: int = 10_000,
    n_salts: int = 16,
) -> DataFrame:
    """accumulate_triples with two-phase salted aggregation — the hot-pair
    path (SURVEY.md §4; north_rule "salted keys for skewed mentions").

    accumulate_triples' one residual skew exposure is the collect_set
    buffer: for a pair co-occurring in 10% of a 100-TB corpus, ONE reducer
    materializes every distinct doc_id before the sorted-prefix cap is
    applied. Here phase 1 groups on (s, p, o, salt) and caps the sorted
    doc-id set PER SALT; phase 2 merges the ≤ n_salts bounded arrays.
    Output is EXACTLY accumulate_triples' (equivalence-tested): any id in
    the global ascending top-k is also within its salt's top-k (it has
    ≤ k-1 ids below it globally, so ≤ k-1 within its salt), hence the
    final sorted prefix of the union of per-salt prefixes is the global
    prefix. Per-reducer state drops from O(distinct docs of the hottest
    pair) to O(max_source_documents).

    The salt is hash(doc_id) — deterministic for resume, and it spreads
    exactly the dimension that explodes (documents per pair)."""
    salted = per_doc_triples.filter(F.col("subject_id") != F.col("object_id")).withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)).cast("int")
    )
    has_ev = "evidence" in per_doc_triples.columns
    partial = [
        F.max("confidence").alias("_conf_p"),
        F.slice(F.array_sort(F.collect_set("doc_id")), 1, max_source_documents).alias(
            "_docs_p"
        ),
        F.count("*").alias("_cnt_p"),
    ]
    if has_ev:
        with_ev = F.when(
            F.col("evidence").isNotNull(),
            F.struct(F.col("confidence").alias("c"), F.col("evidence").alias("q")),
        )
        partial += [
            F.max(with_ev).alias("_best_p"),  # max ignores nulls
            F.sum(F.when(F.col("evidence").isNotNull(), F.col("confidence"))).alias("_evs_p"),
            F.count(F.col("evidence")).alias("_evn_p"),
        ]
    p1 = salted.groupBy("subject_id", "predicate", "object_id", "_salt").agg(*partial)
    final = [
        F.max("_conf_p").alias("confidence"),
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_docs_p")))),
            1,
            max_source_documents,
        ).alias("source_documents"),
        F.sum("_cnt_p").alias("evidence_count"),
    ]
    if has_ev:
        final += [
            F.max("_best_p").alias("_best"),
            (F.sum("_evs_p") / F.when(F.sum("_evn_p") > 0, F.sum("_evn_p"))).alias(
                "evidence_confidence_avg"
            ),
        ]
    out = p1.groupBy("subject_id", "predicate", "object_id").agg(*final)
    if has_ev:
        out = out.withColumn("strongest_evidence_quote", F.col("_best.q")).drop("_best")
    return out


def kg_diff(
    old_triples: DataFrame,
    new_triples: DataFrame,
    key_cols: tuple[str, str, str] = ("subject_id", "predicate", "object_id"),
    confidence_col: str = "confidence",
) -> DataFrame:
    """Triple-level diff between two KG builds — the regression check a
    weekly pipeline runs before promoting a snapshot (the reference's
    promotion gate is entity-level, promotion.py; triples change silently
    without this). One row per (s, p, o) present in either build:
    status ∈ added | removed | changed | unchanged, with both round-6
    confidences (changed = present in both, confidence moved).

    ONE full outer join on the triple key — the 16-byte-ish key is the
    shuffle payload, confidences ride along; at Iceberg runtime the same
    question is a snapshot-diff read (incremental scan between commits),
    which this operator restates for any pair of tables."""
    k = list(key_cols)
    o = old_triples.select(*k, F.round(confidence_col, 6).alias("old_confidence"))
    n = new_triples.select(*k, F.round(confidence_col, 6).alias("new_confidence"))
    j = o.join(n, k, "full_outer")
    status = (
        F.when(F.col("old_confidence").isNull(), F.lit("added"))
        .when(F.col("new_confidence").isNull(), F.lit("removed"))
        .when(F.col("old_confidence") != F.col("new_confidence"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(*k, "old_confidence", "new_confidence", status.alias("status"))


def triple_snapshot_asof(
    changes: DataFrame,
    at,
    key_cols: tuple[str, ...] = ("subject_id", "predicate", "object_id"),
    ts_col: str = "ts",
    op_col: str = "op",
    seq_col: str | None = None,
) -> DataFrame:
    """The KG as it stood at time `at` — time travel over a triple
    CHANGELOG (rows = (key_cols…, ts, op ∈ {'upsert','delete'}, payload
    columns)): per triple key, the last change at or before `at` wins;
    the triple is present iff that change was an upsert. This is the
    Iceberg snapshot-as-of restatement for the parquet stand-in — kg_diff
    answers "what changed between builds", this answers "what WAS the
    graph then", the query an audit or a reproducibility rerun needs.

    ONE bounded aggregate: filter ts ≤ at (pushed into the scan), then
    max_by(payload-struct, (ts, seq)) per key — O(1) state per triple,
    no window sort, hot triples cost their own row count (the
    merge_upsert pattern with event time as the version). `seq_col`
    breaks same-instant ties (highest wins); omitted, ties fall to the
    greatest payload struct — deterministic under any arrival order."""
    keys = list(key_cols)
    payload = [c for c in changes.columns if c not in (*keys, ts_col)]
    tie = F.col(seq_col) if seq_col else F.struct(*[F.col(c) for c in payload])
    last = (
        changes.filter(F.col(ts_col) <= F.lit(at))
        .groupBy(*keys)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload]),
                F.struct(F.col(ts_col), tie),
            ).alias("_last")
        )
    )
    present = last.filter(F.col(f"_last.{op_col}") == "upsert")
    return present.select(
        *keys,
        *[F.col(f"_last.{c}").alias(c) for c in payload if c != op_col],
    )


def predicate_profile(
    triples: DataFrame,
    subj_col: str = "subject_id",
    pred_col: str = "predicate",
    obj_col: str = "object_id",
) -> DataFrame:
    """Per-predicate schema profile of the triple store: (predicate,
    n_triples, n_subjects, n_objects, functionality,
    inverse_functionality, is_functional, is_inverse_functional). A
    predicate is functional when no subject has two objects (person→
    birth_date), inverse-functional when no object has two subjects (the
    key-like predicates entity resolution can SAFELY merge on — exactly
    the D7/D8 authority-link precondition, here measured instead of
    assumed). functionality = triples/subjects (mean fan-out; 1.0 =
    functional), inverse = triples/objects. The drift of these ratios
    between builds is a schema-regression gate (a swapped extraction
    suddenly making `treats` multi-valued shows up here before it poisons
    merges).

    Plan: dedup triple set, then three bounded aggregates keyed on
    (pred, subj), (pred, obj), (pred) — partial aggregation throughout,
    integer arithmetic with two final exact-long divisions round-6."""
    t = triples.select(
        F.col(subj_col).alias("_s"), F.col(pred_col).alias("_p"), F.col(obj_col).alias("_o")
    ).distinct()
    per_s = t.groupBy("_p", "_s").agg(F.count(F.lit(1)).alias("_k"))
    per_o = t.groupBy("_p", "_o").agg(F.count(F.lit(1)).alias("_k"))
    subj = per_s.groupBy("_p").agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects"),
        F.max("_k").alias("_max_out"),
        F.sum("_k").cast("long").alias("n_triples"),
    )
    obj = per_o.groupBy("_p").agg(
        F.count(F.lit(1)).cast("long").alias("n_objects"),
        F.max("_k").alias("_max_in"),
    )
    return subj.join(obj, "_p").select(
        F.col("_p").alias(pred_col),
        "n_triples",
        "n_subjects",
        "n_objects",
        F.round(F.col("n_triples") / F.col("n_subjects"), 6).alias("functionality"),
        F.round(F.col("n_triples") / F.col("n_objects"), 6).alias(
            "inverse_functionality"
        ),
        (F.col("_max_out") == 1).alias("is_functional"),
        (F.col("_max_in") == 1).alias("is_inverse_functional"),
    )


def predicate_composition(
    triples: DataFrame,
    max_node_degree: int | None = 1000,
    subj_col: str = "subject_id",
    pred_col: str = "predicate",
    obj_col: str = "object_id",
) -> DataFrame:
    """(p1, p2, n_paths, n_mid_nodes): how often predicate p1's object is
    predicate p2's subject — the 2-hop metapath census that discovers
    which relations COMPOSE (gene —codes→ protein —targets→ drug) before
    anyone writes the join; feeds rule mining and the H2 path-query
    planner with real composition frequencies.

    A hub entity contributes in-degree × out-degree paths, so
    `max_node_degree` drops nodes whose in- OR out-degree exceeds the cap
    (the documented recall contract, same shape as the hot-shingle cap;
    None = uncapped). Exact integers throughout.

    Execution: paths are NEVER materialized. For a fixed mid node y,
    #paths(p1, p2 via y) = in_cnt(y, p1) × out_cnt(y, p2), so the census
    is two per-(node, predicate) degree aggregates over the distinct edge
    set joined on the mid node — |nodes|×|preds| rows instead of
    Σ in·out path rows (18M path rows → 60k degree rows at sf0.1; at
    100 TB the path join this replaces is quadratic in hub degree while
    the degree table stays linear in nodes)."""
    t = triples.select(
        F.col(subj_col).alias("_s"), F.col(pred_col).alias("_p"), F.col(obj_col).alias("_o")
    ).distinct()
    inc = t.groupBy(F.col("_o").alias("_mid"), F.col("_p").alias("p1")).agg(
        F.count(F.lit(1)).cast("long").alias("_in_cnt")
    )
    outc = t.groupBy(F.col("_s").alias("_mid"), F.col("_p").alias("p2")).agg(
        F.count(F.lit(1)).cast("long").alias("_out_cnt")
    )
    if max_node_degree is not None:
        # total (all-predicate) degrees derive from the tiny per-pred tables
        in_ok = inc.groupBy("_mid").agg(F.sum("_in_cnt").alias("_d")).filter(
            F.col("_d") <= max_node_degree
        ).select("_mid")
        out_ok = outc.groupBy("_mid").agg(F.sum("_out_cnt").alias("_d")).filter(
            F.col("_d") <= max_node_degree
        ).select("_mid")
        inc = inc.join(in_ok, "_mid", "left_semi").join(out_ok, "_mid", "left_semi")
        outc = outc.join(in_ok, "_mid", "left_semi").join(out_ok, "_mid", "left_semi")
    return (
        inc.join(outc, "_mid")
        .groupBy("p1", "p2")
        .agg(
            F.sum(F.col("_in_cnt") * F.col("_out_cnt")).cast("long").alias("n_paths"),
            F.countDistinct("_mid").cast("long").alias("n_mid_nodes"),
        )
    )


def rule_confidence(
    triples: DataFrame,
    max_node_degree: int | None = 1000,
    subj_col: str = "subject_id",
    pred_col: str = "predicate",
    obj_col: str = "object_id",
) -> DataFrame:
    """AMIE-lite composition-rule mining: for every predicate triple
    (p1, p2, p3) score the Horn rule  p1(x,y) ∧ p2(y,z) ⇒ p3(x,z)  —
    body_support = #distinct (x,z) pairs connected by a p1∘p2 path,
    support = those pairs that ALSO carry a direct p3 edge, confidence =
    support / body_support (standard closed-world confidence, Galárraga
    et al. 2013). High-confidence rules are the KG-completion candidates
    (assert the missing p3 edges) and the redundancy detectors (a p3
    edge implied at ~1.0 confidence adds no information to the graph).

    Also emits PCA confidence (the paper's partial-completeness metric):
    denominator restricted to bodies whose x asserts p3 for SOME object —
    a missing p3 edge under an x that never mentions p3 is treated as
    unknown, not false, so incomplete KGs don't drag good rules down.
    Output rows are rules with ≥ 1 closing instance (support ≥ 1).

    Execution: the path join reuses predicate_composition's shape — mid
    node key, in/out degree cap BEFORE the join (documented recall
    contract) — then body pairs are deduped to distinct (x, z, p1, p2)
    so path multiplicity can't inflate support. The distinct triple set
    and the distinct body-pair set are each pinned once (lazy
    localCheckpoint) because three consumers read them — without the pin
    Spark recomputes the path join + distinct per consumer. Both
    denominators come from ONE per-(x, p1, p2) pre-aggregation of the
    bodies (|x|-scale rows): body_support = Σ_x n_z, and the PCA join
    attaches the distinct (x, p3) table to the pre-aggregate instead of
    to the full body set — the x-keyed join shrinks from |bodies| to |x|
    rows, the skew-and-size win at 100 TB. Heads attach by ONE
    (x, z)-keyed join. Exact longs; two round-6 divisions per rule."""
    t = (
        triples.select(
            F.col(subj_col).alias("_s"),
            F.col(pred_col).alias("_p"),
            F.col(obj_col).alias("_o"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # degree caps + both join sides + heads read it
    )
    if max_node_degree is not None:
        outd = t.groupBy("_s").agg(F.count(F.lit(1)).alias("_d"))
        ind = t.groupBy("_o").agg(F.count(F.lit(1)).alias("_d"))
        ok = (
            outd.filter(F.col("_d") <= max_node_degree)
            .select(F.col("_s").alias("_n"))
            .join(
                ind.filter(F.col("_d") <= max_node_degree).select(
                    F.col("_o").alias("_n")
                ),
                "_n",
            )
        )
        left = t.join(ok.withColumnRenamed("_n", "_o"), "_o", "left_semi")
        right = t.join(ok.withColumnRenamed("_n", "_s"), "_s", "left_semi")
    else:
        left, right = t, t
    bodies = (
        left.alias("a")
        .join(right.alias("b"), F.col("a._o") == F.col("b._s"))
        .select(
            F.col("a._s").alias("_x"),
            F.col("b._o").alias("_z"),
            F.col("a._p").alias("p1"),
            F.col("b._p").alias("p2"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # closed-support join + x-level pre-agg read it
    )
    heads = t.select(
        F.col("_s").alias("_x"), F.col("_o").alias("_z"), F.col("_p").alias("p3")
    )
    closed = bodies.join(heads, ["_x", "_z"]).groupBy("p1", "p2", "p3").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    x_body = bodies.groupBy("_x", "p1", "p2").agg(
        F.count(F.lit(1)).cast("long").alias("_nz")
    )
    body_counts = x_body.groupBy("p1", "p2").agg(
        F.sum("_nz").cast("long").alias("body_support")
    )
    x_preds = heads.select("_x", "p3").distinct()
    pca_counts = (
        x_body.join(x_preds, "_x")
        .groupBy("p1", "p2", "p3")
        .agg(F.sum("_nz").cast("long").alias("pca_body_support"))
    )
    return (
        closed.join(body_counts, ["p1", "p2"])
        .join(pca_counts, ["p1", "p2", "p3"])
        .select(
            "p1",
            "p2",
            "p3",
            "body_support",
            "pca_body_support",
            "support",
            F.round(F.col("support") / F.col("body_support"), 6).alias("confidence"),
            F.round(F.col("support") / F.col("pca_body_support"), 6).alias(
                "pca_confidence"
            ),
        )
    )


def conflicting_triples(
    triples: DataFrame,
    conflict_pairs: list[tuple[str, str]],
    subject_col: str = "subject_id",
    predicate_col: str = "predicate",
    object_col: str = "object_id",
) -> DataFrame:
    """KG contradiction detection: (subject, object) pairs asserted under
    BOTH predicates of a declared conflict pair (e.g. TREATS vs CAUSES —
    the polarity table validate_relations consults per-edge, applied
    ACROSS edges; reference predicate semantics:
    examples/medlit/pipeline/relationships.py predicate spec). Emits one
    row per conflicted pair with per-predicate evidence counts so triage
    can keep the better-attested side.

    Plan shape: ONE (s,p,o) hash aggregate over the KG (partial+final,
    ids only), both sides pre-pruned to the conflict dictionary's
    predicates with a literal isin BEFORE the self-join — at 100 TB the
    join inputs are only the dictionary-predicate slices, keyed on
    (subject, object). The dictionary itself stays driver-side literal
    (conflict taxonomies are tens of rows)."""
    if not conflict_pairs:
        raise ValueError("conflict_pairs must be non-empty")
    spark = triples.sparkSession
    conf = F.broadcast(
        spark.createDataFrame(
            [(a, b) for a, b in conflict_pairs], "pred_a string, pred_b string"
        )
    )
    preds = sorted({p for ab in conflict_pairs for p in ab})
    counts = (
        triples.filter(F.col(predicate_col).isin(preds))
        .groupBy(
            F.col(subject_col).alias("subject_id"),
            F.col(object_col).alias("object_id"),
            F.col(predicate_col).alias("_p"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    a = counts.select(
        "subject_id", "object_id", F.col("_p").alias("pred_a"), F.col("_n").alias("n_a")
    )
    b = counts.select(
        "subject_id", "object_id", F.col("_p").alias("pred_b"), F.col("_n").alias("n_b")
    )
    return (
        a.join(conf, "pred_a")
        .join(b, ["subject_id", "object_id", "pred_b"])
        .select("subject_id", "object_id", "pred_a", "pred_b", "n_a", "n_b")
    )


def type_constraints(
    typed_triples: DataFrame,
    pred_col: str = "predicate",
    subj_type_col: str = "subject_type",
    obj_type_col: str = "object_type",
) -> DataFrame:
    """Schema induction + violation audit: for each predicate, elect the
    dominant (subject_type, object_type) signature by edge count (ties to
    the lexicographically smaller pair — deterministic) and count the
    edges that violate it. This is the KG-construction QA gate that
    catches extraction bugs (a TREATS edge whose subject is a Disease) on
    a corpus where no hand-written schema exists yet — induce the schema
    from the bulk, flag the tail.

    conform_micro = 1e6·n_conforming ÷ n_total (one integer division).

    Scale: ONE partial+final count aggregate on (predicate, types) — type
    signatures are low-cardinality, so the election and the violation
    rollup both run over |preds|·|type-pairs| rows, never the edge set."""
    sig = typed_triples.groupBy(
        F.col(pred_col).alias("predicate"),
        F.col(subj_type_col).alias("_st"),
        F.col(obj_type_col).alias("_ot"),
    ).agg(F.count("*").cast("long").alias("n"))
    dom = (
        sig.groupBy("predicate")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("_nn"),
                    F.col("_st").alias("_s"),
                    F.col("_ot").alias("_o"),
                )
            ).alias("_w"),
            F.sum("n").cast("long").alias("n_total"),
        )
        .select(
            "predicate",
            F.col("_w._s").alias("dom_subject_type"),
            F.col("_w._o").alias("dom_object_type"),
            "n_total",
            (-F.col("_w._nn")).cast("long").alias("n_conforming"),
        )
    )
    return dom.select(
        "predicate",
        "dom_subject_type",
        "dom_object_type",
        "n_total",
        "n_conforming",
        (F.col("n_total") - F.col("n_conforming")).cast("long").alias("n_violations"),
        F.expr("1000000 * n_conforming div n_total").alias("conform_micro"),
    )


def rule_completion_candidates(
    triples: DataFrame,
    p1: str,
    p2: str,
    p3: str,
    subj_col: str = "subject_id",
    pred_col: str = "predicate",
    obj_col: str = "object_id",
) -> DataFrame:
    """KG completion, operationalized: apply the mined rule
    p1(x,y) ∧ p2(y,z) ⇒ p3(x,z) and emit the (x, p3, z) edges the rule
    IMPLIES but the graph does not yet assert — the actual work-list a
    completion pass writes (rule_confidence scores the rules; this
    materializes one rule's missing heads).

    Execution: both body sides are pre-filtered to their predicate BEFORE
    the mid-node join (predicate pushdown into the scan), implied pairs
    are deduped to distinct (x, z), and the existing-head check is ONE
    LeftAnti join on (x, z) — no negation subquery, no second pass.
    At 100 TB the anti-join is the same shuffle shape as the head join in
    rule_confidence."""
    t = triples.select(
        F.col(subj_col).alias("_s"),
        F.col(pred_col).alias("_p"),
        F.col(obj_col).alias("_o"),
    )
    left = t.filter(F.col("_p") == p1).select(
        F.col("_s").alias("_x"), F.col("_o").alias("_y")
    ).distinct()
    right = t.filter(F.col("_p") == p2).select(
        F.col("_s").alias("_y"), F.col("_o").alias("_z")
    ).distinct()
    implied = left.join(right, "_y").select("_x", "_z").distinct()
    heads = t.filter(F.col("_p") == p3).select(
        F.col("_s").alias("_x"), F.col("_o").alias("_z")
    )
    return implied.join(heads, ["_x", "_z"], "left_anti").select(
        F.col("_x").alias("subject_id"),
        F.lit(p3).alias("predicate"),
        F.col("_z").alias("object_id"),
    )


def pra_path_features(
    triples: DataFrame,
    max_mid_degree: int = 50,
    subj_col: str = "subject_id",
    pred_col: str = "predicate",
    obj_col: str = "object_id",
) -> DataFrame:
    """Path-Ranking-Algorithm feature extraction: for every entity pair
    connected by a length-2 metapath, (src, dst, p1, p2, n_paths) — the
    per-PAIR twin of predicate_composition's per-PREDICATE census, and
    the feature matrix a KG-completion ranker consumes (each (p1, p2)
    column scores candidate (src, dst) links; Lao & Cohen 2010).

    Unlike the census, pairs ARE materialized (they are the output), so
    the hub cap is not optional: a mid node contributes in·out pairs and
    `max_mid_degree` bounds that product per node — the documented
    recall contract (paths through super-hubs are the least informative
    PRA features precisely because the hub connects everything).
    Self-pairs (src == dst, a path out and back) are dropped.

    ONE mid-node equi-join of the distinct edge set against itself +
    one (src, dst, p1, p2) count aggregate — both shuffle-partition on
    the mid key first, then on the pair, and AQE's skew split handles
    any residual imbalance under the cap."""
    t = triples.select(
        F.col(subj_col).alias("_s"),
        F.col(pred_col).alias("_p"),
        F.col(obj_col).alias("_o"),
    ).distinct()
    in_deg = t.groupBy(F.col("_o").alias("_mid")).agg(
        F.count(F.lit(1)).cast("long").alias("_di")
    )
    out_deg = t.groupBy(F.col("_s").alias("_mid")).agg(
        F.count(F.lit(1)).cast("long").alias("_do")
    )
    ok = (
        in_deg.join(out_deg, "_mid")
        .filter((F.col("_di") <= max_mid_degree) & (F.col("_do") <= max_mid_degree))
        .select("_mid")
    )
    left = t.select(
        F.col("_s").alias("src"), F.col("_p").alias("p1"), F.col("_o").alias("_mid")
    ).join(ok, "_mid", "left_semi")
    right = t.select(
        F.col("_s").alias("_mid"), F.col("_p").alias("p2"), F.col("_o").alias("dst")
    ).join(ok, "_mid", "left_semi")
    return (
        left.join(right, "_mid")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst", "p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )


def inverse_predicate_scores(
    triples: DataFrame,
    min_overlap: int = 1,
) -> DataFrame:
    """OWL inverseOf induction: for every ordered predicate pair (p, q),
    how often does p(s,o) co-occur with the REVERSED fact q(o,s)?
    Returns (p, q, support_p, support_q, overlap, confidence) with
    confidence = overlap / support_p — confidence ≈ 1 both ways means
    q is p's inverse (contains/contained_in); high one way only means q
    subsumes p's reverse. Rows with p = q measure SYMMETRY (same_as,
    interacts_with) — kept, because a symmetric predicate is exactly an
    inverse of itself. The schema-induction sibling of rule_confidence:
    run it before kg_completion_candidates so completion doesn't
    hallucinate edges a declared inverse already implies.

    Reference parity: the reference hand-declares predicate direction
    and polarity per edge (examples/medlit/pipeline/relationships.py
    predicate spec — the same table kg_conflicts consults); this
    operator LEARNS the inverse/symmetry structure from the data
    instead, so an undeclared pair surfaces as schema-induction output
    rather than silent duplication.

    Exactness: overlap and supports are exact distinct-fact counts;
    ONE double division at the end. Scale: facts dedup once, then the
    overlap is a single equi-join on the (subject, object) pair key —
    no pair enumeration, no skew beyond hot (s,o) pairs, which a
    distinct fact table cannot duplicate. Output is |P|² rows at most —
    driver-small for any real ontology."""
    t = triples.select("subject_id", "predicate", "object_id").distinct()
    support = t.groupBy("predicate").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    rev = t.select(
        F.col("object_id").alias("subject_id"),
        F.col("predicate").alias("q"),
        F.col("subject_id").alias("object_id"),
    )
    overlap = (
        t.join(rev, ["subject_id", "object_id"])
        .groupBy(F.col("predicate").alias("p"), "q")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
        .filter(F.col("overlap") >= min_overlap)
    )
    return (
        overlap.join(
            F.broadcast(support.select(F.col("predicate").alias("p"), F.col("support").alias("support_p"))),
            "p",
        )
        .join(
            F.broadcast(support.select(F.col("predicate").alias("q"), F.col("support").alias("support_q"))),
            "q",
        )
        .select(
            "p",
            "q",
            "support_p",
            "support_q",
            "overlap",
            F.round(
                F.col("overlap").cast("double") / F.col("support_p").cast("double"), 6
            ).alias("confidence"),
        )
    )


def transe_plausibility(
    triples: DataFrame, dim: int = 8, top_k: int = 50
) -> DataFrame:
    """TransE-style triple plausibility audit with DETERMINISTIC
    hash-derived embeddings — rank the emitted (s, p, o) triples by
    ‖h + r − t‖ so reviewers see the structurally oddest facts first:
    top-k rows (subject_id, predicate, object_id, implausibility),
    ordered (score desc, s, p, o). Entity/relation vectors are sha256
    hex digits mapped through ascii()%16 — a pluggable stand-in for
    trained KG embeddings (the interfaces.py determinism note): the
    SCORING dataflow (per-dim arithmetic, exact integer squared sum,
    one sqrt, total-ordered top-k) is the real, scale-shaped part, and
    any learned embedding table drops in as a broadcast join.

    Every per-dim component is a small exact integer, so the squared
    distance is exact — no float order anywhere before the final sqrt.
    Pure JVM expressions, no shuffle except the bounded top-k.
    """
    hs = F.sha2(F.col("subject_id").cast("string"), 256)
    hr = F.sha2(F.col("predicate").cast("string"), 256)
    ht = F.sha2(F.col("object_id").cast("string"), 256)

    def comp(h: Column, j: int) -> Column:
        return F.ascii(F.substring(h, j, 1)) % 16

    score2: Column | None = None
    for j in range(1, dim + 1):
        d = comp(hs, j) + comp(hr, j) - comp(ht, j)
        score2 = d * d if score2 is None else score2 + d * d
    return (
        triples.select(
            "subject_id",
            "predicate",
            "object_id",
            F.round(F.sqrt(score2.cast("double")), 6).alias("implausibility"),
        )
        .orderBy(
            F.col("implausibility").desc(), "subject_id", "predicate", "object_id"
        )
        .limit(top_k)
    )
