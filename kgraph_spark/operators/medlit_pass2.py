"""Pass-2 merge over per-paper bundles — exact-semantics medlit parity mode.

Re-implements the reference's Pass-2 dedup/promotion
(examples/medlit/pipeline/dedup.py:214-792) as staged DataFrame transforms:

  1. per-entity authoritative-id election        — JVM CASE expressions
  2. synonym-cache resolution                    — broadcast dimension join
  3. first-wins name/type index chain            — per-class applyInPandas fold
  4. high-confidence SAME_AS transitive merge    — D8 connected components
  5. merged-entity build                         — groupBy min-by(order)
  6. triple accumulation (+ swap correction,
     symmetric ordering, confidence/trust fold)  — groupBy + higher-order fns
  7. post-dedup reconciliation (6b)              — grouping round + rewrite

Scale notes (10^12 documents): stages 1-2 and 5-7 are embarrassingly
parallel or single-shuffle DataFrame ops over entity/triple keys. Stage 3
is the one inherently ORDER-DEPENDENT piece of the reference semantics
(dedup.py:297-360: the first paper to mention a (name, class) key decides
its merge key, whether an entity's synonyms enter the index depends on
whether its own name hit the index first, and index entries can be
OVERWRITTEN by later synonym/auth populates — so the fold must see every
entity row in order, not a distinct-name reduction). It shards PERFECTLY
by entity class — index keys carry the entity's class, so no cross-class
interaction exists until SAME_AS/reconciliation — and runs as an
applyInPandas fold per class over the slim per-entity resolution tuples
(name, synonyms, elected auth id, cache hit), not the documents; the
corpus-scale text work all happens in stages 1-2. For corpora where even
a per-class entity stream is too large to fold, the order-relaxed
distributed chain (operators/resolve.py D7 + canonicalize.py D8) is the
scale path; this module is the exact-parity mode whose output is verified
against the reference's own committed merged graph
(/root/reference/medlit_merged) in tests/test_medlit_parity.py.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgraph_spark.functions.medlit_schema import (
    BUNDLE_CLASS_TO_TYPE,
    PREDICATE_CONSTRAINTS,
    SAME_AS,
    SAME_AS_MIN_CONFIDENCE,
    SPELLING_NORMALIZATIONS,
    SYMMETRIC_PREDICATES,
)
from kgraph_spark.operators.canonicalize import is_authoritative_col
from kgraph_spark.session import local_frame

_ORD = ("paper_id", "pos")  # deterministic processing order (see medlit_bundles)


def _dedup_norm(name: str) -> str:
    n = name.lower().strip()
    return SPELLING_NORMALIZATIONS.get(n, n)


def _dedup_norm_col(c: Column) -> Column:
    """Column twin of _dedup_norm: lower+trim then the 5-entry spelling map."""
    n = F.lower(F.trim(c))
    out = n
    for brit, amer in SPELLING_NORMALIZATIONS.items():
        out = F.when(n == brit, F.lit(amer)).otherwise(out)
    return out


def _is_auth_str(s: str | None) -> bool:
    from kgraph_spark.config import is_authoritative_id

    return is_authoritative_id(s)


def with_authoritative_id(entities: DataFrame) -> DataFrame:
    """Add auth_id: the merge key preferred from bundle ontology ids.

    Mirrors dedup.py:100-121 (_preferred_authoritative_id, no lookup
    service): Gene prefers hgnc (digits formatted HGNC:n) > umls >
    canonical; every other class takes the first authoritative value of
    canonical_id, umls_id, hgnc_id, rxnorm_id, uniprot_id (loinc_code is
    never consulted). Pure JVM expressions — no Python in this stage."""

    def _ok(c: Column) -> Column:
        return c.isNotNull() & (F.trim(c) != "") & is_authoritative_col(c)

    hgnc = F.trim("hgnc_id")
    gene_hgnc = F.when(hgnc.rlike(r"^[0-9]+$"), F.concat(F.lit("HGNC:"), hgnc)).otherwise(hgnc)
    gene_case = (
        F.when(_ok(F.col("hgnc_id")), gene_hgnc)
        .when(_ok(F.col("umls_id")), F.trim("umls_id"))
        .when(_ok(F.col("canonical_id")), F.trim("canonical_id"))
    )
    other_case = (
        F.when(_ok(F.col("canonical_id")), F.trim("canonical_id"))
        .when(_ok(F.col("umls_id")), F.trim("umls_id"))
        .when(_ok(F.col("hgnc_id")), F.trim("hgnc_id"))
        .when(_ok(F.col("rxnorm_id")), F.trim("rxnorm_id"))
        .when(_ok(F.col("uniprot_id")), F.trim("uniprot_id"))
    )
    return entities.withColumn(
        "auth_id", F.when(F.col("entity_class") == "Gene", gene_case).otherwise(other_case)
    )


def synonym_cache_table(spark: SparkSession, cache_path: str) -> DataFrame:
    """Seeded synonym cache -> broadcastable (name_key, entity_class, cache_cid).

    Replays lookup_entity's entry-order semantics offline (reference
    kgraph/pipeline/synonym_cache.py:32-57): per normalized name key, the
    FIRST entry with resolution=merged and confidence>=0.85 whose entity_a
    or entity_b side matches (name, class) decides the canonical id — even
    when that id is empty, which is a miss that no later entry overrides.
    The cache is a ~6k-row dimension file, so the replay is a driver-side
    precompute and the result joins broadcast."""
    with open(cache_path, encoding="utf-8") as f:
        cache = json.load(f)
    first: dict[tuple[str, str], str | None] = {}
    for key, entries in cache.items():
        for entry in entries:
            if entry.get("resolution") != "merged" or entry.get("confidence", 0) < 0.85:
                continue
            for side in ("entity_a", "entity_b"):
                s = entry.get(side) or {}
                if s.get("name", "").lower() == key and s.get("class"):
                    first.setdefault((key, s["class"]), s.get("canonical_id"))
    data = [(k, c, v) for (k, c), v in first.items() if v]
    return local_frame(spark, data, "name_key string, entity_class string, cache_cid string")


_FOLD_SCHEMA = T.StructType(
    [
        T.StructField("entity_class", T.StringType()),
        T.StructField("row_type", T.StringType()),  # 'assign' | 'index'
        T.StructField("a", T.StringType()),  # assign: paper_id   index: name_key
        T.StructField("b", T.StringType()),  # assign: local_id   index: null
        T.StructField("cid", T.StringType()),
    ]
)


def assign_merge_keys(entities_with_cache: DataFrame) -> DataFrame:
    """First-wins merge-key assignment: the order-dependent index chain.

    Input needs: paper_id, pos, local_id, entity_class, name, synonyms,
    auth_id, cache_cid. Shards by entity_class (index keys are
    (name, class)-scoped, dedup.py:305-311) and folds each shard in
    (paper_id, pos) order, mirroring get_or_assign_canonical
    (dedup.py:316-360): raw-lower name hit > spelling-normalized hit >
    bundle authoritative id > synonym cache > new provisional slug; only
    the last three populate the index with the entity's name AND synonyms.
    The fold uses the grouped-map contract (one pandas frame per class): the
    iterator form would hand it one Arrow batch at a time, resetting the
    index at every maxRecordsPerBatch rows.

    Returns union-shaped rows: row_type 'assign' ((paper, local) -> cid)
    and 'index' (final name_key -> cid state, used by the free-form name
    fallback during triple accumulation)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["paper_id", "pos"], kind="mergesort")
        idx: dict[str, str] = {}
        out: list[tuple[str, str, str, str | None, str]] = []
        ec = pdf["entity_class"].iloc[0] if len(pdf) else None

        def populate(cid: str, n: str) -> None:
            k = n.lower().strip()
            if k:
                idx[k] = cid
            nn = _dedup_norm(n)
            if nn and nn != k:
                idx[nn] = cid

        for row in pdf.itertuples(index=False):
            name = row.name or ""
            # raw-lower key is NOT stripped on lookup (dedup.py:316)
            cid = idx.get(name.lower())
            if cid is None:
                cid = idx.get(_dedup_norm(name))
            if cid is None:
                syns = row.synonyms if row.synonyms is not None else []
                names = {name} | set(syns)
                if row.auth_id:
                    cid = row.auth_id
                elif row.cache_cid:
                    cid = row.cache_cid
                else:
                    cid = "prov-" + hashlib.sha256(
                        f"{row.paper_id}\x00{row.local_id}".encode()
                    ).hexdigest()[:12]
                for n in names:
                    populate(cid, n)
            out.append((ec, "assign", row.paper_id, row.local_id, cid))
        out.extend((ec, "index", k, None, v) for k, v in idx.items())
        return pd.DataFrame(out, columns=["entity_class", "row_type", "a", "b", "cid"])

    return entities_with_cache.select(
        "paper_id", "pos", "local_id", "entity_class", "name", "synonyms", "auth_id", "cache_cid"
    ).groupBy("entity_class").applyInPandas(fold, schema=_FOLD_SCHEMA)


def same_as_edges(rels: DataFrame, assignments: DataFrame) -> DataFrame:
    """High-confidence SAME_AS pairs as ordered merge-key edges
    (dedup.py:377-404): (paper_id, pos, src, dst)."""
    sa = rels.filter(
        (F.col("predicate") == SAME_AS) & (F.col("confidence") >= SAME_AS_MIN_CONFIDENCE)
    )
    a_sub = assignments.select(
        F.col("a").alias("paper_id"), F.col("b").alias("subject"), F.col("cid").alias("src")
    )
    a_obj = assignments.select(
        F.col("a").alias("paper_id"), F.col("b").alias("object_id"), F.col("cid").alias("dst")
    )
    return (
        sa.join(a_sub, ["paper_id", "subject"])
        .join(a_obj, ["paper_id", "object_id"])
        .filter(F.col("src") != F.col("dst"))
        .select("paper_id", "pos", "src", "dst")
    )


def _replay_same_as(rows: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Replay SAME_AS merges in processing order with the reference's
    per-edge winner rule (dedup.py:385-392): the subject's current merge
    key wins UNLESS only the object's is authoritative. Returns
    (member, final) rows for members whose label changed."""
    cur: dict[str, str] = {}
    groups: dict[str, set[str]] = {}

    def lab(x: str) -> str:
        return cur.get(x, x)

    for src, dst in rows:
        s, o = lab(src), lab(dst)
        if s == o:
            continue
        w = o if (_is_auth_str(o) and not _is_auth_str(s)) else s
        merged = groups.pop(s, {s}) | groups.pop(o, {o}) | {src, dst}
        groups[w] = merged
        for m in merged:
            cur[m] = w
    return [(m, w) for m, w in cur.items() if m != w]


def same_as_ordered_mapping(edges: DataFrame, local_threshold: int = 200_000) -> DataFrame:
    """Ordered SAME_AS merge -> (entity_id, final_id) loser map.

    Merge-signal edges are coreference-cluster sized — minuscule next to
    the corpus — so below `local_threshold` the replay runs on the driver
    in one pass. Above it, connected components (D8 hash-to-min) split the
    edge set into independent components and each component replays its own
    ordered fold in parallel (applyInPandas per component): the winner rule
    only ever looks inside one component, so the shard is exact."""
    spark = edges.sparkSession
    head = edges.limit(local_threshold + 1).collect()
    if len(head) <= local_threshold:
        rows = [
            (r["src"], r["dst"])
            for r in sorted(head, key=lambda r: (r["paper_id"], r["pos"]))
        ]
        return local_frame(spark, _replay_same_as(rows), "entity_id string, final_id string")

    from kgraph_spark.operators.canonicalize import connected_components

    labels = connected_components(edges.select("src", "dst"))
    comp = labels.withColumnRenamed("id", "src").withColumnRenamed("component", "comp")
    tagged = edges.join(comp, "src")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["paper_id", "pos"], kind="mergesort")
        out = _replay_same_as(list(zip(pdf["src"], pdf["dst"])))
        return pd.DataFrame(out, columns=["entity_id", "final_id"])

    return tagged.groupBy("comp").applyInPandas(
        fold, schema="entity_id string, final_id string"
    )


def apply_mapping(df: DataFrame, mapping: DataFrame, col: str) -> DataFrame:
    """Rewrite df[col] through (entity_id -> final_id), identity elsewhere.

    The mapping frequently shares lineage with df (it is derived from the
    same entity scan), so its columns are re-projected under fresh names to
    sidestep Spark's ambiguous-self-join attribute reuse."""
    m = F.broadcast(
        mapping.select(F.col("entity_id").alias("_am_id"), F.col("final_id").alias("_am_final"))
    )
    return (
        df.join(m, df[col] == m["_am_id"], "left")
        .withColumn(col, F.coalesce("_am_final", col))
        .drop("_am_id", "_am_final")
    )


def merged_entities(entities: DataFrame, assignments: DataFrame) -> DataFrame:
    """One row per merge key; the first-encountered entity (processing
    order) contributes name/class/synonyms/source; source_papers accumulate
    in first-seen order (dedup.py:418-439)."""
    a = assignments.select(
        F.col("a").alias("paper_id"), F.col("b").alias("local_id"), F.col("cid")
    )
    e = entities.join(a, ["paper_id", "local_id"])
    first = F.min(
        F.struct("paper_id", "pos", "name", "entity_class", "synonyms", "source")
    ).alias("f")
    papers = F.array_distinct(
        F.transform(F.sort_array(F.collect_list(F.struct("paper_id", "pos"))), lambda s: s.paper_id)
    ).alias("source_papers")
    g = e.groupBy("cid").agg(first, papers)
    return g.select(
        F.col("cid").alias("entity_id"),
        F.when(is_authoritative_col(F.col("cid")), F.col("cid")).alias("canonical_id"),
        F.col("f.entity_class").alias("entity_class"),
        F.col("f.name").alias("name"),
        F.col("f.synonyms").alias("synonyms"),
        F.col("f.source").alias("source"),
        "source_papers",
    )


def _constraints_df(spark: SparkSession) -> DataFrame:
    rows = [
        (p, list(subs), list(objs)) for p, (subs, objs) in PREDICATE_CONSTRAINTS.items()
    ]
    return local_frame(
        spark, rows, "pred_lower string, subj_types array<string>, obj_types array<string>"
    )


def _class_type_col(c: Column) -> Column:
    """Bundle class -> predicate-semantics type (dedup.py:196-199 fallback:
    lowercase the class when unmapped, '?' when the entity was not found)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in BUNDLE_CLASS_TO_TYPE.items() for x in kv]
    )
    return F.coalesce(mapping[c], F.when(c.isNotNull(), F.lower(c)), F.lit("?"))


def accumulate_triples(
    spark: SparkSession,
    rels: DataFrame,
    entities: DataFrame,
    assignments: DataFrame,
    index: DataFrame,
    evidence: DataFrame | None = None,
) -> DataFrame:
    """Resolve endpoints, swap-correct, order symmetric edges, and fold each
    (subject, predicate, object) group (dedup.py:441-515).

    Endpoint resolution: (paper, local_id) assignment first; free-form-name
    fallback via the post-merge name index across ALL classes — unique
    candidate wins, else a unique authoritative candidate (dedup.py:447-470).
    Confidence/linguistic_trust accumulate with the reference's running-max
    fold (trust replaced only on a STRICT confidence improvement carrying a
    non-empty trust), restated as a higher-order aggregate over the
    order-sorted group — one shuffle, no Python."""
    live = rels.filter(
        ~((F.col("predicate") == SAME_AS) & (F.col("confidence") >= SAME_AS_MIN_CONFIDENCE))
    )
    amap = assignments.select(
        F.col("a").alias("paper_id"), F.col("b").alias("_lid"), F.col("cid")
    )
    # first row per (paper, local_id) — mirrors _entity_name_class's
    # first-match scan (dedup.py:371-375) and keeps the join fan-out-free
    ecls = (
        entities.groupBy("paper_id", "local_id")
        .agg(F.min(F.struct("pos", "entity_class")).alias("f"))
        .select("paper_id", "local_id", F.col("f.entity_class").alias("_cls"))
    )

    # name-fallback lookup table: one row per (raw name string) among the
    # endpoints that missed the local map, resolved against the index
    def _resolved(side: str) -> DataFrame:
        names = live.select(F.col(side).alias("nm")).distinct()
        keyed = names.select(
            "nm", F.explode(F.array_distinct(F.array(F.lower(F.trim("nm")), _dedup_norm_col(F.col("nm"))))).alias("name_key")
        )
        cands = (
            keyed.join(index.select("name_key", "cid"), "name_key")
            .groupBy("nm")
            .agg(F.collect_set("cid").alias("cs"))
        )
        auth_only = F.filter(F.col("cs"), lambda c: is_authoritative_col(c))
        return cands.select(
            "nm",
            F.when(F.size("cs") == 1, F.element_at("cs", 1))
            .when(F.size(auth_only) == 1, F.element_at(auth_only, 1))
            .alias(f"{side}_byname"),
        )

    j = (
        live
        .join(
            amap.select(F.col("paper_id"), F.col("_lid").alias("subject"), F.col("cid").alias("s_cid")),
            ["paper_id", "subject"], "left",
        )
        .join(
            amap.select(F.col("paper_id"), F.col("_lid").alias("object_id"), F.col("cid").alias("o_cid")),
            ["paper_id", "object_id"], "left",
        )
        .join(F.broadcast(_resolved("subject").withColumnRenamed("nm", "subject")), "subject", "left")
        .join(F.broadcast(_resolved("object_id").withColumnRenamed("nm", "object_id")), "object_id", "left")
        .withColumn("s", F.coalesce("s_cid", "subject_byname"))
        .withColumn("o", F.coalesce("o_cid", "object_id_byname"))
        .filter(F.col("s").isNotNull() & F.col("o").isNotNull())
        .join(
            ecls.select("paper_id", F.col("local_id").alias("subject"), F.col("_cls").alias("s_cls")),
            ["paper_id", "subject"], "left",
        )
        .join(
            ecls.select("paper_id", F.col("local_id").alias("object_id"), F.col("_cls").alias("o_cls")),
            ["paper_id", "object_id"], "left",
        )
    )

    pred_up = F.upper(F.trim("predicate"))
    st, ot = _class_type_col(F.col("s_cls")), _class_type_col(F.col("o_cls"))
    j = j.join(
        F.broadcast(_constraints_df(spark)),
        F.lower(pred_up) == F.col("pred_lower"),
        "left",
    )
    ok_fwd = F.array_contains("subj_types", st) & F.array_contains("obj_types", ot)
    ok_rev = F.array_contains("subj_types", ot) & F.array_contains("obj_types", st)
    swap = (
        (pred_up != SAME_AS)
        & F.col("pred_lower").isNotNull()
        & ~F.coalesce(ok_fwd, F.lit(False))
        & F.coalesce(ok_rev, F.lit(False))
    )
    j = j.withColumn("s2", F.when(swap, F.col("o")).otherwise(F.col("s"))).withColumn(
        "o2", F.when(swap, F.col("s")).otherwise(F.col("o"))
    )
    sym = F.upper(F.col("predicate")).isin(*SYMMETRIC_PREDICATES)
    j = j.select(
        F.when(sym, F.least("s2", "o2")).otherwise(F.col("s2")).alias("subject"),
        F.col("predicate"),
        F.when(sym, F.greatest("s2", "o2")).otherwise(F.col("o2")).alias("object"),
        "paper_id",
        "pos",
        "evidence_ids",
        F.when(F.size("source_papers") > 0, F.col("source_papers"))
        .otherwise(F.array("paper_id"))
        .alias("sp"),
        "confidence",
        "linguistic_trust",
    )

    # attach per-evidence-id sentences (dedup.py:496-506: each first-seen
    # eid appends a provenance entry {section from the id, sentence from the
    # SAME paper's evidence table}); paper-scoped left join, never a global
    # id lookup, so a rel citing another paper's evidence id yields a NULL
    # sentence exactly as the reference's bundle-local ev_by_id does
    if evidence is None:
        evidence = local_frame(
            j.sparkSession, [], "paper_id string, evidence_id string, text string"
        )
    ex = j.select(
        "subject", "predicate", "object", "paper_id", "pos", "sp",
        "confidence", "linguistic_trust",
        F.posexplode_outer("evidence_ids").alias("eidx", "eid"),
    )
    exj = ex.join(
        evidence.select(
            "paper_id", F.col("evidence_id").alias("eid"), F.col("text").alias("sentence")
        ),
        ["paper_id", "eid"],
        "left",
    )
    # intra-rel duplicate eids collapse to their first position (the
    # sequential `if eid not in ...` sees only the first)
    per_eid = exj.groupBy(
        "subject", "predicate", "object", "paper_id", "pos", "eid"
    ).agg(
        F.min(F.struct("eidx", "sentence")).alias("e"),
        F.first("sp").alias("sp"),
        F.first("confidence").alias("confidence"),
        F.first("linguistic_trust").alias("linguistic_trust"),
    )
    rel_rows = per_eid.groupBy("subject", "predicate", "object", "paper_id", "pos").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("e.eidx").alias("eidx"), "eid", F.col("e.sentence").alias("sentence")))
        ).alias("evs"),
        F.first("sp").alias("sp"),
        F.first("confidence").alias("confidence"),
        F.first("linguistic_trust").alias("linguistic_trust"),
    )
    grp = rel_rows.groupBy("subject", "predicate", "object").agg(
        F.sort_array(
            F.collect_list(
                F.struct("paper_id", "pos", "evs", "sp", "confidence", "linguistic_trust")
            )
        ).alias("xs")
    )
    # one fold over the order-sorted group: running-max confidence/trust
    # (dedup.py:488-515) + first-seen evidence ids with parallel provenance
    prov_t = "array<struct<section:string,sentence:string,citation_markers:array<string>>>"
    init = F.struct(
        F.array().cast("array<string>").alias("eids"),
        F.array().cast(prov_t).alias("prov"),
        F.lit(-1.0).alias("conf"),
        F.lit(None).cast("string").alias("trust"),
    )

    def _sec(eid):
        parts = F.split(eid, ":")
        return F.when(F.size(parts) >= 2, parts[1])

    def step(acc, x):
        fresh = F.filter(
            x.evs, lambda e: e.eid.isNotNull() & ~F.array_contains(acc.eids, e.eid)
        )
        eids2 = F.concat(acc.eids, F.transform(fresh, lambda e: e.eid))
        prov2 = F.concat(
            acc.prov,
            F.transform(
                fresh,
                lambda e: F.struct(
                    _sec(e.eid).alias("section"),
                    e.sentence.alias("sentence"),
                    F.array().cast("array<string>").alias("citation_markers"),
                ),
            ),
        )
        upd = x.confidence > acc.conf
        # the group's first row (conf still the -1 sentinel) sets trust
        # verbatim; a later one replaces it only with a non-empty trust
        # (the reference's truthiness test: '' counts as absent)
        new_trust = (acc.conf < 0) | (F.length(x.linguistic_trust) > 0)
        return F.struct(
            eids2.alias("eids"),
            prov2.alias("prov"),
            F.when(upd, x.confidence).otherwise(acc.conf).alias("conf"),
            F.when(upd & new_trust, x.linguistic_trust).otherwise(acc.trust).alias("trust"),
        )

    folded = F.aggregate("xs", init, step)
    sps = F.array_distinct(F.flatten(F.transform("xs", lambda x: x.sp)))
    return grp.select(
        "subject",
        "predicate",
        "object",
        folded.alias("_f"),
        sps.alias("source_papers"),
    ).select(
        "subject",
        "predicate",
        "object",
        F.col("_f.eids").alias("evidence_ids"),
        F.col("_f.prov").alias("provenance"),
        "source_papers",
        F.col("_f.conf").alias("confidence"),
        F.col("_f.trust").alias("linguistic_trust"),
    )


def reconciliation_mapping(ents: DataFrame) -> DataFrame:
    """6b: group merged entities by (normalized first-name, class); in each
    multi-member group the winner is the smallest authoritative id, else the
    smallest id (dedup.py:516-534). Each entity names exactly one group, so
    the rewrite is a single loser->winner map — no chains."""
    key = F.lower(F.trim("name"))
    members = ents.filter(key != "").select(
        key.alias("k"), "entity_class", "entity_id"
    )
    winners = members.groupBy("k", "entity_class").agg(
        F.count("*").alias("n"),
        F.min(
            F.struct(
                (~is_authoritative_col(F.col("entity_id"))).cast("int").alias("na"),
                F.col("entity_id").alias("id"),
            )
        ).alias("w"),
    ).filter(F.col("n") > 1)
    return (
        members.join(winners, ["k", "entity_class"])
        .select("entity_id", F.col("w.id").alias("final_id"))
        .filter(F.col("entity_id") != F.col("final_id"))
    )


def apply_reconciliation(
    ents: DataFrame, triples: DataFrame, mapping: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Rewrite entities and triples through the 6b map: winner keeps its own
    descriptive row, synonyms/source_papers union; colliding triples merge
    with set-union evidence/papers and max confidence (dedup.py:535-600)."""
    # mapping derives from ents (self-join lineage) — break the ambiguity by
    # renaming its columns before joining back
    m = F.broadcast(
        mapping.select(F.col("entity_id").alias("_mid"), F.col("final_id").alias("_mfinal"))
    )
    e = (
        ents.join(m, ents["entity_id"] == m["_mid"], "left")
        .select(
            F.coalesce("_mfinal", "entity_id").alias("entity_id"),
            F.col("_mfinal").isNull().alias("is_winner_row"),
            "canonical_id",
            "entity_class",
            "name",
            "synonyms",
            "source",
            "source_papers",
        )
    )
    eg = e.groupBy("entity_id").agg(
        F.max(F.when(F.col("is_winner_row"), F.struct("name", "entity_class", "source", "canonical_id"))).alias("w"),
        F.array_distinct(F.flatten(F.collect_list("synonyms"))).alias("synonyms"),
        F.array_distinct(F.flatten(F.collect_list("source_papers"))).alias("source_papers"),
    )
    final_ents = eg.select(
        "entity_id",
        F.col("w.canonical_id").alias("canonical_id"),
        F.col("w.entity_class").alias("entity_class"),
        F.col("w.name").alias("name"),
        "synonyms",
        F.col("w.source").alias("source"),
        "source_papers",
    )

    t = triples
    for col in ("subject", "object"):
        t = apply_mapping(t, mapping, col)
    tg = t.groupBy("subject", "predicate", "object").agg(
        F.array_distinct(F.flatten(F.collect_list("evidence_ids"))).alias("evidence_ids"),
        # 6b collision-merge quirk (dedup.py:562-575): when two pre-6b
        # triples collapse onto one key, the merged dict carries NO
        # provenance; a lone rewritten triple keeps its list verbatim
        F.collect_list("provenance").alias("_provs"),
        F.array_distinct(F.flatten(F.collect_list("source_papers"))).alias("source_papers"),
        F.max("confidence").alias("confidence"),
        F.max_by("linguistic_trust", F.struct("confidence")).alias("linguistic_trust"),
    ).withColumn(
        "provenance",
        F.when(F.size("_provs") == 1, F.element_at("_provs", 1)),
    ).drop("_provs")
    return final_ents, tg


def run_pass2(
    spark: SparkSession, bundle_dir: str, cache_path: str
) -> dict[str, DataFrame]:
    """Full Pass-2 chain; returns {'entities', 'triples', 'id_map'} DataFrames."""
    from kgraph_spark.sources.medlit_bundles import (
        bundle_entities,
        bundle_relationships,
        read_bundles,
    )

    bundles = read_bundles(spark, bundle_dir)
    entities = with_authoritative_id(bundle_entities(bundles))
    rels = bundle_relationships(bundles)

    cache = synonym_cache_table(spark, cache_path)
    e_cached = entities.join(
        F.broadcast(cache),
        (F.lower(F.trim(entities["name"])) == cache["name_key"])
        & (entities["entity_class"] == cache["entity_class"]),
        "left",
    ).drop(cache["entity_class"]).drop("name_key")

    folded = assign_merge_keys(e_cached).localCheckpoint(eager=False)
    assignments = folded.filter(F.col("row_type") == "assign")
    index = folded.filter(F.col("row_type") == "index").select(
        F.col("a").alias("name_key"), "entity_class", "cid"
    )

    # SAME_AS transitive merge — order-faithful replay (D8 CC for sharding)
    sa_map = same_as_ordered_mapping(same_as_edges(rels, assignments))
    assignments = apply_mapping(assignments, sa_map, "cid").localCheckpoint(eager=False)
    index = apply_mapping(index, sa_map, "cid").localCheckpoint(eager=False)

    from kgraph_spark.sources.medlit_bundles import bundle_evidence

    ents = merged_entities(entities, assignments)
    triples = accumulate_triples(
        spark, rels, entities, assignments, index, bundle_evidence(bundles)
    )
    recon = reconciliation_mapping(ents)
    final_ents, final_triples = apply_reconciliation(ents, triples, recon)

    id_map = apply_mapping(
        assignments.select(
            F.col("a").alias("paper_id"), F.col("b").alias("local_id"), F.col("cid")
        ),
        recon,
        "cid",
    )
    return {"entities": final_ents, "triples": final_triples, "id_map": id_map}
