"""Entity resolution / linking (SURVEY.md §2 D1–D7).

The reference's per-mention resolve loop (kgraph/ingest.py:344-388;
examples/medlit/pipeline/resolve.py:46-205) becomes ONE broadcast hash join
against the alias index — the Spark restatement of the D7 priority chain:

    hint (D1)  >  name/synonym equi-join on normalized key incl. British→
    American spelling (D2/D7)  >  content-hashed provisional id (D5).

The alias index is a small dimension (KB names + synonyms + vocabulary
forms); at 100 TB of documents it is still ≪ broadcast threshold, so
resolution never shuffles the mention table and is immune to hot-entity
skew (the skewed key never becomes a shuffle key)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgraph_spark.config import PROV_PREFIX
from kgraph_spark.functions.normalize import norm_dedup_col
from kgraph_spark.session import local_frame


def prov_id_col(name_col, type_col):
    """Spark twin of golden.prov_id — content-hashed provisional entity id
    (replaces the reference's uuid slug, dedup.py:209-211, for distributed
    determinism). sha256 hex == hashlib.sha256(...).hexdigest(), and is also
    computable in DuckDB — so the driver oracle can reproduce provisional
    ids (sha1 does not exist there)."""
    return F.concat(
        F.lit(PROV_PREFIX),
        F.substring(F.sha2(F.concat(norm_dedup_col(name_col), F.lit("|"), type_col), 256), 1, 12),
    )


def alias_index_df(spark: SparkSession, gazetteer_rows: list[tuple]) -> DataFrame:
    """gazetteer (alias, canonical_id|None, entity_type, confidence) →
    (norm_key, entity_id, entity_type). One row per normalized surface form;
    KB-backed rows win over vocabulary-only rows (golden.build_alias_index).

    Built driver-side: the gazetteer is a dimension that is local by
    construction, so deduplicating it in Python avoids a shuffle + window
    stage in every pipeline run. The result is a JVM local relation
    (session.local_frame), so broadcasting it starts no Python worker. The
    provisional-id hash matches prov_id_col/golden.prov_id exactly."""
    import hashlib

    from kgraph_spark.config import PROV_PREFIX
    from kgraph_spark.functions.normalize import norm_dedup_py

    best: dict[str, tuple] = {}
    for alias, canonical_id, etype, _conf in sorted(
        gazetteer_rows, key=lambda r: (r[1] is None, r[0])
    ):
        key = norm_dedup_py(alias)
        if key in best:
            continue  # KB-backed rows sort first and win
        eid = canonical_id or (
            PROV_PREFIX + hashlib.sha256(f"{norm_dedup_py(alias)}|{etype}".encode()).hexdigest()[:12]
        )
        best[key] = (key, eid, etype)
    return local_frame(
        spark, best.values(), "norm_key string, entity_id string, entity_type string"
    )


def resolve_mentions(mentions: DataFrame, alias_index: DataFrame) -> DataFrame:
    """mentions → + entity_id via broadcast join on the normalized surface.

    Uses the extraction-pass-precomputed `norm_text` when present (the hot
    path: join keys cost zero JVM regex); falls back to the column
    expression for generic inputs. Misses fall back to hint then content
    hash (keeps the operator total)."""
    idx = F.broadcast(
        alias_index.select(F.col("norm_key").alias("_key"), F.col("entity_id").alias("_idx_id"))
    )
    if "norm_text" in mentions.columns:
        norm = F.col("norm_text")
    else:
        norm = norm_dedup_col(F.col("text"))
    entity_id = F.coalesce(
        F.col("_idx_id"),
        F.col("canonical_id_hint"),
        prov_id_col(F.col("text"), F.col("entity_type")),
    )
    return mentions.join(idx, norm == F.col("_key"), "left").select(
        *[c for c in mentions.columns if c not in ("norm_text", "entity_id")],
        entity_id.alias("entity_id"),
    )


def resolve_relation_endpoints(raw_relations: DataFrame, alias_index: DataFrame) -> DataFrame:
    """raw (subject_text, predicate, object_text) → resolved endpoint ids+types.

    Inner joins drop unresolvable endpoints (reference F14 name-fallback
    ambiguity → drop, dedup.py:441-462). Both joins broadcast the index."""
    s_idx = F.broadcast(
        alias_index.select(
            F.col("norm_key").alias("_s_key"),
            F.col("entity_id").alias("subject_id"),
            F.col("entity_type").alias("subject_type"),
        )
    )
    o_idx = F.broadcast(
        alias_index.select(
            F.col("norm_key").alias("_o_key"),
            F.col("entity_id").alias("object_id"),
            F.col("entity_type").alias("object_type"),
        )
    )
    if "subject_norm" in raw_relations.columns:
        src = raw_relations.withColumnRenamed("subject_norm", "_s_norm").withColumnRenamed(
            "object_norm", "_o_norm"
        )
    else:
        src = raw_relations.withColumn(
            "_s_norm", norm_dedup_col(F.col("subject_text"))
        ).withColumn("_o_norm", norm_dedup_col(F.col("object_text")))
    return (
        src.join(s_idx, F.col("_s_norm") == F.col("_s_key"), "inner")
        .join(o_idx, F.col("_o_norm") == F.col("_o_key"), "inner")
        .drop("_s_norm", "_o_norm", "_s_key", "_o_key")
    )


def norm_f3_col(col):
    """F3's name key (reference _normalize_entity_name,
    examples/medlit/pipeline/relationships.py:40-41): casefold + keep alnum
    ONLY — unlike norm_dedup it also drops spaces, so 'beta blocker' and
    'beta-blocker' land on one key. Empty keys are dropped by the caller
    (the reference skips falsy keys, relationships.py:50)."""
    return F.regexp_replace(F.lower(col), r"[^a-z0-9]", "")


def entity_name_index(entities: DataFrame) -> DataFrame:
    """F3 entity-name index with collision election (reference
    _build_entity_index, examples/medlit/pipeline/relationships.py:44-52 +
    _pick_unique 713-728): explode name+synonyms to F3-normalized surface
    forms; a surface claimed by several entities elects ONE winner by
    (is_canonical DESC, usage_count DESC, confidence DESC). The reference's
    residual tie falls to Python-sort stability (entity insertion order); the
    distributed restatement pins it to entity_id ASC for determinism.

    Pure built-ins: explode + min-of-struct groupBy (partial agg map-side,
    so the per-surface election never moves more than one candidate row per
    (partition, key) into the shuffle). Output (norm_key, entity_id,
    entity_type) is a dimension ≪ the relation table — feed it to
    resolve_relation_endpoints, which broadcasts it."""
    rows = (
        entities.select(
            F.explode(
                F.array_distinct(
                    F.concat(F.array(F.col("name")), F.coalesce(F.col("synonyms"), F.array()))
                )
            ).alias("_alias"),
            "entity_id",
            "entity_type",
            "status",
            "usage_count",
            "confidence",
        )
        .withColumn("norm_key", norm_f3_col(F.col("_alias")))
        .filter(F.col("norm_key") != "")
    )
    elected = rows.groupBy("norm_key").agg(
        F.min(
            F.struct(
                F.when(F.col("status") == "canonical", 0).otherwise(1).alias("nc"),
                (-F.col("usage_count")).cast("long").alias("nu"),
                (-F.col("confidence")).alias("nf"),
                F.col("entity_id").alias("entity_id"),
                F.col("entity_type").alias("entity_type"),
            )
        ).alias("_b")
    )
    return elected.select(
        "norm_key",
        F.col("_b.entity_id").alias("entity_id"),
        F.col("_b.entity_type").alias("entity_type"),
    )


def preferred_authoritative_id(
    bundle_rows: DataFrame, umls_to_hgnc: DataFrame | None = None
) -> DataFrame:
    """D7 per-class merge-key election (reference _preferred_authoritative_id,
    examples/medlit/pipeline/dedup.py:96-121) over bundle-shaped rows that
    carry multiple candidate ids (entity_class, canonical_id, umls_id,
    hgnc_id, rxnorm_id, uniprot_id):

      * Gene: HGNC first (bare digits formatted 'HGNC:n', dedup.py:88-94);
        else UMLS→HGNC cross-lookup — a broadcast join against the
        umls_to_hgnc dimension stands in for the reference's HTTP
        lookup_hgnc_by_cui_sync — else the UMLS id itself; else canonical_id.
      * Other classes: first authoritative id in (canonical_id, umls_id,
        hgnc_id, rxnorm_id, uniprot_id).

    Adds `merge_key` (null when nothing authoritative — the caller falls
    back to the D5 provisional content hash). Pure column expressions plus
    at most one broadcast join; never a per-row lookup."""
    from kgraph_spark.operators.canonicalize import is_authoritative_col

    def auth(name: str):
        col = F.trim(F.col(name))
        return F.when(col.isNotNull() & (col != "") & is_authoritative_col(col), col)

    out = bundle_rows
    if umls_to_hgnc is not None:
        m = F.broadcast(
            umls_to_hgnc.select(
                F.col("umls_id").alias("_x_umls"), F.col("hgnc_id").alias("_x_hgnc")
            )
        )
        out = out.join(m, F.trim(out["umls_id"]) == F.col("_x_umls"), "left")
        cross = F.col("_x_hgnc")
    else:
        cross = F.lit(None).cast("string")

    hgnc_trim = F.trim(F.col("hgnc_id"))
    hgnc_fmt = F.when(hgnc_trim.rlike(r"^[0-9]+$"), F.concat(F.lit("HGNC:"), hgnc_trim)).otherwise(
        hgnc_trim
    )
    gene_key = F.coalesce(
        F.when(auth("hgnc_id").isNotNull(), hgnc_fmt),
        F.when(auth("umls_id").isNotNull(), F.coalesce(cross, F.trim(F.col("umls_id")))),
        auth("canonical_id"),
    )
    other_key = F.coalesce(
        auth("canonical_id"), auth("umls_id"), auth("hgnc_id"),
        auth("rxnorm_id"), auth("uniprot_id"),
    )
    out = out.withColumn(
        "merge_key",
        F.when(F.col("entity_class") == "Gene", gene_key).otherwise(other_key),
    )
    if umls_to_hgnc is not None:
        out = out.drop("_x_umls", "_x_hgnc")
    return out


def rerank_authority_candidates(
    terms: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.5,
    term_col: str = "text",
    key_col: str = "norm_key",
) -> DataFrame:
    """D4 seam: when an authority lookup returns SEVERAL candidate canonical
    ids for one surface form, pick the candidate whose label is most similar
    to the search term (reference _rerank_by_similarity,
    examples/medlit/pipeline/authority_lookup.py:371-402: max embedding
    cosine above similarity_threshold=0.5, authority_lookup.py:188).

    Deterministic restatement: similarity = 1 - levenshtein/max(len) over
    the normalized strings — a pure JVM expression (the hash embeddings are
    identity, not semantics, so cosine can't grade label closeness; a real
    encoder plugs into the same argmax via embed_with_cache + cosine_col).
    Ties break to the smallest candidate_id; candidates below the threshold
    are dropped (the reference returns None → caller falls through to its
    next lookup strategy, i.e. the D5 provisional hash here).

    terms(key_col, term_col) ⨝ broadcast candidates(key_col, candidate_id,
    label) → (key_col, term_col, candidate_id, similarity); one broadcast
    join + one min-of-struct agg, never a per-row lookup."""
    lab = F.col("_lab")
    term_norm = norm_dedup_col(F.col(term_col))
    lab_norm = norm_dedup_col(lab)
    sim = F.lit(1.0) - (
        F.levenshtein(term_norm, lab_norm)
        / F.greatest(F.length(term_norm), F.length(lab_norm), F.lit(1))
    )
    cand = F.broadcast(
        candidates.select(
            F.col(key_col),
            F.col("candidate_id").alias("_cid"),
            F.col("label").alias("_lab"),
        )
    )
    scored = (
        terms.join(cand, key_col, "inner")
        .withColumn("_sim", sim)
        .filter(F.col("_sim") >= threshold)
    )
    best = scored.groupBy(key_col, term_col).agg(
        F.min(
            F.struct(
                (-F.col("_sim")).alias("ns"),
                F.col("_cid").alias("cid"),
                F.col("_sim").alias("sim"),
            )
        ).alias("_b")
    )
    return best.select(
        key_col,
        term_col,
        F.col("_b.cid").alias("candidate_id"),
        F.col("_b.sim").alias("similarity"),
    )


def fuzzy_name_join(
    queries: DataFrame,
    names: DataFrame,
    query_id_col: str = "query_id",
    query_col: str = "query",
    name_col: str = "name",
) -> DataFrame:
    """(query_id, query, match_name, distance) — for each query string, the
    best dictionary name within edit distance 1 (min distance, ties to the
    lexicographically smallest name); queries with no match within 1 are
    absent (inner semantics — compose with a left join for a dense report).

    The scalable fuzzy join behind typo-tolerant entity linking (the D4
    rerank, resolve.py above, assumes a CANDIDATE list exists; this builds
    one without the O(|Q|·|N|) cross join the reference warns about,
    kgraph/ingest.py:877-880). Blocking is the deletion neighborhood: two
    strings within edit distance 1 — equal, one substitution, one
    insert/delete — always share a member of {s} ∪ {s minus char i}, so
    each side expands to length(s)+1 variants, the join runs on the
    md5(variant) 16-byte digest (never the raw variant string — deletion
    variants of long names would otherwise ship ~L bytes × L variants per
    name through the shuffle), candidate pairs dedup on ids, and the exact
    levenshtein verifies survivors. Intended for NAME-length strings: the
    variant fan-out is O(Σ length) rows per side, the right trade for
    alias dictionaries, wrong for documents (shingle/MinHash territory,
    dedup_text.py).

    The variant transform binds the STRING COLUMN inside the lambda (a
    column ref, constant per row) — not a derived array, so the
    HOF re-evaluation trap (see shingles) doesn't apply. Empty strings get
    only their identity variant (sequence(1, 0) is DESCENDING in Spark —
    guarded, not assumed)."""

    def _variant_hashes(col):
        dels = F.when(
            F.length(col) > 0,
            F.transform(
                F.sequence(F.lit(1), F.length(col)),
                lambda i: F.concat(
                    col.substr(F.lit(1), i - 1),
                    col.substr(i + 1, F.length(col)),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(F.array_union(F.array(col), dels), F.md5)

    # two-step selects: exploding variants of a column ALIASED in the same
    # projection trips Spark's lateral-column-alias resolution
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_col).alias("query")
    ).select("query_id", "query", F.explode(_variant_hashes(F.col("query"))).alias("_vh"))
    n = (
        names.select(F.col(name_col).alias("match_name"))
        .distinct()
        .select("match_name", F.explode(_variant_hashes(F.col("match_name"))).alias("_vh"))
    )
    pairs = (
        q.join(n, "_vh")
        .select("query_id", "query", "match_name")
        .distinct()
        .withColumn("distance", F.levenshtein("query", "match_name"))
        .filter(F.col("distance") <= 1)
    )
    best = pairs.groupBy("query_id", "query").agg(
        F.min(
            F.struct(F.col("distance").alias("d"), F.col("match_name").alias("n"))
        ).alias("_b"),
    )
    return best.select(
        "query_id",
        "query",
        F.col("_b.n").alias("match_name"),
        F.col("_b.d").cast("long").alias("distance"),
    )


def acronym_join(
    mentions: DataFrame,
    names: DataFrame,
    mention_col: str = "mention",
    name_col: str = "name",
    min_words: int = 2,
) -> DataFrame:
    """Acronym resolution: match short-form mentions ("CML") to the
    multiword dictionary names whose initials spell them ("chronic
    myeloid leukemia") — the expansion step the reference's synonym
    cache covers only when the acronym was pre-registered
    (kgschema/domain.py synonym lists); this derives it from the name
    itself. Equality join on the derived acronym key (md5-free: the
    initials ARE the key), so each dictionary name is indexed once and
    ambiguous acronyms surface as multiple rows with n_candidates
    attached — the caller disambiguates (D4 rerank shape).

    Initials build as one JVM fold over the split name (no per-element
    derived-array indexing); only names with >= min_words words index."""
    toks = F.split(F.trim(F.lower(F.col(name_col))), r"\s+")
    initials = F.upper(
        F.array_join(F.transform(toks, lambda t: F.substring(t, 1, 1)), "")
    )
    idx = (
        names.filter(F.size(toks) >= min_words)
        .select(F.col(name_col).alias("expansion"), initials.alias("_acr"))
        .distinct()
    )
    amb = idx.groupBy("_acr").agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    m = mentions.select(
        F.col(mention_col).alias("mention"), F.upper(F.col(mention_col)).alias("_acr")
    )
    return (
        m.join(idx, "_acr")
        .join(amb, "_acr")
        .select("mention", "expansion", "n_candidates")
    )
