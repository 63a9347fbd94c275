"""Canonicalization: SAME_AS transitive merge via connected components
(SURVEY.md §2 D8–D12).

The reference resolves SAME_AS merges by in-place pairwise rewriting of two
dicts (examples/medlit/pipeline/dedup.py:370-404) — an O(n·merges) sequential
transitive closure. The batch restatement is connected components over the
SAME_AS edge set: hash-to-min label propagation (each node repeatedly takes
the min label in its neighborhood), which converges in O(log d) rounds for
diameter d. Synonym clusters are tiny (chains of 3–5), so this converges in
2–3 rounds; localCheckpoint per round truncates lineage so the plan doesn't
grow (the one genuinely iterative piece of the pipeline — SURVEY.md §4).

Winner election mirrors dedup.py:386-387 + 526-534 deterministically:
authoritative ontology id beats prov- slug, then lexicographically smallest."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgraph_spark.config import PROV_PREFIX
from kgraph_spark.session import local_frame


def is_authoritative_col(c: Column) -> Column:
    """Spark twin of config.is_authoritative_id (reference dedup.py:44-85)."""
    s = F.trim(c)
    return (
        s.isNotNull()
        & (s != "")
        & ~s.startswith(PROV_PREFIX)
        & ~s.startswith("DOC:")
        & (
            s.startswith("MeSH:")
            | s.startswith("HGNC:")
            | s.startswith("RxNorm:")
            | s.startswith("UniProt:")
            | s.startswith("DBPedia:")
            | s.startswith("ROR:")
            | s.startswith("ORCID:")
            | s.rlike(r"^[DC][0-9]+$")
            | s.rlike(r"^[0-9]+$")
            | s.rlike(r"^[PQ][A-Za-z0-9]{5,}$")
            | s.rlike(r"^PMC[0-9]+$")
        )
    )


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """edges(src, dst) → labels(id, component) by hash-to-min propagation.

    component = min node id reachable; bounded iterations + convergence check
    (count of changed labels) with localCheckpoint per round."""
    # Pin the undirected edge list once: every propagation round joins
    # against it, and without the checkpoint each round replays the edges'
    # FULL upstream lineage (for LSH-derived pairs that is the whole
    # 64-hash MinHash pipeline — measured 50s → ~5s on keep-best). 2×|edges|
    # of ids only, orders of magnitude below the corpus.
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=False)
    )
    nodes = und.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("component", F.col("id")).localCheckpoint(eager=False)

    for _ in range(max_iterations):
        # each node proposes its current label to every neighbor
        msgs = und.join(labels, und["dst"] == labels["id"], "inner").select(
            und["src"].alias("id"), "component"
        )
        new_labels = (
            msgs.union(labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        ).localCheckpoint(eager=False)
        # ONE action per round: the full convergence count both materializes
        # the lazily-marked checkpoint and drives the loop (an eager
        # checkpoint + limit(1) probe was 2 driver round-trips per round)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def _merge_mapping_local(edge_rows, spark) -> DataFrame:
    """Driver-side union-find for small edge sets (the common case: merge
    clusters are tiny relative to the corpus). Same winner rule. The map is
    returned as a JVM local relation (session.local_frame) — zero edges give
    an empty (entity_id, final_id) frame — so the broadcasts in apply_merge
    start no Python worker."""
    from kgraph_spark.config import is_authoritative_id

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for src, dst in edge_rows:
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[str, list[str]] = {}
    for n in list(parent):
        comps.setdefault(find(n), []).append(n)
    rows = []
    for members in comps.values():
        winner = min(members, key=lambda x: (not is_authoritative_id(x), x))
        rows.extend((m, winner) for m in members if m != winner)
    return local_frame(spark, rows, "entity_id string, final_id string")


def merge_mapping(
    same_as_edges: DataFrame, max_iterations: int = 20, local_threshold: int = 200_000
) -> DataFrame:
    """SAME_AS edges(src, dst) → (entity_id, final_id) for merged losers only.

    Per component: winner = min over (¬authoritative, id) — authoritative
    ontology ids first, then lexicographic (dedup.py:386-387, 526-534).

    Hybrid execution: merge-signal edge sets are minuscule next to the
    corpus (coreference clusters), so below `local_threshold` edges we
    union-find on the driver in one pass — this removes ~2·iterations Spark
    actions from the critical path. Above it, the distributed hash-to-min
    loop handles arbitrarily large graphs (each round: one join + one
    groupBy over the edge set only)."""
    head = same_as_edges.limit(local_threshold + 1).collect()
    if len(head) <= local_threshold:
        return _merge_mapping_local([(r["src"], r["dst"]) for r in head], same_as_edges.sparkSession)
    labels = connected_components(same_as_edges, max_iterations)
    ranked = labels.withColumn(
        "_rank",
        F.struct(
            F.when(is_authoritative_col(F.col("id")), F.lit(0)).otherwise(F.lit(1)).alias("na"),
            F.col("id").alias("id"),
        ),
    )
    winners = ranked.groupBy("component").agg(F.min("_rank").alias("w"))
    return (
        labels.join(winners, "component")
        .select(F.col("id").alias("entity_id"), F.col("w.id").alias("final_id"))
        .filter(F.col("entity_id") != F.col("final_id"))
    )


def reconcile_by_name(entities: DataFrame) -> DataFrame:
    """D9 post-dedup reconciliation (reference dedup.py:516-618): group
    remaining entities by (normalized name, class); if a group holds more
    than one id, elect a winner — authoritative id first, else
    lexicographically smallest — and emit the loser→winner map. (With the
    content-hashed id scheme this is empty by construction — same
    normalized name+class always hashes to the same id — but the operator
    guards alternative extractors.)

    entities must carry (entity_id, entity_type, name)."""
    from kgraph_spark.functions.normalize import norm_dedup_col

    keyed = entities.select(
        "entity_id",
        norm_dedup_col(F.col("name")).alias("norm_name"),
        F.col("entity_type"),
    ).distinct()
    ranked = keyed.withColumn(
        "_rank",
        F.struct(
            F.when(is_authoritative_col(F.col("entity_id")), F.lit(0)).otherwise(F.lit(1)).alias("na"),
            F.col("entity_id").alias("id"),
        ),
    )
    winners = ranked.groupBy("norm_name", "entity_type").agg(
        F.min("_rank").alias("w"), F.countDistinct("entity_id").alias("n")
    )
    return (
        keyed.join(winners.filter(F.col("n") > 1), ["norm_name", "entity_type"])
        .select(F.col("entity_id"), F.col("w.id").alias("final_id"))
        .filter(F.col("entity_id") != F.col("final_id"))
    )


def apply_merge(df: DataFrame, mapping: DataFrame, *cols: str) -> DataFrame:
    """Rewrite entity-id columns through the loser→winner map (D12's
    relationship retargeting, kgraph/storage/memory.py:496-546) as broadcast
    left joins + coalesce — the map is tiny (merge clusters only)."""
    out = df
    for c in cols:
        m = F.broadcast(
            mapping.select(
                F.col("entity_id").alias(f"_m_{c}"), F.col("final_id").alias(f"_f_{c}")
            )
        )
        out = (
            out.join(m, out[c] == F.col(f"_m_{c}"), "left")
            .withColumn(c, F.coalesce(F.col(f"_f_{c}"), F.col(c)))
            .drop(f"_m_{c}", f"_f_{c}")
        )
    return out


def incremental_components(mapping: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental D8: fold a DELTA of SAME_AS edges into an existing
    (id, component) mapping WITHOUT re-running connected components over
    the full graph — the Iceberg-maintenance twin of `connected_components`
    (the reference recomputes merges per batch, dedup.py:370-404; at 10^12
    documents the accumulated SAME_AS graph is re-derived from scratch only
    on backfill).

    Algorithm (contract: `component` = min node id reachable, same as
    `connected_components`):
      1. endpoints of `new_edges` missing from `mapping` become singleton
         components (id → id);
      2. project the delta edges onto component ids — the CONDENSED graph,
         bounded by 2·|delta| nodes regardless of corpus size;
      3. run hash-to-min on the condensed graph only (component ids are the
         min node ids of their clusters, so min-over-merged-components
         IS min-over-all-member-nodes);
      4. one key-partitioned join rewrites the full mapping through the
         supercomponent map (broadcast-sized: ≤ merged components).

    Scale shape: the 10^12-node mapping is touched by exactly ONE join on
    `component`; every iterative step runs on the condensed delta graph.
    Equivalence `incremental_components(cc(E), D) == cc(E ∪ D)` (restricted
    to nodes of E ∪ D) is pytest-proven and driver-oracled
    (d8_incremental_cc)."""
    ends = (
        new_edges.select(F.col("src").alias("id"))
        .union(new_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    singletons = ends.join(mapping, "id", "left_anti").withColumn(
        "component", F.col("id")
    )
    full = mapping.union(singletons)

    src_c = full.select(F.col("id").alias("src"), F.col("component").alias("c_src"))
    dst_c = full.select(F.col("id").alias("dst"), F.col("component").alias("c_dst"))
    cond = (
        new_edges.join(src_c, "src")
        .join(dst_c, "dst")
        .filter(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
    )
    superc = connected_components(cond).select(
        F.col("id").alias("component"), F.col("component").alias("supercomponent")
    )
    return full.join(F.broadcast(superc), "component", "left").select(
        "id", F.coalesce("supercomponent", "component").alias("component")
    )


def component_attribute_audit(
    mapping: DataFrame,
    attrs: DataFrame,
    attr_col: str,
    id_col: str = "id",
    comp_col: str = "component",
    attr_id_col: str = "id",
) -> DataFrame:
    """Per-component single-valued-attribute audit of a SAME_AS merge: for
    every component of the D8 mapping, how many members carry `attr_col`,
    how many DISTINCT values they carry, and the min/max value — the
    post-merge QA gate for attributes that must be single-valued per
    canonical entity (entity class, taxonomy id, authority source). A
    component whose members disagree (n_distinct_attr > 1) is either an
    over-merge (the reference's reconcile step would have kept them apart,
    kgraph/dedup.py:516-618) or an upstream attribute error; either way it
    must be surfaced BEFORE tombstoning rewrites the ids (D12).

    ONE broadcast-eligible join of the attribute table onto the mapping
    (left join — members without the attribute still count in n_members)
    and ONE component-keyed aggregate; a hot component costs its member
    count, nothing global. NULL attribute values mean 'not asserted' and
    never conflict. Returns (component, n_members, n_with_attr,
    n_distinct_attr, attr_min, attr_max, is_conflicted)."""
    a = attrs.select(
        F.col(attr_id_col).alias("_id"), F.col(attr_col).alias("_v")
    ).filter(F.col("_v").isNotNull())
    return (
        mapping.select(F.col(id_col).alias("_id"), F.col(comp_col).alias("component"))
        .join(a, "_id", "left")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.count("_v").cast("long").alias("n_with_attr"),
            F.countDistinct("_v").cast("long").alias("n_distinct_attr"),
            F.min("_v").alias("attr_min"),
            F.max("_v").alias("attr_max"),
        )
        .withColumn("is_conflicted", F.col("n_distinct_attr") > 1)
    )


def cannot_link_violations(
    assignments: DataFrame,
    constraints: DataFrame,
    item_col: str = "entity_id",
    cluster_col: str = "cluster_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Audit a clustering against cannot-link constraints: every
    constrained pair that D8/dedup nevertheless merged, as (id_a, id_b,
    cluster_id) — the negative-feedback guard rail entity resolution
    accumulates (user-reported false merges, licensing walls, known
    homonyms). Run after every merge pass; a non-empty result is a
    release blocker and the cluster_id says which merge to unwind.
    Constraints are unordered: (a,b) and (b,a) mean the same pair and
    report once, canonically ordered.

    Scale: two broadcast-size joins of the constraint table (tiny by
    definition — human-curated) against the assignment table; the big
    table never self-joins."""
    c = constraints.select(
        F.least(F.col(a_col), F.col(b_col)).alias("id_a"),
        F.greatest(F.col(a_col), F.col(b_col)).alias("id_b"),
    ).filter(F.col("id_a") != F.col("id_b")).distinct()
    asg = assignments.select(
        F.col(item_col).alias("_i"), F.col(cluster_col).alias("_c")
    )
    ja = asg.select(F.col("_i").alias("id_a"), F.col("_c").alias("_ca"))
    jb = asg.select(F.col("_i").alias("id_b"), F.col("_c").alias("_cb"))
    return (
        c.join(ja, "id_a")
        .join(jb, "id_b")
        .filter(F.col("_ca") == F.col("_cb"))
        .select("id_a", "id_b", F.col("_ca").alias("cluster_id"))
    )
