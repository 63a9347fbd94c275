"""Physical-plan evidence generator → PLANS.md.

Collects .explain("formatted") for the load-bearing operators and checks the
plan properties the scale story depends on:
  * parquet scans carry PushedFilters + pruned ReadSchema (predicate/column
    pushdown reaches the source);
  * every dimension join is a BroadcastHashJoin (resolution never shuffles
    the mention table; hot entities can't skew a broadcast);
  * no CartesianProduct anywhere;
  * aggregations are hash-based with partial (map-side) aggregation;
  * whole-stage codegen covers the expression-heavy stages.

Run: python -m kgraph_spark.plans.report  (writes PLANS.md at repo root)."""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
    import __spark_entry__ as entrymod

    from kgraph_spark import synth
    from kgraph_spark.operators import resolve
    from kgraph_spark.operators.mentions import (
        extract_all,
        mentions_from_extracted,
        presence_from_extracted,
    )
    from kgraph_spark.operators.relationships import cooccurrence_triples_fast
    from kgraph_spark.config import PipelineConfig
    from kgraph_spark.session import get_spark

    spark = get_spark("plans", parallelism=8, shuffle_partitions=8)
    cfg = PipelineConfig()
    gaz_rows = synth.gazetteer_rows()
    gb = spark.sparkContext.broadcast(gaz_rows)
    ai = resolve.alias_index_df(spark, gaz_rows)
    docs = synth.documents_df(spark, 50)

    sections: list[tuple[str, str, list[str]]] = []

    pushdown = entrymod.queries()["e1_promotion_filter"](spark, SF)
    sections.append((
        "E1 promotion filter — predicate pushdown + column pruning",
        _plan(pushdown),
        ["PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,300)"],
    ))

    extracted = extract_all(docs, gb, cfg)
    mentions = resolve.resolve_mentions(mentions_from_extracted(extracted), ai)
    sections.append((
        "Mention resolution — broadcast alias-index join (skew-immune)",
        _plan(mentions),
        ["BroadcastHashJoin"],
    ))

    cooc = cooccurrence_triples_fast(
        resolve.resolve_mentions(presence_from_extracted(extracted), ai), cfg
    )
    sections.append((
        "Co-occurrence — join-free pair-once generation (per-(doc,entity) "
        "window-sets, array_intersect counts; no per-window duplication, no "
        "final aggregate — pair rows never shuffled)",
        _plan(cooc),
        ["HashAggregate"],
    ))

    tri = entrymod.queries()["f10_triple_accumulate"](spark, SF)
    sections.append((
        "F10 accumulation — partial + final hash aggregation",
        _plan(tri),
        ["HashAggregate"],
    ))

    near = entrymod.queries()["embedding_near_dups"](spark, SF)
    sections.append((
        "D10/D11 banded-LSH pairing — the similarity self-join is keyed on "
        "(block, band, bucket), never the block alone; pair cardinality is "
        "bounded by similarity structure",
        _plan(near),
        ["bucket"],
    ))

    rerank = entrymod.queries()["d4_authority_rerank"](spark, SF)
    sections.append((
        "D4 authority re-ranking — candidates broadcast, min-of-struct "
        "argmax (SortAggregate: struct-typed buffer is sort-based, but "
        "still partial/final around the exchange — map-side combine holds)",
        _plan(rerank),
        ["BroadcastHashJoin", "SortAggregate"],
    ))

    mh = entrymod.queries()["minhash_lsh_candidates"](spark, SF)
    sections.append((
        "MinHash-LSH candidates — the band self-join and the pair distinct "
        "move doc ids only (Keys [2]); the 2×64-long signatures join back "
        "AFTER the 16-byte dedup, once per surviving pair",
        _plan(mh),
        ["Keys [2]: [doc_a"],
    ))

    nd = entrymod.queries()["embedding_near_dups"](spark, SF)
    sections.append((
        "Embedding near-dup pairing — the banded bucket self-join and the "
        "cross-band pair dedup exchange (blk, id_a, id_b) rows only "
        "(Keys [3]); vectors re-enter via two id-keyed joins after the "
        "dedup, one dot product per surviving pair",
        _plan(nd),
        ["Keys [3]: [blk"],
    ))

    jac = entrymod.queries()["word_jaccard_pairs"](spark, SF)
    sections.append((
        "n-gram Jaccard with hot-shingle cap — candidate generation from "
        "rare shingles (LeftSemi df filter), exact verification keyed on "
        "(doc, shingle)",
        _plan(jac),
        ["LeftSemi"],
    ))

    from kgraph_spark.operators.export import write_bucketed_triples
    from kgraph_spark.operators.graph import get_by_subject

    triples_small = spark.createDataFrame(
        [(f"E{i}", "treats", f"E{i+1}", 0.9, ["d1"], 1) for i in range(50)],
        "subject_id string, predicate string, object_id string, confidence double, "
        "source_documents array<string>, evidence_count long",
    )
    write_bucketed_triples(triples_small, "plans_triples_bucketed", buckets=8)
    # autoBucketedScan drops the bucketed layout when it sees no join/agg
    # to co-locate — but bucket-FILTER pruning needs it on (a lookup
    # service would pin this, exactly like Iceberg keeps bucket metadata)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    lookup = get_by_subject(spark.table("plans_triples_bucketed"), "E7")
    sections.append((
        "H4 subject lookup over the bucketed triples table — bucket pruning: "
        "an equality filter on the bucket key scans ONE bucket of 8 "
        "(SelectedBucketsCount), the Iceberg bucket-transform equivalent",
        _plan(lookup),
        ["SelectedBucketsCount: 1 out of 8"],
    ))
    spark.sql("DROP TABLE plans_triples_bucketed")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")

    from kgraph_spark.operators.relationships import accumulate_triples_salted

    per_doc = spark.createDataFrame(
        [(f"d{i}", "A", "co_occurs_with", "B", 0.7, None) for i in range(20)],
        "doc_id string, subject_id string, predicate string, object_id string, "
        "confidence double, evidence string",
    )
    salted = accumulate_triples_salted(per_doc, max_source_documents=10, n_salts=4)
    sections.append((
        "Salted (s,p,o) accumulation — two aggregation phases around the "
        "exchange: per-(key,salt) capped partials bound hot-pair reducer "
        "state to O(cap); output equals the unsalted form exactly",
        _plan(salted),
        ["ObjectHashAggregate"],
    ))

    from kgraph_spark.operators.corpus_curation import decontaminate, pack_sequences

    curation_docs = spark.read.parquet(f"{SF}/documents.parquet")
    decon = decontaminate(
        curation_docs.filter("doc_id % 7 != 0"), curation_docs.filter("doc_id % 7 = 0"), k=5
    )
    sections.append((
        "Benchmark decontamination — the benchmark shingle set is broadcast; "
        "the corpus-side shingle explode is map-local and only the (small) "
        "hit set is aggregated",
        _plan(decon),
        ["BroadcastHashJoin"],
    ))

    packed = pack_sequences(curation_docs, budget=4096)
    sections.append((
        "Sequence packing — two-phase distributed prefix sum: rows move once "
        "(range partitioning); the per-(partition, stratum) offset table is "
        "tiny and broadcast back, so no reducer ever holds a whole stratum",
        _plan(packed),
        ["BroadcastHashJoin"],
    ))

    from kgraph_spark.operators.corpus_curation import (
        dedup_lines,
        domain_mix_sample,
        scrub_pii,
    )

    ld = dedup_lines(curation_docs)
    sections.append((
        "Line-level dedup — the winner election is a partial/final hash "
        "aggregation on the 16-byte line digest (line text never a shuffle "
        "key); reassembly is one id-keyed aggregation",
        _plan(ld),
        ["HashAggregate", "Keys [1]: [_h"],
    ))

    pii = scrub_pii(curation_docs)
    sections.append((
        "PII scrubbing — map-only: the whole redaction pipeline lives in "
        "the scan stage, zero exchanges",
        _plan(pii),
        ["!Exchange"],
    ))

    mix = domain_mix_sample(curation_docs, budget=100_000)
    sections.append((
        "Domain mixing — per-stratum rates are a tiny aggregate broadcast "
        "back to a map-only corpus filter; the corpus never shuffles",
        _plan(mix),
        ["BroadcastHashJoin"],
    ))

    from kgraph_spark.operators.corpus_curation import normalize_text
    from kgraph_spark.operators.text_analysis import (
        lm_quality_score,
        unigram_logprob_model,
    )

    norm = normalize_text(curation_docs)
    sections.append((
        "Text normalization — JVM control-strip feeds one Arrow python "
        "eval; map-only, zero exchanges at any corpus size",
        _plan(norm),
        ["ArrowEvalPython", "!Exchange"],
    ))

    lm_model, lm_oov = unigram_logprob_model(curation_docs, vocab_size=1000)
    lm = lm_quality_score(curation_docs, lm_model, lm_oov)
    sections.append((
        "LM perplexity scoring — the vocab model joins as a broadcast "
        "dimension (corpus tokens never shuffle for the lookup); the only "
        "exchange is the per-doc aggregation on doc_id",
        _plan(lm),
        ["BroadcastHashJoin"],
    ))

    from kgraph_spark.operators.dedup_text import winnow_fingerprints
    from kgraph_spark.operators.corpus_curation import incremental_dedup

    wf = winnow_fingerprints(curation_docs)
    sections.append((
        "Winnowing fingerprints — per-row array expressions in the scan "
        "stage: ZERO exchanges (no per-gram explode+Window shuffle); a "
        "100-TB corpus fingerprints in one map-only pass",
        _plan(wf),
        ["!Exchange"],
    ))

    inc_old = curation_docs.filter("doc_id % 5 != 0")
    inc_new = curation_docs.filter("doc_id % 7 != 0")
    inc = incremental_dedup(inc_new, inc_old, n_bits=1 << 15, n_hashes=3)
    sections.append((
        "Incremental dedup — Bloom probe is map-only ArrowEvalPython; the "
        "exact confirm is broadcast-only (the historical corpus is never "
        "sorted/shuffled as a join side)",
        _plan(inc),
        ["ArrowEvalPython", "BroadcastHashJoin", "!SortMergeJoin"],
    ))

    from kgraph_spark.operators.dedup_text import incremental_near_dup

    ind = incremental_near_dup(
        curation_docs.filter("doc_id % 5 = 0"), curation_docs.filter("doc_id % 5 != 0")
    )
    sections.append((
        "Incremental near-dup (asymmetric LSH) — the history is streamed "
        "against broadcast new-side banding/pairs/signatures; no sort-merge "
        "join anywhere (history never shuffles as a join side)",
        _plan(ind),
        ["BroadcastHashJoin", "!SortMergeJoin"],
    ))

    from kgraph_spark.operators.similarity import pq_codebooks, pq_encode

    pq_emb = spark.read.parquet(f"{SF}/embeddings.parquet").selectExpr(
        "vec_id", "cast(embedding as array<double>) as embedding"
    )
    pq = pq_encode(pq_emb, pq_codebooks(pq_emb, m=8, k=16))
    sections.append((
        "PQ encode — 100-TB vector corpus compresses to m-int codes in one "
        "map-only scan: zero exchanges; squared-L2 is zip_with/aggregate "
        "loops so codegen stays under janino's method limit",
        _plan(pq),
        ["!Exchange"],
    ))

    from kgraph_spark.operators.graph_analytics import (
        degree_table,
        pagerank,
        triangle_counts,
    )

    li_edges = entrymod._li_edges(spark, SF)
    sections.append((
        "Graph degrees — one union + one partial/final hash aggregation on "
        "node; no joins at all",
        _plan(degree_table(li_edges)),
        ["HashAggregate", "!SortMergeJoin"],
    ))

    sections.append((
        "Triangle counting — degree-ordered orientation: wedges come from "
        "each node's oriented out-list (out-degree O(sqrt m) on any graph), "
        "closed by one LeftSemi join; id-only rows in every exchange",
        _plan(triangle_counts(li_edges)),
        ["LeftSemi"],
    ))

    pr_edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(40)],
        "subject_id string, object_id string",
    )
    sections.append((
        "PageRank round — one edges⋈ranks shuffle + one groupBy(dst); the "
        "dangling-mass scalar enters as a broadcast 1-row aggregate "
        "(BroadcastNestedLoopJoin on a single row, never a driver collect); "
        "per-round lazy checkpoints keep the iterated plan linear",
        _plan(pagerank(pr_edges, iterations=1, pin_rounds=False)),
        ["BroadcastNestedLoopJoin", "HashAggregate"],
    ))

    bm = entrymod.queries()["bm25_topk"](spark, SF)
    sections.append((
        "BM25 — idf model is a ≤|terms| broadcast dimension; the corpus "
        "explode is filtered to query terms BEFORE the tf shuffle; top-k is "
        "a TakeOrderedAndProject, never a global sort",
        _plan(bm),
        ["BroadcastHashJoin", "TakeOrderedAndProject"],
    ))

    dsir = entrymod.queries()["dsir_weights"](spark, SF)
    sections.append((
        "DSIR importance weights — the 4096-bucket log-ratio model joins "
        "broadcast; the corpus-side bigram explode never shuffles before "
        "the per-doc fold aggregation",
        _plan(dsir),
        ["BroadcastHashJoin"],
    ))

    from kgraph_spark.operators.graph_analytics import kcore

    sections.append((
        "k-core peel round — degree aggregate + LeftSemi survivor filters; "
        "the edge list only shrinks, id-only exchanges throughout",
        _plan(kcore(li_edges, k=4, rounds=1, pin_rounds=False)),
        ["LeftSemi", "HashAggregate"],
    ))

    from kgraph_spark.operators.text_analysis import quality_classifier

    sections.append((
        "Quality classifier — the whole feature+logit+sigmoid pipeline is "
        "map-only: zero exchanges at any corpus size",
        _plan(quality_classifier(curation_docs)),
        ["!Exchange"],
    ))

    from kgraph_spark.operators.relevance import tfidf_keywords

    sections.append((
        "TF-IDF keywords — tf/df are partial/final hash aggregations; the "
        "top-n ranking is a per-doc Window (partition-local sort), never a "
        "global sort of the corpus",
        _plan(tfidf_keywords(curation_docs, topn=5)),
        ["Window", "HashAggregate", "!Exchange SinglePartition"],
    ))

    asof = entrymod.queries()["evt_asof_join"](spark, SF)
    sections.append((
        "As-of join — union + running last-non-null window: ONE shuffle on "
        "the key, no join pair blowup, no range condition for Catalyst to "
        "degrade into a nested-loop join",
        _plan(asof),
        ["Window", "!BroadcastNestedLoopJoin", "!SortMergeJoin"],
    ))

    rj = entrymod.queries()["evt_range_join"](spark, SF)
    sections.append((
        "Range join — intervals explode to integer-microsecond buckets and "
        "the point-in-interval predicate runs AFTER an equality join on the "
        "bucket key; the raw inequality would be a BroadcastNestedLoopJoin "
        "(or cartesian) in Catalyst",
        _plan(rj),
        ["!BroadcastNestedLoopJoin"],
    ))

    from kgraph_spark.operators.graph_analytics import adamic_adar

    aa_edges = spark.createDataFrame(
        [(f"o{i}", f"p{i % 7}") for i in range(30)],
        "subject_id string, object_id string",
    )
    sections.append((
        "Adamic-Adar link prediction — known edges drop via LeftAnti BEFORE "
        "the pair aggregation; the degree-weight model joins in; no "
        "cartesian anywhere in the wedge enumeration",
        _plan(adamic_adar(aa_edges, min_common=2)),
        ["LeftAnti"],
    ))

    from kgraph_spark.operators.graph_analytics import shortest_paths

    sp_seeds = spark.createDataFrame([("n0",)], "node string")
    sections.append((
        "Bellman-Ford relaxation round — one dist⋈edges equi-join + one "
        "groupBy(node) MIN, no cartesian; the join side is deliberately "
        "NOT broadcast-hinted (a converged frontier is node-cardinality — "
        "AQE picks broadcast at runtime while the frontier is small)",
        _plan(shortest_paths(pr_edges, sp_seeds, rounds=1, pin_rounds=False)),
        ["HashAggregate"],
    ))

    from pyspark.sql import functions as F

    from kgraph_spark.operators.graph_analytics import hits, label_propagation

    sections.append((
        "Label propagation round — adjacency⋈labels equi-join, (node, label) "
        "count with partial aggregation, then a min-of-struct argmax: three "
        "hash aggregates, ids-only shuffles, no window over the whole graph",
        _plan(label_propagation(aa_edges, rounds=1, pin_rounds=False)),
        ["HashAggregate", "!Window"],
    ))

    sections.append((
        "HITS round — two edges⋈scores equi-joins + node-keyed sums; the "
        "L∞ normalizer is a broadcast ONE-ROW max (the only nested-loop "
        "join in the plan is that 1-row crossJoin, by construction)",
        _plan(hits(aa_edges, iterations=1, pin_rounds=False)),
        ["HashAggregate", "BroadcastNestedLoopJoin"],
    ))

    from kgraph_spark.operators.corpus_curation import quantile_buckets, strip_boilerplate
    from kgraph_spark.operators.text_analysis import hot_ngrams

    bp_docs = curation_docs.select(
        "doc_id", F.lit("s").alias("source"), "text"
    )
    sections.append((
        "Boilerplate strip — frequency election groups on (source, 16-byte "
        "md5); removal is a LeftAnti join against the tiny flagged set "
        "(broadcast under AQE); line text is never a shuffle key",
        _plan(strip_boilerplate(bp_docs, min_docs=3)),
        ["LeftAnti", "HashAggregate"],
    ))

    sections.append((
        "Exact ntile buckets — per-group rank via the two-phase distributed "
        "prefix sum (the MapInPandas running-sum stage is pinned behind a "
        "localCheckpoint, visible here as Scan ExistingRDD; its own plan is "
        "the packing prefix-sum section); group counts broadcast back, no "
        "corpus-wide window, no single-partition exchange",
        _plan(quantile_buckets(
            curation_docs.select("doc_id", F.lit("g").alias("src"),
                                 (F.col("doc_id") % 7).cast("double").alias("score")),
            3, "score", group_col="src")),
        ["Scan ExistingRDD", "BroadcastHashJoin", "!Exchange SinglePartition"],
    ))

    sections.append((
        "Hot n-grams — per-occurrence shingles, partial/final hash "
        "aggregation on the gram, global top-k as TakeOrderedAndProject "
        "(per-partition heaps) — no full sort, no single-partition exchange",
        _plan(hot_ngrams(curation_docs, k=5, top=100)),
        ["TakeOrderedAndProject", "HashAggregate", "!Exchange SinglePartition"],
    ))

    from kgraph_spark.operators.graph_analytics import (
        deterministic_walks,
        harmonic_centrality,
        transitive_closure,
    )

    sections.append((
        "Transitive closure (doubling) round — paths⋈paths equi-join on the "
        "middle node + (src, dst) groupBy MIN with partial aggregation; "
        "log2(depth) rounds instead of depth frontier hops, integer "
        "arithmetic only, id-only exchanges",
        _plan(transitive_closure(pr_edges, max_depth=2, pin_rounds=False)),
        ["HashAggregate", "!BroadcastNestedLoopJoin"],
    ))

    hc_seeds = spark.createDataFrame([("n0",), ("n3",)], "node string")
    sections.append((
        "Harmonic centrality round — (seed, node)-keyed BFS relaxation: one "
        "dist⋈adjacency equi-join + one groupBy MIN per hop; distances stay "
        "integer, the reciprocal sum is one fixed-shape expression over "
        "pivoted per-hop counts — no float accumulation across rows",
        _plan(harmonic_centrality(pr_edges, hc_seeds, max_hops=1, pin_rounds=False)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Deterministic walks step — state⋈edges equi-join on the current "
        "node + per-walk min-of-(hash, dst) struct aggregate; walk state is "
        "(seeds × walks) rows regardless of graph size, the hash argmin "
        "rides the aggregation (no per-neighbor sort)",
        _plan(deterministic_walks(pr_edges, hc_seeds, walk_len=1,
                                  walks_per_seed=2, pin_rounds=False)),
        ["Aggregate", "!CartesianProduct"],
    ))

    from kgraph_spark.operators.resolve import fuzzy_name_join

    fz_q = spark.createDataFrame([(1, "aspirin")], "query_id bigint, query string")
    fz_n = spark.createDataFrame([("aspirin",), ("warfarin",)], "name string")
    sections.append((
        "Fuzzy name join — deletion-neighborhood blocking: the equi-join "
        "and pair dedup run on the 16-byte md5 variant digest (_vh), never "
        "a raw-variant string key and never a cross join; exact levenshtein "
        "verifies only surviving candidates",
        _plan(fuzzy_name_join(fz_q, fz_n)),
        ["_vh", "levenshtein", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    ))

    from kgraph_spark.operators.temporal import funnel as funnel_op
    from kgraph_spark.operators.temporal import retention_cohorts

    ev_small = spark.createDataFrame(
        [(1, "view", "2024-01-01 00:00:00"), (1, "click", "2024-01-01 01:00:00")],
        "user_id bigint, event_type string, ts string",
    ).select("user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
    sections.append((
        "Funnel — each step is a filtered partial/final hash aggregate; the "
        "k-1 joins key on user_id against the already-aggregated one-row-"
        "per-user frame (event×event pairing never happens)",
        _plan(funnel_op(ev_small, ["view", "click"], within="7 days")),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Cohort retention — first-seen and activity are partial/final hash "
        "aggregates; the cohort dimension joins back on user_id; integer "
        "week arithmetic end-to-end",
        _plan(retention_cohorts(ev_small)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    from kgraph_spark.streaming.windowed import hopping_event_counts

    hop_ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    sections.append((
        "Hopping windows — the window/slide fan-out is a map-side Expand "
        "(or generator) feeding ONE partial/final hash aggregation; state "
        "per event is window/slide rows by construction, no self-join",
        _plan(hopping_event_counts(hop_ev)),
        ["HashAggregate", "!SortMergeJoin"],
    ))

    sections.append((
        "Table profile — every column's null/cardinality/range stats in ONE "
        "wide aggregate pass (multi-column exact count-distinct expands "
        "map-side, still a single scan; string min/max buffers make it a "
        "sort-based aggregate); the result row pivots to one row per "
        "column via a literal-array explode, no join, no second scan",
        _plan(entrymod.queries()["profile_docs"](spark, SF)),
        ["SortAggregate", "Expand", "!SortMergeJoin"],
    ))

    sections.append((
        "IQR outliers — the group-cardinality fences frame broadcasts back "
        "onto the events; the event table itself never shuffles for the "
        "flagging join",
        _plan(entrymod.queries()["evt_outliers"](spark, SF)),
        ["BroadcastHashJoin", "!SortMergeJoin"],
    ))

    sections.append((
        "k-per-group sampling — ONE shuffle on the group key, and Spark's "
        "WindowGroupLimit prunes to the top-k per group MAP-SIDE before "
        "the exchange: the shuffle moves at most k rows per group per "
        "input partition, not the corpus",
        _plan(entrymod.queries()["curation_sample_k"](spark, SF)),
        ["hashpartitioning(lang", "WindowGroupLimit", "Window", "!SortMergeJoin"],
    ))

    sections.append((
        "Graph condensation — edges map to component ids via two id-keyed "
        "joins then ONE partial/final hash aggregation on the component "
        "pair; |components|² output bounds all downstream work",
        _plan(entrymod.queries()["graph_condense"](spark, SF)),
        ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    ))

    sections.append((
        "Interleave stats — map-only: every per-document statistic "
        "including the max consecutive-media run is a JVM-side aggregate "
        "fold over the span array; ZERO exchanges in the whole plan",
        _plan(entrymod.queries()["span_interleave"](spark, SF)),
        ["!Exchange"],
    ))

    sections.append((
        "Media co-reference — only MEDIA spans are exploded (text payloads "
        "never enter the shuffle); exact distinct-doc counting runs as the "
        "standard two-level aggregate (partial per-(asset,doc) dedup, then "
        "per-asset final), every level hash-based with O(1) key state",
        _plan(entrymod.queries()["media_coref"](spark, SF)),
        ["hashpartitioning(media_ref", "HashAggregate", "Generate"],
    ))

    sections.append((
        "Rolling event-time stats — one exchange on the group key, then a "
        "partition-local ordered RANGE window (sliding buffer, no self-join "
        "and no per-row rescan)",
        _plan(entrymod.queries()["evt_rolling"](spark, SF)),
        ["hashpartitioning(event_type", "Window", "!SortMergeJoin"],
    ))

    sections.append((
        "Group percentiles — one aggregate pass; exact interpolated "
        "percentile is a typed-imperative aggregate (object hash agg), "
        "still partial/final around a single exchange",
        _plan(entrymod.queries()["evt_percentiles"](spark, SF)),
        ["ObjectHashAggregate", "!SortMergeJoin"],
    ))

    sections.append((
        "Neighborhood Jaccard — wedge enumeration via equi-join on the "
        "center node, known edges removed by LeftAnti, union size from "
        "degrees by inclusion-exclusion; never a cross join",
        _plan(entrymod.queries()["graph_jaccard"](spark, SF)),
        ["LeftAnti", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    ))

    sections.append((
        "Train/val/test split — pure map: the md5-band CASE stays inside "
        "the scan stage's codegen span; ZERO exchanges",
        _plan(entrymod.queries()["curation_split"](spark, SF)),
        ["!Exchange"],
    ))

    sections.append((
        "Inverted index — WindowGroupLimit prunes each term's postings to "
        "the top-k map-side BEFORE the exchange (the stopword heavy-hitter "
        "guard is enforced in the shuffle itself, not after it)",
        _plan(entrymod.queries()["inverted_index"](spark, SF)),
        ["WindowGroupLimit", "hashpartitioning(term", "!CartesianProduct"],
    ))

    sections.append((
        "PMI collocations — the vocabulary filter lands in the scan stage "
        "(presence rows are |vocab|-bounded per doc before the self-join); "
        "pair generation is a doc-keyed equi-join, never a cross join",
        _plan(entrymod.queries()["cooc_pmi"](spark, SF)),
        ["hashpartitioning(doc_id", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    ))

    sections.append((
        "KG negative sampling — the dense entity index joins on the draw "
        "(broadcastable dim), true positives removed by LeftAnti; the draw "
        "itself is map-only md5 arithmetic",
        _plan(entrymod.queries()["kg_negatives"](spark, SF)),
        ["LeftAnti", "!CartesianProduct"],
    ))

    sections.append((
        "Data-quality gate — referential rules are LeftAnti joins against "
        "distinct parent keys (broadcast); all five rule counts evaluate "
        "in one unioned plan",
        _plan(entrymod.queries()["dq_checks"](spark, SF)),
        ["LeftAnti", "BroadcastHashJoin", "Union"],
    ))

    sections.append((
        "SCC — mutual reachability composes the path-doubling closure "
        "with its reversal via LeftSemi; id-only rows throughout, one min "
        "aggregate per node (closure rounds hide behind per-round "
        "checkpoints; this plan is the mutual+aggregate tail)",
        _plan(entrymod.queries()["graph_scc"](spark, SF)),
        ["LeftSemi", "HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Value histogram — the 1-row global min/max aggregate broadcasts "
        "back (BroadcastNestedLoopJoin over a single row is the literal "
        "cross join, not a pair blowup); binning is map arithmetic into "
        "one partial/final hash aggregate",
        _plan(entrymod.queries()["evt_histogram"](spark, SF)),
        ["BroadcastNestedLoop", "HashAggregate"],
    ))

    sections.append((
        "MERGE-INTO batch twin — last-writer-wins via ONE max_by aggregate "
        "around a single key exchange: O(1) state per key, no window sort, "
        "no join between base and updates",
        _plan(entrymod.queries()["docs_upsert"](spark, SF)),
        ["hashpartitioning(doc_id", "!SortMergeJoin", "!Window"],
    ))

    sections.append((
        "Embedding centroids — posexplode + ONE (label, pos) hash "
        "aggregate: the shuffle carries |labels|·dim fixed-point running "
        "sums, never whole vectors",
        _plan(entrymod.queries()["embedding_centroids"](spark, SF)),
        ["hashpartitioning(label", "HashAggregate", "!SortMergeJoin"],
    ))

    sections.append((
        "Embedding dispersion — the |labels|×dim centroid table broadcasts "
        "for the scoring join (vectors never shuffle to be scored); "
        "round-6 fixed-point cosines aggregate per label",
        _plan(entrymod.queries()["embedding_dispersion"](spark, SF)),
        ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"],
    ))

    sections.append((
        "Containment pairs — same rare-shingle candidate generation as "
        "Jaccard (LeftSemi df cap), exact counts on survivors only; no "
        "cross join anywhere",
        _plan(entrymod.queries()["containment_pairs"](spark, SF)),
        ["LeftSemi", "!CartesianProduct"],
    ))

    sections.append((
        "Domain quality gate — map-only feature pass + ONE hash aggregate "
        "on the domain (word-count shape); fixed-point mean needs no "
        "ordered folds",
        _plan(entrymod.queries()["domain_quality"](spark, SF)),
        ["HashAggregate", "!SortMergeJoin"],
    ))

    sections.append((
        "CMS heavy hitters — the d×w sketch aggregates to a bounded row "
        "count and BROADCASTS for the probe join; only the exact-count "
        "comparison shuffles keys",
        _plan(entrymod.queries()["cms_hot_terms"](spark, SF)),
        ["BroadcastHashJoin", "HashAggregate", "!CartesianProduct"],
    ))

    from kgraph_spark.operators.graph_analytics import feature_propagation

    fp_edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "subject_id string, object_id string"
    )
    fp_feats = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "id string, f double"
    )
    sections.append((
        "Feature propagation — per round one neighbor-keyed join + one "
        "per-node fixed-point hash aggregate, joined back to the own "
        "value (pin_rounds=False exposes the full unrolled plan)",
        _plan(feature_propagation(fp_edges, fp_feats, rounds=2, pin_rounds=False)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "MAD outliers — two group-cardinality percentile aggregates, each "
        "joined back by broadcast; the event table never shuffles to be "
        "flagged",
        _plan(entrymod.queries()["evt_mad_outliers"](spark, SF)),
        ["BroadcastHashJoin", "!SortMergeJoin"],
    ))

    sections.append((
        "Entity-media grounding — vocab filter lands before the distinct "
        "(mention rows |vocab|-bounded per paragraph); the grounding join "
        "is doc-keyed with a band predicate, never a cross join",
        _plan(entrymod.queries()["entity_media_grounding"](spark, SF)),
        ["hashpartitioning(doc_id", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    ))

    sections.append((
        "Score normalization — one group-cardinality percentile aggregate "
        "broadcast back; the scored rows never shuffle",
        _plan(entrymod.queries()["evt_norm_scores"](spark, SF)),
        ["BroadcastHashJoin", "!SortMergeJoin"],
    ))

    sections.append((
        "User lifecycle — day-dedup BEFORE the per-user window (the lag "
        "runs over day rows, not events); two hash aggregates + one "
        "user-keyed join",
        _plan(entrymod.queries()["evt_user_lifecycle"](spark, SF)),
        ["HashAggregate", "Window", "!CartesianProduct"],
    ))

    sections.append((
        "OOV rate — rare-type filter as a LeftSemi against the df table; "
        "common tokens never join",
        _plan(entrymod.queries()["oov_rate"](spark, SF)),
        ["LeftSemi", "!CartesianProduct"],
    ))

    sections.append((
        "Degree assortativity — integer moment sums partial-aggregate to "
        "ONE row; the Pearson combination is a single projection",
        _plan(entrymod.queries()["graph_assortativity"](spark, SF)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "KG snapshot diff — one full-outer SortMergeJoin on the triple "
        "key; confidences ride the shuffle, no second pass",
        _plan(entrymod.queries()["kg_diff"](spark, SF)),
        ["FullOuter", "!CartesianProduct"],
    ))

    sections.append((
        "Acronym resolution — equality join on the derived initials key "
        "(the dictionary indexes once); never a string-similarity cross "
        "join",
        _plan(entrymod.queries()["d2_acronym"](spark, SF)),
        ["!CartesianProduct", "!BroadcastNestedLoopJoin"],
    ))

    sections.append((
        "Equi-depth histogram — the percentile boundary row broadcasts "
        "(single-row nested-loop is the literal cross join); assignment "
        "is a map-side comparison fold into one hash aggregate — no "
        "global-sort ntile",
        _plan(entrymod.queries()["evt_histogram_eqd"](spark, SF)),
        ["BroadcastNestedLoop", "HashAggregate", "!Window"],
    ))

    from kgraph_spark.operators.graph_analytics import ktruss as ktruss_op

    kt_edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
        "subject_id string, object_id string",
    )
    sections.append((
        "k-truss — per round one wedge equi-join + LeftSemi-shaped "
        "survivor filter, integer-only (single-round plan shown; rounds "
        "pin behind checkpoints)",
        _plan(ktruss_op(kt_edges, k=3, rounds=1, pin_rounds=False)),
        ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    ))

    scd2_plan = _plan(entrymod.queries()["evt_scd2"](spark, SF))
    one_exchange = scd2_plan.count("hashpartitioning") == 1
    sections.append((
        "SCD2 dimension build — ONE key exchange total: instant-dedup is a "
        "window (not a (key,ts) groupBy, which would add a second "
        "exchange); change-detect + interval-chain windows reuse it "
        f"[single-hashpartitioning check: {'pass' if one_exchange else 'FAIL'}]",
        scd2_plan,
        ["hashpartitioning(_k", "!HashAggregate"] + ([] if one_exchange else ["IMPOSSIBLE"]),
    ))

    sections.append((
        "Semantic dedup (SemDeDup) — pair generation is a cell EQUI-join "
        "(SortMergeJoin/ShuffledHashJoin on cell), never an all-pairs "
        "product; centroid assignment rides the expression (no shuffle "
        "before the cell join)",
        _plan(entrymod.queries()["semantic_dedup"](spark, SF)),
        ["!CartesianProduct", "!BroadcastNestedLoopJoin", "Left keys [1]: [cell"],
    ))

    sections.append((
        "PQ ADC top-k — ONE codes scan joined to a BROADCAST probe-LUT "
        "table (the per-probe union-of-scans would re-run the encode "
        "expression P times); distance is element_at into the broadcast "
        "LUT, the only shuffle is the per-probe top-k window",
        _plan(entrymod.queries()["pq_topk"](spark, SF)),
        ["BroadcastNestedLoopJoin", "!Union", "!CartesianProduct"],
    ))

    sections.append((
        "Time-grid forward fill — per-user sequence() grid (explode "
        "bounded by user span, not corpus); fixed-point observed sums; "
        "fill is a running last(ignorenulls) window, no re-aggregation",
        _plan(entrymod.queries()["evt_grid_fill"](spark, SF)),
        ["explode(sequence", "HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Markov transition matrix — ONE user exchange for lead() pairing; "
        "the count aggregate and |type|² normalization window never touch "
        "event-scale data again",
        _plan(entrymod.queries()["evt_transitions"](spark, SF)),
        ["hashpartitioning(_u", "HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "HyperLogLog sketch + estimate — ONE partial/final hash aggregate "
        "whose result is ≤ 256 register rows at ANY input size; the "
        "estimate is a single-row reduce; no join, no window over the "
        "corpus",
        _plan(entrymod.queries()["hll_distinct"](spark, SF)),
        ["HashAggregate", "!Window", "!SortMergeJoin", "!CartesianProduct"],
    ))

    from kgraph_spark.operators.eval_metrics import cluster_pair_metrics

    pm_pred = spark.range(2000).selectExpr(
        "CAST(id AS STRING) AS item_id", "CAST(id % 37 AS STRING) AS pred_cluster"
    )
    pm_gold = spark.range(2000).selectExpr(
        "CAST(id AS STRING) AS item_id", "CAST(id % 11 AS STRING) AS gold_cluster"
    )
    sections.append((
        "Pairwise clustering P/R/F1 — one item-keyed join + one groupBy to "
        "contingency cells; every pair count is arithmetic on cell sizes "
        "(C(n,2) as exact integers) — pairs are NEVER materialized, no "
        "self-join on items",
        _plan(cluster_pair_metrics(pm_pred, pm_gold)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    from kgraph_spark.operators.layout import zorder_key

    zk = zorder_key(
        spark.read.parquet(f"{SF}/events.parquet").selectExpr(
            "event_id", "CAST(user_id AS BIGINT) AS u", "CAST(event_id % 97 AS BIGINT) AS h"
        ),
        ["u", "h"],
        bounds={"u": (0, 1000), "h": (0, 96)},
    ).repartitionByRange(8, "z_key").sortWithinPartitions("z_key")
    sections.append((
        "Z-order layout — the Morton key is a pure JVM shift/mask fold "
        "(whole-stage codegen, no UDF, no join); clustering is ONE "
        "rangepartitioning exchange + in-partition sort (file-level "
        "min/max stats become selective in every interleaved dimension)",
        _plan(zk),
        ["rangepartitioning(z_key", "!CartesianProduct", "!SortMergeJoin"],
    ))

    sections.append((
        "Incremental aggregate refresh — changelog delta is its own "
        "bounded aggregate; the merge is ONE full-outer key join (bucket "
        "both sides in Iceberg and it is shuffle-free); no rescan of the "
        "base corpus",
        _plan(entrymod.queries()["evt_incr_agg"](spark, SF)),
        ["FullOuter", "HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "RRF fusion — per-list ranks fold to COLUMNS via conditional-min "
        "on one (query, doc) aggregate; score is a fixed expression sum "
        "(never a float SUM aggregate); fused rank is a rank-filter "
        "window (map-side top-k prune eligible)",
        _plan(entrymod.queries()["rrf_fusion"](spark, SF)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Butterfly counting — wedge self-join on the right (part) key "
        "carries ids only; exact integer C(c,2); no cartesian anywhere",
        _plan(entrymod.queries()["graph_butterflies"](spark, SF)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "WL role labels — per-round neighbor aggregation is ONE "
        "groupBy(node) whose state is the sorted neighbor-label array "
        "(bounded by max degree); md5 relabel rides the expression",
        _plan(entrymod.queries()["graph_wl"](spark, SF)),
        ["ObjectHashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Bloom join pruning — the 1-row bitmap broadcasts under a "
        "BroadcastNestedLoopJoin; the fact side is filtered MAP-SIDE "
        "(no SortMergeJoin, no exchange of the big side to decide "
        "membership)",
        _plan(entrymod.queries()["bloom_prune"](spark, SF)),
        ["BroadcastNestedLoopJoin", "!SortMergeJoin"],
    ))

    sections.append((
        "B-cubed gate — contingency cells via one hash aggregate; "
        "fixed-point long sums; items never pair",
        _plan(entrymod.queries()["d8_bcubed"](spark, SF)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "CUSUM — recursion eliminated into two running windows riding "
        "ONE (group)-partitioned sort; fixed-point integer state",
        _plan(entrymod.queries()["evt_cusum"](spark, SF)),
        ["Window", "hashpartitioning(group", "!CartesianProduct"],
    ))

    sections.append((
        "PPS systematic sample — two-phase distributed prefix sum: "
        "in-bucket window partitioned by the md5 bucket (16-way "
        "parallel), bucket offsets broadcast back; no global "
        "single-partition sort of the data",
        _plan(entrymod.queries()["curation_pps"](spark, SF)),
        ["hashpartitioning(_b", "BroadcastHashJoin", "!CartesianProduct"],
    ))

    sections.append((
        "KG time travel — the as-of cut is PUSHED INTO the scan "
        "(ts <= literal) and the last-writer election is one max_by "
        "aggregate, O(1) state per triple (no window sort)",
        _plan(entrymod.queries()["kg_asof"](spark, SF)),
        ["PushedFilters", "LessThanOrEqual(ts", "!Window", "!CartesianProduct"],
    ))

    sections.append((
        "Prefix-filter similarity join — candidates from the rare-first "
        "PREFIX index only (recall-lossless); exact Jaccard on survivors; "
        "integer thresholds; no cartesian",
        _plan(entrymod.queries()["prefix_jaccard"](spark, SF)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "PSI drift — reference min/max is a 1-row broadcast; binning "
        "rides the scan; term sum is one bounded aggregate over n_bins "
        "rows",
        _plan(entrymod.queries()["evt_psi"](spark, SF)),
        ["BroadcastNestedLoopJoin", "HashAggregate", "!SortMergeJoin"],
    ))

    sections.append((
        "Predicate composition — degree-product aggregation: paths are "
        "never materialized (n_paths = Σ_mid in·out over two per-(node, "
        "pred) degree tables); caps LeftSemi-prune hub mids on those "
        "tiny tables",
        _plan(entrymod.queries()["kg_pred_compose"](spark, SF)),
        ["LeftSemi", "!CartesianProduct"],
    ))

    sections.append((
        "Span-sequence dedup — serialization + md5 ride the scan "
        "(map-only); the ONLY exchange is the 16-byte hash groupBy",
        _plan(entrymod.queries()["span_seq_dedup"](spark, SF)),
        ["hashpartitioning(seq_hash", "!SortMergeJoin", "!CartesianProduct"],
    ))

    sections.append((
        "JL random projection — sign matrix is a plan LITERAL; quantized "
        "integer dots ride the scan; no exchange before the posexplode",
        _plan(entrymod.queries()["rp_project"](spark, SF)),
        ["Generate", "!Exchange", "!CartesianProduct"],
    ))

    sections.append((
        "MMR top-k — probes broadcast; each round is one group window "
        "over the per-candidate state (one shuffle on the group, no "
        "per-round join or aggregate)",
        _plan(entrymod.queries()["mmr_topk"](spark, SF)),
        ["Window", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"],
    ))

    sections.append((
        "SCD2 event-time lookup — hash join ON THE KEY with the validity "
        "interval as residual predicate; never a range-only join",
        _plan(entrymod.queries()["evt_scd2_lookup"](spark, SF)),
        ["HashJoin LeftOuter", "Join condition", "!CartesianProduct"],
    ))

    sections.append((
        "Touch attribution — one sorted window, last_value(ignorenulls); "
        "no self-join of the event log",
        _plan(entrymod.queries()["evt_attribution"](spark, SF)),
        ["Window", "!SortMergeJoin", "!CartesianProduct"],
    ))

    sections.append((
        "Modularity — two id-keyed label joins + community-cardinality "
        "aggregates; fixed-point terms; 1-row m broadcast",
        _plan(entrymod.queries()["graph_modularity"](spark, SF)),
        ["BroadcastNestedLoopJoin", "HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Neighborhood sizes — hub mids LeftSemi-capped BEFORE the 2-hop "
        "wedge join; id-only exchanges",
        _plan(entrymod.queries()["graph_ball"](spark, SF)),
        ["LeftSemi", "!CartesianProduct"],
    ))

    sections.append((
        "Inter-arrival profile — gaps + median rank ride (group)-keyed "
        "windows; integer-microsecond arithmetic",
        _plan(entrymod.queries()["evt_interarrival"](spark, SF)),
        ["Window", "hashpartitioning(group", "!CartesianProduct"],
    ))

    sections.append((
        "Component size histogram — two bounded hash aggregates over the "
        "CC label table; labels pinned once by the CC checkpoint",
        _plan(entrymod.queries()["graph_component_sizes"](spark, SF)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Incremental CC — the full mapping is touched by ONE broadcast "
        "join on component; iterative work runs on the condensed delta",
        _plan(entrymod.queries()["d8_incremental_cc"](spark, SF)),
        ["BroadcastHashJoin", "!CartesianProduct"],
    ))

    sections.append((
        "Join planner — per-key count aggregates with map-side partials; "
        "the planned join itself never materializes (histograms only)",
        _plan(entrymod.queries()["join_plan"](spark, SF)),
        ["partial_count", "HashAggregate", "BroadcastNestedLoopJoin"],
    ))

    sections.append((
        "Sorted-neighborhood blocking — two-phase prefix-sum rank (no "
        "corpus-wide single-reducer window), pair join is an equi-join "
        "on the dense rank key",
        _plan(entrymod.queries()["snm_candidates"](spark, SF)),
        ["Generate", "HashJoin", "!CartesianProduct"],
    ))

    sections.append((
        "KG conflicts — dictionary isin prunes BEFORE the (s,o) self-join; "
        "one (s,p,o) hash aggregate with partial agg",
        _plan(entrymod.queries()["kg_conflicts"](spark, SF)),
        ["partial_count", "HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Reciprocal best match — label-blocked pairing (never cartesian), "
        "argmax elections are min-of-struct aggregates (SortAggregate — "
        "struct-typed min), mutual check is an equi-join on the pair key",
        _plan(entrymod.queries()["rbm_align"](spark, SF)),
        ["BroadcastHashJoin", "SortAggregate", "SortMergeJoin",
         "!CartesianProduct"],
    ))

    sections.append((
        "EMA smoothing — ONE per-user sorted window carries all k lags; "
        "no self-join of the event log",
        _plan(entrymod.queries()["evt_ema"](spark, SF)),
        ["Window", "hashpartitioning(user_id", "!SortMergeJoin",
         "!CartesianProduct"],
    ))

    sections.append((
        "Interval coalescing — ONE key exchange carries both "
        "gaps-and-islands windows and the final aggregate",
        _plan(entrymod.queries()["evt_interval_coalesce"](spark, SF)),
        ["Window", "hashpartitioning(user_id", "!SortMergeJoin",
         "!CartesianProduct"],
    ))

    sections.append((
        "Blocking quality — gold pairs from cluster-size aggregates "
        "(never materialized); candidate pairs normalized then id-joined",
        _plan(entrymod.queries()["er_blocking_quality"](spark, SF)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Edge lift — pair + strength hash aggregates, two id-keyed "
        "strength joins, 1-row total broadcast",
        _plan(entrymod.queries()["graph_edge_lift"](spark, SF)),
        ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    ))

    sections.append((
        "Ranking eval (MRR/Hits@k) — probes broadcast (items never "
        "shuffle for scoring), rank = per-query conditional count, no "
        "candidate-list sort",
        _plan(entrymod.queries()["er_rank_eval"](spark, SF)),
        ["BroadcastNestedLoopJoin", "HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Fellegi-Sunter weights — pair normalization + ONE unpivoted "
        "aggregate with map-side partials; attrs attach by id equi-join",
        _plan(entrymod.queries()["er_fs_weights"](spark, SF)),
        ["Generate", "partial_sum", "HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Merge-attribute audit — ONE broadcast left join of attrs onto "
        "the mapping + ONE component-keyed aggregate (partial/final "
        "SortAggregate: string min/max + the countDistinct rewrite)",
        _plan(entrymod.queries()["d8_merge_audit"](spark, SF)),
        ["BroadcastHashJoin LeftOuter", "SortAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Rule confidence — degree-capped mid-node path join, distinct "
        "body pairs pinned once (lazy localCheckpoint) for the head join "
        "+ the per-x pre-aggregate that feeds both denominators; no "
        "cartesian anywhere",
        _plan(entrymod.queries()["kg_rule_confidence"](spark, SF)),
        ["HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Temporal conflicts — the self-join is keyed on the entity key "
        "(equi hash join — broadcast at this SF, sort-merge at scale; "
        "never nested-loop over the corpus); overlap filter runs "
        "post-join on integer microseconds",
        _plan(entrymod.queries()["evt_temporal_conflicts"](spark, SF)),
        ["HashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    ))

    sections.append((
        "PR threshold sweep — ONE scan exploded by |thresholds| literals, "
        "partial+final aggregate on the tiny threshold key",
        _plan(entrymod.queries()["lang_pr_sweep"](spark, SF)),
        ["Generate", "partial_sum", "HashAggregate", "!CartesianProduct"],
    ))

    sections.append((
        "Cohen's kappa — two tiny per-category aggregates joined on "
        "category + ONE global aggregate; the only wide row is the 1-row "
        "broadcast of S",
        _plan(entrymod.queries()["lang_kappa"](spark, SF)),
        ["HashAggregate", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    ))

    sections.append((
        "nDCG@10 — pair scores via the Arrow-batched int64 matmul "
        "(probes in the closure, items stream once — no pair join at "
        "all); per-query windows on the query key; no global sort",
        _plan(entrymod.queries()["er_ndcg"](spark, SF)),
        ["MapInPandas", "Window", "!CartesianProduct",
         "!BroadcastNestedLoopJoin"],
    ))

    sections.append((
        "KMV overlap — per-side distinct on the hash, full-outer "
        "hash-keyed merge, TakeOrdered (per-partition k-heaps, never a "
        "global sort of the union)",
        _plan(entrymod.queries()["kmv_vocab_overlap"](spark, SF)),
        ["TakeOrderedAndProject", "!CartesianProduct"],
    ))

    sections.append((
        "Pearson correlation — ONE hash aggregation with map-side partial "
        "moment sums (exact decimals); rows never sort, pair, or collect",
        _plan(entrymod.queries()["stat_pearson"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "Spearman correlation — midranks on the DISTINCT value grid "
        "(grid-sized windows), joined back by value, then the same single "
        "moment aggregate",
        _plan(entrymod.queries()["stat_spearman"](spark, SF)),
        ["Window", "HashAggregate", "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "KS two-sample — per-value hash aggregates, full-outer grid merge, "
        "ONE grid-sized cumulative window, integer max; totals broadcast",
        _plan(entrymod.queries()["stat_ks_drift"](spark, SF)),
        ["Window", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Chi-squared independence — cell aggregate + two broadcast "
        "marginals + 1-row totals broadcast; fixed-point micro terms sum "
        "exactly in a final hash aggregate",
        _plan(entrymod.queries()["stat_chi2"](spark, SF)),
        ["BroadcastHashJoin", "HashAggregate", "!BatchEvalPython",
         "!CartesianProduct"],
    ))

    sections.append((
        "ANOVA F — two chained hash aggregates (per-group moments, then "
        "global), map-side partials; no sort, no window, no Python",
        _plan(entrymod.queries()["stat_anova"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "Soundex blocking — pure expression chain (translate/regexp), "
        "vocabulary distinct + broadcast block sizes; no UDF anywhere",
        _plan(entrymod.queries()["er_soundex_blocks"](spark, SF)),
        ["BroadcastHashJoin", "translate", "!BatchEvalPython",
         "!CartesianProduct"],
    ))

    sections.append((
        "Dedup clusters — pair verification via the LeftSemi-capped "
        "inverted index, CC labels from checkpointed id-only rounds, "
        "canonical election is one min-of-struct hash aggregate on "
        "cluster_id",
        _plan(entrymod.queries()["dedup_clusters"](spark, SF)),
        # struct-min election compiles to SortAggregate (Spark lowers
        # struct min/max to sort-based agg); joins are equi (SMJ pre-AQE)
        ["SortAggregate", "Join Inner", "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "Type constraints — ONE partial+final count aggregate on "
        "(predicate, type-pair); election + violation rollup run over "
        "signature-cardinality rows, never the edge set; no join, no UDF",
        _plan(entrymod.queries()["kg_type_constraints"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!SortMergeJoin",
         "!CartesianProduct"],
    ))

    sections.append((
        "Lexical diversity — explode rides the scan, ONE (doc, token) "
        "shuffle with map-side partial counts, per-doc rollup; exact "
        "integer micro ratios, no Python, no join",
        _plan(entrymod.queries()["text_lexical_diversity"](spark, SF)),
        ["Generate", "HashAggregate", "partial_", "!BatchEvalPython",
         "!SortMergeJoin", "!CartesianProduct"],
    ))

    sections.append((
        "Benford audit — digit from INTEGER cents (no float formatting), "
        "9-key count aggregate, window total over 9 rows, expected shares "
        "are plan literals (driver-side log10 micro)",
        _plan(entrymod.queries()["stat_benford"](spark, SF)),
        ["HashAggregate", "Window", "!BatchEvalPython", "!SortMergeJoin",
         "!CartesianProduct"],
    ))

    sections.append((
        "Katz centrality — three chained sparse matvec equi-joins with "
        "partial+final sum aggregation; attenuation is integer micro "
        "literals, no float in the fold",
        _plan(entrymod.queries()["graph_katz"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "Media captions — posexplode rides the scan, ONE per-doc window "
        "(running last text span); no join, no Python",
        _plan(entrymod.queries()["media_captions"](spark, SF)),
        ["Generate", "Window", "!BatchEvalPython", "!SortMergeJoin",
         "!CartesianProduct"],
    ))

    sections.append((
        "Weighted token overlap — blocked (block, token) inverted-index "
        "self-join, id-only pair exchange, integer df-reciprocal weights; "
        "total-count side is a 1-row broadcast",
        _plan(entrymod.queries()["er_weighted_overlap"](spark, SF)),
        ["BroadcastNestedLoopJoin", "HashAggregate", "!BatchEvalPython",
         "!CartesianProduct"],
    ))

    sections.append((
        "Power mix weights — one count aggregate on the domain key + a "
        "window over |domains| rows; integer powers by repeated multiply",
        _plan(entrymod.queries()["curation_power_mix"](spark, SF)),
        ["HashAggregate", "Window", "!BatchEvalPython", "!SortMergeJoin",
         "!CartesianProduct"],
    ))

    sections.append((
        "Rule completion candidates — predicate filters pushed below the "
        "mid-node join, distinct implied pairs, ONE LeftAnti against "
        "existing heads (no negation subquery)",
        _plan(entrymod.queries()["kg_completion_candidates"](spark, SF)),
        ["LeftAnti", "HashAggregate", "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "Cluster cohesion — id-only joins attach cluster labels to the "
        "verified pair list; two count aggregates on cluster_id",
        _plan(entrymod.queries()["er_cluster_cohesion"](spark, SF)),
        ["HashAggregate", "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "N-gram novelty — ONE (gram → min doc) aggregate + gram-keyed "
        "join back + per-doc rollup; ingestion-order attribution without "
        "a corpus-wide window or sequential scan",
        _plan(entrymod.queries()["text_ngram_novelty"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "Gini concentration — one rank window over PRE-AGGREGATED "
        "(type,user) rows + one hash aggregate; exact wide-int sums, "
        "one division",
        _plan(entrymod.queries()["stat_gini"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Kendall tau-a — bounded-group pair join (the distributed shape) "
        "+ integer concordance counts; deterministic %11 subsample "
        "pushed to the scan",
        _plan(entrymod.queries()["stat_kendall_tau"](spark, SF)),
        ["HashAggregate", "PushedFilters", "!BatchEvalPython"],
    ))

    sections.append((
        "Theil–Sen slope — same bounded-group pair join; median picked "
        "by rank positions (window), every slope one IEEE division of "
        "exact integers",
        _plan(entrymod.queries()["stat_theil_sen"](spark, SF)),
        ["Window", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Edge reciprocity — LeftSemi flip-join of the distinct bigram "
        "set per language; integer counts",
        _plan(entrymod.queries()["graph_reciprocity"](spark, SF)),
        ["Semi", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Rich-club φ(k) — ONE pass over the edge list with the k-grid "
        "crossed in as a literal array (explode), degrees joined once",
        _plan(entrymod.queries()["graph_rich_club"](spark, SF)),
        ["HashAggregate", "Generate", "!BatchEvalPython"],
    ))

    sections.append((
        "Residue type inference — tiny predicate-position signature "
        "BROADCAST back onto the untyped residue; two majority "
        "aggregates (min-of-struct argmax)",
        _plan(entrymod.queries()["kg_type_inference"](spark, SF)),
        ["BroadcastHashJoin", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "SHACL-lite sweep — five shape checks, each ONE aggregate or "
        "anti-join over the deduped triple table, unioned",
        _plan(entrymod.queries()["kg_shacl_report"](spark, SF)),
        ["HashAggregate", "Union", "!BatchEvalPython"],
    ))

    sections.append((
        "PRA path features — mid-keyed equi-join under the mandatory "
        "hub cap, then one (src,dst,p1,p2) count aggregate",
        _plan(entrymod.queries()["kg_pra_features"](spark, SF)),
        ["HashJoin", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Hour-of-week seasonality — ONE hash aggregate on epoch-derived "
        "(dow,hour) cells + broadcast group totals",
        _plan(entrymod.queries()["evt_seasonality"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin", "!BatchEvalPython"],
    ))

    sections.append((
        "RFM banding — one per-user aggregate then rank windows over the "
        "|users| frame; corpus-max anchor broadcast, never wall-clock",
        _plan(entrymod.queries()["evt_rfm"](spark, SF)),
        ["HashAggregate", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Bow-tie decomposition — path-doubling closure + SCC pass, core "
        "membership broadcast, three left joins classify every node",
        _plan(entrymod.queries()["graph_bowtie"](spark, SF)),
        ["HashJoin", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Term burstiness — one (doc,token) shuffle with map-side "
        "partials, one token aggregate, 1-row corpus count broadcast",
        _plan(entrymod.queries()["text_burstiness"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Source TVD drift — one (source,token) shuffle with map-side "
        "partials; token totals joined once, corpus total broadcast as "
        "a 1-row frame; absent-word mass folded in closed form",
        _plan(entrymod.queries()["text_tvd_drift"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Runs test — rank + lag windows partitioned by the bounded "
        "group key, median broadcast back; exact-long radicands",
        _plan(entrymod.queries()["stat_runs_test"](spark, SF)),
        ["Window", "BroadcastHashJoin", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Directed triad motifs — open-path equi-join, id-pair cycle "
        "close, LEFT SEMI transitive shortcut (path rows never "
        "duplicate); 1-row count frames combine broadcast-side",
        _plan(entrymod.queries()["graph_triads"](spark, SF)),
        ["HashJoin", "Semi", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Inverse-predicate induction — distinct fact table equi-joined "
        "to its own reversal on the (s,o) pair key; supports broadcast "
        "onto the ≤|P|² pair frame",
        _plan(entrymod.queries()["kg_inverse_predicates"](spark, SF)),
        ["HashJoin", "HashAggregate", "partial_", "BroadcastHashJoin", "!BatchEvalPython"],
    ))

    sections.append((
        "Vocabulary discovery curve — bucket by exact integer div on "
        "broadcast bounds; first-occurrence hash agg; the only ordered "
        "window runs over the ≤n_buckets bucket table",
        _plan(entrymod.queries()["text_discovery_curve"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Welch t-test — ONE hash aggregate on (group, side) with "
        "map-side partials, two-row pivot per group; no sort, no "
        "window, no collect",
        _plan(entrymod.queries()["stat_welch_t"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Brown–Forsythe — one rank window on the bounded group key, "
        "broadcast median join back, then the anova_f hash aggregates",
        _plan(entrymod.queries()["stat_brown_forsythe"](spark, SF)),
        ["Window", "BroadcastHashJoin", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Mann–Kendall — bounded-group pair join + two tiny tie "
        "aggregates, exact-long variance terms",
        _plan(entrymod.queries()["stat_mann_kendall"](spark, SF)),
        ["HashJoin", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "RDFS entailment — schema closures broadcast; the instance "
        "table takes broadcast joins only and first shuffles at the "
        "(entity, type) aggregate",
        _plan(entrymod.queries()["kg_rdfs_entailment"](spark, SF)),
        ["BroadcastHashJoin", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Fact fusion — three (s,p[,o]) hash aggregates, per-source "
        "accuracy broadcast back",
        _plan(entrymod.queries()["kg_fact_fusion"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin", "!BatchEvalPython"],
    ))

    sections.append((
        "pHash near-dups — band self-join on ids only (no grids or "
        "hashes ride the pair shuffle), unique-key joins bring the "
        "4-int band arrays back for exact hamming; hot-band df cap "
        "prunes degenerate buckets BEFORE the self-join (LeftSemi)",
        _plan(entrymod.queries()["media_phash_dedup"](spark, SF)),
        ["Generate", "HashJoin", "HashAggregate", "LeftSemi", "!BatchEvalPython"],
    ))

    sections.append((
        "SimHash near-dups — pigeonhole chunk blocking; hot-chunk df cap "
        "prunes degenerate all-equal-hash buckets BEFORE the self-join "
        "(LeftSemi), so a uniform slice stays linear",
        _plan(entrymod.queries()["simhash_near_dups"](spark, SF)),
        ["HashJoin", "HashAggregate", "LeftSemi", "!BatchEvalPython"],
    ))

    sections.append((
        "UniMax allocation — one partial-agg groupBy over the corpus; "
        "the greedy runs as prefix-sum windows on the dim-sized stratum "
        "frame (unpartitioned windows over |languages| rows only)",
        _plan(entrymod.queries()["curation_unimax"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!CartesianProduct"],
    ))

    sections.append((
        "Aspect bucketing plan — exact-integer argmin per image is pure "
        "projection (literal struct array + array_min, no join); one "
        "ladder-sized hash aggregate finishes the plan",
        _plan(entrymod.queries()["media_aspect_buckets"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!SortMergeJoin",
         "!BroadcastHashJoin"],
    ))

    sections.append((
        "MedLit Pass-3 bundle relationships — orphan pruning semi-joins, "
        "usage credits as min-ordkey hash aggregates, broadcast stats "
        "attach; zero Python stages in the whole bundle build",
        _plan(entrymod.queries()["medlit_pass3_relationships"](spark, SF)),
        ["BroadcastHashJoin", "HashAggregate", "partial_", "LeftSemi",
         "!BatchEvalPython"],
    ))

    sections.append((
        "MedLit Pass-2 triples — real-corpus merge: broadcast cache/"
        "constraint dims, single-shuffle triple accumulation via "
        "higher-order folds; the per-class Arrow index fold (the ONLY "
        "Python stage) sits behind a localCheckpoint, so this plan "
        "reads its result as an RDD scan rather than replaying it",
        _plan(entrymod.queries()["medlit_pass2_triples"](spark, SF)),
        ["BroadcastHashJoin", "HashAggregate", "partial_",
         "Scan ExistingRDD", "!BatchEvalPython"],
    ))

    sections.append((
        "Stationary distribution — |types|² chain matrix pinned once; "
        "each power step is one join + one hash aggregate on it",
        _plan(entrymod.queries()["evt_stationary"](spark, SF)),
        ["HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Eccentricity profile — rides the closure's pinned doubling "
        "rounds; one extra src aggregate",
        _plan(entrymod.queries()["graph_eccentricity"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Two-pass median — histogram walk replaces the global sort; "
        "the only row-scale window runs inside the single surviving "
        "1/B bucket",
        _plan(entrymod.queries()["evt_median2p"](spark, SF)),
        ["Window", "HashAggregate", "BroadcastHashJoin", "!BatchEvalPython"],
    ))

    sections.append((
        "Inclusion dependencies — per-column distincts, ONE value-"
        "keyed self-join, totals broadcast",
        _plan(entrymod.queries()["dq_inclusion"](spark, SF)),
        ["HashAggregate", "partial_", "HashJoin", "BroadcastHashJoin", "!BatchEvalPython"],
    ))

    sections.append((
        "Burrows' Delta — one (source, token) aggregate at corpus "
        "scale; top-k, grid, moments and pairs all bounded by source "
        "count",
        _plan(entrymod.queries()["text_burrows_delta"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin", "TakeOrdered", "!BatchEvalPython"],
    ))

    sections.append((
        "SQ8 audit — narrow posexplode, 64-row dim stats broadcast "
        "back, one vec_id aggregate; no window, no pairs",
        _plan(entrymod.queries()["emb_sq8_error"](spark, SF)),
        ["Generate", "HashAggregate", "partial_", "BroadcastHashJoin", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Temporal reachability — pinned min-fold rounds (the lazy "
        "checkpoint IS the plan evidence: the returned frame reads the "
        "pinned state, per-round join+agg plans checked on eccentricity"
        "/closure which share the machinery)",
        _plan(entrymod.queries()["graph_temporal_reach"](spark, SF)),
        ["Scan ExistingRDD", "!BatchEvalPython"],
    ))

    sections.append((
        "Attribute mixing — broadcast type lookups, |types|² matrix "
        "aggregate, 1-row totals broadcast back",
        _plan(entrymod.queries()["graph_mixing"](spark, SF)),
        ["BroadcastHashJoin", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "ANN recall gate — two k-row-per-probe frames equi-join on "
        "(probe, id); nothing touches the corpus after the top-ks",
        _plan(entrymod.queries()["ann_recall_lsh"](spark, SF)),
        ["HashJoin", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Neyman allocation — ONE corpus aggregate with map-side "
        "partials + |strata|-row finish, 1-row total broadcast",
        _plan(entrymod.queries()["curation_neyman"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Cramér–von Mises — grid aggregates + one window over the "
        "DISTINCT grid (the ks_2sample shape), HUGEINT-exact numerator",
        _plan(entrymod.queries()["stat_cvm_drift"](spark, SF)),
        ["HashAggregate", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "DAG levels — anti-join roots, pinned max-fold rounds (same "
        "lazy-checkpoint shape as temporal reachability)",
        _plan(entrymod.queries()["graph_dag_levels"](spark, SF)),
        ["Scan ExistingRDD", "!BatchEvalPython"],
    ))

    sections.append((
        "Lateness audit — |W|-way literal fan-out, ONE (group, w) hash "
        "aggregate with partials; no window, no join",
        _plan(entrymod.queries()["evt_lateness"](spark, SF)),
        ["Generate", "HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Wilson interval — ONE hash aggregate with partials, fixed "
        "IEEE finish; no window, no join",
        _plan(entrymod.queries()["stat_wilson"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window", "!Join"],
    ))

    sections.append((
        "CUPED — one side aggregate + 1-row pooled-moment broadcast; "
        "the only window is the per-user covariate lag",
        _plan(entrymod.queries()["evt_cuped"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Zone-map advisor — two ntile windows (the documented advisor "
        "sort), zone aggregate, literal band fan-out",
        _plan(entrymod.queries()["layout_zonemap"](spark, SF)),
        ["Window", "HashAggregate", "Generate", "!BatchEvalPython"],
    ))

    sections.append((
        "Classification report — three label-keyed aggregates with "
        "partials, |labels|-row outer joins",
        _plan(entrymod.queries()["eval_lang_report"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Centroid drift — two |labels|×dim centroid aggregates, one "
        "|labels|-row join; vectors never pair",
        _plan(entrymod.queries()["emb_centroid_drift"](spark, SF)),
        ["Generate", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Literal type census — JVM regex classification, ONE predicate "
        "aggregate with partials; no UDF, no window",
        _plan(entrymod.queries()["kg_literal_profile"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Global efficiency — closure pairs aggregate + 1-row node "
        "census broadcast",
        _plan(entrymod.queries()["graph_efficiency"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Paired t — per-user lag window feeds ONE moment aggregate "
        "with partials",
        _plan(entrymod.queries()["stat_paired_t"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Cannot-link audit — constraint distinct + two joins against "
        "assignments; the big table never self-joins",
        _plan(entrymod.queries()["er_cannot_link"](spark, SF)),
        ["HashJoin", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Kruskal-Wallis H — grid-sized rank window feeds per-group "
        "aggregates with partials; raw rows never sort",
        _plan(entrymod.queries()["stat_kruskal"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Cochran-Armitage trend — one hash aggregate per ordered band + "
        "single-row fold; no window, no UDF",
        _plan(entrymod.queries()["stat_cochran_armitage"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Poisson rate test — two single-row span aggregates broadcast "
        "together",
        _plan(entrymod.queries()["stat_poisson_rate"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastNestedLoopJoin", "!BatchEvalPython"],
    ))

    sections.append((
        "McNemar paired gates — classifier and rule joined on doc_id, "
        "ONE cell aggregate with partials",
        _plan(entrymod.queries()["stat_mcnemar"](spark, SF)),
        ["HashJoin", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "ROC-AUC — (score,label) grid aggregate, grid-sized rank window, "
        "single-row fold; rows never sort globally",
        _plan(entrymod.queries()["eval_auc_roc"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Calibration bins — ONE tiny-key hash aggregate with map-side "
        "partials; no window, no UDF",
        _plan(entrymod.queries()["eval_calibration"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Kaplan-Meier — per-user session window, duration-grid "
        "aggregate, grid-sized at-risk/log-survival prefix windows",
        _plan(entrymod.queries()["evt_kaplan_meier"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Log-rank test — (t,grp) grid aggregate, grid prefix sums, "
        "single-row hypergeometric fold",
        _plan(entrymod.queries()["stat_logrank"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Nelson-Aalen — session window, duration-grid aggregate, "
        "grid-sized hazard prefix window",
        _plan(entrymod.queries()["evt_nelson_aalen"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Jensen-Shannon — category-key aggregate with partials + "
        "broadcast totals; terms on |categories| rows, no window",
        _plan(entrymod.queries()["stat_jsd"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Friedman — cell aggregate, per-block k-row rank windows, "
        "treatment fold; blocks never pair",
        _plan(entrymod.queries()["stat_friedman"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Jonckheere-Terpstra — dense grid×band frame, per-band prefix "
        "windows, grid-bounded pair join; raw rows never pair",
        _plan(entrymod.queries()["stat_jt"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "RMST — KM grid machinery + one |grid|-row segment window, "
        "single-row fold",
        _plan(entrymod.queries()["evt_rmst"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Chao1 richness — one token-key aggregate with partials, "
        "|types|-row fold; no window",
        _plan(entrymod.queries()["text_chao1"](spark, SF)),
        ["HashAggregate", "partial_", "Generate", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Capture-recapture — decile filter pushed to the scan, one "
        "key aggregate, single-row fold",
        _plan(entrymod.queries()["stat_capture_recapture"](spark, SF)),
        ["HashAggregate", "partial_", "PushedFilters", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "SPRT monitor — day-key aggregate with partials, one window "
        "over |days| rows",
        _plan(entrymod.queries()["evt_sprt"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Pettitt changepoint — day-grid aggregate, two grid windows, "
        "deterministic top-1 sort on |days| rows",
        _plan(entrymod.queries()["evt_pettitt"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "TakeOrderedAndProject",
         "!BatchEvalPython"],
    ))

    sections.append((
        "EWMA control chart — day-grid aggregate, one lag window, "
        "broadcast moment join",
        _plan(entrymod.queries()["evt_ewma"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Cochran's Q — (block,treatment) cell aggregate with partials, "
        "tiny broadcast folds; blocks never pair",
        _plan(entrymod.queries()["stat_cochran_q"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Bowker symmetry — one per-user lag window, (a,b) cell aggregate "
        "with partials, |pairs|-row canonical fold",
        _plan(entrymod.queries()["stat_bowker"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Mood's median — (group,value) cell aggregate with partials, "
        "grid-sized cumulative window, broadcast median join",
        _plan(entrymod.queries()["stat_mood_median"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Fleiss' kappa — three-rater union, (item,cat) cell aggregate "
        "with partials, tiny broadcast folds; no window",
        _plan(entrymod.queries()["stat_fleiss_kappa"](spark, SF)),
        ["Union", "HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Hellinger drift — one category-key aggregate with partials, "
        "broadcast totals join; no window, no sort",
        _plan(entrymod.queries()["stat_hellinger"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window", "!Sort"],
    ))

    sections.append((
        "Cliff's delta — distinct-grid midranks (grid-sized window), "
        "one pooled aggregate; never the O(n·m) pair sweep",
        _plan(entrymod.queries()["stat_cliffs_delta"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Cohen's kappa — crosstab marginal aggregates with partials, "
        "marginals joined broadcast; no window, no sort",
        _plan(entrymod.queries()["stat_cohen_kappa"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin",
         "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Gamma/Somers' D — concordance on the k×k crosstab (cells "
        "broadcast to a nested-loop pair join, never O(n²) on data); "
        "all other folds hash with partials",
        _plan(entrymod.queries()["stat_gamma_somers"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastNestedLoopJoin",
         "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Hurst R/S — grid-sized order window, broadcast size fan-out, "
        "(m,block) window + hash aggregates; no data-sized sort",
        _plan(entrymod.queries()["evt_hurst"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "BroadcastNestedLoopJoin",
         "!BatchEvalPython"],
    ))

    sections.append((
        "Markov entropy rate — (prev,cur) cell aggregate with partials, "
        "prev-marginal broadcast join, one shared division",
        _plan(entrymod.queries()["evt_entropy_rate"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin",
         "!BatchEvalPython"],
    ))

    sections.append((
        "Bollinger bands — one ordered grid window with integer running "
        "sums; breach decided in exact integers, no self-join",
        _plan(entrymod.queries()["evt_bollinger"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Corpus richness — one token-key aggregate with partials, "
        "types fold to one row; no join, no window",
        _plan(entrymod.queries()["text_richness"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "G² collocations — min_count prune BEFORE marginal joins, "
        "token-key shuffle joins (no vocab broadcast), bounded top-k sort",
        _plan(entrymod.queries()["text_collocations"](spark, SF)),
        ["HashAggregate", "partial_", "TakeOrderedAndProject",
         "!BatchEvalPython"],
    ))

    sections.append((
        "Per-source KL — token-key aggregates + co-partitioned token "
        "join; source totals broadcast; one division per source",
        _plan(entrymod.queries()["text_kl_sources"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin",
         "!BatchEvalPython"],
    ))

    sections.append((
        "Anderson-Darling 2-sample — distinct-grid cumulative window, "
        "broadcast totals, one shared division",
        _plan(entrymod.queries()["stat_ad2"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Dunn post-hoc — doubled-midrank grid + k-row broadcast pair "
        "self-join (never a data-sized pairing)",
        _plan(entrymod.queries()["stat_dunn"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastNestedLoopJoin",
         "!BatchEvalPython"],
    ))

    sections.append((
        "Page trend — block-sized rank windows over complete blocks, "
        "broadcast treatment-order index, exact L fold",
        _plan(entrymod.queries()["stat_page"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "BroadcastHashJoin",
         "!BatchEvalPython"],
    ))

    sections.append((
        "2×2 odds ratio — one hash aggregate, exact integer cells; "
        "no join, no window",
        _plan(entrymod.queries()["stat_odds_ratio"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!Sort"],
    ))

    sections.append((
        "Grubbs outlier — moment aggregate broadcast onto the distinct "
        "value grid; argmax in exact integers (no second data pass)",
        _plan(entrymod.queries()["stat_grubbs"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Series peaks — one ordered grid window (lag+lead), integer "
        "comparisons only; no join",
        _plan(entrymod.queries()["evt_peaks"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Kendall's W — the friedman machinery + one division; "
        "cell aggregate, block-sized windows",
        _plan(entrymod.queries()["stat_kendall_w"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "TransE plausibility — pure JVM per-dim hash arithmetic, "
        "bounded top-k; no shuffle besides TakeOrdered, no UDF",
        _plan(entrymod.queries()["kg_transe_score"](spark, SF)),
        ["TakeOrderedAndProject", "!BatchEvalPython", "!Exchange hashpartitioning"],
    ))

    sections.append((
        "Record audit — one ordered grid window (running max + H_n), "
        "single fold; no join",
        _plan(entrymod.queries()["evt_records"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Mood scale — distinct-grid midranks, broadcast totals, exact "
        "×4 integer M; one sqrt",
        _plan(entrymod.queries()["stat_mood_scale"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Hill tail index — bounded top-(k+1) (TakeOrdered), nano-exact "
        "log-sum; never a full sort",
        _plan(entrymod.queries()["evt_hill_tail"](spark, SF)),
        ["TakeOrderedAndProject", "HashAggregate", "!BatchEvalPython"],
    ))

    sections.append((
        "Degree Gini — pre-aggregated degree rows, one rank window, "
        "exact wide-integer identity",
        _plan(entrymod.queries()["graph_degree_gini"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Krippendorff alpha — (item,cat) + (cat) hash aggregates, "
        "broadcast folds; ragged ratings never widen the plan",
        _plan(entrymod.queries()["stat_krippendorff"](spark, SF)),
        ["Union", "HashAggregate", "partial_", "BroadcastHashJoin",
         "!BatchEvalPython"],
    ))

    sections.append((
        "Herfindahl — one key aggregate with partials, fold to one row; "
        "no join, no window",
        _plan(entrymod.queries()["curation_hhi"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Turning points — one ordered grid window, integer extremum "
        "decisions; no join",
        _plan(entrymod.queries()["evt_turning_points"](spark, SF)),
        ["Window", "HashAggregate", "partial_", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Trimmed/winsorized mean — grid cumulative window, broadcast "
        "totals/cuts, exact in-window copy counts",
        _plan(entrymod.queries()["stat_trimmed_mean"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "BroadcastHashJoin",
         "!BatchEvalPython"],
    ))

    sections.append((
        "Sign test — per-user half-month means, one pair join + one "
        "fold; integer sign decisions",
        _plan(entrymod.queries()["stat_sign_test"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython"],
    ))

    sections.append((
        "Hour-of-day ANOVA — hourly count aggregate then 24-group "
        "moment fold; no window, no join",
        _plan(entrymod.queries()["evt_hour_anova"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window"],
    ))

    sections.append((
        "Wilcoxon signed-rank — pair join, |diff|-grid window (distinct "
        "values, not raw pairs), one exact fold",
        _plan(entrymod.queries()["stat_wilcoxon_signed"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython"],
    ))

    sections.append((
        "Jarque-Bera — two hash-aggregate passes (pivot, central "
        "moments), broadcast pivot; no window, no sort",
        _plan(entrymod.queries()["stat_jarque_bera"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastNestedLoopJoin",
         "!BatchEvalPython", "!Window", "!SortMergeJoin"],
    ))

    sections.append((
        "CMH stratified test — one per-stratum cell aggregate, "
        "nano-rounded terms, one-row fold; no join, no window",
        _plan(entrymod.queries()["stat_cmh"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Durbin-Watson — broadcast one-row fit onto the daily grid, "
        "grid-ordered lag window, micro-rounded exact term sums",
        _plan(entrymod.queries()["stat_durbin_watson"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "BroadcastNestedLoopJoin",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    sections.append((
        "Breusch-Pagan — two exact moment passes with a broadcast fit "
        "between; no window, no sort-merge join",
        _plan(entrymod.queries()["stat_breusch_pagan"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastNestedLoopJoin",
         "!BatchEvalPython", "!Window", "!SortMergeJoin"],
    ))

    sections.append((
        "Chow break test — one two-group moment aggregate + one-row "
        "fold, closed-form SSRs (no residual pass); no window",
        _plan(entrymod.queries()["stat_chow"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Ljung-Box — grid self-join with BOTH sides broadcast (lags "
        "and shifted series), exact per-lag products, K-row Q window",
        _plan(entrymod.queries()["evt_ljung_box"](spark, SF)),
        ["HashAggregate", "BroadcastHashJoin", "Window",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    sections.append((
        "Forecast backtest — one ordered grid window (two lags), one "
        "fold producing every metric; no join",
        _plan(entrymod.queries()["evt_forecast_eval"](spark, SF)),
        ["HashAggregate", "Window", "Union", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Theil's U — one cell aggregate + two broadcast marginals, "
        "nano-rounded log terms; no window, no sort-merge join",
        _plan(entrymod.queries()["stat_theil_u"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin",
         "!BatchEvalPython", "!Window", "!SortMergeJoin"],
    ))

    sections.append((
        "Average precision — distinct-score grid window + one fold; "
        "no join, no python",
        _plan(entrymod.queries()["eval_avg_precision"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Brier decomposition — per-prob cells + broadcast totals, "
        "pico-rounded terms; no window",
        _plan(entrymod.queries()["eval_brier_decomp"](spark, SF)),
        ["HashAggregate", "partial_", "!Window", "!CartesianProduct"],
    ))

    sections.append((
        "Lift/gains — grid start-offset buckets (tie-deterministic, "
        "no ntile), broadcast totals, B-row cumulative window",
        _plan(entrymod.queries()["eval_lift_gains"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Cronbach alpha — cell aggregate, broadcast complete-subject "
        "semi-filter, two exact moment folds; no python",
        _plan(entrymod.queries()["stat_cronbach"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    sections.append((
        "ICC(1) — one per-subject aggregate + one-row fold, "
        "micro-rounded S^2/n terms; no window, no join",
        _plan(entrymod.queries()["stat_icc"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Quade test — friedman cell machinery + broadcast range "
        "ranks, exact doubled-midrank S terms, one division",
        _plan(entrymod.queries()["stat_quade"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "BroadcastHashJoin",
         "!BatchEvalPython"],
    ))

    sections.append((
        "Hub-removal robustness — canonical-pair dedup, ordered "
        "top-k (TakeOrdered, no full sort), broadcast anti-joins",
        _plan(entrymod.queries()["graph_robustness"](spark, SF)),
        ["HashAggregate", "partial_", "TakeOrderedAndProject",
         "BroadcastHashJoin", "LeftAnti", "!BatchEvalPython"],
    ))

    sections.append((
        "Kuiper test — two grid aggregates, full-outer grid merge, "
        "one ordered grid window, broadcast totals",
        _plan(entrymod.queries()["stat_kuiper"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "FullOuter",
         "!BatchEvalPython"],
    ))

    sections.append((
        "SAX symbolization — one grid aggregate + broadcast moment "
        "row, window-id regroup; no sort of raw rows, no python",
        _plan(entrymod.queries()["evt_sax"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastNestedLoopJoin",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    sections.append((
        "Dickey-Fuller — one grid window (lag pairs) + one exact "
        "moment fold; no join, no python",
        _plan(entrymod.queries()["evt_adf"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Bartlett test — one per-group moment aggregate + one-row "
        "fold, nano-rounded ln terms; no window, no join",
        _plan(entrymod.queries()["stat_bartlett"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Code-likeness — map-only JVM HOF/regex projection; zero "
        "shuffles, zero python, zero joins",
        _plan(entrymod.queries()["text_code_detect"](spark, SF)),
        ["Project", "!BatchEvalPython", "!Exchange", "!HashAggregate",
         "!SortMergeJoin"],
    ))

    sections.append((
        "TOST equivalence — one side-keyed aggregate + two-row "
        "pivot; no window, no join, no python",
        _plan(entrymod.queries()["stat_tost"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Fano/burstiness — bucket aggregate + gap window + two "
        "folds, broadcast combine; no python",
        _plan(entrymod.queries()["evt_fano"](spark, SF)),
        ["HashAggregate", "partial_", "Window",
         "BroadcastNestedLoopJoin", "!BatchEvalPython"],
    ))

    sections.append((
        "2-D skyline — per-user aggregate + two windows (strict RANGE "
        "frame, same-x max), integer dominance filter; no self-join",
        _plan(entrymod.queries()["evt_skyline"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin", "!BroadcastHashJoin"],
    ))

    sections.append((
        "Gehan-Wilcoxon — the logrank grid plan (grid aggregate, two "
        "prefix sums, one fold), integer W terms",
        _plan(entrymod.queries()["evt_gehan"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!CartesianProduct"],
    ))

    sections.append((
        "MCC confusion gate — classifier join + ONE four-cell fold; "
        "no window",
        _plan(entrymod.queries()["eval_mcc"](spark, SF)),
        ["HashAggregate", "partial_", "!Window", "!CartesianProduct"],
    ))

    sections.append((
        "Source overlap matrix — per-(key,source) dedup BEFORE the "
        "pair join, broadcast totals; no cartesian",
        _plan(entrymod.queries()["curation_source_overlap"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin",
         "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "Seasonal decomposition — centered grid window + broadcast "
        "phase/center rows; no raw-row sort, no python",
        _plan(entrymod.queries()["evt_decompose"](spark, SF)),
        ["HashAggregate", "Window", "BroadcastHashJoin",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    sections.append((
        "Regression report — broadcast train means onto the eval "
        "half, ONE fold; no window",
        _plan(entrymod.queries()["eval_regression"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin", "!Window",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    sections.append((
        "Hour-uniformity KS — 24-cell aggregate, grid window, "
        "broadcast total; all-integer distances",
        _plan(entrymod.queries()["evt_hour_uniform"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "POT tail fit — ONE filtered hash fold; no window, no join",
        _plan(entrymod.queries()["evt_pot"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Yuen trimmed t — per-side grid cut machinery (broadcast "
        "cuts/totals), exact winsorized folds",
        _plan(entrymod.queries()["stat_yuen"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "BroadcastHashJoin",
         "!BatchEvalPython"],
    ))

    sections.append((
        "RBO — two top-k rankings, joint-depth grid counts, "
        "k-row depth frame; no data-sized pairing",
        _plan(entrymod.queries()["eval_rbo"](spark, SF)),
        ["HashAggregate", "Window", "BroadcastNestedLoopJoin",
         "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "Weighted kappa — crosstab + marginal-product fold (k x k "
        "tiny frames); one division, no window",
        _plan(entrymod.queries()["stat_weighted_kappa"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Max drawdown — daily aggregate + ordered grid windows "
        "(prefix sum, running peak), integer differences",
        _plan(entrymod.queries()["evt_drawdown"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Otsu threshold — prob-grid aggregate + grid window, "
        "one objective pass, deterministic argmax",
        _plan(entrymod.queries()["er_otsu"](spark, SF)),
        ["HashAggregate", "Window", "!SortMergeJoin",
         "!CartesianProduct"],
    ))

    sections.append((
        "Active users — (user,day) dedup FIRST, broadcast day-grid "
        "range join, exact distincts; no data-sized pairing",
        _plan(entrymod.queries()["evt_active_users"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastNestedLoopJoin",
         "!BatchEvalPython", "!CartesianProduct"],
    ))

    sections.append((
        "License scan — map-only substring projection; zero "
        "shuffles, zero python, zero joins",
        _plan(entrymod.queries()["text_license_scan"](spark, SF)),
        ["Project", "!BatchEvalPython", "!Exchange", "!HashAggregate"],
    ))

    sections.append((
        "Dedup savings — one scan, two per-key aggregates + folds; "
        "no pair join anywhere",
        _plan(entrymod.queries()["curation_dedup_savings"](spark, SF)),
        ["HashAggregate", "partial_", "Union", "!BatchEvalPython",
         "!SortMergeJoin", "!CartesianProduct"],
    ))

    sections.append((
        "SLO burn — per-day aggregate + integer RANGE window; no "
        "join, no python",
        _plan(entrymod.queries()["evt_slo_burn"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "SES forecast — bounded grid unroll (broadcast self-pair), "
        "nano-rounded geometric terms, lag window",
        _plan(entrymod.queries()["evt_ses"](spark, SF)),
        ["HashAggregate", "Window", "BroadcastNestedLoopJoin",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    sections.append((
        "Neighbor-type entropy — undirected dedup, per-(node,type) "
        "cells, per-node fold; shuffle only on the node key",
        _plan(entrymod.queries()["kg_neighbor_entropy"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!CartesianProduct"],
    ))

    sections.append((
        "Week-over-week — day-grid aggregate + broadcast lag-twin "
        "join; one sqrt per row",
        _plan(entrymod.queries()["evt_wow"](spark, SF)),
        ["HashAggregate", "partial_", "BroadcastHashJoin",
         "!BatchEvalPython", "!Window", "!SortMergeJoin"],
    ))

    sections.append((
        "Diff-in-diff — one (group,period) moment aggregate + "
        "four-cell pivot; no window, no join",
        _plan(entrymod.queries()["stat_did"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Fisher correlation CI — ONE exact moment fold; no window, "
        "no join, no python",
        _plan(entrymod.queries()["stat_fisher_ci"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Seasonal strength — the decomposition plan + one variance "
        "fold; no python",
        _plan(entrymod.queries()["evt_seasonal_strength"](spark, SF)),
        ["HashAggregate", "Window", "BroadcastHashJoin",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    sections.append((
        "Type-mix entropy — per-(day,type) cells, per-day fold, "
        "grid lag; shuffle on the day key only",
        _plan(entrymod.queries()["evt_type_mix"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Mix gap — per-source counts + broadcast literal recipe and "
        "totals; no window",
        _plan(entrymod.queries()["curation_mix_gap"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Cochran's C — per-group variance aggregate + k-row fold "
        "with deterministic argmax",
        _plan(entrymod.queries()["stat_cochran_c"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "MDE planner — ONE exact fold; no window, no join",
        _plan(entrymod.queries()["stat_mde"](spark, SF)),
        ["HashAggregate", "partial_", "!BatchEvalPython", "!Window",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Day envelope — hour aggregate, per-hod grid window, "
        "broadcast totals, order-statistic picks",
        _plan(entrymod.queries()["evt_day_envelope"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "BroadcastHashJoin",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    sections.append((
        "Peak concentration — hour aggregate + 24-row per-day rank "
        "window, one fold; no join",
        _plan(entrymod.queries()["evt_peak_conc"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Peak load — minute-grid aggregate + integer RANGE window, "
        "deterministic argmax fold",
        _plan(entrymod.queries()["evt_peak_load"](spark, SF)),
        ["HashAggregate", "partial_", "Window", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    sections.append((
        "Lorenz curve — grid prefix sums + broadcast decile frame, "
        "proportional tie splits; no raw-row sort",
        _plan(entrymod.queries()["stat_lorenz"](spark, SF)),
        ["HashAggregate", "partial_", "Window",
         "BroadcastNestedLoopJoin", "!BatchEvalPython",
         "!SortMergeJoin"],
    ))

    out = ["# PLANS — physical-plan evidence (generated by kgraph_spark.plans.report)\n"]
    failures = []
    for title, plan, expectations in sections:
        checks = []
        for needle in expectations:
            if needle.startswith("!"):  # must-NOT-contain claim
                ok = needle[1:] not in plan
            else:
                ok = needle.split("(")[0] in plan if "(" in needle else needle in plan
            checks.append(f"- {'✅' if ok else '❌'} expects `{needle}`")
            if not ok:
                failures.append((title, needle))
        if "CartesianProduct" in plan:
            checks.append("- ❌ CartesianProduct present!")
            failures.append((title, "no CartesianProduct"))
        else:
            checks.append("- ✅ no CartesianProduct")
        codegen = plan.count("WholeStageCodegen")
        checks.append(f"- WholeStageCodegen spans: {codegen}")
        out.append(f"## {title}\n\n" + "\n".join(checks) + "\n\n```\n" + plan.strip()[:6000] + "\n```\n")

    Path(__file__).resolve().parents[2].joinpath("PLANS.md").write_text("\n".join(out))
    print("PLANS.md written;", "FAILURES:" if failures else "all checks passed", failures)


if __name__ == "__main__":
    main()
