"""Driver contract for the spark-graft builder (PySpark target).

entry()    — flagship: full KG-construction pipeline over sf0.001 documents
             re-shaped into interleaved span documents.
queries()  — one entry per implemented operator family from SURVEY.md §2 +
             the training-data ops (dedup / similarity / text analysis).
oracle_sql() — a DuckDB twin for EVERY query: the full pipeline is
             restated as one SQL query, minhash/simhash run md5-portable
             hash variants, ANN embeds its hyperplanes/centroids/banded
             buckets as SQL literals, multimodal recomputes the byte
             features — no rows-only checks remain.

Column names and types are aliased identically on both sides; float columns
are rounded where engine summation order could differ (verified empirically:
double-cast cosine agrees to 2e-16, avg to round-4)."""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_SMOKE = "/root/testdata/sf0.001"

_SHIPPED_CONTEXTS: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship kgraph_spark to Python workers via addPyFile so queries work
    regardless of the DRIVER process's cwd. sys.path above fixes the driver
    side only; executors spawn their Python workers with the driver's cwd,
    so a gate run from any other directory would fail to unpickle every
    mapInPandas/pandas_udf closure (ModuleNotFoundError: kgraph_spark).
    Same mechanism as spark-submit --py-files (jobs/run_pipeline.py), done
    lazily here because the driver builds its own SparkSession."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED_CONTEXTS:
        return
    import tempfile
    import zipfile

    pkg = Path(__file__).resolve().parent / "kgraph_spark"
    zpath = Path(tempfile.gettempdir()) / "kgraph_spark_shipped.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted(pkg.rglob("*.py")):
            zf.write(p, p.relative_to(pkg.parent))
    sc.addPyFile(str(zpath))
    _SHIPPED_CONTEXTS.add(key)

# corpus vocabulary words used as the gazetteer for driver-data KG queries
KG_TERMS = [
    "join", "filter", "window", "customer", "spark", "merge", "stream",
    "table", "query", "scan", "sort", "group", "batch", "data", "key", "row",
]
COOC_WORDS = ["join", "filter", "window", "customer", "spark", "merge", "stream", "table"]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: KG pipeline over driver documents re-shaped into span documents
# ---------------------------------------------------------------------------

def _docs_to_span_documents(docs: DataFrame, tokens_per_para: int = 12) -> DataFrame:
    """documents(doc_id, text, …) → (doc_id, spans) interleaved-shape input:
    every 12 tokens become one text span/paragraph. Pure built-ins."""
    toks = F.split(F.trim("text"), r"\s+")
    n_paras = F.ceil(F.size(toks) / F.lit(tokens_per_para)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * tokens_per_para + 1, tokens_per_para)),
    )
    spans = F.transform(
        paras,
        lambda p, i: F.struct(
            F.lit("text").alias("kind"),
            p.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    out = docs.select(F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))
    # single-file parquet inputs scan as one partition; spread the pUDF work
    from kgraph_spark.session import estimated_scan_partitions

    spark = docs.sparkSession
    est = estimated_scan_partitions(out)  # no .rdd: file-size arithmetic only
    if est is None or est < spark.sparkContext.defaultParallelism:
        out = out.repartition(spark.sparkContext.defaultParallelism)
    return out


def _docs_to_interleaved_spans(docs: DataFrame, limit: int = 400) -> DataFrame:
    """documents → (doc_id, spans) with MIXED text+media spans, fully
    deterministic so the DuckDB oracle can rebuild the same sequence:
    every 12 tokens yield one text span; after paragraph i, i%3==2 inserts
    one media span and i%6==5 inserts two consecutive media spans (the
    only way a media run > 1 arises); asset ids are small residues so
    assets are SHARED across documents (media_coref has real co-reference
    to find). Text content is a cheap positional literal — rebuilding real
    paragraph text would slice the token array per sequence element (the
    HOF re-evaluation trap) and these ops never read span text."""
    d = F.col("doc_id")
    toks = F.split(F.trim("text"), r"\s+")
    n = F.greatest(F.ceil(F.size(toks) / F.lit(12)).cast("int"), F.lit(1))
    ns = F.lit(None).cast("string")

    def sp(kind, text, ref):
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            ref.alias("media_ref"),
            F.lit(0).alias("offset"),
        )

    def ptext(i):
        return F.concat(F.lit("para-"), i.cast("string"))

    def m1(i):
        return F.concat(F.lit("media://asset/"), ((d * 31 + i) % 41).cast("string"))

    def m2(i):
        return F.concat(F.lit("media://asset/"), (((d * 17 + i) % 37) + 50).cast("string"))

    nested = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.when(
            i % 6 == 5,
            F.array(sp("text", ptext(i), ns), sp("media", ns, m1(i)), sp("media", ns, m2(i))),
        )
        .when(i % 3 == 2, F.array(sp("text", ptext(i), ns), sp("media", ns, m1(i))))
        .otherwise(F.array(sp("text", ptext(i), ns))),
    )
    spans = F.transform(
        F.flatten(nested),
        lambda s, j: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            j.cast("int").alias("offset"),
        ),
    )
    return docs.filter(d < limit).select(d.alias("doc_id"), spans.alias("spans"))


def kg_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full construction pipeline (mention→resolve→CC→co-occur→accumulate)
    over the driver corpus with a term gazetteer. Rows-only check (the
    pipeline is not one SQL query)."""
    from kgraph_spark.pipeline import run_pipeline

    docs = _docs_to_span_documents(_read(spark, sf_dir, "documents"))
    gaz = [(w, None, "term", 1.0) for w in KG_TERMS]
    res = run_pipeline(spark, docs, gaz)
    return res.triples.select(
        "subject_id", "predicate", "object_id",
        F.round("confidence", 6).alias("confidence"),
        "evidence_count",
    )


def medlit_pass2_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-corpus Pass-2 parity run: merge the reference's 39 committed
    pass1 bundles with the committed seeded synonym cache and emit the
    final (subject, predicate, object) triples. Matches the reference's
    own medlit_merged graph (triple-set P=0.989 / R=1.000; exact vs the
    sequential golden mirror — tests/test_medlit_parity.py). Rows-only
    check: input is the reference corpus, not the sf tables, so no DuckDB
    oracle over the testdata views exists. Skips gracefully (empty result)
    if the reference corpus is not mounted."""
    import os

    from kgraph_spark.session import local_frame

    bundles = "/root/reference/pass1_bundles"
    cache = "/root/reference/pass1_vocab/seeded_synonym_cache.json"
    if not (os.path.isdir(bundles) and os.path.isfile(cache)):
        return local_frame(
            spark, [], "subject string, predicate string, object string, confidence double"
        )
    from kgraph_spark.operators.medlit_pass2 import run_pass2

    out = run_pass2(spark, bundles, cache)
    return out["triples"].select(
        "subject", "predicate", "object", F.round("confidence", 6).alias("confidence")
    ).orderBy("subject", "predicate", "object")


def medlit_pass3_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass-3 kgbundle relationship rows over the reference corpus:
    Pass-2 merge then the bundle build (orphan pruning, evidence stats,
    raw-key matching). Exact vs the golden mirror on all four kgbundle
    tables (tests/test_medlit_pass3.py). Rows-only check, same stance as
    medlit_pass2_triples."""
    import os

    from kgraph_spark.session import local_frame

    bundles_dir = "/root/reference/pass1_bundles"
    cache = "/root/reference/pass1_vocab/seeded_synonym_cache.json"
    if not (os.path.isdir(bundles_dir) and os.path.isfile(cache)):
        return local_frame(
            spark, [], "subject_id string, predicate string, object_id string, evidence_count long"
        )
    from kgraph_spark.operators.medlit_pass2 import run_pass2
    from kgraph_spark.operators.medlit_pass3 import build_bundle_tables
    from kgraph_spark.sources.medlit_bundles import read_bundles

    p2 = run_pass2(spark, bundles_dir, cache)
    out = build_bundle_tables(spark, read_bundles(spark, bundles_dir), p2)
    return out["relationships"].select(
        "subject_id", "predicate", "object_id", "evidence_count",
        F.round("confidence", 6).alias("confidence"),
        "strongest_evidence_quote",
    ).orderBy("subject_id", "predicate", "object_id")


_MEDLIT_BUNDLES = "/root/reference/pass1_bundles"


def q_medlit_bundle_stats(spark, sf_dir):
    """Per-paper Pass-1 bundle profile over the REAL reference corpus:
    entity/relationship/evidence counts, high-confidence SAME_AS merge
    signals, and how many entities elect an authoritative ontology id
    (dedup.py:100-121 semantics). Oracle: DuckDB read_json over the same
    39 committed files — a cross-engine value-hash on real data."""
    import os

    from kgraph_spark.operators.medlit_pass2 import with_authoritative_id
    from kgraph_spark.session import local_frame
    from kgraph_spark.sources.medlit_bundles import (
        bundle_entities,
        bundle_relationships,
        read_bundles,
    )

    if not os.path.isdir(_MEDLIT_BUNDLES):
        return local_frame(
            spark,
            [],
            "paper_id string, n_entities long, n_relationships long, "
            "n_evidence long, n_same_as_merged long, n_auth long",
        )
    b = read_bundles(spark, _MEDLIT_BUNDLES)
    e = with_authoritative_id(bundle_entities(b))
    r = bundle_relationships(b)
    ec = e.groupBy("paper_id").agg(
        F.count("*").alias("n_entities"),
        F.count("auth_id").alias("n_auth"),
    )
    rc = r.groupBy("paper_id").agg(
        F.count("*").alias("n_relationships"),
        F.sum(
            ((F.col("predicate") == "SAME_AS") & (F.col("confidence") >= 0.85)).cast("long")
        ).alias("n_same_as_merged"),
    )
    vc = b.select(
        "paper_id", F.coalesce(F.size("evidence_entities"), F.lit(0)).cast("long").alias("n_evidence")
    )
    return (
        vc.join(ec, "paper_id", "left")
        .join(rc, "paper_id", "left")
        .select(
            "paper_id",
            F.coalesce("n_entities", F.lit(0)).alias("n_entities"),
            F.coalesce("n_relationships", F.lit(0)).alias("n_relationships"),
            "n_evidence",
            F.coalesce("n_same_as_merged", F.lit(0)).alias("n_same_as_merged"),
            F.coalesce("n_auth", F.lit(0)).alias("n_auth"),
        )
        .orderBy("paper_id")
    )


def q_medlit_auth_ids(spark, sf_dir):
    """The authoritative-id election itself, row-for-row on the real
    corpus: (paper_id, local_id, entity_class, auth_id) for every bundle
    entity that elects an ontology id (Gene: HGNC-formatted > UMLS >
    canonical; others: first authoritative of canonical/umls/hgnc/rxnorm/
    uniprot — dedup.py:100-121). Value-hash vs a DuckDB restatement."""
    import os

    from kgraph_spark.operators.medlit_pass2 import with_authoritative_id
    from kgraph_spark.session import local_frame
    from kgraph_spark.sources.medlit_bundles import bundle_entities, read_bundles

    if not os.path.isdir(_MEDLIT_BUNDLES):
        return local_frame(
            spark, [], "paper_id string, local_id string, entity_class string, auth_id string"
        )
    e = with_authoritative_id(bundle_entities(read_bundles(spark, _MEDLIT_BUNDLES)))
    return (
        e.filter(F.col("auth_id").isNotNull())
        .select("paper_id", "local_id", "entity_class", "auth_id")
        .orderBy("paper_id", "local_id")
    )


def q_curation_unimax(spark, sf_dir):
    """UniMax language-sampling allocation over the documents table:
    300k-char budget, 2-epoch cap — head languages capped, tail shares the
    leftover equally (corpus_curation.unimax_allocation)."""
    from kgraph_spark.operators.corpus_curation import unimax_allocation

    return unimax_allocation(
        _read(spark, sf_dir, "documents"), budget=300_000, max_epochs=2
    )


def q_media_aspect_buckets(spark, sf_dir):
    """Aspect-ratio bucketing plan over synthesized per-doc image dims
    (md5-derived, engine-identical): per SDXL-ladder bucket, image count
    and full-batch/remainder split at batch 64
    (multimodal.aspect_bucket_plan — exact-integer argmin assignment)."""
    from kgraph_spark.operators.multimodal import aspect_bucket_plan

    hx = F.md5(F.col("text"))
    imgs = _read(spark, sf_dir, "documents").select(
        (F.lit(384) + F.conv(F.substring(hx, 1, 4), 16, 10).cast("long") % 1280).alias("width"),
        (F.lit(384) + F.conv(F.substring(hx, 5, 4), 16, 10).cast("long") % 1280).alias("height"),
    )
    return aspect_bucket_plan(imgs, batch_size=64).orderBy("bucket_w", "bucket_h")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_shipped(spark)
    return kg_pipeline_triples(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# oracle-checked operator queries
# ---------------------------------------------------------------------------

def q_f10_triple_accumulate(spark, sf_dir):
    """F10 cross-source accumulation shape: groupBy key, max conf, count."""
    return (
        _read(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("subject_id"), F.col("event_type").alias("predicate"))
        .agg(
            F.max("value").alias("max_conf"),
            F.count("*").cast("long").alias("evidence_count"),
        )
    )


def q_f11_symmetric_order(spark, sf_dir):
    """F11 symmetric canonical ordering via least/greatest."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.least("l_partkey", "l_suppkey").alias("subject_id"),
            F.greatest("l_partkey", "l_suppkey").alias("object_id"),
        )
        .groupBy("subject_id", "object_id")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_f8_keepmax_dedup(spark, sf_dir):
    """F8/C5 keep-max dedup: one winner row per group by deterministic rank."""
    li = _read(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber").desc()
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
    )


def q_d6_usage_count(spark, sf_dir):
    """D6 usage accumulation over documents (count per group)."""
    return (
        _read(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("usage_count"), F.sum("n_chars").cast("long").alias("total_chars"))
    )


def q_e1_promotion_filter(spark, sf_dir):
    """E1 candidate filter: thresholds as a pushed-down scan filter."""
    return (
        _read(spark, sf_dir, "documents")
        .filter((F.col("n_chars") >= 300) & F.col("lang").isin("en", "de", "es"))
        .select("doc_id", "lang", "n_chars")
    )


def q_g1_entity_summary(spark, sf_dir):
    """G1 provenance summary: first_seen, counts, distinct supports."""
    return (
        _read(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.min("doc_id").alias("first_seen_document"),
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )


def q_g2_evidence_summary(spark, sf_dir):
    """G2 evidence summary: count / strongest / average confidence."""
    return (
        _read(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("evidence_count"),
            F.max("value").alias("strongest"),
            F.round(F.avg("value"), 4).alias("avg_conf"),
        )
    )


def q_g3_stage_stats(spark, sf_dir):
    """G3 stage statistics (TPC-H-Q1 shape): grouped sums/counts."""
    li = _read(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").cast("long").alias("n"),
    )


def q_g3_rollup(spark, sf_dir):
    """G3 hierarchical stage statistics: ROLLUP totals (grand + per-flag +
    per-flag/status) — the aggregation shape of the reference's nested
    stage_models counters."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").cast("long").alias("n"))
    )


def q_evt_sessionize(spark, sf_dir):
    """Gap-based event sessionization (30-min inactivity): the classic
    stateful-stream op expressed with lag + running sum windows — the batch
    twin of applyInPandasWithState sessionization."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond epochs on both sides: epoch-seconds casts truncate
    # sub-second parts differently across engines
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # parquet stores NTZ; session tz is UTC
    gap = us - F.lag(us).over(w)
    marked = ev.withColumn("_new", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0))
    sess = marked.withColumn(
        "session_idx",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


def q_evt_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window aggregation, batch twin (the streaming
    path — withWatermark + append-mode finalization — is the same function
    on a streaming frame; tests/test_windowed_streaming.py)."""
    from kgraph_spark.streaming.windowed import windowed_event_counts

    ev = _read(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    return windowed_event_counts(ev, window_duration="1 hour")


def q_evt_hopping_counts(spark, sf_dir):
    """Hopping-window aggregation (1-hour windows sliding every 15 min —
    each event lands in exactly 4 windows), batch twin of the watermarked
    streaming path (tests/test_windowed_streaming.py). The oracle fans
    each event out to its window set with integer epoch arithmetic."""
    from kgraph_spark.streaming.windowed import hopping_event_counts

    ev = _read(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    return hopping_event_counts(ev, window_duration="1 hour", slide_duration="15 minutes")


def q_profile_docs(spark, sf_dir):
    """Per-column table profile (nulls, exact cardinality, min/max) in ONE
    wide aggregate pass — the input sanity check a 100-TB job runs before
    spending cluster-hours; approx=True flips cardinality to HLL++."""
    from kgraph_spark.operators.profiling import profile_table

    return profile_table(_read(spark, sf_dir, "documents"))


def q_evt_outliers(spark, sf_dir):
    """Tukey-fence outliers per event type: exact interpolated Q1/Q3
    (bit-identical to DuckDB quantile_cont), round-6 fences, flag decided
    on rounded numbers."""
    from kgraph_spark.operators.profiling import iqr_outliers

    return iqr_outliers(
        _read(spark, sf_dir, "events"), "value", "event_type", id_col="event_id"
    )


def q_curation_sample_k(spark, sf_dir):
    """Deterministic k-per-group sampling: row_number over
    (md5(id || salt), id) within each language, keep 5."""
    from kgraph_spark.operators.corpus_curation import sample_k_per_group

    return sample_k_per_group(_read(spark, sf_dir, "documents"), 5, group_col="lang")


def q_graph_condense(spark, sf_dir):
    """Component supergraph: connected components over the C/S→N→R
    membership graph (components = region clusters), then the
    customer→supplier trade edges from orders⋈lineitem aggregate to a
    region×region matrix — |components|² rows, the scale story of
    condensation."""
    from kgraph_spark.operators.canonicalize import connected_components
    from kgraph_spark.operators.graph_analytics import condense_components

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    e1 = cust.select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    e2 = supp.select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("s_nationkey").cast("string")).alias("dst"),
    )
    e3 = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    labels = connected_components(e1.union(e2).union(e3).distinct())
    trade = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("object_id"),
    )
    return condense_components(labels, trade)


def q_span_interleave(spark, sf_dir):
    """Interleaving profile of the span-sequence corpus: one map-only
    F.aggregate fold per document (no explode, no shuffle) computing span
    counts, media fraction, kind transitions, longest media run and first
    media position. The oracle rebuilds the identical kind sequence and
    restates the fold with ordinality + gaps-and-islands windows."""
    from kgraph_spark.operators.interleave import interleave_stats

    return interleave_stats(_docs_to_interleaved_spans(_read(spark, sf_dir, "documents")))


def q_media_coref(spark, sf_dir):
    """Media co-reference over interleaved documents: explode ONLY media
    spans (text never enters the shuffle), aggregate per media_ref with
    O(1) per-key state — which assets are shared, by how many docs."""
    from kgraph_spark.operators.interleave import media_coref

    return media_coref(_docs_to_interleaved_spans(_read(spark, sf_dir, "documents")))


def q_evt_histogram_eqd(spark, sf_dir):
    """Equi-depth histogram (8 bins — power of two so the percentile
    fractions are exact binary in both engines): boundaries from exact
    interpolated percentiles, assignment by comparison, no global sort."""
    from kgraph_spark.operators.profiling import equi_depth_histogram

    return equi_depth_histogram(_read(spark, sf_dir, "events"), "value", 8)


def q_graph_ktruss(spark, sf_dir):
    """3-truss over the part co-purchase projection (parts sharing an
    order form cliques): synchronous support-recount peel, 3 unrolled
    rounds, integer-only — the cohesive-subgraph filter one notch above
    k-core."""
    from kgraph_spark.operators.graph_analytics import ktruss

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 80)
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pp = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select(
            F.concat(F.lit("P"), F.col("pa").cast("string")).alias("subject_id"),
            F.concat(F.lit("P"), F.col("pb").cast("string")).alias("object_id"),
        )
        .distinct()
    )
    return ktruss(pp, k=3, rounds=3)


def q_kg_diff(spark, sf_dir):
    """Snapshot diff between two KG builds (added/removed/changed/
    unchanged per triple) — one full-outer join on the triple key; the
    regression gate before promoting a weekly build."""
    from kgraph_spark.operators.relationships import kg_diff

    def build(lo, hi, bump):
        li = _read(spark, sf_dir, "lineitem").filter(
            (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
        )
        t = (
            li.select(
                F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
                F.lit("contains").alias("predicate"),
                F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
                F.col("l_partkey").alias("_pk"),
            )
            .groupBy("subject_id", "predicate", "object_id", "_pk")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        conf = F.round(F.least(F.lit(0.95), 0.6 + 0.1 * F.col("_cnt")), 6)
        if bump:
            conf = F.round(conf + F.when(F.col("_pk") % 2 == 0, 0.01).otherwise(0.0), 6)
        return t.select("subject_id", "predicate", "object_id", conf.alias("confidence"))

    return kg_diff(build(0, 200, False), build(50, 250, True))


def q_d2_acronym(spark, sf_dir):
    """Acronym resolution: short-form mentions join multiword dictionary
    names on derived initials, ambiguity count attached — the synonym-
    cache expansion derived from the names themselves."""
    from kgraph_spark.operators.resolve import acronym_join

    part = _read(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name"))
    toks = F.split(F.trim(F.lower("p_name")), r"\s+")
    initials = F.upper(F.array_join(F.transform(toks, lambda t: F.substring(t, 1, 1)), ""))
    mentions = (
        part.filter(F.col("p_partkey") % 7 == 0)
        .select(initials.alias("mention"))
        .distinct()
    )
    return acronym_join(mentions, names)


def q_evt_user_lifecycle(spark, sf_dir):
    """Per-user activity interval: first/last seen, distinct active days,
    longest silence — integer day/µs arithmetic, day-dedup BEFORE the
    per-user window."""
    from kgraph_spark.operators.temporal import user_lifecycle

    return user_lifecycle(_read(spark, sf_dir, "events"))


def q_evt_scd2(spark, sf_dir):
    """Type-2 SCD dimension build over the event stream: one row per
    (user, version) with half-open µs validity intervals; a version opens
    only when event_type actually changes. One key shuffle reused by the
    instant-dedup aggregate and both windows."""
    from kgraph_spark.operators.temporal import scd2_build

    return scd2_build(
        _read(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        attr_cols=("event_type",),
    )


def q_evt_grid_fill(spark, sf_dir):
    """Gap-free per-(user, hour) value series with forward fill: per-user
    sequence() grid, round-6 fixed-point observed sums, last(ignorenulls)
    running fill — the resample/ffill pre-step for as-of joins."""
    from kgraph_spark.operators.event_analytics import time_grid_fill

    return time_grid_fill(_read(spark, sf_dir, "events"))


def q_evt_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences
    (ties break on event_id); probs row-normalize each from_type — the
    one float op is an exact-integer division."""
    from kgraph_spark.operators.event_analytics import transition_matrix

    return transition_matrix(_read(spark, sf_dir, "events"))


def q_d8_cluster_metrics(spark, sf_dir):
    """Canonicalization QA gate: pairwise P/R/F1 of a DEGRADED D8
    clustering (connected components with the nation→region authority
    edges dropped for odd regions — the 'what did losing authority links
    cost' experiment) against the gold region clustering. Dropping edges
    only splits clusters, so precision stays 1.0 and recall quantifies the
    damage. The oracle restates the degraded components in closed form
    (even region → region-wide min id; odd region → per-nation min id)
    and re-derives the exact contingency arithmetic."""
    from kgraph_spark.operators.canonicalize import connected_components
    from kgraph_spark.operators.eval_metrics import cluster_pair_metrics

    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    cid = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    nid = F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
    rid = F.concat(F.lit("R"), F.col("n_regionkey").cast("string"))
    e1 = cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey")).select(
        cid.alias("src"), nid.alias("dst")
    )
    e2 = nation.filter(F.col("n_regionkey") % 2 == 0).select(
        nid.alias("src"), rid.alias("dst")
    )
    pred = connected_components(e1.union(e2).distinct()).select(
        F.col("id").alias("item_id"), F.col("component").alias("pred_cluster")
    )
    gold = (
        cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(cid.alias("item_id"), rid.alias("gold_cluster"))
        .unionByName(nation.select(nid.alias("item_id"), rid.alias("gold_cluster")))
        .unionByName(
            nation.select(rid.alias("item_id"), rid.alias("gold_cluster")).distinct()
        )
    )
    return cluster_pair_metrics(pred, gold)


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of BM25 relevance with a doc-id recency
    prior (rank-only combination — no score calibration): the standard
    retrieval mix. Per-list ranks fold to columns on one (query, doc)
    shuffle; the score is a fixed two-term expression sum of exact-integer
    reciprocals — oracle-able bit-for-bit."""
    from pyspark.sql import Window

    from kgraph_spark.operators.relevance import bm25_topk, rrf_fuse

    docs = _read(spark, sf_dir, "documents")
    qid = F.lit("q1").alias("query_id")
    wb = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    r_bm25 = bm25_topk(docs, BM25_TERMS, topk=50).select(
        qid, "doc_id", F.row_number().over(wb).alias("rank")
    )
    wf = Window.orderBy(F.col("doc_id").desc())
    r_fresh = (
        docs.select(qid, "doc_id", F.row_number().over(wf).alias("rank"))
        .filter(F.col("rank") <= 50)
    )
    return rrf_fuse(
        [r_bm25, r_fresh], k0=60, group_col="query_id", item_col="doc_id"
    )


def q_evt_incr_agg(spark, sf_dir):
    """Incremental materialized-aggregate maintenance: base state over 90%
    of events, then a changelog (the other 10% as inserts, every
    event_id%7==3 base row as a delete) refreshed with op-signed
    arithmetic and one full-outer key merge. The oracle recomputes the
    post-change aggregate FROM SCRATCH — refresh == recompute, exactly
    (round-6 fixed-point sums make that equality engine-safe)."""
    from kgraph_spark.operators.materialize import (
        init_aggregate,
        read_aggregate,
        refresh_aggregate,
    )

    ev = _read(spark, sf_dir, "events")
    keys = ["user_id", "event_type"]
    base = init_aggregate(ev.filter(F.col("event_id") % 10 != 0), keys)
    inserts = ev.filter(F.col("event_id") % 10 == 0).withColumn("op", F.lit(1))
    deletes = ev.filter(
        (F.col("event_id") % 10 != 0) & (F.col("event_id") % 7 == 3)
    ).withColumn("op", F.lit(-1))
    changelog = inserts.unionByName(deletes).select(*keys, "value", "op")
    return read_aggregate(refresh_aggregate(base, changelog, keys))


def q_zorder_layout(spark, sf_dir):
    """Morton (z-order) layout keys over (user_id, hour): the exact
    integer quantize-and-interleave that makes per-file min/max stats
    selective in BOTH dimensions (Delta OPTIMIZE ZORDER / Iceberg
    z-ordered rewrite equivalent — write_zordered does the range-cluster;
    this query oracles the key math itself, pure JVM bit ops)."""
    from kgraph_spark.operators.layout import zorder_key

    ev = _read(spark, sf_dir, "events")
    hour = (F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000).cast(
        "long"
    )
    base = ev.select(
        "event_id", F.col("user_id").cast("long").alias("u"), hour.alias("h")
    )
    return zorder_key(base, ["u", "h"], bits=16).select("event_id", "z_key")


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count: the bounded-memory register sketch
    (p=8, 256 registers from md5-prefix 60-bit hashes), its harmonic-mean
    estimate (exact-integer denominator — no float-sum order dependence),
    and the exact distinct alongside for context. The oracle rebuilds the
    identical sketch and estimate in SQL, so the float estimate matches
    to the final round(…, 2), not just approximately."""
    from kgraph_spark.operators.sketches import hll_estimate, hll_sketch

    ev = _read(spark, sf_dir, "events")
    est = hll_estimate(hll_sketch(ev, "event_id"))
    exact = ev.agg(F.count_distinct("event_id").cast("long").alias("exact_distinct"))
    return est.crossJoin(exact)


def q_oov_rate(spark, sf_dir):
    """Corpus-aware OOV rate per doc: fraction of token occurrences whose
    type appears in < 2 documents — the cross-document gibberish signal
    per-doc heuristics miss."""
    from kgraph_spark.operators.text_analysis import oov_rate

    return oov_rate(_read(spark, sf_dir, "documents"), min_df=2)


def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity (Newman r) of the thinned order-part graph —
    integer moment sums, one double combination; tells you whether hub
    keys will skew a hub-keyed shuffle before you pick a partitioner."""
    from kgraph_spark.operators.graph_analytics import degree_assortativity

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 3 == 0)
    edges = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
    ).distinct()
    return degree_assortativity(edges)


def q_entity_media_grounding(spark, sf_dir):
    """Entity↔media association over the interleaved corpus: vocab
    mentions within ±1 paragraph of a media span (the deterministic asset
    schedule shared with the span builder) → (token, media_ref) counts.
    Pure relational — posexplode to (doc, para, token), banded doc-keyed
    join, no span arrays, no HOF hazard."""
    from kgraph_spark.operators.interleave import entity_media_grounding

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return entity_media_grounding(docs, COOC_WORDS, window=1)


def q_evt_norm_scores(spark, sf_dir):
    """Per-type score normalization: min-max to [0,1] + robust
    (x−median)/IQR, degenerate groups defined (constant → 0.5 / NULL);
    one broadcast stats join, rows never shuffle."""
    from kgraph_spark.operators.relevance import normalize_scores

    return normalize_scores(
        _read(spark, sf_dir, "events"), "value", "event_type", id_col="event_id"
    )


def q_graph_smooth(spark, sf_dir):
    """GNN-mean feature smoothing (2 rounds, alpha .5) over the supplier→
    nation→region graph, account balances as the seed feature — nations
    and regions inherit neighborhood means; round-6 re-round per round +
    fixed-point neighbor sums make the trajectory SQL-replayable."""
    from kgraph_spark.operators.graph_analytics import feature_propagation

    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    e1 = supp.select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("N"), F.col("s_nationkey").cast("string")).alias("object_id"),
    )
    e2 = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("object_id"),
    )
    feats = (
        supp.select(
            F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("id"),
            F.col("s_acctbal").alias("f"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("id"),
                F.lit(0.0).alias("f"),
            )
        )
        .unionByName(
            region.select(
                F.concat(F.lit("R"), F.col("r_regionkey").cast("string")).alias("id"),
                F.lit(0.0).alias("f"),
            )
        )
    )
    return feature_propagation(e1.union(e2), feats, rounds=2, alpha=0.5)


def q_evt_mad_outliers(spark, sf_dir):
    """MAD-based robust outlier flags per event type (|x−med| > 3·MAD,
    all compared quantities round-6) — the 50%-contamination-tolerant
    sibling of the IQR fence."""
    from kgraph_spark.operators.profiling import mad_outliers

    return mad_outliers(
        _read(spark, sf_dir, "events"), "value", "event_type", k=3.0, id_col="event_id"
    )


def q_containment_pairs(spark, sf_dir):
    """Asymmetric token-set containment |A∩B|/|A| — the quote/subset
    duplicates Jaccard is blind to; same inverted-index + hot-shingle-cap
    machinery as word_jaccard_pairs."""
    from kgraph_spark.operators.dedup_text import containment_pairs, shingles

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return containment_pairs(shingles(docs, k=1), min_containment=0.6)


def q_domain_quality(spark, sf_dir):
    """Domain-level quality gate: per-source mean quality_score (round-6
    fixed-point mean) + keep flag — blocklist induction before per-doc
    filtering."""
    from kgraph_spark.operators.text_analysis import domain_quality

    return domain_quality(_read(spark, sf_dir, "documents"), min_mean_quality=0.5)


def q_cms_hot_terms(spark, sf_dir):
    """Count-min-sketch heavy hitters over the token stream: d=3×w=512
    md5-hash counter table (bounded memory at ANY corpus size), estimate =
    min over rows (never undercounts), exact count alongside to expose the
    collision overcount."""
    from kgraph_spark.operators.sketches import cms_heavy_hitters

    toks = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"))
        .filter(F.length("term") > 0)
    )
    return cms_heavy_hitters(toks, "term", min_count=30, d=3, w=512)


def q_embedding_centroids(spark, sf_dir):
    """Per-class centroids as flat (label, pos, mean, n_vectors) rows —
    round-6 fixed-point dimension sums, order-free and engine-identical."""
    from kgraph_spark.operators.similarity import embedding_centroids

    return embedding_centroids(_read(spark, sf_dir, "embeddings"))


def q_embedding_dispersion(spark, sf_dir):
    """Class cohesion: per-label mean/min cosine to the own-class centroid
    (centroids broadcast; cosines quantized round-6 before aggregation)."""
    from kgraph_spark.operators.similarity import embedding_dispersion

    return embedding_dispersion(_read(spark, sf_dir, "embeddings"))


def q_graph_scc(spark, sf_dir):
    """Strongly connected components over a directed gate graph with REAL
    cycles: one customer-cycle per nation (window next-pointer, wrap) plus
    one-way min-customer chain edges between nations — SCCs must equal the
    per-nation cycles, the chain must NOT merge them. Mutual-reachability
    via bounded path doubling (max_depth=32 covers the longest cycle)."""
    from pyspark.sql import Window

    from kgraph_spark.operators.graph_analytics import strongly_connected_components

    cust = (
        _read(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 300)
        .select("c_custkey", "c_nationkey")
    )
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    ordered = cust.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("c_nationkey")).alias("cnt"),
    )
    a = ordered.select(
        F.col("c_nationkey").alias("nk"), F.col("c_custkey").alias("sk"),
        "rn", "cnt",
    )
    b = ordered.select(
        F.col("c_nationkey").alias("nk"), F.col("c_custkey").alias("dk"),
        F.col("rn").alias("rn2"),
    )
    cyc = a.join(b, ["nk"]).filter(F.col("rn2") == (F.col("rn") % F.col("cnt")) + 1)
    cyc_e = cyc.select(
        F.concat(F.lit("C"), F.col("sk").cast("string")).alias("subject_id"),
        F.concat(F.lit("C"), F.col("dk").cast("string")).alias("object_id"),
    )
    mins = cust.groupBy("c_nationkey").agg(F.min("c_custkey").alias("mk"))
    nxt = mins.select(
        "mk", F.lead("mk").over(Window.orderBy("c_nationkey")).alias("nmk")
    ).filter(F.col("nmk").isNotNull())
    chain_e = nxt.select(
        F.concat(F.lit("C"), F.col("mk").cast("string")).alias("subject_id"),
        F.concat(F.lit("C"), F.col("nmk").cast("string")).alias("object_id"),
    )
    return strongly_connected_components(cyc_e.union(chain_e), max_depth=32)


def q_evt_histogram(spark, sf_dir):
    """Equi-width 10-bin histogram of event values per type with GLOBAL
    edges (one 1-row min/max broadcast; binning is map-side; one hash agg
    on (type, bin))."""
    from kgraph_spark.operators.profiling import value_histogram

    return value_histogram(_read(spark, sf_dir, "events"), "value", 10, "event_type")


def q_docs_upsert(spark, sf_dir):
    """MERGE-INTO batch twin: version-1 updates (every 5th doc, n_chars
    bumped) upsert into the version-0 base, every 20th doc deleted via the
    flag; last-writer-wins by (version, source) through ONE max_by
    aggregate — no window sort, no join."""
    from kgraph_spark.operators.export import merge_upsert

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    base = docs.withColumn("version", F.lit(0).cast("long"))
    upd = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("n_chars", F.col("n_chars") + 1000)
        .withColumn("version", F.lit(1).cast("long"))
        .withColumn("is_deleted", F.col("doc_id") % 20 == 0)
    )
    return merge_upsert(base, upd, ["doc_id"], "version", "is_deleted")


def q_kg_negatives(spark, sf_dir):
    """Filtered deterministic negative sampling for KG-embedding training:
    3 corrupted objects per (order)-contains-(part) triple, drawn by
    md5-prefix over the dense part index; draws that are true objects are
    LeftAnti-filtered out."""
    from kgraph_spark.operators.negatives import negative_samples

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    triples = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
        F.lit("contains").alias("predicate"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
    ).distinct()
    ents = _read(spark, sf_dir, "part").select(
        F.concat(F.lit("P"), F.col("p_partkey").cast("string")).alias("id")
    )
    return negative_samples(triples, ents, k=3)


def q_dq_checks(spark, sf_dir):
    """Batch data-quality gate: referential-integrity orphans (LeftAnti
    against the distinct parent keys) + null/range rules, one (rule,
    n_violations) row each, all counts in one unioned plan."""
    from kgraph_spark.operators.profiling import dq_summary, fk_orphans

    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    cust = _read(spark, sf_dir, "customer")
    ev = _read(spark, sf_dir, "events")
    docs = _read(spark, sf_dir, "documents")
    rules = {
        "orders_orphan_customer": fk_orphans(orders, cust, "o_custkey", "c_custkey"),
        "lineitem_orphan_order": fk_orphans(li, orders, "l_orderkey", "o_orderkey"),
        "lineitem_nonpositive_qty": li.filter(F.col("l_quantity") <= 0),
        "events_null_value": ev.filter(F.col("value").isNull()),
        "documents_empty_text": docs.filter(F.length(F.trim("text")) == 0),
    }
    return dq_summary(rules)


def q_inverted_index(spark, sf_dir):
    """Capped impact-ordered inverted index (df≥2 terms, top-5 postings
    per term by tf): the posting cap is the stopword heavy-hitter guard;
    WindowGroupLimit prunes to top-k map-side before the term shuffle."""
    from kgraph_spark.operators.relevance import inverted_index

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return inverted_index(docs, max_postings=5, min_df=2)


def q_cooc_pmi(spark, sf_dir):
    """PMI / NPMI word association over the query vocabulary — the
    association score that separates collocations from frequency
    artifacts; vocab filter runs before the presence self-join."""
    from kgraph_spark.operators.relevance import pmi_collocations

    return pmi_collocations(_read(spark, sf_dir, "documents"), COOC_WORDS)


def q_graph_jaccard(spark, sf_dir):
    """Neighborhood-Jaccard link prediction over the thinned bipartite
    order-part graph (same gate graph as adamic_adar; min_common=2 prunes
    the dominant n_common=1 tail). Integer wedge counts + one division —
    no ordered float folds needed."""
    from kgraph_spark.operators.graph_analytics import neighborhood_jaccard

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 3 == 0)
    edges = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
    ).distinct()
    return neighborhood_jaccard(edges, min_common=2)


def q_curation_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment by md5-band on
    doc_id — map-only, engine-portable, docs never migrate between splits
    as the corpus grows."""
    from kgraph_spark.operators.corpus_curation import train_val_test_split

    docs = _read(spark, sf_dir, "documents")
    return train_val_test_split(docs, 0.1, 0.1).select(
        "doc_id", "lang", "source", "n_chars", "split"
    )


def q_evt_rolling(spark, sf_dir):
    """Trailing 24h moving count/sum/avg per event row (RANGE window on
    integer microseconds) — one shuffle on event_type then an ordered
    partition-local sliding sweep."""
    from kgraph_spark.operators.temporal import rolling_stats

    return rolling_stats(_read(spark, sf_dir, "events"), window_hours=24)


def q_evt_percentiles(spark, sf_dir):
    """Exact interpolated p50/p90/p95/p99 + mean per event type in one
    hash aggregate; approx_percentile is the documented 100-TB swap-in."""
    from kgraph_spark.operators.profiling import group_percentiles

    return group_percentiles(_read(spark, sf_dir, "events"), "value", "event_type")


def q_evt_funnel(spark, sf_dir):
    """Ordered funnel (view → click → purchase, 7-day window, earliest-
    completion greedy semantics) — one filtered aggregate per step, k-1
    user-keyed joins against the one-row-per-user frame."""
    from kgraph_spark.operators.temporal import funnel

    return funnel(
        _read(spark, sf_dir, "events"), ["view", "click", "purchase"], within="7 days"
    )


def q_evt_retention(spark, sf_dir):
    """Weekly cohort retention (cohort = ISO week of first event).
    Integer week arithmetic; the single float division is fixed-shape
    round-6."""
    from kgraph_spark.operators.temporal import retention_cohorts

    return retention_cohorts(_read(spark, sf_dir, "events"))


def q_h1_bfs_2hop(spark, sf_dir):
    """H1 BFS subgraph: 2-hop frontier expansion customer→order→part."""
    from kgraph_spark.operators.graph import bfs_subgraph

    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    e1 = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("subject_id"),
        F.lit("placed").alias("predicate"),
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("object_id"),
    )
    e2 = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
        F.lit("contains").alias("predicate"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
    )
    seeds = cust.filter(F.col("c_nationkey") == 1).select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("entity_id")
    )
    return bfs_subgraph(e1.union(e2), seeds, max_hops=2, directed=True)


def q_d8_connected_components(spark, sf_dir):
    """D8 hash-to-min connected components (the distributed loop, forced
    past the driver-local fast path) over a bipartite customer→nation→region
    graph. Ground truth: every node's component is the lexicographically
    smallest id in its region cluster — computable in plain SQL."""
    from kgraph_spark.operators.canonicalize import connected_components

    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    e1 = cust.select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    e2 = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    return connected_components(e1.union(e2).distinct())


def q_graph_edge_lift(spark, sf_dir):
    """Configuration-model edge surprise over the supplier—part shipment
    graph (weight = lineitem count): observed weight over the
    degree-preserving null expectation — the hub-inflation pruning score
    for co-occurrence edges entering the KG."""
    from kgraph_spark.operators.graph_analytics import edge_lift

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
    )
    return edge_lift(edges)


def q_er_blocking_quality(spark, sf_dir):
    """Blocking-quality gate: the SNM window-3 name blocker scored against
    brand as gold — reduction ratio / pairs completeness / pairs quality,
    exact C(n,2) integer arithmetic, gold pairs counted from sizes."""
    from kgraph_spark.operators.dedup_text import sorted_neighborhood_pairs
    from kgraph_spark.operators.eval_metrics import blocking_quality

    part = _read(spark, sf_dir, "part")
    cands = sorted_neighborhood_pairs(part, "p_name", id_col="p_partkey", window=3)
    gold = part.select(
        F.col("p_partkey").alias("item_id"), F.col("p_brand").alias("gold_cluster")
    )
    return blocking_quality(cands, gold)


def q_er_fs_weights(spark, sf_dir):
    """Fellegi-Sunter agreement weights measured on the SNM window-3
    candidate pairs: label = same brand, comparison fields = mfgr /
    container / size agreement — m, u, and the m/u likelihood ratio per
    field, exact smoothed-count arithmetic."""
    from kgraph_spark.operators.dedup_text import sorted_neighborhood_pairs
    from kgraph_spark.operators.eval_metrics import fs_agreement_weights

    part = _read(spark, sf_dir, "part")
    cands = sorted_neighborhood_pairs(
        part, "p_name", id_col="p_partkey", window=3
    ).select("id_a", "id_b")
    attrs = part.select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        F.split(F.col("p_name"), " ").getItem(0).alias("p_prefix"),
    )
    a = attrs.select(
        F.col("p_partkey").alias("id_a"),
        F.col("p_brand").alias("_br_a"),
        F.col("p_type").alias("_ty_a"),
        F.col("p_size").alias("_sz_a"),
        F.col("p_prefix").alias("_px_a"),
    )
    b = attrs.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_brand").alias("_br_b"),
        F.col("p_type").alias("_ty_b"),
        F.col("p_size").alias("_sz_b"),
        F.col("p_prefix").alias("_px_b"),
    )
    pairs = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("_br_a") == F.col("_br_b")).alias("is_match"),
            (F.col("_ty_a") == F.col("_ty_b")).alias("same_type"),
            (F.col("_sz_a") == F.col("_sz_b")).alias("same_size"),
            (F.col("_px_a") == F.col("_px_b")).alias("same_name_prefix"),
        )
    )
    return fs_agreement_weights(pairs, ["same_type", "same_size", "same_name_prefix"])


def q_er_rank_eval(spark, sf_dir):
    """Entity-linking ranking gate over the embeddings table: probes =
    every 5th vector, gold = the smallest-id other vector sharing the
    probe's label, candidates = ALL other vectors scored by integer
    micro-cosine (cosine_fixed ×1e6) — MRR / Hits@k / mean rank with ties
    broken to the smaller candidate id."""
    from kgraph_spark.operators.eval_metrics import ranking_metrics
    from kgraph_spark.operators.similarity import cosine_fixed

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    probes = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("_ql"),
        F.col("embedding").alias("_qe"),
    )
    cands = emb.select(
        F.col("vec_id").alias("candidate_id"), F.col("embedding").alias("_ce")
    )
    scored = cands.join(
        F.broadcast(probes), F.col("candidate_id") != F.col("query_id")
    ).select(
        "query_id",
        "candidate_id",
        F.round(cosine_fixed(F.col("_qe"), F.col("_ce")) * 1_000_000)
        .cast("long")
        .alias("score"),
    )
    gold = (
        emb.select(F.col("vec_id").alias("_v"), F.col("label").alias("_ql"))
        .join(F.broadcast(probes.select("query_id", "_ql")), "_ql")
        .filter(F.col("_v") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.min("_v").alias("gold_id"))
    )
    return ranking_metrics(scored, gold, ks=(1, 3, 10))


def q_er_ndcg(spark, sf_dir):
    """Graded linking quality — mean nDCG@10 over the embedding probes:
    relevance = 2 (same label) / 1 (adjacent label) / 0, candidates
    scored by integer micro-cosine; discounts are shared integer-micro
    literals so no engine evaluates a log."""
    from kgraph_spark.operators.eval_metrics import ndcg_at_k
    from kgraph_spark.operators.similarity import fixed_dot_pairs, fixed_micro_cosine

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    probes = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("_ql"),
        "embedding",
    )
    cands = emb.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("label").alias("_cl"),
        "embedding",
    )
    # bulk int64-matmul scorer (probes broadcast, items never shuffle) —
    # bit-equal to the per-pair cosine_fixed it replaced at a fraction of
    # the interpreted-expression work (80 s → ~2 s at sf0.1)
    pairs = fixed_dot_pairs(
        cands,
        probes,
        item_id_col="candidate_id",
        probe_id_col="query_id",
        item_extra=("_cl",),
        probe_extra=("_ql",),
    )
    scored = pairs.filter(F.col("candidate_id") != F.col("query_id")).select(
        "query_id",
        "candidate_id",
        fixed_micro_cosine(
            F.col("dot"), F.col("n2_probe"), F.col("n2_item")
        ).alias("score"),
        F.greatest(
            F.lit(0), F.lit(2) - F.abs(F.col("_ql") - F.col("_cl"))
        ).alias("relevance"),
    )
    return ndcg_at_k(scored, k=10)


def q_kmv_vocab_overlap(spark, sf_dir):
    """KMV k=256 sketch of the word-bigram Jaccard between the English
    and German document slices — corpus-overlap planning without joining
    the full shingle sets; md5-string order is the cross-engine
    contract."""
    from kgraph_spark.operators.dedup_text import shingles
    from kgraph_spark.operators.sketches import kmv_jaccard

    docs = _read(spark, sf_dir, "documents")

    def grams(lang):
        return shingles(docs.filter(F.col("lang") == lang), k=2, dedupe=False)

    return kmv_jaccard(grams("en"), grams("de"), "shingle", k=256)


def q_d8_merge_audit(spark, sf_dir):
    """Post-merge single-valued-attribute audit of the D8 components
    (customer→nation→region graph): members carry c_mktsegment — every
    region component mixes segments, so the audit flags them all; counts
    are the exact per-component composition."""
    from kgraph_spark.operators.canonicalize import (
        component_attribute_audit,
        connected_components,
    )

    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    e1 = cust.select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    e2 = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    mapping = connected_components(e1.union(e2).distinct())
    attrs = cust.select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return component_attribute_audit(mapping, attrs, "segment")


def q_evt_interval_coalesce(spark, sf_dir):
    """Gaps-and-islands episode coalescing: each event opens a 1-hour
    validity interval per (user, event_type); overlapping/touching
    intervals merge into maximal episodes — exact integer-microsecond
    island decisions on ONE key exchange."""
    from kgraph_spark.operators.temporal import coalesce_intervals

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("valid_to"),
    )
    return coalesce_intervals(ev, ["user_id", "event_type"])


def q_kg_rule_confidence(spark, sf_dir):
    """AMIE-lite rule confidence over the lineitem KG: every
    p1(x,y) ∧ p2(y,z) ⇒ p3(x,z) composition scored by closed-world
    confidence — distinct body pairs, one (x,z) head join, degree-capped
    path join (the kg_pred_compose recall contract)."""
    from kgraph_spark.operators.relationships import rule_confidence

    li = _read(spark, sf_dir, "lineitem")
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    t = (
        li.select(o.alias("subject_id"), F.lit("contains").alias("predicate"), p.alias("object_id"))
        .union(li.select(o.alias("subject_id"), F.lit("supplied_by").alias("predicate"), s.alias("object_id")))
        .union(li.select(p.alias("subject_id"), F.lit("from").alias("predicate"), s.alias("object_id")))
    )
    return rule_confidence(t, max_node_degree=1000)


def q_kg_rule_pca(spark, sf_dir):
    """Head-sparse rule mining: supplied_by is asserted only for
    quantity ≥ 25 lines, so many orders never mention the head predicate
    — PCA confidence (deny only under x's that assert p3) rises above
    the closed-world standard confidence, exactly the incomplete-KG case
    PCA was designed for."""
    from kgraph_spark.operators.relationships import rule_confidence

    li = _read(spark, sf_dir, "lineitem")
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    t = (
        li.select(o.alias("subject_id"), F.lit("contains").alias("predicate"), p.alias("object_id"))
        .union(
            li.filter(F.col("l_quantity") >= 25).select(
                o.alias("subject_id"),
                F.lit("supplied_by").alias("predicate"),
                s.alias("object_id"),
            )
        )
        .union(li.select(p.alias("subject_id"), F.lit("from").alias("predicate"), s.alias("object_id")))
    )
    return rule_confidence(t, max_node_degree=1000)


def q_evt_temporal_conflicts(spark, sf_dir):
    """Functional-predicate temporal contradictions: each event asserts
    'user's activity = event_type' valid [ts, ts+30min); overlapping
    different-value assertions for the same user are the conflicts a
    point-in-time query would trip over — exact integer-µs half-open
    overlap test on ONE user-keyed self-join."""
    from kgraph_spark.operators.temporal import interval_conflicts

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("activity"),
        F.col("ts").alias("valid_from"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("valid_to"),
    )
    return interval_conflicts(ev, ["user_id"], "activity")


def q_lang_pr_sweep(spark, sf_dir):
    """Threshold sweep for the lang-ID marker gate: predict 'English'
    when n_en >= t for t = 1..5, scored against the documents table's
    true lang column — the P/R/F1 curve that picks the gate, exact
    integer confusion counts."""
    from kgraph_spark.operators.eval_metrics import pr_threshold_sweep
    from kgraph_spark.operators.text_analysis import language_id_scores

    docs = _read(spark, sf_dir, "documents")
    scored = (
        language_id_scores(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            F.col("n_en").cast("long").alias("score"),
            (F.col("lang") == "en").alias("label"),
        )
    )
    return pr_threshold_sweep(
        scored, [1, 2, 3, 4, 5], score_col="score", label_col="label"
    ).withColumn("threshold", F.col("threshold").cast("long"))


def q_lang_kappa(spark, sf_dir):
    """Cohen's kappa between the lang-ID heuristic's guess and the true
    lang column — chance-corrected agreement via the exact-long identity
    kappa = (agree·n − Σ nₐ·n_b)/(n² − Σ nₐ·n_b), one division."""
    from kgraph_spark.operators.eval_metrics import cohens_kappa
    from kgraph_spark.operators.text_analysis import language_id_scores

    docs = _read(spark, sf_dir, "documents")
    labels = (
        language_id_scores(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(F.col("lang").alias("label_a"), F.col("lang_guess").alias("label_b"))
    )
    return cohens_kappa(labels)


def q_evt_ema(spark, sf_dir):
    """Per-user truncated EMA (k=8 half-life lags) over the event stream:
    the recursion-free window form, exact integer micro-unit arithmetic
    until one final round-6 division."""
    from kgraph_spark.operators.event_analytics import ema_smooth

    return ema_smooth(_read(spark, sf_dir, "events"), k=8)


def q_rbm_align(spark, sf_dir):
    """Cross-KB alignment by reciprocal best match: even-id vs odd-id
    embedding halves as the two KBs, blocked on label, integer
    micro-cosine argmax elections — only mutual best pairs survive."""
    from kgraph_spark.operators.similarity import reciprocal_best_match

    emb = _read(spark, sf_dir, "embeddings")
    return reciprocal_best_match(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


def q_kg_conflicts(spark, sf_dir):
    """KG contradiction audit: supplier→part edges asserted as both
    'ships' (l_returnflag <> 'R') and 'returns' (l_returnflag = 'R') —
    polarity-conflict detection with per-predicate evidence counts."""
    from kgraph_spark.operators.relationships import conflicting_triples

    li = _read(spark, sf_dir, "lineitem")
    triples = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("subject_id"),
        F.when(F.col("l_returnflag") == "R", F.lit("returns"))
        .otherwise(F.lit("ships"))
        .alias("predicate"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
    )
    return conflicting_triples(triples, [("ships", "returns")])


def q_snm_candidates(spark, sf_dir):
    """Sorted-neighborhood ER blocking over part names: every pair within
    3 sorted positions — skew-proof candidate generation complementary to
    LSH banding; global rank via the two-phase distributed prefix sum, no
    corpus-wide single-reducer window."""
    from kgraph_spark.operators.dedup_text import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        _read(spark, sf_dir, "part"), "p_name", id_col="p_partkey", window=3
    )


def q_join_plan(spark, sf_dir):
    """Shuffle-join planner dry-run over customer ⋈ orders: exact output
    cardinality, straggler-key load, amplification, broadcast/salt
    recommendation — from per-key histograms only, the join itself never
    materialized."""
    from kgraph_spark.operators.profiling import join_plan_stats

    return join_plan_stats(
        _read(spark, sf_dir, "customer"),
        _read(spark, sf_dir, "orders"),
        "c_custkey",
        "o_custkey",
        broadcast_threshold_rows=1_000_000,
        target_partition_rows=5_000_000,
    )


def q_d8_incremental_cc(spark, sf_dir):
    """Incremental D8: fold a SAME_AS delta (odd-region-1 nation→region
    links + sparse supplier→nation attachments, some between brand-new
    nodes) into the degraded-graph component mapping WITHOUT re-running CC
    over the full graph — iterative work bounded by the condensed delta.
    Ground truth is the same closed-form region clustering, extended by
    which links the delta restores."""
    from kgraph_spark.operators.canonicalize import (
        connected_components,
        incremental_components,
    )

    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    supp = _read(spark, sf_dir, "supplier")
    nid = F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
    rid = F.concat(F.lit("R"), F.col("n_regionkey").cast("string"))
    e1 = cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey")).select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("src"),
        nid.alias("dst"),
    )
    e2 = nation.filter(F.col("n_regionkey") % 2 == 0).select(
        nid.alias("src"), rid.alias("dst")
    )
    mapping = connected_components(e1.union(e2).distinct())
    d1 = nation.filter(F.col("n_regionkey") == 1).select(
        nid.alias("src"), rid.alias("dst")
    )
    d2 = supp.filter(F.col("s_suppkey") % 100 == 0).select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("s_nationkey").cast("string")).alias("dst"),
    )
    return incremental_components(mapping, d1.union(d2).distinct())


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5 hash-groupBy."""
    from kgraph_spark.operators.dedup_text import exact_duplicates

    return exact_duplicates(_read(spark, sf_dir, "documents"))


def q_text_token_stats(spark, sf_dir):
    from kgraph_spark.operators.text_analysis import token_stats

    df = token_stats(_read(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_tokens_bpe").cast("long").alias("n_tokens_bpe"),
        F.round("avg_token_len", 6).alias("avg_token_len"),
    )


def q_text_quality_score(spark, sf_dir):
    from kgraph_spark.operators.text_analysis import quality_score

    df = quality_score(_read(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("quality_score", 6).alias("quality_score"),
    )


def q_lang_id_heuristic(spark, sf_dir):
    from kgraph_spark.operators.text_analysis import language_id_scores

    df = language_id_scores(_read(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_en").cast("long").alias("n_en"),
        F.col("n_de").cast("long").alias("n_de"),
        F.col("n_es").cast("long").alias("n_es"),
        "lang_guess",
    )


def q_fingerprint(spark, sf_dir):
    from kgraph_spark.operators.text_analysis import fingerprint

    return fingerprint(_read(spark, sf_dir, "documents")).select(
        "doc_id", "fp_prefix", F.col("fp_rolling").cast("long").alias("fp_rolling"),
        F.col("len_bucket").cast("long").alias("len_bucket"),
    )


def q_ann_cosine_topk(spark, sf_dir):
    """D3/D11 brute-force cosine top-k (probes = vec_id < 5, k = 10)."""
    from kgraph_spark.operators.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = brute_force_topk(emb, probes, k=10)
    return out.select(
        "probe_id", "vec_id", F.round("cosine", 6).alias("cosine"), F.col("rank").cast("long").alias("rank")
    )


def q_f1_cooccurrence_docs(spark, sf_dir):
    """F1 co-occurrence over the driver corpus: word-pair doc co-occurrence
    with the sherlock confidence formula."""
    docs = _read(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .filter(F.col("t").isin(*COOC_WORDS))
        .distinct()
    )
    a, b = tok.alias("a"), tok.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.t") < F.col("b.t")))
        .groupBy(F.col("a.t").alias("w1"), F.col("b.t").alias("w2"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    return pairs.select(
        "w1", "w2", "n",
        F.round(F.least(F.lit(0.95), F.lit(0.60) + F.lit(0.10) * F.col("n")), 6).alias("confidence"),
    )


def q_word_jaccard_pairs(spark, sf_dir):
    """Exact token-set Jaccard via inverted index (shingle k=1) on a doc
    subset — the exact-verification stage behind MinHash candidates."""
    from kgraph_spark.operators.dedup_text import ngram_jaccard_pairs, shingles

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sh = shingles(docs, k=1)
    return ngram_jaccard_pairs(sh, min_jaccard=0.5).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_clusters(spark, sf_dir):
    """The dedup DECISION: exact token-Jaccard pairs (≥0.5, df-capped
    inverted index) → connected components → keep-best canonical per
    cluster (longest trimmed text, ties to the smaller doc_id). Singleton
    docs emit keep=true rows, so the output is the complete per-doc
    verdict a curation pipeline acts on."""
    from kgraph_spark.operators.dedup_text import (
        near_dup_clusters,
        ngram_jaccard_pairs,
        shingles,
    )

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(shingles(docs, k=1), min_jaccard=0.5).select(
        "doc_a", "doc_b"
    )
    ranked = docs.select("doc_id", F.length(F.trim(F.col("text"))).alias("_rank"))
    return near_dup_clusters(ranked, pairs)


def q_kg_type_constraints(spark, sf_dir):
    """Schema induction + violation audit over a deliberately noisy
    lineitem KG: qty=1 'contains' lines are mis-typed (part→supplier) to
    simulate extraction bugs — the gate elects each predicate's dominant
    (subject_type, object_type) signature and counts the tail."""
    from kgraph_spark.operators.relationships import type_constraints

    li = _read(spark, sf_dir, "lineitem")
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    clean = li.filter(F.col("l_quantity") != 1).select(
        o.alias("subject_id"),
        F.lit("contains").alias("predicate"),
        p.alias("object_id"),
        F.lit("order").alias("subject_type"),
        F.lit("part").alias("object_type"),
    )
    noisy = li.filter(F.col("l_quantity") == 1).select(
        p.alias("subject_id"),
        F.lit("contains").alias("predicate"),
        s.alias("object_id"),
        F.lit("part").alias("subject_type"),
        F.lit("supplier").alias("object_type"),
    )
    supplied = li.select(
        o.alias("subject_id"),
        F.lit("supplied_by").alias("predicate"),
        s.alias("object_id"),
        F.lit("order").alias("subject_type"),
        F.lit("supplier").alias("object_type"),
    )
    return type_constraints(clean.union(noisy).union(supplied))


def q_text_lexical_diversity(spark, sf_dir):
    """Per-doc lexical-diversity gate (TTR / hapax share / Simpson repeat
    concentration) — exact-integer micro ratios, one (doc, token) shuffle."""
    from kgraph_spark.operators.text_analysis import lexical_diversity

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return lexical_diversity(docs)


def q_stat_benford(spark, sf_dir):
    """Benford first-digit audit of orders.o_totalprice — the fabricated-
    data / broken-ETL detector; expected shares are driver-side log10
    micro literals shared with the oracle (no engine evaluates a log)."""
    from kgraph_spark.operators.profiling import benford_audit

    return benford_audit(_read(spark, sf_dir, "orders"), "o_totalprice")


def q_graph_katz(spark, sf_dir):
    """Katz centrality (β=1/2, 3 walk lengths) over the C/S→N⇄R graph —
    exact integer micro-units: 10⁶/2ᵏ divides evenly so no float enters
    the fold; three chained sparse matvec joins."""
    from kgraph_spark.operators.graph_analytics import katz_centrality

    return katz_centrality(_pr_edges(spark, sf_dir), iterations=3)


def q_media_captions(spark, sf_dir):
    """Caption mining over interleaved span sequences: every media span
    paired with its nearest preceding text span (the image-text pair
    extraction step before multimodal packing) — one posexplode + one
    per-doc running-last window, no join, no Python."""
    from kgraph_spark.operators.interleave import media_captions

    return media_captions(
        _docs_to_interleaved_spans(_read(spark, sf_dir, "documents"))
    )


def q_er_weighted_overlap(spark, sf_dir):
    """Brand-blocked part-name matching with EXACT integer IDF-like
    weights (w = N div df): weighted overlap needs one integer division,
    no sqrt — rare discriminative tokens dominate as tf-idf intends."""
    from kgraph_spark.operators.similarity import weighted_token_overlap

    names = _read(spark, sf_dir, "part").filter(F.col("p_partkey") < 500).select(
        F.col("p_partkey").alias("id"),
        F.col("p_brand").alias("block"),
        F.col("p_name").alias("name"),
    )
    return weighted_token_overlap(names, min_overlap_micro=200_000)


def q_curation_power_mix(spark, sf_dir):
    """α-power domain mixing weights (α=2, exact integer powers) over the
    language mix: weight, natural share, and upsample factor per domain —
    the mix-planning table a corpus scheduler consumes."""
    from kgraph_spark.operators.corpus_curation import power_mix_weights

    return power_mix_weights(_read(spark, sf_dir, "documents"), "lang", alpha=2)


def q_kg_completion_candidates(spark, sf_dir):
    """KG completion materialized: missing supplied_by edges implied by
    contains(x,y) ∧ from(y,z) on the incomplete KG (supplied_by asserted
    only for qty ≥ 25 lines — the head-sparse setup) — predicate-filtered
    body sides, distinct implied pairs, ONE LeftAnti against existing
    heads."""
    from kgraph_spark.operators.relationships import rule_completion_candidates

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    t = (
        li.select(o.alias("subject_id"), F.lit("contains").alias("predicate"), p.alias("object_id"))
        .union(li.select(p.alias("subject_id"), F.lit("from").alias("predicate"), s.alias("object_id")))
        .union(
            li.filter(F.col("l_quantity") >= 25).select(
                o.alias("subject_id"),
                F.lit("supplied_by").alias("predicate"),
                s.alias("object_id"),
            )
        )
    )
    return rule_completion_candidates(t, "contains", "from", "supplied_by")


def q_er_cluster_cohesion(spark, sf_dir):
    """Transitive-merge QA over the dedup clusters: per multi-member
    cluster, verified-pair density C(m,2) vs direct edges — the
    hub-induced over-merge detector."""
    from kgraph_spark.operators.dedup_text import (
        cluster_cohesion,
        near_dup_clusters,
        ngram_jaccard_pairs,
        shingles,
    )

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = ngram_jaccard_pairs(shingles(docs, k=1), min_jaccard=0.5).select(
        "doc_a", "doc_b"
    )
    ranked = docs.select("doc_id", F.length(F.trim(F.col("text"))).alias("_rank"))
    labels = near_dup_clusters(ranked, pairs).select("doc_id", "cluster_id")
    return cluster_cohesion(labels, pairs)


def q_text_ngram_novelty(spark, sf_dir):
    """Corpus novelty curve: per doc, share of word 3-grams first seen in
    this doc (min-doc_id attribution via ONE gram aggregate + join —
    no sequential scan)."""
    from kgraph_spark.operators.text_analysis import ngram_novelty

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return ngram_novelty(docs, k=3)


# ---------------------------------------------------------------------------
# rows-only queries (not single-SQL-expressible)
# ---------------------------------------------------------------------------

def q_c6_vocab_prepass(spark, sf_dir):
    """C6 vocab pre-pass: gazetteer mention extraction (fused pUDF) →
    shared-vocabulary aggregation. Oracle-checkable because the terms are
    single tokens: doc_frequency == #docs containing the token, and the C5
    per-doc dedup makes total_mentions == doc_frequency."""
    from kgraph_spark.operators.mentions import extract_mentions
    from kgraph_spark.operators.validation_extra import vocab_prepass

    docs = _docs_to_span_documents(_read(spark, sf_dir, "documents"))
    gaz = spark.sparkContext.broadcast([(w, None, "term", 1.0) for w in KG_TERMS])
    m = extract_mentions(docs, gaz)
    return vocab_prepass(m).select(
        "norm_name", "entity_type",
        F.col("doc_frequency").cast("long").alias("doc_frequency"),
        F.col("total_mentions").cast("long").alias("total_mentions"),
        "max_confidence",
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (banding over 64 minhashes).

    Uses the md5 signature variant so the DuckDB oracle can recompute the
    full signature + banding in SQL (md5 is bit-identical across engines;
    the xxhash64 variant is the production fast path — same banding, same
    candidates, verified equal in tests)."""
    from kgraph_spark.operators.dedup_text import lsh_candidate_pairs, minhash_signatures, shingles

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sigs = minhash_signatures(shingles(docs, k=3, dedupe=False), num_hashes=64, hash_fn="md5")
    return lsh_candidate_pairs(sigs, bands=16, rows_per_band=4).select(
        "doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup pairs (Hamming ≤ 3, pigeonhole-blocked).

    md5 60-bit variant so the DuckDB oracle recomputes the full simhash in
    SQL (hex-digit arithmetic is engine-portable; xxhash64 64-bit is the
    production fast path with identical structure)."""
    from kgraph_spark.operators.dedup_text import simhash, simhash_near_dups

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    out = simhash_near_dups(simhash(docs, hash_fn="md5"), max_hamming=3, prefix_bits=15, bits=60)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k (the 100-TB scale path for D3/D11)."""
    from kgraph_spark.operators.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = len(emb.select("embedding").first()[0])
    probes = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("probe_id"), "embedding")
    out = lsh_topk(emb, probes, dim=dim, k=10, n_planes=8)
    return out.select(
        "probe_id", "vec_id", F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-k: deterministic coarse quantizer (centroids = the 8
    smallest vec_ids — SQL-restatable; kmeans_refine is the production
    codebook seam), items in exactly one cell, probes scan their 2 nearest
    cells. The inverted-file alternative to ann_lsh_topk."""
    from kgraph_spark.operators.similarity import deterministic_centroids, ivf_topk

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = deterministic_centroids(emb, 8)
    probes = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("probe_id"), "embedding")
    out = ivf_topk(emb, probes, cents, nprobe=2, k=10)
    return out.select(
        "probe_id", "vec_id", F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary asset column → Arrow-batched mapInPandas
    feature extraction (decode deterministically stubbed — no decoder libs
    in this container; the dataflow, batch shape and error path are real).

    Assets derive from the driver documents table (payload = utf-8 bytes of
    the text, media_type keyed off doc_id, every 7th row an undecodable
    'pdf') so the DuckDB oracle can recompute n_bytes/decode_ok in SQL —
    n_bytes counts the bytes the UDF actually received through Arrow."""
    from kgraph_spark.operators.multimodal import extract_features

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    d = F.col("doc_id")
    mt = (
        F.when(d % 7 == 0, F.lit("pdf"))
        .when(d % 3 == 0, F.lit("image"))
        .when(d % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    assets = docs.select(
        F.concat(F.lit("media-"), d.cast("string")).alias("media_ref"),
        mt.alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.when(mt == "video", (F.col("n_chars") * 10).cast("int"))
        .otherwise(F.lit(None).cast("int"))
        .alias("duration_ms"),
    )
    feats = extract_features(assets)
    return feats.select(
        "media_ref", "media_type", F.col("n_bytes").cast("long").alias("n_bytes"), "decode_ok"
    )


def q_d4_authority_rerank(spark, sf_dir):
    """D4 authority-candidate re-ranking (reference _rerank_by_similarity,
    examples/medlit/pipeline/authority_lookup.py:371-402) on driver data:
    each p_brand is an ambiguous KB surface whose candidates are the brand's
    part names; the search term is the name of the brand's smallest partkey,
    EXCLUDED from the candidate set so the argmax must do real ranking."""
    from kgraph_spark.operators.resolve import rerank_authority_candidates

    part = _read(spark, sf_dir, "part")
    terms_best = part.groupBy("p_brand").agg(
        F.min(F.struct(F.col("p_partkey"), F.col("p_name"))).alias("_t")
    )
    terms = terms_best.select(
        F.col("p_brand").alias("norm_key"),
        F.col("_t.p_name").alias("text"),
        F.col("_t.p_partkey").alias("_tk"),
    )
    cands = (
        part.join(F.broadcast(terms.select("norm_key", "_tk")),
                  part["p_brand"] == F.col("norm_key"))
        .filter(F.col("p_partkey") != F.col("_tk"))
        .select(
            "norm_key",
            F.col("p_partkey").cast("string").alias("candidate_id"),
            F.col("p_name").alias("label"),
        )
    )
    out = rerank_authority_candidates(terms.select("norm_key", "text"), cands, threshold=0.0)
    return out.select(
        "norm_key", "text", "candidate_id", F.round("similarity", 6).alias("similarity")
    )


def q_f4_evidence_containment(spark, sf_dir):
    """F4 substring containment (reference _evidence_contains_both_entities,
    examples/medlit/pipeline/relationships.py:101-139) over driver docs:
    synthetic relation rows (fixed subject, object keyed off doc_id) kept
    only when both normalized surfaces appear in the quote. The semantic
    fallback (142-206) and marker-disease context rescue (765-774) are
    pytest-covered with a toy encoder — hash embeddings in SQL would verify
    noise, not semantics."""
    from kgraph_spark.operators.validation_extra import evidence_containment_filter

    docs = _read(spark, sf_dir, "documents")
    rels = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("data").alias("subject_norm"),
        F.element_at(
            F.array(*[F.lit(w) for w in COOC_WORDS]), (F.col("doc_id") % 8 + 1).cast("int")
        ).alias("object_norm"),
        F.col("text").alias("evidence"),
    )
    return evidence_containment_filter(rels).select("doc_id", "subject_norm", "object_norm")


def q_evt_session_windows(spark, sf_dir):
    """Native merging session windows (F.session_window) over the events
    table — batch twin of the watermarked streaming path
    (streaming/windowed.session_window_counts; streaming semantics in
    tests/test_windowed_streaming.py)."""
    from kgraph_spark.streaming.windowed import session_window_counts

    return session_window_counts(_read(spark, sf_dir, "events"))


def q_text_repetition(spark, sf_dir):
    """Gopher/C4-style repetition features (duplicate-word and duplicate-
    3-gram fractions) over the driver documents — the standard boilerplate
    pre-filter for training-corpus cleaning."""
    from kgraph_spark.operators.text_analysis import repetition_stats

    return repetition_stats(_read(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "dup_word_frac", "dup_3gram_frac"
    )


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate detection through the banded
    sign-random-projection pairing (similarity.blocked_pair_similarity —
    the D10/D11 blocking machinery itself, oracle-checked end to end:
    band buckets, bucket-join candidate generation, cosine threshold).

    The driver embeddings are random (max pairwise cosine ≈ 0.51), so the
    query plants a deterministic twin per vec_id < 40 (first coordinate
    +0.2, id offset +100000) — near-parallel pairs the banding must
    recover; the oracle replicates the exact buckets, so even LSH recall
    misses match bit-for-bit."""
    from kgraph_spark.operators.similarity import blocked_pair_similarity

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = len(emb.select("embedding").first()[0])
    twins = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.2)),
            F.slice("embedding", 2, dim - 1),
        ).alias("embedding"),
    )
    ents = (
        emb.select("vec_id", "embedding")
        .unionByName(twins)
        .select(
            F.col("vec_id").alias("entity_id"),
            F.lit("all").alias("entity_type"),
            "embedding",
        )
    )
    out = blocked_pair_similarity(ents, threshold=0.95, dim=dim)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cosine", 6).alias("cosine"),
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication: k-means cell assignment
    (codebook = deterministic_centroids, the IVF quantizer seam), pairwise
    round-6 cosine WITHIN a cell only, drop any vector with a lower-id
    cell-mate at cosine >= 0.95. Same planted twins as embedding_near_dups
    (vec_id < 40, first coord +0.2, id +100000) so the drop set is real;
    the oracle replicates cells + pairs exactly, so cell-boundary LSH-style
    misses also match bit-for-bit."""
    from kgraph_spark.operators.similarity import (
        deterministic_centroids,
        semantic_dedup,
    )

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = len(emb.select("embedding").first()[0])
    twins = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.2)),
            F.slice("embedding", 2, dim - 1),
        ).alias("embedding"),
    )
    allv = emb.select("vec_id", "embedding").unionByName(twins)
    cents = deterministic_centroids(allv, 8)
    return semantic_dedup(allv, cents, threshold=0.95)


def q_d9_reconcile(spark, sf_dir):
    """D9 post-dedup reconciliation (reference dedup.py:516-618) on driver
    data: entity rows synthesized over customer with COLLIDING normalized
    names (case / punctuation / leading-space / British-spelling variants,
    so norm_dedup does real work) and mixed authoritative (MeSH:) /
    provisional (prov-) ids. Groups by (norm_name, entity_type); any group
    with > 1 distinct id elects a winner — authoritative first, else
    lexicographically smallest — and emits the loser→winner map. The
    min-of-struct election restates in the oracle as a row_number window."""
    from kgraph_spark.operators.canonicalize import reconcile_by_name

    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s = k.cast("string")
    base = F.concat(F.lit("Clinic "), (k % 40).cast("string"))
    name = (
        F.when(k % 5 == 0, F.lit("Tumour"))
        .when(k % 5 == 1, F.lit("tumor!"))
        .when(k % 3 == 0, F.upper(base))
        .when(k % 3 == 1, F.concat(base, F.lit("!!")))
        .otherwise(F.concat(F.lit("  "), base))
    )
    ents = cust.select(
        F.when(k % 4 == 0, F.concat(F.lit("MeSH:D"), s))
        .otherwise(F.concat(F.lit("prov-"), F.lpad(s, 8, "0")))
        .alias("entity_id"),
        F.when(k % 2 == 0, F.lit("disease")).otherwise(F.lit("location")).alias("entity_type"),
        name.alias("name"),
    )
    return reconcile_by_name(ents)


def q_d7_merge_key(spark, sf_dir):
    """D7 per-class authoritative-id election (reference
    examples/medlit/pipeline/dedup.py:96-121, _preferred_authoritative_id)
    over bundle-shaped rows synthesized from part: Gene rows prefer HGNC
    (bare digits formatted 'HGNC:n'), then the UMLS→HGNC broadcast
    cross-lookup (the reference's HTTP lookup restated as a dimension
    join), then the UMLS id, then canonical; other classes take the first
    authoritative id in column order. Null merge_key = nothing
    authoritative (caller falls back to the D5 provisional hash)."""
    from kgraph_spark.operators.resolve import preferred_authoritative_id

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = k.cast("string")
    nul = F.lit(None).cast("string")
    rows = part.select(
        s.alias("row_id"),
        F.when(k % 2 == 0, F.lit("Gene")).otherwise(F.lit("Drug")).alias("entity_class"),
        F.when(k % 5 == 0, F.concat(F.lit("MeSH:D"), s))
        .when(k % 5 == 1, F.concat(F.lit("prov-"), s))
        .otherwise(nul)
        .alias("canonical_id"),
        F.when(k % 3 == 0, F.concat(F.lit("C"), s)).otherwise(nul).alias("umls_id"),
        F.when(k % 4 == 0, s)
        .when(k % 4 == 1, F.concat(F.lit(" HGNC:"), s))
        .otherwise(nul)
        .alias("hgnc_id"),
        F.when(k % 7 == 0, F.concat(F.lit("RxNorm:"), s)).otherwise(nul).alias("rxnorm_id"),
        F.when(k % 11 == 0, F.concat(F.lit("UniProt:P"), s)).otherwise(nul).alias("uniprot_id"),
    )
    xmap = part.filter(k % 6 == 0).select(
        F.concat(F.lit("C"), s).alias("umls_id"),
        F.concat(F.lit("HGNC:"), (k + 7).cast("string")).alias("hgnc_id"),
    )
    return preferred_authoritative_id(rows, xmap).select("row_id", "entity_class", "merge_key")


def q_f4_semantic_ladder(spark, sf_dir):
    """F4 FULL fallback ladder (reference relationships.py:744-774) with the
    SQL-restatable letter-frequency encoder (functions/embeddings.
    letter_frequency_embedding — integer-valued vectors, bit-exact across
    engines), so every rung gets a driver oracle (r3 verdict item 5):

      doc_id%4==0  both endpoints usually substring-contained → rung 1;
      doc_id%4==1  'zzzz' object: one endpoint contained → rung-2 drop, or
                   neither → semantic reject (no z's in the corpus);
      doc_id%4==2  doubled-letter endpoints never substring-match but their
                   letter profiles straddle the 0.5 cosine threshold
                   (measured 0.27–0.80 across sf0.01 docs) → rung 3 does
                   real discrimination;
      doc_id%4==3  'zyzzyva' disease object: semantically unreachable from
                   the quote (max cosine 0.30) but present in the full
                   document content, quote carries a disease-context word →
                   rung-4 marker-disease rescue."""
    from kgraph_spark.functions.embeddings import letter_frequency_embedding
    from kgraph_spark.operators.validation_extra import (
        evidence_containment_semantic_filter,
    )

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    m = F.col("doc_id").cast("long") % 4
    rels = docs.select(
        "doc_id",
        F.when(m >= 2, F.lit("datta systemm")).otherwise(F.lit("data")).alias("subject_norm"),
        F.when(m == 1, F.lit("zzzz"))
        .when(m == 2, F.lit("tablee windoww"))
        .when(m == 3, F.lit("zyzzyva"))
        .otherwise(
            F.element_at(
                F.array(*[F.lit(w) for w in COOC_WORDS]),
                (F.col("doc_id").cast("long") % 8 + 1).cast("int"),
            )
        )
        .alias("object_norm"),
        F.when(m == 3, F.lit("indicates")).otherwise(F.lit("mentions")).alias("predicate"),
        F.when(m == 3, F.lit("disease")).otherwise(F.lit("term")).alias("object_type"),
        F.when(m == 3, F.concat(F.lit("tumor staining in "), F.substring("text", 1, 120)))
        .otherwise(F.col("text"))
        .alias("evidence"),
    )
    contents = docs.select("doc_id", F.concat("text", F.lit(" zyzzyva")).alias("content"))
    out = evidence_containment_semantic_filter(
        rels, threshold=0.5, embed_fn=letter_frequency_embedding, documents=contents
    )
    return out.select("doc_id", "subject_norm", "object_norm", "predicate")


def q_h3_entity_search(spark, sf_dir):
    """H3 entity search through the exploded alias index (graph.
    entity_alias_index + find_entities — reference find_by_name,
    kgraph/storage/memory.py:153-182): substring predicate on the narrow
    index, LeftSemi back to the wide entity rows. Two needles: 'red' hits
    names, 'economy' hits a synonym (p_type) — both alias sources."""
    from kgraph_spark.operators.graph import entity_alias_index, find_entities

    part = _read(spark, sf_dir, "part")
    ents = part.select(
        F.col("p_partkey").cast("string").alias("entity_id"),
        F.lit("part").alias("entity_type"),
        F.col("p_name").alias("name"),
        F.array(F.col("p_brand"), F.col("p_type")).alias("synonyms"),
    )
    idx = entity_alias_index(ents)
    out = None
    for needle in ("red", "economy"):
        hit = find_entities(ents, needle, alias_index=idx).select(
            F.lit(needle).alias("needle"), "entity_id", "name"
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def q_f5_predicate_polarity(spark, sf_dir):
    """F5 predicate-polarity sanity (reference relationships.py:293-378):
    planted marker suffixes make the filter do real work — ' not observed'
    kills treats/prevents rows, ' improved response' kills
    causes/increases_risk rows, everything else passes."""
    from kgraph_spark.operators.validation_extra import predicate_semantics_filter

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    preds = ["treats", "causes", "prevents", "increases_risk", "interacts_with"]
    rels = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.element_at(F.array(*[F.lit(p) for p in preds]), (d % 5 + 1).cast("int")).alias(
            "predicate"
        ),
        F.concat(
            "text",
            F.when(d % 3 == 0, F.lit(" not observed"))
            .when(d % 3 == 1, F.lit(" improved response"))
            .otherwise(F.lit("")),
        ).alias("evidence"),
    )
    return predicate_semantics_filter(rels).select("doc_id", "predicate")


def q_f13_evidence_repair(spark, sf_dir):
    """F13 evidence-id repair (reference extract.py:60-103, 399-407):
    placeholder first segments (PMC_UNKNOWN, ==CURRENT_PAPER==, or a
    PMC-style id disagreeing with the real paper) are replaced with the
    real paper id; the '{paper}:{section}:{para}:{method}' tail is kept."""
    from kgraph_spark.operators.validation_extra import repair_evidence_ids

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    pid = F.concat(F.lit("PMC"), F.col("doc_id").cast("string"))
    df = docs.select(
        pid.alias("doc_id"),
        F.when(d % 4 == 0, F.lit("PMC_UNKNOWN:intro:1:llm"))
        .when(d % 4 == 1, F.lit("==CURRENT_PAPER==:body:2:regex"))
        .when(d % 4 == 2, F.concat(F.lit("PMC"), (d + 999999).cast("string"), F.lit(":abstract:3:llm")))
        .otherwise(F.concat(pid, F.lit(":body:4:pattern")))
        .alias("evidence_id"),
    )
    return repair_evidence_ids(df).select("doc_id", "evidence_id")


def q_b1_chunker(spark, sf_dir):
    """B1 windowed chunker (reference WindowedDocumentChunker,
    kgraph/pipeline/streaming.py:151-244) over driver documents with a
    scaled-down window (120/30, min 40): stride = chunk_size - overlap,
    short middle windows dropped, final tail always kept, chunk_index
    counts EMITTED chunks. The corpus has no sentence punctuation, so the
    boundary snap (a '.' rfind in the last 20%) is a deterministic no-op
    here — the snap itself is pytest-covered with punctuated fixtures
    (tests/test_spans.py); this oracle pins the window arithmetic."""
    from kgraph_spark.config import ChunkingConfig
    from kgraph_spark.operators.chunking import chunk_documents

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    cfg = ChunkingConfig(chunk_size=120, overlap=30, min_chunk_size=40)
    return chunk_documents(docs, cfg).select(
        "doc_id", "content", "start_offset", "end_offset", "chunk_index"
    )


def q_e2_kb_assignment(spark, sf_dir):
    """E2 canonical-ID assignment (reference promotion.py:132-220 strategy 3
    restated as one broadcast join): promotion candidates vs an exploded
    KB alias index on (norm_dedup key, entity_type). Candidate surfaces are
    punctuation/case/spelling variants of the KB names so the key
    normalization does real work; KB aliases are made unique by suffixing
    the key, keeping the dropDuplicates seam deterministic."""
    from kgraph_spark.operators.promotion import assign_canonical_ids

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = k.cast("string")
    uniq = F.concat(F.col("p_name"), F.lit(" "), s)
    kb = part.select(
        uniq.alias("name"),
        F.when(k % 3 == 0, F.array(F.concat(F.lit("alias "), uniq))).otherwise(
            F.array().cast("array<string>")
        ).alias("synonyms"),
        F.concat(F.lit("MeSH:D"), s).alias("canonical_id"),
        F.when(k % 2 == 0, F.lit("drug")).otherwise(F.lit("disease")).alias("entity_type"),
    )
    cands = part.select(
        F.concat(F.lit("prov-"), s).alias("entity_id"),
        F.when(k % 4 == 0, F.upper(uniq))
        .when(k % 4 == 1, F.concat(uniq, F.lit("!!")))
        .when(k % 4 == 2, F.concat(F.lit("alias "), uniq))
        .otherwise(F.concat(F.lit("unknown thing "), s))
        .alias("name"),
        # half the candidates carry the WRONG type -> no assignment
        F.when(k % 6 < 3, F.when(k % 2 == 0, F.lit("drug")).otherwise(F.lit("disease")))
        .otherwise(F.lit("gene"))
        .alias("entity_type"),
        F.lit("provisional").alias("status"),
        F.lit(0.8).alias("confidence"),
        F.lit(2).alias("usage_count"),
    )
    return assign_canonical_ids(cands, kb)


def q_f12_provenance(spark, sf_dir):
    """F12 provenance expansion (reference examples/medlit/pipeline/
    provenance_expansion.py:31-155): AUTHORED / AFFILIATED_WITH / CITES
    edges from synthesized paper metadata (blank names filtered, ROR ids
    preferred over institution slugs, blank citations dropped) + DESCRIBED
    top-2 per paper from a triples table synthesized over orders."""
    from kgraph_spark.operators.provenance import expand_provenance

    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s = k.cast("string")
    author1 = F.struct(
        F.concat(F.lit("Ada "), F.lit("B. "), F.lit("Lovelace"), (k % 40).cast("string")).alias("name"),
        F.when(k % 2 == 0, F.concat(F.lit("MIT CSAIL Lab #"), (k % 10).cast("string"))).otherwise(F.lit("")).alias("affiliation"),
        F.when(k % 6 == 0, F.concat(F.lit("0"), (k % 100).cast("string"), F.lit("ab"))).otherwise(F.lit(None).cast("string")).alias("ror"),
    )
    author2 = F.struct(
        F.when(k % 5 == 0, F.lit("  ")).otherwise(
            F.concat(F.lit("Grace Hopper"), (k % 25).cast("string"))
        ).alias("name"),
        F.lit("Navy Research 7").alias("affiliation"),
        F.lit(None).cast("string").alias("ror"),
    )
    papers = cust.select(
        F.concat(F.lit("PMC"), s).alias("doc_id"),
        F.when(k % 3 == 0, F.array(author1, author2)).otherwise(F.array(author1)).alias("authors"),
        F.when(k % 4 == 0, F.array(F.concat(F.lit("PMC"), (k + 1).cast("string")), F.lit(" ")))
        .when(k % 4 == 1, F.array().cast("array<string>"))
        .otherwise(F.lit(None).cast("array<string>"))
        .alias("cited"),
    )
    orders = _read(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    triples = orders.select(
        F.concat(F.lit("E"), (ok % 7).cast("string")).alias("subject_id"),
        F.array(F.concat(F.lit("PMC"), (ok % 100).cast("string"))).alias("source_documents"),
    )
    return expand_provenance(papers, triples)


def q_h2_bfs_filtered(spark, sf_dir):
    """H2 BFS query language (reference bfsql.md:22-37 via graph.
    run_bfs_query): literal seed list, directed 2-hop expansion over the
    customer→order→part graph, node_filter {entity_types: [order]} against
    the REGISTERED type dimension — filters affect presentation, not
    topology: non-matching nodes return as stubs (is_full=false)."""
    from kgraph_spark.operators.graph import run_bfs_query

    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    e1 = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("subject_id"),
        F.lit("placed").alias("predicate"),
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("object_id"),
    )
    e2 = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
        F.lit("contains").alias("predicate"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
    )
    edges = e1.union(e2)
    cust = _read(spark, sf_dir, "customer")
    entities = (
        cust.select(F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("entity_id"),
                    F.lit("customer").alias("entity_type"))
        .unionByName(orders.select(
            F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("entity_id"),
            F.lit("order").alias("entity_type")))
        # parts deliberately ABSENT from the dimension -> stubs
    )
    nodes, _edges = run_bfs_query(
        edges,
        {"seeds": ["C1", "C2"], "max_hops": 2, "directed": True,
         "node_filter": {"entity_types": ["order"]},
         "edge_filter": {"predicates": ["placed"]}},
        entities=entities,
    )
    return nodes.select("entity_id", "hop", "is_full")


def q_i1_embed_cache(spark, sf_dir):
    """I1 deterministic hash embeddings + cache-as-table (functions/
    embeddings.embed_with_cache — reference CachedEmbeddingGenerator,
    kgraph/pipeline/caching.py:171-533): even keys come from a
    pre-computed cache (inner join), odd keys run the encoder (anti-join
    misses); the oracle recomputes sha256-digest vectors byte-for-byte
    (components float32-cast then rounded, absorbing summation-order
    last-ulp differences in the L2 norm)."""
    from kgraph_spark.functions.embeddings import embed_with_cache

    part = _read(spark, sf_dir, "part")
    texts = part.select(
        F.col("p_partkey").cast("string").alias("entity_id"),
        F.concat(F.col("p_name"), F.lit(" "), F.col("p_partkey").cast("string")).alias("name"),
    )
    cache = embed_with_cache(texts.filter(F.col("p_partkey") % 2 == 0), None)
    out = embed_with_cache(texts, cache.select("entity_id", "embedding"))
    return out.select(
        "entity_id",
        "name",
        F.transform(F.col("embedding").cast("array<double>"), lambda x: F.round(x, 6)).alias(
            "embedding"
        ),
    )


def q_d12_tombstones(spark, sf_dir):
    """D12 merged-entity tombstones (export.tombstone_entities — reference
    kgschema/entity.py:61-68): losers of a merge stay queryable as
    status='merged' rows pointing at the winner; supporting-document and
    synonym arrays use the capped sorted deterministic prefix (caps chosen
    to BIND here so the scale guard itself is oracle-checked)."""
    from kgraph_spark.operators.export import tombstone_entities
    from kgraph_spark.session import local_frame

    orders = _read(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    mentions = orders.select(
        F.concat(F.lit("D"), (ok % 50).cast("string")).alias("doc_id"),
        F.concat(F.lit("E"), (ok % 20).cast("string")).alias("entity_id"),
        F.concat(F.lit("name "), (ok % 7).cast("string")).alias("text"),
        (F.lit(0.5) + (ok % 5).cast("double") * F.lit(0.1)).alias("confidence"),
        ok.cast("int").alias("start_offset"),
        F.concat(F.lit("T"), ((ok % 20) % 3).cast("string")).alias("entity_type"),
    )
    mapping = local_frame(
        spark, [(f"E{i}", f"E{i + 10}") for i in range(10)], "entity_id string, final_id string"
    )
    return tombstone_entities(
        mentions, mapping, max_supporting_documents=5, max_synonyms=3
    )


def q_a8_cache_lookup(spark, sf_dir):
    """A8 synonym cache + A9 negative cache (sources/caches — reference
    synonym_cache.py:16-83, json_cache.py:214-277): normalized-key
    broadcast lookup — a whole-key British-spelling hit ('Tumour' →
    cached 'tumor' row), case/punctuation hits, odd-key misses — followed
    by the known-bad anti-join (null lookups survive an anti-join on the
    looked-up id, matching the reference's 'unknown is not known-bad')."""
    from kgraph_spark.sources.caches import negative_cache_filter, synonym_cache_lookup

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = k.cast("string")
    uniq = F.concat(F.col("p_name"), F.lit(" "), s)
    cache = part.filter(k % 2 == 0).select(
        F.lower(uniq).alias("norm_name"),
        F.lit("disease").alias("entity_class"),
        F.concat(F.lit("MeSH:D"), s).alias("canonical_id"),
        F.lit(0.9).alias("confidence"),
        F.lit("cache").alias("resolution"),
        F.array().cast("array<string>").alias("source_papers"),
    ).unionByName(
        part.filter(k == 0).select(
            F.lit("tumor").alias("norm_name"),
            F.lit("disease").alias("entity_class"),
            F.lit("MeSH:D999999").alias("canonical_id"),
            F.lit(0.9).alias("confidence"),
            F.lit("cache").alias("resolution"),
            F.array().cast("array<string>").alias("source_papers"),
        )
    )
    names = part.select(
        F.when(k % 4 == 0, F.lit("Tumour"))              # whole-key spelling map hit
        .when(k % 4 == 2, F.concat(F.upper(uniq), F.lit("!")))  # case/punct hit
        .otherwise(uniq)                                  # odd keys: cache miss
        .alias("name"),
        F.lit("disease").alias("entity_class"),
        s.alias("row_id"),
    )
    looked = synonym_cache_lookup(names, cache)
    bad = part.filter(k % 8 == 2).select(
        F.concat(F.lit("MeSH:D"), s).alias("cached_canonical_id")
    )
    out = negative_cache_filter(looked, bad, on=["cached_canonical_id"])
    return out.select("row_id", "name", "cached_canonical_id")


def q_a8_cache_merge(spark, sf_dir):
    """A8 cache merge (synonym_cache_merge — add_same_as_to_cache
    semantics): key-collision resolution keeps the max-(confidence, id)
    record, source papers union sorted; idempotent by construction."""
    from kgraph_spark.sources.caches import synonym_cache_merge

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = k.cast("string")
    key = F.concat(F.lit("term "), (k % 60).cast("string"))
    cache = part.filter(k % 3 == 0).select(
        key.alias("norm_name"),
        F.lit("drug").alias("entity_class"),
        F.concat(F.lit("RxNorm:"), s).alias("canonical_id"),
        (F.lit(0.5) + (k % 4).cast("double") * F.lit(0.1)).alias("confidence"),
        F.lit("old").alias("resolution"),
        F.array(F.concat(F.lit("PMC"), s)).alias("source_papers"),
    )
    new_links = part.filter(k % 3 == 1).select(
        key.alias("norm_name"),
        F.lit("drug").alias("entity_class"),
        F.concat(F.lit("RxNorm:"), s).alias("canonical_id"),
        (F.lit(0.4) + (k % 6).cast("double") * F.lit(0.1)).alias("confidence"),
        F.lit("new").alias("resolution"),
        F.array(F.concat(F.lit("PMC"), s), F.lit("PMCx")).alias("source_papers"),
    )
    return synonym_cache_merge(cache, new_links)


def q_b2_overlapping_windows(spark, sf_dir):
    """B2 overlapping-window stream (chunking.chunk_spans — reference
    iter_overlapping_windows, examples/medlit/pipeline/pmc_streaming.py:
    66-114): the first span (abstract) is window 0 emitted whole; the
    remaining paragraphs concatenate ('\\n\\n') into 120/30 sliding windows
    that stop at the first window reaching the end — unlike B1 there is no
    min-size drop and no multi-tail emission."""
    from kgraph_spark.operators.chunking import chunk_spans

    docs = _docs_to_span_documents(_read(spark, sf_dir, "documents"))
    return chunk_spans(docs, window_size=120, overlap=30)


def q_c1_metadata_mentions(spark, sf_dir):
    """C1 metadata-entity conversion (mentions.mentions_from_metadata —
    reference MedLitEntityExtractor.extract, mentions.py:183-238): planted
    per-row edge cases — a too-short name, a bare type label, a name equal
    to its own (non-label) type — are dropped; survivors carry conf 0.9,
    lowercased type, and the canonical-id hint passthrough."""
    from kgraph_spark.operators.mentions import mentions_from_metadata

    part = _read(spark, sf_dir, "part")
    s = F.col("p_partkey").cast("string")
    nul = F.lit(None).cast("string")
    ent = lambda n, t, c: F.struct(n.alias("name"), t.alias("entity_type"), c.alias("canonical_id"))
    docs = part.select(
        F.concat(F.lit("M"), s).alias("doc_id"),
        F.array(
            ent(F.col("p_name"), F.lit("chemical"), F.concat(F.lit("MeSH:D"), s)),
            ent(F.lit("xy"), F.lit("drug"), nul),           # < 3 chars
            ent(F.lit(" gene "), F.lit("gene"), nul),       # bare type label
            ent(F.lit("Chemical"), F.lit("chemical"), nul), # name == own type
            ent(F.concat(F.col("p_name"), F.lit(" extra")), F.lit("Drug"), nul),
        ).alias("entities"),
    )
    return mentions_from_metadata(docs)


def q_d2_alias_resolve(spark, sf_dir):
    """D1+D2+D5 in one oracle (resolve.resolve_mentions): broadcast
    alias-index join on the norm_dedup key (KB-backed index rows beat
    vocabulary rows — 'Spark!' resolves to its MeSH id), D1 hint fallback
    for index misses that carry canonical_id_hint, and the D5 content-hash
    provisional id (sha256, spelling-normalized — 'Tumour' hashes as
    'tumor') for everything else."""
    from kgraph_spark.operators.resolve import alias_index_df, resolve_mentions

    gaz = [("spark", "MeSH:D100", "term", 1.0)] + [
        (w, None, "term", 1.0) for w in KG_TERMS
    ]
    idx = alias_index_df(spark, gaz)
    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = k.cast("string")
    mentions = part.select(
        s.alias("row_id"),
        F.when(k % 5 == 0, F.lit("Spark!"))
        .when(k % 5 == 1, F.lit("JOIN"))
        .when(k % 5 == 4, F.lit("Tumour"))
        .otherwise(F.concat(F.lit("unknown widget "), s))
        .alias("text"),
        F.when(k % 5 == 4, F.lit("disease"))
        .when(k % 5 <= 1, F.lit("term"))
        .otherwise(F.lit("widget"))
        .alias("entity_type"),
        F.when(k % 5 == 2, F.concat(F.lit("HINT:"), s)).otherwise(
            F.lit(None).cast("string")
        ).alias("canonical_id_hint"),
    )
    return resolve_mentions(mentions, idx).select("row_id", "text", "entity_id")


def q_f6_swap_validate(spark, sf_dir):
    """F6 swap correction + F7 type constraints + F8 specificity dedup in
    one pass (relationships.validate_relations — reference dedup.py:178-206,
    relationships.py:55-74): backwards treats rows swap endpoints, a
    type-invalid row drops, and colliding (doc, subject, object) groups
    keep the most-specific predicate (ties → max confidence, predicate
    asc, evidence asc) — the min-of-struct election restated as a
    row_number window."""
    from kgraph_spark.operators.relationships import predicate_spec_df, validate_relations

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    m = k % 6
    pick = lambda *vals: F.element_at(F.array(*[F.lit(v) for v in vals]), (m + 1).cast("int"))
    rows = part.select(
        F.concat(F.lit("D"), (k % 20).cast("string")).alias("doc_id"),
        F.concat(F.lit("S"), (k % 40).cast("string")).alias("subject_id"),
        pick("drug", "disease", "gene", "biomarker", "location", "drug").alias("subject_type"),
        pick("treats", "treats", "treats", "indicates", "associated_with",
             "interacts_with").alias("predicate"),
        F.concat(F.lit("O"), (k % 40).cast("string")).alias("object_id"),
        pick("disease", "drug", "pathway", "disease", "hormone", "drug").alias("object_type"),
        (F.lit(0.6) + (k % 4).cast("double") * F.lit(0.1)).alias("confidence"),
        F.concat(F.lit("ev "), (k % 9).cast("string")).alias("evidence"),
    )
    return validate_relations(rows, predicate_spec_df(spark))


def q_a1_xml_parse(spark, sf_dir):
    """A1 JATS-XML parse (sources/documents.parse_jats_xml — reference
    examples/medlit/pipeline/parser.py:76-228) over XML synthesized from
    part rows: id preference doi > pmid > pmc, no-id/malformed/empty
    documents drop, abstract + body paragraphs become text spans with the
    cursor arithmetic (+len+2 per text, +1 per media), <graphic> elements
    become media:// spans. The oracle rebuilds the expected span rows from
    the same fields — DuckDB has no XML, so this pins the parser against
    the spec, span for span."""
    from kgraph_spark.sources.documents import xml_documents

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = k.cast("string")
    m = k % 6
    ids = (
        F.when(m == 0, F.concat(F.lit('<article-id pub-id-type="doi">10.1/x'), s,
                                F.lit('</article-id><article-id pub-id-type="pmid">9'), s,
                                F.lit("</article-id>")))
        .when(m == 1, F.concat(F.lit('<article-id pub-id-type="pmid">9'), s, F.lit("</article-id>")))
        .when(m == 2, F.concat(F.lit('<article-id pub-id-type="pmc">PMC'), s, F.lit("</article-id>")))
        .otherwise(F.lit(""))
    )
    body = (
        F.when(m == 5, F.lit("<body></body>"))
        .otherwise(
            F.concat(
                F.lit("<body><sec><p>para  one "), s,
                F.lit('</p><graphic href="img'), s,
                F.lit('.png"/><p>para two</p></sec></body>'),
            )
        )
    )
    raw = F.when(m == 4, F.lit("<article><unclosed")).otherwise(
        F.concat(
            F.lit("<article><front><article-meta>"), ids,
            F.lit("<article-title>T</article-title></article-meta></front>"),
            F.when(m == 5, F.lit("")).otherwise(
                F.concat(F.lit("<abstract><p>abstract text "), s, F.lit("</p></abstract>"))
            ),
            body,
            F.lit("</article>"),
        )
    )
    docs = xml_documents(part.select(raw.alias("raw")))
    return docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "sp")
    ).select(
        "doc_id", "span_idx",
        F.col("sp.kind").alias("kind"),
        F.col("sp.text").alias("text"),
        F.col("sp.media_ref").alias("media_ref"),
        F.col("sp.offset").alias("offset"),
    )


def q_f3_name_index(spark, sf_dir):
    """F3 entity-name index + endpoint resolution (resolve.entity_name_index
    + resolve_relation_endpoints — reference _build_entity_index /
    _pick_unique, examples/medlit/pipeline/relationships.py:44-52, 713-728):
    surfaces claimed by MANY entities elect one winner by (canonical,
    usage_count, confidence, id); relations whose subject/object names miss
    the index drop (F14's ambiguity→drop path). The F3 norm key strips ALL
    non-alnum (not just punctuation), so 'Term-7' and 'term 7' collide."""
    from kgraph_spark.operators.resolve import (
        entity_name_index,
        norm_f3_col,
        resolve_relation_endpoints,
    )

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = k.cast("string")
    entities = part.select(
        F.concat(F.lit("E"), s).alias("entity_id"),
        F.concat(F.lit("Term-"), (k % 50).cast("string")).alias("name"),
        F.array(F.concat(F.lit("alias "), (k % 25).cast("string"))).alias("synonyms"),
        F.when(k % 3 == 0, F.lit("canonical")).otherwise(F.lit("provisional")).alias("status"),
        (k % 7).cast("long").alias("usage_count"),
        (F.lit(0.5) + (k % 5).cast("double") * 0.1).alias("confidence"),
        F.when(k % 2 == 0, F.lit("gene")).otherwise(F.lit("disease")).alias("entity_type"),
    )
    idx = entity_name_index(entities)
    rels = part.select(
        F.concat(F.lit("R"), s).alias("rel_id"),
        F.concat(F.lit("term "), (k % 60).cast("string")).alias("subject_text"),
        F.concat(F.lit("ALIAS-"), (k % 30).cast("string")).alias("object_text"),
        F.element_at(
            F.array(F.lit("treats"), F.lit("indicates"), F.lit("associated_with")),
            (k % 3 + 1).cast("int"),
        ).alias("predicate"),
    )
    rels = rels.withColumn("subject_norm", norm_f3_col(F.col("subject_text"))).withColumn(
        "object_norm", norm_f3_col(F.col("object_text"))
    )
    return resolve_relation_endpoints(rels, idx).select(
        "rel_id", "predicate", "subject_id", "subject_type", "object_id", "object_type"
    )


def q_e3_promote_rewrite(spark, sf_dir):
    """E3 promote + reference rewrite (promotion.promote_and_rewrite —
    reference ingest.py:668-757, memory.py:496-546): provisional entities
    clearing the E1 thresholds and hitting the KB get their id swapped to
    the canonical id; every triple endpoint is rewritten through the
    broadcast id map; collided triples re-accumulate (max confidence, union
    sources, summed evidence) and self-loops created by the rewrite drop."""
    from kgraph_spark.operators.promotion import promote_and_rewrite

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = k.cast("string")
    entities = part.select(
        F.concat(F.lit("prov-p"), s).alias("entity_id"),
        F.concat(F.lit("name "), (k % 40).cast("string")).alias("name"),
        F.when(k % 2 == 0, F.lit("gene")).otherwise(F.lit("disease")).alias("entity_type"),
        F.lit("provisional").alias("status"),
        (k % 4).cast("long").alias("usage_count"),
        (F.lit(0.3) + (k % 6).cast("double") * 0.1).alias("confidence"),
        F.array().cast("array<string>").alias("synonyms"),
        F.concat(F.lit("D"), (k % 9).cast("string")).alias("first_seen_document"),
        (k % 5).cast("long").alias("total_mentions"),
        F.array(F.concat(F.lit("D"), (k % 9).cast("string"))).alias("supporting_documents"),
    )
    j = F.col("j")
    kb = (
        part.select((k % 40).alias("j"))
        .distinct()
        .filter(j < 20)
        .select(
            F.concat(F.lit("KB:"), j.cast("string")).alias("canonical_id"),
            F.concat(F.lit("name "), j.cast("string")).alias("name"),
            F.array().cast("array<string>").alias("synonyms"),
            F.when(j % 2 == 0, F.lit("gene")).otherwise(F.lit("disease")).alias("entity_type"),
        )
    )
    triples = part.select(
        F.concat(F.lit("prov-p"), (k % 200 + 1).cast("string")).alias("subject_id"),
        F.element_at(
            F.array(F.lit("treats"), F.lit("indicates"), F.lit("associated_with")),
            (k % 3 + 1).cast("int"),
        ).alias("predicate"),
        F.concat(F.lit("prov-p"), ((k * 7) % 200 + 1).cast("string")).alias("object_id"),
        (F.lit(0.5) + (k % 5).cast("double") * 0.1).alias("confidence"),
        F.array(
            F.concat(F.lit("D"), (k % 9).cast("string")),
            F.concat(F.lit("D"), (k % 11).cast("string")),
        ).alias("source_documents"),
        (k % 3 + 1).cast("long").alias("evidence_count"),
    )
    _, tri2, _ = promote_and_rewrite(entities, triples, kb)
    return tri2.select(
        "subject_id",
        "predicate",
        "object_id",
        F.round("confidence", 4).alias("confidence"),
        "evidence_count",
        F.size("source_documents").alias("n_sources"),
    )


def q_a2_json_parse(spark, sf_dir):
    """A2 paper-JSON parse (sources.paper_spans — reference JSON Paper
    ingestion, kgraph/extract.py section walk): abstract first then section
    texts, empty texts dropped, offset re-numbered over the kept texts,
    zero-span papers dropped entirely (planted: every 15th key has a null
    abstract AND two empty sections)."""
    from kgraph_spark.sources.documents import paper_spans

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = k.cast("string")
    sec = lambda name, text: F.struct(F.lit(name).alias("name"), text.alias("text"))
    raw = part.select(
        F.concat(F.lit("P"), s).alias("paper_id"),
        F.when(k % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("abstract "), s))
        .alias("abstract"),
        F.array(
            sec("intro", F.when(k % 3 == 0, F.lit("")).otherwise(F.concat(F.lit("sec one "), s))),
            sec("methods", F.when(k % 5 == 0, F.lit("")).otherwise(F.concat(F.lit("sec two "), (k % 7).cast("string")))),
        ).alias("sections"),
    )
    return paper_spans(raw).select(
        "doc_id", F.posexplode("spans").alias("span_idx", "sp")
    ).select(
        "doc_id",
        "span_idx",
        F.col("sp.kind").alias("kind"),
        F.col("sp.text").alias("text"),
        F.col("sp.offset").alias("offset"),
    )


def q_d13_identity_merge(spark, sf_dir):
    """D13 identity server, batch restatement (identity.synonym_sweep +
    merge_identities — reference kgschema/identity.py:31-194: the ABC's own
    note that 'a batch sweep is equivalent to replaying on_entity_added for
    every entity in the store'): a 30-entity store where entity g's synonym
    bridges to g+1's name whenever g%5<2, producing chained components
    {5m, 5m+1, 5m+2} plus singletons; every 4th id is authoritative
    (MeSH:). Survivor per component = authoritative first, else smallest
    id; losers become status='merged' tombstones pointing at the survivor
    — the closed-form component structure lets DuckDB restate the CC result
    without recursion."""
    from kgraph_spark.operators.identity import merge_identities, synonym_sweep

    part = _read(spark, sf_dir, "part")
    g = F.col("g")
    base = part.select((F.col("p_partkey") % 30).alias("g")).distinct()
    ents = base.select(
        F.when(g % 4 == 0, F.concat(F.lit("MeSH:D"), g.cast("string")))
        .otherwise(F.concat(F.lit("prov-"), F.lpad(g.cast("string"), 2, "0")))
        .alias("entity_id"),
        F.concat(F.lit("drug "), g.cast("string")).alias("name"),
        F.when(g % 5 < 2, F.array(F.concat(F.lit("drug "), (g + 1).cast("string"))))
        .otherwise(F.array().cast("array<string>"))
        .alias("synonyms"),
        F.lit("drug").alias("entity_type"),
        F.when(g % 4 == 0, F.lit("canonical")).otherwise(F.lit("provisional")).alias("status"),
    )
    merged, _ = merge_identities(ents, synonym_sweep(ents))
    return merged.select("entity_id", "name", "status", "merged_into")


def q_h4_edge_lookup(spark, sf_dir):
    """H4 edge lookups (reference memory.py:424-472): get_by_subject /
    get_by_object / find_by_triple probes over a triple table derived from
    lineitem. Probe keys are the minimum order/part keys — computed as
    bounded 1-row aggregates here and scalar subqueries in the oracle.
    With the bucketed writer (export.write_bucketed_triples) the subject
    probe is a pruned single-bucket scan (plan-evidenced in PLANS.md)."""
    from kgraph_spark.operators.graph import find_by_triple, get_by_object, get_by_subject

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
        F.lit("contains").alias("predicate"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
        F.col("l_quantity").cast("double").alias("qty"),
    )
    min_o, min_p = li.agg(F.min("l_orderkey"), F.min("l_partkey")).first()
    s_key, o_key = f"O{min_o}", f"P{min_p}"
    min_obj = (
        get_by_subject(edges, s_key).agg(F.min("object_id")).first()[0]
    )
    return (
        get_by_subject(edges, s_key).withColumn("probe", F.lit("subject"))
        .unionByName(get_by_object(edges, o_key).withColumn("probe", F.lit("object")))
        .unionByName(
            find_by_triple(edges, s_key, "contains", min_obj).withColumn(
                "probe", F.lit("triple")
            )
        )
    )


def q_curation_pack(spark, sf_dir):
    """Sequence packing: documents → fixed-budget (4096-char) training
    shards per lang via the two-phase distributed prefix sum. The oracle
    restates it as one window cumsum — the equivalence IS the test that
    the distributed scan is exact."""
    from kgraph_spark.operators.corpus_curation import pack_sequences

    return pack_sequences(_read(spark, sf_dir, "documents"), budget=4096)


def q_curation_keep_best(spark, sf_dir):
    """Near-dup cluster keep-best election: MinHash+LSH candidates (md5
    signature variant so the oracle recomputes them) thresholded at
    est_jaccard >= 0.5 → connected components → per-cluster keeper by
    (n_chars DESC, doc_id ASC). One row per document with its keep
    decision; the DuckDB oracle restates the CC with a recursive CTE."""
    from kgraph_spark.operators.corpus_curation import near_dup_keep_best
    from kgraph_spark.operators.dedup_text import lsh_candidate_pairs, minhash_signatures, shingles

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sigs = minhash_signatures(shingles(docs, k=3, dedupe=False), num_hashes=64, hash_fn="md5")
    pairs = lsh_candidate_pairs(sigs, bands=16, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    return near_dup_keep_best(docs, pairs)


def q_curation_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-lang keep rates decided by
    an md5 threshold on doc_id (engine-portable, reproducible, kept rows
    stay kept as the corpus grows). Map-only — no shuffle."""
    from kgraph_spark.operators.corpus_curation import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(
        docs, {"en": 0.5, "de": 0.25, "zh": 0.75}, default_rate=0.1
    ).select("doc_id", "lang", "source", "n_chars")


def q_curation_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with the benchmark set (doc_id % 7 == 0 plays the benchmark).
    Benchmark shingle set is broadcast; the corpus never shuffles."""
    from kgraph_spark.operators.corpus_curation import decontaminate

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return decontaminate(train, bench, k=5)


_FOOTER = "SHARED BOILERPLATE FOOTER - generated page"

# One source of truth for the PII regexes: the operator's own constants
# (chosen to mean the same thing under Java regex and RE2 — see
# corpus_curation.PII_PATTERNS).
from kgraph_spark.operators.corpus_curation import PII_PATTERNS as _PII_PATTERNS

_PII_EMAIL, _PII_IPV4, _PII_PHONE = (p for _, p, _ in _PII_PATTERNS)


def q_line_dedup(spark, sf_dir):
    """C4-style corpus-wide line-level dedup. A deterministic boilerplate
    footer line is appended to every document so cross-document duplicate
    lines exist by construction; each distinct line survives only at its
    min (doc_id, pos) occurrence and documents are reassembled. The oracle
    restates the winner election as a row_number window over line text."""
    from kgraph_spark.operators.corpus_curation import dedup_lines

    docs = _read(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit("\n" + _FOOTER))
    )
    return dedup_lines(docs)


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing: email/IPv4/phone redaction with per-kind counts.
    Deterministic PII is injected per doc_id so every pattern fires; the
    patterns are NFA/RE2-agnostic (greedy character classes only) so the
    DuckDB regexp oracle reproduces the redactions byte-for-byte."""
    from kgraph_spark.operators.corpus_curation import scrub_pii

    docs = _read(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-01"),
            (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit(" at 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 ok"),
        ),
    )
    return scrub_pii(docs)


def q_domain_mix(spark, sf_dir):
    """Token-budget domain mixing: per-lang keep rate = min(1,
    budget / lang_char_total) from a tiny broadcast agg, then the
    md5-threshold Bernoulli keep rule (float compare, no rounding —
    bit-identical in DuckDB)."""
    from kgraph_spark.operators.corpus_curation import domain_mix_sample

    docs = _read(spark, sf_dir, "documents")
    return domain_mix_sample(docs, budget=100_000).select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_text_normalize(spark, sf_dir):
    """Crawl-style normalization: C0 control strip (JVM) then Unicode NFC
    (Arrow pandas UDF). A decomposed accent (e + U+0301) and a BEL control
    char are injected per doc so both steps fire; DuckDB's nfc_normalize
    is the oracle's NFC reference."""
    from kgraph_spark.operators.corpus_curation import normalize_text

    docs = _read(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit(" cafe\u0301 bell\x07end"))
    )
    return normalize_text(docs)


def q_corpus_diff(spark, sf_dir):
    """Snapshot delta between two deterministic corpus versions (old =
    doc_id %5 != 0, new = %7 != 0 with %3 docs rewritten): one full-outer
    join of 16-byte content digests → added/removed/changed/unchanged."""
    from kgraph_spark.operators.corpus_curation import corpus_diff

    docs = _read(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def q_winnow_fingerprint(spark, sf_dir):
    """MOSS-style winnowing fingerprints (k=5 word-grams, window=4): the
    passage-level dedup primitive — map-only, zero shuffle, selections
    restated exactly in the DuckDB oracle via the md5 sortable-key trick."""
    from kgraph_spark.operators.dedup_text import winnow_fingerprints

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return winnow_fingerprints(docs, k=5, window=4)


def q_winnow_passages(spark, sf_dir):
    """Cross-document shared-passage pairs over winnowed fingerprints —
    detects copied passages inside otherwise-different documents, the case
    whole-document MinHash dilutes away. Inverted-index join on the 8-byte
    fp, df-capped, per-(doc,fp) deduped before pairing."""
    from kgraph_spark.operators.dedup_text import winnow_fingerprints, winnow_passage_pairs

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    fps = winnow_fingerprints(docs, k=5, window=4)
    return winnow_passage_pairs(fps, min_shared=2)


def q_semantic_sample(spark, sf_dir):
    """Cluster-stratified diversity sampling (SemDeDup-shape curation):
    IVF-cell assignment over the embedding column, then a deterministic
    md5-rank keep of ≤20 items per cell. Same restatable quantizer as
    ann_ivf_topk (centroids = 8 smallest vec_ids; kmeans_refine is the
    production codebook seam)."""
    from kgraph_spark.operators.corpus_curation import semantic_cluster_sample
    from kgraph_spark.operators.similarity import deterministic_centroids

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = deterministic_centroids(emb, 8)
    return semantic_cluster_sample(emb, cents, per_cell=20, salt="divsample")


def q_incremental_dedup(spark, sf_dir):
    """Daily-crawl-vs-history incremental dedup: Bloom sketch of the old
    corpus broadcast + map-only probe, exact broadcast-confirm on the
    maybe-old rows. The sketch is deliberately undersized here (2^15 bits,
    3 hashes → a few % FPR at sf0.01) so the false-positive confirm path
    does real work; the oracle is the exact NOT EXISTS — equality proves
    stage 2 removes every FP and stage 1 drops no true new row."""
    from kgraph_spark.operators.corpus_curation import incremental_dedup

    docs = _read(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return incremental_dedup(new, old, n_bits=1 << 15, n_hashes=3)


def q_kmeans_lloyd(spark, sf_dir):
    """One Lloyd iteration of the IVF codebook, oracle-backed end to end:
    deterministic init (8 smallest vec_ids) → assign → per-(cell,dim) mean
    ROUNDED to 6 decimals JVM-side (pins the codebook against summation-
    order ulp drift) → re-assign under the refined centroids. The DuckDB
    oracle recomputes the identical iteration (generate_subscripts means,
    list(ORDER BY pos), coalesce for empty cells)."""
    from kgraph_spark.operators.similarity import (
        assign_cells,
        deterministic_centroids,
        kmeans_refine,
    )

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    c0 = deterministic_centroids(emb, 8)
    c1 = kmeans_refine(emb, c0, iters=1, round_to=6)
    return assign_cells(emb, c1).select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    )


def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN (the third leg of the LSH/IVF/PQ triad):
    deterministic codebooks (subvectors of the 16 smallest vec_ids, 8
    subspaces × width 8), map-only encode to an 8-int code, ADC top-10 per
    probe. Every double — encode argmin, driver LUT, ADC sum — is a
    left-to-right IEEE chain the DuckDB oracle reproduces bit-for-bit."""
    from kgraph_spark.operators.similarity import pq_codebooks, pq_encode, pq_topk

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cbs = pq_codebooks(emb, m=8, k=16)
    codes = pq_encode(emb, cbs)
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = pq_topk(codes, probes, cbs, k=10)
    return out.select(
        "probe_id", "vec_id", F.round("adist", 6).alias("adist"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_incremental_near_dup(spark, sf_dir):
    """Fuzzy incremental dedup: each NEW document (doc_id %5 == 0) gets a
    verdict against the HISTORY (%5 != 0) — near_dup + deterministic best
    match (max est_jaccard, then smallest old id). Asymmetric LSH: every
    join streams the history against broadcast new-side data; est = n/64
    is an exact binary fraction, so the cross-engine compare is float-safe."""
    from kgraph_spark.operators.dedup_text import incremental_near_dup

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    out = incremental_near_dup(new, old, threshold=0.5, hash_fn="md5")
    return out.select(
        "doc_id", "near_dup", "matched_old",
        F.round("est_jaccard", 6).alias("est_jaccard"),
    )


def q_lm_perplexity(spark, sf_dir):
    """CCNet/Gopher-style LM quality scoring: build a Laplace-smoothed
    unigram log-prob model from the corpus (top-1000 vocab, deterministic
    tie-break), then score every document by mean negative log-prob
    (≈ log-perplexity). Model logps are pre-rounded to 6 decimals so the
    DuckDB restatement averages identical doubles."""
    from kgraph_spark.operators.text_analysis import (
        lm_quality_score,
        unigram_logprob_model,
    )

    docs = _read(spark, sf_dir, "documents")
    model, oov = unigram_logprob_model(docs, vocab_size=1000)
    return lm_quality_score(docs, model, oov)


def q_boilerplate_strip(spark, sf_dir):
    """Per-source boilerplate removal: lines shared by >= 3 distinct
    documents of one source are chrome and every occurrence is stripped
    (dedup_lines keeps first occurrence; this keeps none). The corpus has
    single-line texts, so the footers are synthesized deterministically in
    the query — same stance as pii_scrub's injected PII — giving each doc
    a per-source shared footer (stripped) and a unique uid line (kept)."""
    from kgraph_spark.operators.corpus_curation import strip_boilerplate

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.concat(F.lit("(c) "), F.col("source"), F.lit(" footer")),
            F.concat(F.lit("uid "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return strip_boilerplate(docs, min_docs=3)


def q_hot_ngrams(spark, sf_dir):
    """Hot-phrase mining: top-100 word 5-grams by occurrence count
    (count DESC, gram ASC — deterministic at the cut). Per-occurrence
    shingle rows (dedupe=False), one partial-agg shuffle, then a
    TakeOrderedAndProject top-k — never a full sort."""
    from kgraph_spark.operators.text_analysis import hot_ngrams

    return hot_ngrams(_read(spark, sf_dir, "documents"), k=5, top=100)


def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail: bucket every document into per-source
    perplexity terciles. Exact ntile semantics WITHOUT a per-source
    single-reducer window — the rank comes from pack_sequences' two-phase
    distributed prefix sum, the remainder rule is integer DIV arithmetic."""
    from kgraph_spark.operators.corpus_curation import quantile_buckets
    from kgraph_spark.operators.text_analysis import (
        lm_quality_score,
        unigram_logprob_model,
    )

    docs = _read(spark, sf_dir, "documents")
    model, oov = unigram_logprob_model(docs, vocab_size=1000)
    scored = lm_quality_score(docs, model, oov).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return quantile_buckets(scored, 3, "avg_neg_logp", group_col="source")


def q_gopher_rules(spark, sf_dir):
    """The published Gopher quality-filter rules (word count, mean word
    length, symbol ratio, alpha-word fraction, stop-word hits) and the
    composite keep flag — map-only JVM expressions, zero shuffle."""
    from kgraph_spark.operators.text_analysis import gopher_rules

    return gopher_rules(_read(spark, sf_dir, "documents"))


def q_c4_clean(spark, sf_dir):
    """The published C4 cleaning rules (terminal-punctuation + >=5-word
    lines, >=3 surviving lines, lorem-ipsum / curly-brace page poison) —
    line structure synthesized deterministically (single-line corpus, same
    stance as pii_scrub): three passing lines, one punct-less line, and a
    lorem-ipsum poison line on every 7th doc."""
    from kgraph_spark.operators.corpus_curation import c4_clean

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.col("text"), F.lit(".")),
            F.lit("another perfectly good sentence right here."),
            F.lit("yet another valid sentence appears here."),
            F.lit("no terminal punctuation here at all"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("lorem ipsum dolor sit amet."))
            .otherwise(F.lit("closing remarks of this document stand.")),
        ).alias("text"),
    )
    return c4_clean(docs)


def q_det_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle: exact global rank by
    (md5(doc_id || salt), doc_id) via the two-phase distributed prefix sum
    (pack_sequences with budget=1) — no corpus-wide single-reducer window.
    Oracle: one row_number window."""
    from kgraph_spark.operators.corpus_curation import deterministic_shuffle

    return deterministic_shuffle(_read(spark, sf_dir, "documents"), salt="epoch1")


def _li_edges(spark, sf_dir, part_mod: int | None = None):
    """Distinct directed O→P, O→S, P→S edges from lineitem — a graph with
    real triangles (every lineitem row closes an order-part-supplier one).
    `part_mod` keeps only rows with l_partkey % part_mod == 0 (a
    deterministic thinning some oracles need; see q_graph_triangles)."""
    li = _read(spark, sf_dir, "lineitem")
    if part_mod is not None:
        li = li.filter(F.col("l_partkey") % part_mod == 0)
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    return (
        li.select(o.alias("subject_id"), p.alias("object_id"))
        .union(li.select(o.alias("subject_id"), s.alias("object_id")))
        .union(li.select(p.alias("subject_id"), s.alias("object_id")))
        .distinct()
    )


def q_graph_degree(spark, sf_dir):
    """Degree table over the lineitem entity graph: one union + one
    partial-aggregated groupBy(node)."""
    from kgraph_spark.operators.graph_analytics import degree_table

    return degree_table(_li_edges(spark, sf_dir))


def q_graph_triangles(spark, sf_dir):
    """Per-node triangle counts via degree-ordered orientation (out-degree
    bounded by O(sqrt m) — wedge work survives hub nodes). Oracle: naive
    canonical a<b<c three-way self-join, same result set. The graph is the
    l_partkey%3==0 third of lineitem: the NAIVE oracle is quadratic in hub
    degree (92s in DuckDB on the full sf0.01 graph vs 9s for the oriented
    Spark plan on all of it) — thinned so the gate stays fast while the
    full-graph run remains the bench/scale evidence."""
    from kgraph_spark.operators.graph_analytics import triangle_counts

    return triangle_counts(_li_edges(spark, sf_dir, part_mod=3))


def _pr_edges(spark, sf_dir):
    """Directed C→N, S→N, N→R, R→N edges; the R→N back edges give every
    node an out-edge, so the dangling mass is exactly 0.0 in any engine."""
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    c = cust.select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("object_id"),
    )
    s = supp.select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("N"), F.col("s_nationkey").cast("string")).alias("object_id"),
    )
    nr = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("object_id"),
    )
    rn = nation.select(
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("object_id"),
    )
    return c.union(s).union(nr).union(rn)


def q_graph_pagerank(spark, sf_dir):
    """5-iteration damped PageRank over C→N, S→N, N→R, R→N (back edges make
    every node non-dangling, so the dangling term is exactly 0.0 in both
    engines). exact_fold: per-node incoming sums are ordered folds ==
    DuckDB list_sum(list(c ORDER BY src)); ranks re-rounded to 6 each round
    keep both engines on the identical fixed-point trajectory."""
    from kgraph_spark.operators.graph_analytics import pagerank

    return pagerank(_pr_edges(spark, sf_dir), iterations=5, damping=0.85, exact_fold=True)


PPR_SEEDS = ["C1", "C2", "C3"]


def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank (random walk with restart) from three seed
    customers over the C/S→N⇄R graph: teleport and r0 concentrate on the
    seeds; C/S nodes have no in-edges, so only the seeds and the N/R spine
    carry mass — the 'relevance around these entities' KG query."""
    from kgraph_spark.operators.graph_analytics import pagerank

    return pagerank(
        _pr_edges(spark, sf_dir), iterations=5, damping=0.85, exact_fold=True, seeds=PPR_SEEDS
    )


def q_graph_kcore(spark, sf_dir):
    """Partial k-core peel (k=4, 3 synchronous rounds as pure lineage)
    over the lineitem entity graph; integer-only arithmetic, oracle
    unrolls the identical 3 peels as CTEs. rounds=None (the convergent
    true k-core) is exercised in pytest."""
    from kgraph_spark.operators.graph_analytics import kcore

    return kcore(_li_edges(spark, sf_dir), k=4, rounds=3)


def q_quality_classifier(spark, sf_dir):
    """fastText-style linear quality gate: sigmoid over the quality_score
    feature vector, exact-binary weights, logit rounded to 6 before exp."""
    from kgraph_spark.operators.text_analysis import quality_classifier

    return quality_classifier(_read(spark, sf_dir, "documents"))


def q_tfidf_keywords(spark, sf_dir):
    """Top-5 keywords per doc by smoothed TF-IDF, (score DESC, token ASC)
    deterministic ranking."""
    from kgraph_spark.operators.relevance import tfidf_keywords

    return tfidf_keywords(_read(spark, sf_dir, "documents"), topn=5)


def q_graph_clustering(spark, sf_dir):
    """Local clustering coefficient per node (degree, triangle count,
    2T/(d(d-1))) over the thinned lineitem graph — same triangle machinery
    as graph_triangles plus one degree join."""
    from kgraph_spark.operators.graph_analytics import clustering_coefficient

    return clustering_coefficient(_li_edges(spark, sf_dir, part_mod=3))


def q_graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the bipartite order-part graph:
    non-adjacent pairs sharing ≥2 common neighbors, scored by
    Σ 1/ln(deg(common)). min_common=2 is the operative filter — the
    n_common=1 tail is ~320k pairs vs ~900 real candidates (docstring)."""
    from kgraph_spark.operators.graph_analytics import adamic_adar

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 3 == 0)
    edges = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
    ).distinct()
    return adamic_adar(edges, min_common=2)


def q_graph_sssp(spark, sf_dir):
    """Weighted shortest paths (3 Bellman-Ford relaxations) from the three
    lowest orders over the O→P (min quantity) / P→S (min discount) edge
    list. Every aggregate is a MIN, so the oracle needs no ordered folds —
    just the identical unrolled relaxations."""
    from kgraph_spark.operators.graph_analytics import shortest_paths

    li = _read(spark, sf_dir, "lineitem")
    op = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
        F.col("l_quantity").alias("w"),
    )
    ps = li.select(
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("object_id"),
        F.col("l_discount").alias("w"),
    )
    seeds = (
        li.select(F.col("l_orderkey").alias("k"))
        .distinct()
        .orderBy("k")
        .limit(3)
        .select(F.concat(F.lit("O"), F.col("k").cast("string")).alias("node"))
    )
    return shortest_paths(op.unionByName(ps), seeds, rounds=3, weight="w")


def q_graph_closure(spark, sf_dir):
    """Taxonomy transitive closure (min-hop, depth <= 4) by iterative
    doubling over a binary-tree is-a hierarchy on doc ids (child d → parent
    d//2). Integer arithmetic + min aggregation only; the oracle is a plain
    recursive CTE with a group-min."""
    from kgraph_spark.operators.graph_analytics import transitive_closure

    docs = _read(spark, sf_dir, "documents")
    e = docs.filter(F.col("doc_id") >= 2).select(
        F.col("doc_id").alias("subject_id"),
        F.floor(F.col("doc_id") / 2).cast("long").alias("object_id"),
    )
    return transitive_closure(e, max_depth=4)


def q_graph_harmonic(spark, sf_dir):
    """Seed-set harmonic centrality (5 landmark orders, 3 hops) over the
    thinned undirected lineitem entity graph. Distances stay integer hops
    through every BFS round; the single float expression (sum of
    count_h / h) is fixed-shape and round-6, so the oracle replays it
    exactly."""
    from kgraph_spark.operators.graph_analytics import harmonic_centrality

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 3 == 0)
    seeds = (
        li.select(F.col("l_orderkey").alias("k"))
        .distinct()
        .orderBy("k")
        .limit(5)
        .select(F.concat(F.lit("O"), F.col("k").cast("string")).alias("node"))
    )
    return harmonic_centrality(
        _li_edges(spark, sf_dir, part_mod=3), seeds, max_hops=3
    )


def q_graph_walks(spark, sf_dir):
    """Deterministic hash-guided walk sampling (node2vec p=q=1 with keyed
    md5 replacing the RNG): 2 walks × 5 steps from each of 12 seed nodes
    over a functional graph on doc ids (d → 2d+1 mod 500, d → 3d+2 mod
    500). Replay-identical across engines; the oracle precomputes the
    hash-argmin next-hop table and follows it with a recursive CTE."""
    from kgraph_spark.operators.graph_analytics import deterministic_walks

    docs = _read(spark, sf_dir, "documents")
    e = docs.select(
        F.col("doc_id").alias("subject_id"),
        ((F.col("doc_id") * 2 + 1) % 500).alias("object_id"),
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("subject_id"),
            ((F.col("doc_id") * 3 + 2) % 500).alias("object_id"),
        )
    )
    seeds = docs.filter(F.col("doc_id") < 12).select(F.col("doc_id").alias("node"))
    return deterministic_walks(e, seeds, walk_len=5, walks_per_seed=2)


def q_fuzzy_name_match(spark, sf_dir):
    """Typo-tolerant dictionary match via deletion-neighborhood blocking
    (edit distance <= 1, md5-hashed variant join keys — never a cross
    join): queries are part names with one deterministically-chosen char
    dropped. The oracle restates the SEMANTICS (best levenshtein <= 1
    match) with a plain quadratic join — the blocking is the Spark-side
    scale plan, not part of the contract."""
    from kgraph_spark.operators.resolve import fuzzy_name_join

    parts = _read(spark, sf_dir, "part")
    pos = (F.floor(F.col("p_partkey") / 10) % F.length("p_name")) + 1
    qsrc = parts.filter(F.col("p_partkey") % 10 == 0).select(
        F.col("p_partkey").alias("query_id"),
        F.concat(
            F.col("p_name").substr(F.lit(1), pos - 1),
            F.col("p_name").substr(pos + 1, F.length("p_name")),
        ).alias("query"),
    )
    return fuzzy_name_join(qsrc, parts.select(F.col("p_name").alias("name")))


def q_graph_lpa(spark, sf_dir):
    """Synchronous label-propagation communities (3 fixed rounds,
    majority label with min tie-break) over the thinned lineitem entity
    graph. Integer/string arithmetic only — the oracle unrolls the same
    rounds with a QUALIFY row_number() argmax."""
    from kgraph_spark.operators.graph_analytics import label_propagation

    return label_propagation(_li_edges(spark, sf_dir, part_mod=3), rounds=3)


def q_graph_hits(spark, sf_dir):
    """HITS hubs/authorities (3 rounds, L∞ normalization) over the
    C/S→N⇄R graph. Max-normalization keeps every global reduce
    order-independent; the per-node incoming sums are exact ordered folds
    (list_sum(... ORDER BY counterpart)) and every intermediate is
    round-6, so DuckDB replays the identical trajectory."""
    from kgraph_spark.operators.graph_analytics import hits

    return hits(_pr_edges(spark, sf_dir), iterations=3, exact_fold=True)


def q_evt_asof(spark, sf_dir):
    """As-of join: every click gains the user's latest purchase at or
    before it (one window shuffle, no pair blowup). Right side is
    pre-aggregated to one row per (user, instant) so the tie semantics
    match DuckDB's native ASOF JOIN oracle exactly."""
    from kgraph_spark.operators.temporal import asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 4).alias("purchase_value"))
    )
    out = asof_join(clicks, purchases, on=["user_id"], ts="ts")
    return out.select(
        "user_id",
        "event_id",
        "ts",
        F.col("ts_right").alias("last_purchase_ts"),
        F.col("purchase_value_right").alias("last_purchase_value"),
    )


def q_evt_range_join(spark, sf_dir):
    """Range join: events matched to 96 OVERLAPPING 90-minute promo
    windows starting each hour from the corpus' first event — overlapping
    intervals are exactly what a tumbling-window groupBy cannot express.
    Bucketized equi-join plan; result provably independent of the bucket
    size (integer-microsecond bucket keys + exact timestamp filter)."""
    from kgraph_spark.operators.temporal import range_join

    ev = _read(spark, sf_dir, "events")
    gmin = ev.agg(F.min("ts")).collect()[0][0]
    # intervals stay TIMESTAMP_NTZ (the events column type) via exact
    # integer interval arithmetic — no tz-dependent instant conversion
    base = F.lit(gmin).cast("timestamp_ntz")
    iv = spark.range(96).select(
        F.col("id").cast("long").alias("interval_id"),
        (base + F.expr("make_interval(0, 0, 0, 0, id, 0, 0)")).alias("start"),
        (base + F.expr("make_interval(0, 0, 0, 0, id, 90, 0)")).alias("end"),
    )
    out = range_join(ev.select("event_id", "ts"), iv, ts="ts")
    return out.select("interval_id", "event_id")


BM25_TERMS = ["join", "filter", "stream", "window"]

# BM25 restatement: every float literal is ::DOUBLE-cast so DuckDB runs
# IEEE double ops (its bare decimal literals are DECIMAL-typed and would
# fold 1.2+1.0 exactly, diverging from the Python/Spark doubles); idf and
# per-term scores rounded to 6, final sum to 4 — the repo float playbook.
# Module-level so the rrf_fusion oracle can reuse it as a subquery.
_BM25_ORACLE = """
            WITH tk AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                   t -> length(t) > 0) AS toks
                FROM documents
            ), lens AS (
                SELECT doc_id, len(toks) AS dl FROM tk
            ), st AS (
                SELECT count(*)::DOUBLE AS n, round(avg(dl), 6) AS avgdl FROM lens
            ), m AS (
                SELECT doc_id, token
                FROM (SELECT doc_id, unnest(toks) AS token FROM tk)
                WHERE token IN ('join', 'filter', 'stream', 'window')
            ), tf AS (
                SELECT doc_id, token, count(*) AS tf FROM m GROUP BY 1, 2
            ), idf AS (
                SELECT token,
                       round(ln(1.0::DOUBLE + ((SELECT n FROM st) - df + 0.5::DOUBLE)
                                / (df + 0.5::DOUBLE)), 6) AS idf
                FROM (SELECT token, count(*) AS df FROM tf GROUP BY 1)
            ), per AS (
                SELECT tf.doc_id,
                       round(idf.idf * (tf.tf * (1.2::DOUBLE + 1.0::DOUBLE))
                             / (tf.tf + 1.2::DOUBLE
                                * ((1.0::DOUBLE - 0.75::DOUBLE)
                                   + 0.75::DOUBLE * l.dl / (SELECT avgdl FROM st))), 6) AS s
                FROM tf JOIN idf USING (token) JOIN lens l ON tf.doc_id = l.doc_id
            )
            SELECT doc_id, count(*)::BIGINT AS n_matched, round(sum(s), 4) AS score
            FROM per GROUP BY 1
            ORDER BY score DESC, doc_id LIMIT 50
        """


def q_bm25_topk(spark, sf_dir):
    """BM25 top-50 for a 4-term query over documents. Model scalars (idf,
    avgdl) rounded to 6 before scoring; ties break on doc_id."""
    from kgraph_spark.operators.relevance import bm25_topk

    return bm25_topk(_read(spark, sf_dir, "documents"), BM25_TERMS, topk=50)


def q_dsir_weights(spark, sf_dir):
    """DSIR hashed-bigram importance weights: target = the ~1/16 md5-prefix
    sample of the corpus (stand-in for a curated exemplar set); raw = all
    documents. Bucketing is md5-prefix arithmetic; per-doc sums are
    position-ordered folds — both bit-identical across engines."""
    from kgraph_spark.operators.relevance import dsir_weights

    docs = _read(spark, sf_dir, "documents")
    target = docs.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0")
    return dsir_weights(docs, target, n_buckets=4096)


def q_graph_transitivity(spark, sf_dir):
    """Global transitivity (3·triangles / wedges) over the thinned lineitem
    entity graph: one broadcastable summary row; all-integer until the one
    final division (round-6)."""
    from kgraph_spark.operators.graph_analytics import global_transitivity

    return global_transitivity(_li_edges(spark, sf_dir, part_mod=3))


def q_graph_wl(spark, sf_dir):
    """Two rounds of Weisfeiler-Lehman color refinement: md5 structural-role
    labels, engine-portable by construction (degree init, sorted-neighbor
    concat, md5 — the oracle replays every label bit-for-bit)."""
    from kgraph_spark.operators.graph_analytics import wl_labels

    return wl_labels(_li_edges(spark, sf_dir, part_mod=3), rounds=2, pin_rounds=False)


def q_graph_butterflies(spark, sf_dir):
    """Butterfly (2×2 biclique) counts per order pair on the bipartite
    order↔part graph: co-occurrence redundancy — wedge self-join on the
    part key, exact integer C(c,2)."""
    from kgraph_spark.operators.graph_analytics import butterfly_counts

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey").cast("string")).alias("subject_id"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("object_id"),
    )
    return butterfly_counts(edges, min_common=2)


def q_graph_component_sizes(spark, sf_dir):
    """KG fragmentation profile: connected-component SIZE HISTOGRAM
    (component_size, n_components, n_nodes) over the degraded-D8 graph —
    one groupBy(component) + one groupBy(size) on top of the proven CC;
    the one-number view of how shattered the graph is (a merge regression
    moves mass from the giant component into the small-size rows)."""
    from kgraph_spark.operators.canonicalize import connected_components

    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    cid = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    nid = F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
    rid = F.concat(F.lit("R"), F.col("n_regionkey").cast("string"))
    e1 = cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey")).select(
        cid.alias("src"), nid.alias("dst")
    )
    e2 = nation.filter(F.col("n_regionkey") % 2 == 0).select(
        nid.alias("src"), rid.alias("dst")
    )
    comp = connected_components(e1.union(e2).distinct())
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    return sizes.groupBy(F.col("sz").alias("component_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum("sz").cast("long").alias("n_nodes"),
    )


def q_emb_diversity(spark, sf_dir):
    """Diversity audit of a small selected set (vec_id < 60) per label:
    exact fixed-point pairwise cosines, group-keyed C(k,2) pairing."""
    from kgraph_spark.operators.similarity import sample_diversity

    return sample_diversity(
        _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    )


def q_evt_interarrival(spark, sf_dir):
    """Per-user inter-arrival cadence profile: integer-µs gaps on one
    sorted exchange, exact lower median."""
    from kgraph_spark.operators.temporal import interarrival_stats

    return interarrival_stats(_read(spark, sf_dir, "events"))


def q_graph_modularity(spark, sf_dir):
    """Newman modularity of the region partition over the customer-nation
    -region graph — exact fixed-point community terms, gold-free merge-
    quality gate."""
    from kgraph_spark.operators.graph_analytics import modularity

    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    cid = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    nid = F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
    rid = F.concat(F.lit("R"), F.col("n_regionkey").cast("string"))
    edges = (
        cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(cid.alias("subject_id"), nid.alias("object_id"))
        .unionByName(nation.select(nid.alias("subject_id"), rid.alias("object_id")))
    )
    labels = (
        cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(cid.alias("node"), rid.alias("label"))
        .unionByName(nation.select(nid.alias("node"), rid.alias("label")))
        .unionByName(nation.select(rid.alias("node"), rid.alias("label")).distinct())
    )
    return modularity(edges, labels)


def q_graph_ball(spark, sf_dir):
    """Exact 1/2-hop neighborhood sizes over the thinned lineitem graph —
    the ANF head with the degree-cap recall contract."""
    from kgraph_spark.operators.graph_analytics import neighborhood_sizes

    return neighborhood_sizes(_li_edges(spark, sf_dir, part_mod=3), max_node_degree=1000)


def q_scd2_lookup(spark, sf_dir):
    """Fact-to-type-2-dimension event-time join: every event enriched with
    the SCD2 version valid at its timestamp (key-hash join + interval
    residual; pre-first-version and unknown keys keep NULLs)."""
    from kgraph_spark.operators.temporal import scd2_build, scd2_lookup

    ev = _read(spark, sf_dir, "events")
    dim = scd2_build(ev.select("user_id", "ts", "event_type"))
    return scd2_lookup(ev.select("event_id", "ts", "user_id", "value"), dim)


def q_evt_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase credited to the most recent
    view/click on one (user, ts, id)-sorted window — no self-join."""
    from kgraph_spark.operators.event_analytics import conversion_attribution

    return conversion_attribution(
        _read(spark, sf_dir, "events"),
        touch_types=("view", "click"),
        conversion_type="purchase",
        model="last",
    )


def q_dq_fd(spark, sf_dir):
    """Functional-dependency audit: the orders PK (holds) and the
    documents lang→source pair (violates) in one labeled report."""
    from kgraph_spark.operators.profiling import fd_violations

    a = fd_violations(_read(spark, sf_dir, "orders"), "o_orderkey", "o_custkey").select(
        F.lit("orders_pk").alias("check"), "*"
    )
    b = fd_violations(_read(spark, sf_dir, "documents"), "lang", "source").select(
        F.lit("docs_lang_source").alias("check"), "*"
    )
    return a.unionByName(b)


def q_reading_ease(spark, sf_dir):
    """Flesch reading ease per document — JVM regex marker-trick counts,
    one fixed IEEE expression, round-6."""
    from kgraph_spark.operators.text_analysis import reading_ease

    return reading_ease(_read(spark, sf_dir, "documents"))


def q_graph_alpha(spark, sf_dir):
    """Hill power-law α of the lineitem entity-graph degree tail (d≥3):
    round-6 fixed-point ln terms, one exact division."""
    from kgraph_spark.operators.graph_analytics import degree_powerlaw_alpha

    return degree_powerlaw_alpha(_li_edges(spark, sf_dir), d_min=3)


def q_evt_psi(spark, sf_dir):
    """PSI drift between first-half-month and second-half-month event
    values: reference-derived equi-width bins, Laplace smoothing,
    fixed-point ln terms."""
    from kgraph_spark.operators.profiling import psi_drift

    ev = _read(spark, sf_dir, "events")
    ref = ev.filter(F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    cur = ev.filter(F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
    return psi_drift(ref, cur, "value", n_bins=10)


def q_predicate_composition(spark, sf_dir):
    """2-hop metapath census of the lineitem KG (which predicates
    compose, how many paths/mid-nodes) with the degree-cap recall
    contract exercised."""
    from kgraph_spark.operators.relationships import predicate_composition

    li = _read(spark, sf_dir, "lineitem")
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    t = (
        li.select(o.alias("subject_id"), F.lit("contains").alias("predicate"), p.alias("object_id"))
        .union(li.select(o.alias("subject_id"), F.lit("supplied_by").alias("predicate"), s.alias("object_id")))
        .union(li.select(p.alias("subject_id"), F.lit("from").alias("predicate"), s.alias("object_id")))
    )
    return predicate_composition(t, max_node_degree=1000)


def q_prefix_jaccard(spark, sf_dir):
    """PPJoin prefix-filtered exact Jaccard pairs (recall-lossless by the
    prefix-filter theorem — pytest proves set equality with the uncapped
    join; the oracle restates the full join, which the theorem makes the
    same answer)."""
    from kgraph_spark.operators.dedup_text import prefix_filter_pairs, shingles

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return prefix_filter_pairs(shingles(docs, k=1), t_num=1, t_den=2)


def q_evt_key_skew(spark, sf_dir):
    """Join-key skew diagnostic over events.user_id: exact Lorenz/Gini
    arithmetic on the key-cardinality table — the pre-shuffle salting
    decision, measured."""
    from kgraph_spark.operators.profiling import key_skew

    return key_skew(_read(spark, sf_dir, "events"), "user_id", top_n=10)


def q_hll_by_group(spark, sf_dir):
    """Per-event-type distinct users via grouped HLL (≤256 register rows
    per group at ANY size), exact distinct joined alongside as the audit."""
    from kgraph_spark.operators.sketches import hll_estimate_grouped, hll_sketch_grouped

    ev = _read(spark, sf_dir, "events")
    est = hll_estimate_grouped(hll_sketch_grouped(ev, "user_id", "event_type"), p=8)
    exact = ev.groupBy(F.col("event_type").alias("group")).agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "group")


def q_predicate_profile(spark, sf_dir):
    """Schema profile of the lineitem KG: contains / supplied_by / from
    predicates — functionality ratios + key-likeness flags, the merge-
    safety precondition measured instead of assumed."""
    from kgraph_spark.operators.relationships import predicate_profile

    li = _read(spark, sf_dir, "lineitem")
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    t = (
        li.select(o.alias("subject_id"), F.lit("contains").alias("predicate"), p.alias("object_id"))
        .union(li.select(o.alias("subject_id"), F.lit("supplied_by").alias("predicate"), s.alias("object_id")))
        .union(li.select(p.alias("subject_id"), F.lit("from").alias("predicate"), s.alias("object_id")))
    )
    return predicate_profile(t)


def q_random_projection(spark, sf_dir):
    """JL sign projection of the 64-dim embeddings to 8 dims, flat
    (id, pos, value) rows: quantized-integer dots, one division — the
    oracle rebuilds the md5-parity sign matrix and matches bit-for-bit."""
    from kgraph_spark.operators.similarity import random_projection

    return random_projection(_read(spark, sf_dir, "embeddings"), out_dim=8)


def q_span_seq_dedup(spark, sf_dir):
    """Exact dedup of interleaved docs under span-sequence EQUALITY (the
    north-rule per-row contract as a 16-byte hash groupBy): serialization
    is (kind, text, media_ref) with unit/record separators, md5-hashed
    map-side; min-id keeper per group."""
    from kgraph_spark.operators.interleave import interleaved_exact_dedup

    return interleaved_exact_dedup(
        _docs_to_interleaved_spans(_read(spark, sf_dir, "documents"))
    )


def q_multimodal_pack(spark, sf_dir):
    """Interleaved training-sample packing: per-doc token budget (text =
    1+len div 4, media = 256/span) via a map-only fold, then linear
    packing into 2048-token bins through layout.compaction_plan — bins
    never split a document."""
    from kgraph_spark.operators.interleave import multimodal_token_cost
    from kgraph_spark.operators.layout import compaction_plan

    cost = multimodal_token_cost(
        _docs_to_interleaved_spans(_read(spark, sf_dir, "documents"))
    )
    packed = compaction_plan(
        cost.select(
            F.col("doc_id").cast("string").alias("path"),
            F.col("doc_tokens").alias("size_bytes"),
        ),
        target_bytes=2048,
    )
    return packed.select(
        F.col("path").alias("doc_id"),
        F.col("size_bytes").alias("doc_tokens"),
        "bin",
        F.col("n_files_in_bin").alias("n_docs_in_bin"),
        F.col("bin_bytes").alias("bin_tokens"),
    )


def q_mmr_topk(spark, sf_dir):
    """MMR diversified top-3 per label over the embeddings table: probe =
    the label's min-vec_id vector; λ=7/10 rational, fixed-point cosines,
    min-of-struct argmax per unrolled round."""
    from kgraph_spark.operators.relevance import mmr_topk

    emb = _read(spark, sf_dir, "embeddings")
    probes = emb.groupBy(F.col("label").alias("_pl")).agg(
        F.min("vec_id").alias("_pid")
    )
    probe_vecs = emb.join(
        probes, (F.col("label") == F.col("_pl")) & (F.col("vec_id") == F.col("_pid"))
    ).select("label", "embedding")
    return mmr_topk(emb, probe_vecs, k=3)


def q_kg_asof(spark, sf_dir):
    """KG time travel: the user→event_type edge set as it stood on
    Jan 20 — last change at-or-before the cut wins per triple (max_by on
    (ts, event_id)), deletes (every 7th event) drop the triple."""
    import datetime as dt

    from kgraph_spark.operators.relationships import triple_snapshot_asof

    ev = _read(spark, sf_dir, "events")
    log = ev.select(
        F.concat(F.lit("U"), F.col("user_id").cast("string")).alias("subject_id"),
        F.lit("did").alias("predicate"),
        F.concat(F.lit("E"), F.col("event_type")).alias("object_id"),
        F.col("ts"),
        F.when(F.col("event_id") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.round(F.col("value"), 6).alias("confidence"),
        F.col("event_id"),
    )
    return triple_snapshot_asof(
        log, dt.datetime(2024, 1, 20), seq_col="event_id"
    ).drop("event_id")


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning: documents stand in as the file
    manifest (id=doc_id, size=n_chars); linear packing, exact integers."""
    from kgraph_spark.operators.layout import compaction_plan

    files = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("path"),
        F.col("n_chars").alias("size_bytes"),
    )
    return compaction_plan(files, target_bytes=20000)


def q_evt_cusum(spark, sf_dir):
    """Per-user CUSUM drift summary over the events stream: the Page
    detector restated as two running windows on one sorted exchange,
    round-6 fixed-point throughout."""
    from kgraph_spark.operators.event_analytics import cusum_changepoints

    return cusum_changepoints(_read(spark, sf_dir, "events"), kappa=0.25, h=3.0)


def q_curation_pps(spark, sf_dir):
    """Deterministic systematic PPS sample of the documents table weighted
    by n_chars: md5-ordered weight line, integer stride hits, Σ n_hits = n."""
    from kgraph_spark.operators.corpus_curation import pps_systematic_sample

    return pps_systematic_sample(_read(spark, sf_dir, "documents"), "n_chars", n=50)


def q_text_entropy(spark, sf_dir):
    """Per-document unigram entropy in bits — fixed-point long term sums
    (the adamic_adar precedent for log-derived weights)."""
    from kgraph_spark.operators.text_analysis import token_entropy

    return token_entropy(_read(spark, sf_dir, "documents"))


def q_zipf_slope(spark, sf_dir):
    """Corpus Zipf profile: OLS slope/intercept of log10(freq) vs
    log10(rank) over the top-500 terms, exact fixed-point moment sums."""
    from kgraph_spark.operators.text_analysis import zipf_slope

    return zipf_slope(_read(spark, sf_dir, "documents"), top_n=500)


def q_d8_bcubed(spark, sf_dir):
    """B³ (per-item) P/R/F1 of the same degraded-D8 clustering the pairwise
    gate scores (d8_cluster_metrics): item-weighted, so the per-nation
    splits cost recall in proportion to customers affected, not pairs.
    Fixed-point longs end-to-end; oracle re-derives the identical sums."""
    from kgraph_spark.operators.canonicalize import connected_components
    from kgraph_spark.operators.eval_metrics import bcubed_metrics

    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    cid = F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
    nid = F.concat(F.lit("N"), F.col("n_nationkey").cast("string"))
    rid = F.concat(F.lit("R"), F.col("n_regionkey").cast("string"))
    e1 = cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey")).select(
        cid.alias("src"), nid.alias("dst")
    )
    e2 = nation.filter(F.col("n_regionkey") % 2 == 0).select(
        nid.alias("src"), rid.alias("dst")
    )
    pred = connected_components(e1.union(e2).distinct()).select(
        F.col("id").alias("item_id"), F.col("component").alias("pred_cluster")
    )
    gold = (
        cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(cid.alias("item_id"), rid.alias("gold_cluster"))
        .unionByName(nation.select(nid.alias("item_id"), rid.alias("gold_cluster")))
        .unionByName(
            nation.select(rid.alias("item_id"), rid.alias("gold_cluster")).distinct()
        )
    )
    return bcubed_metrics(pred, gold)


def q_bloom_prune(spark, sf_dir):
    """Map-side Bloom join pruning: a 1-row 64Ki-bit filter built from the
    URGENT orders is broadcast onto the lineitem scan; only passing keys
    survive (members always do, plus the documented false-positive tail,
    audited by is_member). The fact table never shuffles to learn
    membership — the scale point of the operator."""
    from kgraph_spark.operators.sketches import bloom_build, bloom_prune

    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    members = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").cast("string").alias("orderkey")
    )
    bloom = bloom_build(members, "orderkey", m=65536, k=3)
    pruned = bloom_prune(
        li.select(F.col("l_orderkey").cast("string").alias("orderkey")),
        "orderkey",
        bloom,
        verify_against=members,
    )
    return pruned.groupBy("orderkey", "is_member").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


def q_stat_pearson(spark, sf_dir):
    """Pearson correlation of lineitem quantity vs extended price — the
    feature-sanity gate (price should co-move with quantity): exact
    wide-integer moments, one sqrt-combination, round 6."""
    from kgraph_spark.operators.stats import pearson_corr

    li = _read(spark, sf_dir, "lineitem")
    return pearson_corr(li, "l_quantity", "l_extendedprice", x_scale=1, y_scale=100)


def q_stat_spearman(spark, sf_dir):
    """Spearman rank correlation of part size vs retail price — the
    monotone-association twin (robust to the nonlinear price curve):
    doubled midranks on the distinct-value grid, then the Pearson
    machinery."""
    from kgraph_spark.operators.stats import spearman_corr

    return spearman_corr(
        _read(spark, sf_dir, "part"), "p_size", "p_retailprice", x_scale=1, y_scale=100
    )


def q_stat_ks_drift(spark, sf_dir):
    """Two-sample KS distance between click-event and purchase-event
    value distributions — the binning-free drift gate (PSI's
    complement): integer cumulative-count cross-products, ONE division."""
    from kgraph_spark.operators.stats import ks_2sample

    ev = _read(spark, sf_dir, "events")
    return ks_2sample(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )


def q_stat_mwu(spark, sf_dir):
    """Mann-Whitney U between view-event and error-event values — the
    nonparametric did-the-filter-shift-anything gate with tie-corrected
    z and the common-language AUC effect size."""
    from kgraph_spark.operators.stats import mann_whitney_u

    ev = _read(spark, sf_dir, "events")
    return mann_whitney_u(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "error"),
        "value",
    )


def q_stat_ols_trend(spark, sf_dir):
    """Per-user least-squares value trend over event time (epoch
    seconds) — the metric-drift fit: x centered on each user's first
    event (exact integer shift) so epoch-scale moments stay exact."""
    from kgraph_spark.operators.stats import ols_trend

    ev = _read(spark, sf_dir, "events").withColumn(
        "x_sec",
        # parquet stores NTZ; session tz is UTC — floor-µs ≡ epoch_us//1e6
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000"),
    )
    return ols_trend(ev, "x_sec", "value", "user_id")


def q_stat_chi2(spark, sf_dir):
    """Chi-squared independence of document language × ingestion source
    (+ Cramér's V) — the stratification-sanity gate before per-source
    quality comparisons: fixed-point micro terms summed exactly."""
    from kgraph_spark.operators.stats import chi2_independence

    return chi2_independence(_read(spark, sf_dir, "documents"), "lang", "source")


def q_er_soundex_blocks(spark, sf_dir):
    """Phonetic (Soundex) blocking census over the part-name + document
    vocabulary — the misspelling-tolerant ER blocking dimension
    (rod/red → R300): pure expression chain, no UDF."""
    from kgraph_spark.operators.phonetic import phonetic_blocks

    part = _read(spark, sf_dir, "part").select(F.col("p_name").alias("text"))
    docs = _read(spark, sf_dir, "documents").select("text")
    return phonetic_blocks(part.unionByName(docs), "text")


def q_stat_anova(spark, sf_dir):
    """One-way ANOVA F of event value across event types — the
    do-these-strata-share-a-mean gate: per-group exact moments,
    fixed-point between-group terms, two hash aggregates."""
    from kgraph_spark.operators.stats import anova_f

    return anova_f(_read(spark, sf_dir, "events"), "value", "event_type")


def q_stat_prop_ztest(spark, sf_dir):
    """Two-proportion z-test on error rate between even/odd user shards
    — the A/B conversion gate: exact integer counts, one sqrt."""
    from kgraph_spark.operators.stats import prop_ztest

    ev = _read(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    ).withColumn("is_err", F.col("event_type") == "error")
    return prop_ztest(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
        "is_err",
    )


def q_stat_cohens_d(spark, sf_dir):
    """Cohen's d between signup-event and click-event values — the
    effect-size companion: at corpus scale everything is 'significant',
    d says whether it matters."""
    from kgraph_spark.operators.stats import cohens_d

    ev = _read(spark, sf_dir, "events")
    return cohens_d(
        ev.filter(F.col("event_type") == "signup"),
        ev.filter(F.col("event_type") == "click"),
        "value",
    )


def q_evt_autocorr(spark, sf_dir):
    """Per-user lag-1 autocorrelation of event values — the
    is-this-series-sticky profile feeding the CUSUM/EMA parameter
    choice: one lead() window, then the grouped Pearson aggregate."""
    from kgraph_spark.operators.stats import pearson_corr

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", "value", F.lead("value").over(w).alias("value_next")
    )
    return pearson_corr(
        lagged, "value", "value_next", group_col="user_id",
        x_scale=1_000_000, y_scale=1_000_000,
    )


def q_stat_gini(spark, sf_dir):
    """Gini concentration of per-user event counts per event type — the
    inequality gate for "does one user own this event stream": exact
    sorted-rank identity, wide-integer sums, ONE round-6 division."""
    from kgraph_spark.operators.stats import gini_coefficient

    cu = (
        _read(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return gini_coefficient(cu, "cnt", group_col="event_type")


def _evt_int_xy(spark, sf_dir, mod: int = 11):
    """Deterministic event subsample (event_id % mod == 0) as all-integer
    (x = epoch seconds, y = round-4 fixed-point value) — the bounded-group
    feed both O(n²) robust statistics share."""
    ev = _read(spark, sf_dir, "events").filter(F.col("event_id") % mod == 0)
    return ev.select(
        "event_type",
        # parquet stores NTZ; session tz is UTC — floor-µs ≡ epoch_us//1e6
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("xs"),
        F.round(F.col("value") * 10000, 0).cast("long").alias("yv"),
    )


def q_stat_kendall_tau(spark, sf_dir):
    """Kendall tau-a of (event time, value) per event type on the
    deterministic %11 subsample — integer concordant/discordant pair
    counts, one division; the bounded-group pair join IS the
    distributed shape (see operator docstring)."""
    from kgraph_spark.operators.stats import kendall_tau

    return kendall_tau(_evt_int_xy(spark, sf_dir), "xs", "yv",
                       group_col="event_type")


def q_stat_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend (median pairwise slope) per event type on
    the same %11 subsample — every slope ONE IEEE division of exact
    integers, median an element (or exact mean of two), so the double
    compares bit-identically cross-engine with no rounding at all."""
    from kgraph_spark.operators.stats import theil_sen_slope

    return theil_sen_slope(_evt_int_xy(spark, sf_dir), "xs", "yv",
                           group_col="event_type")


def q_graph_reciprocity(spark, sf_dir):
    """Directed-edge reciprocity of the word-bigram graph per language —
    the extraction-direction drift gate (F6 family, corpus-wide): one
    flip-join of the distinct bigram set, integer counts, round-6."""
    from kgraph_spark.operators.graph_analytics import reciprocity

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    ).filter(F.size("t") >= 2)
    z = F.explode(
        F.arrays_zip(
            F.slice(F.col("t"), 1, F.size("t") - 1).alias("u"),
            F.slice(F.col("t"), 2, F.size("t") - 1).alias("v"),
        )
    ).alias("z")
    edges = toks.select("lang", z).select(
        "lang",
        F.col("z.u").alias("subject_id"),
        F.col("z.v").alias("object_id"),
    )
    return reciprocity(edges, group_col="lang")


def q_graph_rich_club(spark, sf_dir):
    """Rich-club coefficient sweep φ(k), k ∈ {1,2,4,8,16}, over the
    thinned lineitem graph — hub-core density audit; one pass over the
    edge list with the k-grid crossed in as a literal."""
    from kgraph_spark.operators.graph_analytics import rich_club

    return rich_club(_li_edges(spark, sf_dir, part_mod=3), k_grid=[1, 2, 4, 8, 16])


def _kg_synth_triples(spark, sf_dir):
    """Synthetic typed KG over the TPC-H tables (located_in / placed_by /
    contains / supplied_by) — the fixture for schema induction and SHACL
    validation; every edge is a real FK so the graph has honest shape."""

    def _id(pfx, col):
        return F.concat(F.lit(pfx), F.col(col).cast("string"))

    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    t1 = cust.select(
        _id("C", "c_custkey").alias("subject_id"),
        F.lit("located_in").alias("predicate"),
        _id("N", "c_nationkey").alias("object_id"),
    )
    t2 = supp.select(
        _id("S", "s_suppkey").alias("subject_id"),
        F.lit("located_in").alias("predicate"),
        _id("N", "s_nationkey").alias("object_id"),
    )
    t3 = orders.select(
        _id("O", "o_orderkey").alias("subject_id"),
        F.lit("placed_by").alias("predicate"),
        _id("C", "o_custkey").alias("object_id"),
    )
    t4 = li.select(
        _id("O", "l_orderkey").alias("subject_id"),
        F.lit("contains").alias("predicate"),
        _id("P", "l_partkey").alias("object_id"),
    ).distinct()
    t5 = li.select(
        _id("P", "l_partkey").alias("subject_id"),
        F.lit("supplied_by").alias("predicate"),
        _id("S", "l_suppkey").alias("object_id"),
    ).distinct()
    return t1.unionByName(t2).unionByName(t3).unionByName(t4).unionByName(t5)


def _kg_entity_types(spark, sf_dir):
    """Partial type table for the synthetic KG: every key ≡ 0 (mod 3) is
    deliberately untyped — the residue type inference must recover."""

    def _typed(tbl, key, pfx, tname, all_typed=False):
        df = _read(spark, sf_dir, tbl)
        if not all_typed:
            df = df.filter(F.col(key) % 3 != 0)
        return df.select(
            F.concat(F.lit(pfx), F.col(key).cast("string")).alias("entity_id"),
            F.lit(tname).alias("type"),
        )

    return (
        _typed("customer", "c_custkey", "C", "Customer")
        .unionByName(_typed("supplier", "s_suppkey", "S", "Supplier"))
        .unionByName(_typed("nation", "n_nationkey", "N", "Nation", all_typed=True))
        .unionByName(_typed("part", "p_partkey", "P", "Part"))
        .unionByName(_typed("orders", "o_orderkey", "O", "Order"))
    )


def q_kg_type_inference(spark, sf_dir):
    """Schema-induction residue typing: predicate (position) signatures
    from the typed 2/3 of the KG vote types onto the untyped 1/3 —
    deterministic majority (count desc, type asc) both passes."""
    from kgraph_spark.operators.validation_extra import infer_entity_types

    return infer_entity_types(
        _kg_synth_triples(spark, sf_dir), _kg_entity_types(spark, sf_dir)
    )


def q_kg_shacl_report(spark, sf_dir):
    """SHACL-lite sweep over the synthetic KG: functional cardinality,
    required property, domain, range, and closed-object checks unioned
    into one violation table — every branch non-empty on this corpus."""
    from kgraph_spark.operators.validation_extra import shacl_report

    shapes = [
        {"kind": "max_count", "predicate": "contains", "max": 5},
        {"kind": "min_count", "predicate": "contains",
         "subject_type": "Order", "min": 1},
        {"kind": "domain", "predicate": "placed_by", "subject_type": "Order"},
        {"kind": "range", "predicate": "placed_by", "object_type": "Customer"},
        {"kind": "closed_object", "predicate": "supplied_by"},
    ]
    return shacl_report(
        _kg_synth_triples(spark, sf_dir), _kg_entity_types(spark, sf_dir), shapes
    )


def q_kg_pra_features(spark, sf_dir):
    """PRA link-prediction features over the thinned lineitem KG:
    length-2 metapath counts per (src, dst) pair, mid-hub capped at 50 —
    the per-pair feature matrix a completion ranker consumes."""
    from kgraph_spark.operators.relationships import pra_path_features

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 5 == 0)
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    t = li.select(
        o.alias("subject_id"), F.lit("contains").alias("predicate"), p.alias("object_id")
    ).union(
        li.select(p.alias("subject_id"), F.lit("from").alias("predicate"), s.alias("object_id"))
    )
    return pra_path_features(t, max_mid_degree=50)


def q_evt_seasonality(spark, sf_dir):
    """Hour-of-week load shape per event type with lift vs uniform —
    dow/hour from convention-free epoch arithmetic (0 = Monday)."""
    from kgraph_spark.operators.event_analytics import seasonality_profile

    return seasonality_profile(_read(spark, sf_dir, "events"))


def q_evt_rfm(spark, sf_dir):
    """RFM quintile banding per user (recency anchored on the corpus max
    timestamp, monetary as round-4 fixed-point, rank-derived bands with
    total (metric, user_id) tie order — never engine-luck ntile)."""
    from kgraph_spark.operators.event_analytics import rfm_scores

    return rfm_scores(_read(spark, sf_dir, "events"))


def q_graph_bowtie(spark, sf_dir):
    """Broder bow-tie decomposition (CORE/IN/OUT/OTHER around the largest
    SCC) of a deterministic functional digraph on doc ids — the directed
    macro-shape audit; oracle recomputes reachability by recursive CTE."""
    from kgraph_spark.operators.graph_analytics import bowtie_classification

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    e = docs.select(
        F.col("doc_id").alias("subject_id"),
        ((F.col("doc_id") * 2 + 1) % 200).alias("object_id"),
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("subject_id"),
            ((F.col("doc_id") * 7 + 3) % 200).alias("object_id"),
        )
    )
    return bowtie_classification(e)


def q_text_burstiness(spark, sf_dir):
    """Church–Gale term burstiness + corpus variance-to-mean ratio per
    token (zeros implicit in the closed form) — boilerplate-signature
    vs topic-anchor separation, exact integer sums."""
    from kgraph_spark.operators.text_analysis import term_burstiness

    return term_burstiness(_read(spark, sf_dir, "documents"), min_df=2)


def q_text_tvd_drift(spark, sf_dir):
    """Per-source unigram drift vs the REST of the corpus as total
    variation distance — exact wide-integer |cross-product| sums with
    the absent-word mass folded in closed form, ONE double division
    per source."""
    from kgraph_spark.operators.text_analysis import source_tvd_drift

    return source_tvd_drift(_read(spark, sf_dir, "documents"))


def q_stat_runs_test(spark, sf_dir):
    """Wald–Wolfowitz serial-randomness gate on event values per type:
    exact lower-median split on the cents grid, runs counted in
    event_id order, z from exact-long radicands."""
    from kgraph_spark.operators.stats import runs_test

    return runs_test(
        _read(spark, sf_dir, "events"), "value", "event_id", group_col="event_type"
    )


def q_stat_welch_t(spark, sf_dir):
    """Welch unequal-variance t-test: weekend vs weekday event value per
    type — exact (n, Σ, Σ²) moments on the cents grid, ONE double
    division per side, then a fixed IEEE t / Welch–Satterthwaite-df
    sequence both engines replay identically."""
    from kgraph_spark.operators.stats import welch_t

    e = _read(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.dayofweek("ts").isin(1, 7).alias("is_weekend"),
    )
    return welch_t(e, "value", "is_weekend", group_col="event_type")


def q_stat_brown_forsythe(spark, sf_dir):
    """Brown–Forsythe variance-homogeneity gate across event types —
    ANOVA-F over |value − group median| on the cents grid; exact lower
    medians, then the anova_f moment sequence verbatim."""
    from kgraph_spark.operators.stats import brown_forsythe

    return brown_forsythe(
        _read(spark, sf_dir, "events"), "value", "event_type", scale=100
    )


def q_stat_mann_kendall(spark, sf_dir):
    """Mann–Kendall trend z of (event time, value) per event type on the
    deterministic %11 subsample — S from time-ordered pairs, Var(S)
    with BOTH tie corrections on exact longs, fixed IEEE finish."""
    from kgraph_spark.operators.stats import mann_kendall

    return mann_kendall(
        _evt_int_xy(spark, sf_dir), "xs", "yv", group_col="event_type"
    )


def q_graph_triads(spark, sf_dir):
    """Directed triangle motif census (cyclic 3-cycles vs transitive
    shortcut triads) on a deterministic +1/+2/−3 circulant over doc ids
    — the hierarchy-vs-feedback motif signature; oracle re-enumerates
    both joins exactly."""
    from kgraph_spark.operators.graph_analytics import directed_triad_motifs

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    e = None
    for step in (1, 2, 47):
        part = docs.select(
            F.col("doc_id").alias("subject_id"),
            ((F.col("doc_id") + step) % 50).alias("object_id"),
        )
        e = part if e is None else e.unionByName(part)
    return directed_triad_motifs(e)


def q_kg_rdfs_entailment(spark, sf_dir):
    """RDFS-lite materialization over the synthetic KG: subproperty
    lift, domain/range typing, subclass closure — recovers every
    deliberately-untyped entity with rule provenance; schema closures
    broadcast, the instance side never shuffles before the final
    (entity, type) aggregate."""
    from kgraph_spark.operators.validation_extra import rdfs_entailment
    from kgraph_spark.session import local_frame

    subclass = local_frame(
        spark,
        [("Customer", "Party"), ("Supplier", "Party"),
         ("Party", "LegalEntity"), ("Part", "Product")],
        "child string, parent string",
    )
    subprop = local_frame(
        spark, [("supplied_by", "sourced_from")], "child string, parent string"
    )
    domains = local_frame(
        spark,
        [("placed_by", "Order"), ("located_in", "Party"),
         ("contains", "Order"), ("supplied_by", "Part"),
         ("sourced_from", "Product")],
        "predicate string, cls string",
    )
    ranges = local_frame(
        spark,
        [("placed_by", "Customer"), ("located_in", "Nation"),
         ("contains", "Part"), ("supplied_by", "Supplier"),
         ("sourced_from", "Organization")],
        "predicate string, cls string",
    )
    return rdfs_entailment(
        _kg_synth_triples(spark, sf_dir),
        _kg_entity_types(spark, sf_dir),
        subclass, subprop, domains, ranges,
    )


def q_kg_fact_fusion(spark, sf_dir):
    """Two-round truth discovery over three sources claiming customer
    nations (one clean, two with disjoint deterministic corruption) —
    accuracy-weighted round 2 overturns naive-majority ties exactly on
    the keys where both sloppy sources disagree (flipped=true rows)."""
    from kgraph_spark.operators.validation_extra import fact_fusion

    cust = _read(spark, sf_dir, "customer")
    nk = F.col("c_nationkey")

    def claim(src, okey):
        return cust.select(
            F.concat(F.lit("C"), F.col("c_custkey").cast("string"))
            .alias("subject_id"),
            F.lit("located_in").alias("predicate"),
            F.concat(F.lit("N"), okey.cast("string")).alias("object_id"),
            F.lit(src).alias("source"),
        )

    a = claim("src_a", nk)
    b = claim(
        "src_b",
        F.when(F.col("c_custkey") % 5 == 0, (nk + 1) % 25).otherwise(nk),
    )
    c = claim(
        "src_c",
        F.when(F.col("c_custkey") % 3 == 0, (nk + 2) % 25).otherwise(nk),
    )
    return fact_fusion(a.unionByName(b).unionByName(c))


def q_graph_eccentricity(spark, sf_dir):
    """4-hop eccentricity profile on a +1/+7 circulant over 60 doc ids
    — per-node longest-shortest-path and horizon size; k-radius/
    k-diameter derivable as min/max(ecc); oracle re-derives min
    distances with a depth-bounded recursive closure."""
    from kgraph_spark.operators.graph_analytics import eccentricity_profile

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    e = None
    for step in (1, 7):
        part = docs.select(
            F.col("doc_id").alias("subject_id"),
            ((F.col("doc_id") + step) % 60).alias("object_id"),
        )
        e = part if e is None else e.unionByName(part)
    return eccentricity_profile(e, max_depth=4)


def q_evt_median2p(spark, sf_dir):
    """Exact lower median of event value per type via the two-pass
    bucket walk (largest sort = one 1/1024 cell) — the oracle computes
    the same element with a plain ordered median, proving the two-scan
    path is bit-identical to the full sort."""
    from kgraph_spark.operators.profiling import two_pass_median

    return two_pass_median(
        _read(spark, sf_dir, "events"), "value", "event_type", scale=100
    )


def q_dq_inclusion(spark, sf_dir):
    """Inclusion-dependency discovery over nine TPC-H key columns —
    containment fractions and is_ind flags recover every true FK
    (o_custkey⊆c_custkey, l_partkey⊆p_partkey, ...) from values alone;
    one distinct per column + one value-keyed self-join."""
    from kgraph_spark.operators.profiling import inclusion_dependencies

    cols = [
        ("c_custkey", _read(spark, sf_dir, "customer").select("c_custkey")),
        ("o_custkey", _read(spark, sf_dir, "orders").select("o_custkey")),
        ("n_nationkey", _read(spark, sf_dir, "nation").select("n_nationkey")),
        ("c_nationkey", _read(spark, sf_dir, "customer").select("c_nationkey")),
        ("s_nationkey", _read(spark, sf_dir, "supplier").select("s_nationkey")),
        ("p_partkey", _read(spark, sf_dir, "part").select("p_partkey")),
        ("l_partkey", _read(spark, sf_dir, "lineitem").select("l_partkey")),
        ("s_suppkey", _read(spark, sf_dir, "supplier").select("s_suppkey")),
        ("l_suppkey", _read(spark, sf_dir, "lineitem").select("l_suppkey")),
    ]
    return inclusion_dependencies(cols)


def q_graph_efficiency(spark, sf_dir):
    """Bounded-horizon global efficiency of the +1/+7 doc circulant —
    mean 1/d over ordered pairs, unreached = 0; per-pair micro
    rounding once, exact sum, two-division finish."""
    from kgraph_spark.operators.graph_analytics import global_efficiency

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    e = None
    for step in (1, 7):
        part = docs.select(
            F.col("doc_id").alias("subject_id"),
            ((F.col("doc_id") + step) % 60).alias("object_id"),
        )
        e = part if e is None else e.unionByName(part)
    return global_efficiency(e, max_depth=4)


def q_stat_paired_t(spark, sf_dir):
    """Paired t on (value, previous value) within user, grouped by the
    current event's type — the within-subject drift gate; scale
    cancels, integer radicands, one fixed sqrt sequence."""
    from kgraph_spark.operators.stats import paired_t

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    q = _read(spark, sf_dir, "events").select(
        "event_type", "value", F.lag("value").over(w).alias("prev")
    )
    return paired_t(q, "value", "prev", group_col="event_type")


def q_er_cannot_link(spark, sf_dir):
    """Cannot-link audit of the nation clustering against consecutive-
    customer constraints — every constrained pair the clustering
    nevertheless merged, canonically ordered; constraint table
    broadcast twice, assignments never self-join."""
    from kgraph_spark.operators.canonicalize import cannot_link_violations

    cust = _read(spark, sf_dir, "customer")
    cid = lambda c: F.concat(F.lit("C"), c.cast("string"))  # noqa: E731
    asg = cust.select(
        cid(F.col("c_custkey")).alias("entity_id"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string"))
        .alias("cluster_id"),
    )
    cons = cust.filter(F.col("c_custkey") % 2 == 0).select(
        cid(F.col("c_custkey")).alias("id_a"),
        cid(F.col("c_custkey") + 1).alias("id_b"),
    )
    return cannot_link_violations(asg, cons)


def q_eval_lang_report(spark, sf_dir):
    """Per-class precision/recall/F1 of the lang-ID heuristic against
    the labeled lang column — the WHERE-does-it-fail companion to
    lang_kappa; exact counts, integer-identity F1."""
    from kgraph_spark.operators.eval_metrics import classification_report
    from kgraph_spark.operators.text_analysis import language_id_scores

    docs = _read(spark, sf_dir, "documents")
    labels = (
        language_id_scores(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(F.col("lang").alias("truth"), F.col("lang_guess").alias("pred"))
    )
    return classification_report(labels, "truth", "pred")


def q_emb_centroid_drift(spark, sf_dir):
    """Per-label centroid cosine between the two vec_id-parity halves of
    the embedding table — the encoder-drift monitor; fixed-point
    centroids, the proven cosine recipe, one row per label."""
    from kgraph_spark.operators.similarity import centroid_drift

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


def q_kg_literal_profile(spark, sf_dir):
    """Lexical datatype census over a literal-bearing order KG — every
    class branch lands on a different predicate (numeric price, ISO
    date, id-like FK, other status); deterministic dominant election,
    one division."""
    from kgraph_spark.operators.validation_extra import literal_type_profile

    orders = _read(spark, sf_dir, "orders")
    okey = F.concat(F.lit("O"), F.col("o_orderkey").cast("string"))

    def tri(pred, obj):
        return orders.select(
            okey.alias("subject_id"),
            F.lit(pred).alias("predicate"),
            obj.alias("object_id"),
        )

    t = (
        tri("total_price", F.round(F.col("o_totalprice"), 0).cast("long").cast("string"))
        .unionByName(tri("order_date", F.date_format("o_orderdate", "yyyy-MM-dd")))
        .unionByName(tri("status", F.col("o_orderstatus")))
        .unionByName(
            tri("placed_by", F.concat(F.lit("C"), F.col("o_custkey").cast("string")))
        )
    )
    return literal_type_profile(t)


def q_stat_wilson(spark, sf_dir):
    """Wilson 95% score interval for the share of high-value events per
    type — the edge-honest rate CI; exact counts, one fixed IEEE
    sequence with the z literal shared verbatim with the oracle."""
    from kgraph_spark.operators.stats import prop_wilson

    ev = _read(spark, sf_dir, "events").select(
        "event_type", (F.col("value") > 100).alias("hi")
    )
    return prop_wilson(ev, "hi", group_col="event_type")


def q_evt_cuped(spark, sf_dir):
    """CUPED-adjusted weekend-vs-weekday value means using each user's
    previous event value as the covariate — pooled θ from exact
    cross-multiplied moments, one division each for θ / means / r²."""
    from kgraph_spark.operators.event_analytics import cuped_adjust

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    q = _read(spark, sf_dir, "events").select(
        "value",
        F.lag("value").over(w).alias("prev"),
        F.dayofweek("ts").isin(1, 7).alias("wk"),
    )
    return cuped_adjust(q, "value", "prev", "wk")


def q_layout_zonemap(spark, sf_dir):
    """What sorting buys the scan: 16-file zone maps under arrival vs
    value-clustered order, files scanned for three value bands — the
    quantified case for zorder/compaction; exact zone integers, one
    division per row."""
    from kgraph_spark.operators.layout import zonemap_prune_stats

    return zonemap_prune_stats(
        _read(spark, sf_dir, "events"),
        "event_id",
        "value",
        n_files=16,
        bands=[(0.0, 50.0), (100.0, 110.0), (400.0, 500.0)],
    )


def q_stat_cvm_drift(spark, sf_dir):
    """Cramér–von Mises whole-CDF drift between weekend and weekday
    event values — integrates the squared ECDF gap where KS takes only
    the max; exact cross-multiplied gap integers, ONE division."""
    from kgraph_spark.operators.stats import cvm_2sample

    ev = _read(spark, sf_dir, "events").select(
        "value", F.dayofweek("ts").isin(1, 7).alias("wk")
    )
    return cvm_2sample(
        ev.filter(F.col("wk")), ev.filter(~F.col("wk")), "value", scale=100
    )


def q_graph_dag_levels(spark, sf_dir):
    """Longest-path stratification of a +7/+11 doc DAG from its 7 roots
    — the dependency-tier schedule; integer max-folds, 8 pinned
    rounds; oracle re-derives levels with a recursive CTE."""
    from kgraph_spark.operators.graph_analytics import dag_levels

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    d = F.col("doc_id")
    e = None
    for step in (7, 11):
        part = docs.filter(d + step < 60).select(
            d.alias("subject_id"), (d + step).alias("object_id")
        )
        e = part if e is None else e.unionByName(part)
    return dag_levels(e, max_depth=8)


def q_evt_lateness(spark, sf_dir):
    """Watermark design advisor: per event type, how many events a
    streaming job would drop at candidate watermark delays, from a
    deterministic (event_id %13)² arrival skew — the data-driven
    withWatermark bound; exact counts, one division per row."""
    from kgraph_spark.operators.event_analytics import watermark_lateness_audit

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long").alias("et"),
        (F.col("event_id") % 13).alias("_m"),
    ).select(
        "event_type", "et",
        (F.col("et") + F.col("_m") * F.col("_m")).alias("at"),
    )
    return watermark_lateness_audit(
        ev, "et", "at", thresholds=(0, 25, 64, 144), group_col="event_type"
    )


def q_ann_recall_lsh(spark, sf_dir):
    """Recall@10 of the LSH index against brute-force ground truth per
    probe — the measure-don't-guess gate on the ANN scale path; exact
    hit counts, one division. On this corpus it reads 0.1/probe: a
    single 8-plane hash table shatters 500 vectors over 256 buckets
    and finds only the probe itself — precisely the defect the gate
    exists to expose before an index ships (the banded OR-amplified
    variant and IVF multi-probe are the fixes; see ann_lsh_topk /
    ann_ivf_topk)."""
    from kgraph_spark.operators.eval_metrics import retrieval_recall
    from kgraph_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = len(emb.select("embedding").first()[0])
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    bf = brute_force_topk(emb, probes, k=10)
    lsh = lsh_topk(emb, probes, dim=dim, k=10, n_planes=8)
    return retrieval_recall(bf, lsh)


def q_curation_neyman(spark, sf_dir):
    """Neyman minimum-variance allocation of a 1000-draw eval budget
    across event-type strata — n_h ∝ N_h·σ_h on exact moments, milli-
    rounded weights summed as exact longs, one division per stratum."""
    from kgraph_spark.operators.corpus_curation import neyman_allocation

    return neyman_allocation(
        _read(spark, sf_dir, "events"), "value", "event_type", budget=1_000
    )


def q_graph_temporal_reach(spark, sf_dir):
    """Earliest-arrival time-respecting reachability from two seeds
    over a timestamped doc circulant — every hop departs no earlier
    than it arrived; pure integer min-folds, 4 pinned rounds; the
    oracle re-derives arrivals with a depth-bounded recursive CTE."""
    from kgraph_spark.operators.temporal import temporal_reachability

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d = F.col("doc_id")
    e1 = docs.select(d.alias("src"), ((d + 1) % 50).alias("dst"),
                     ((d % 7) * 3).alias("t"))
    e2 = docs.select(d.alias("src"), ((d + 11) % 50).alias("dst"),
                     ((d % 5) * 5 + 1).alias("t"))
    seeds = spark.createDataFrame([(0, 0), (25, 2)], "node long, t0 long")
    return temporal_reachability(e1.unionByName(e2), seeds, max_hops=4)


def q_graph_mixing(spark, sf_dir):
    """Categorical mixing matrix + Newman assortativity over the typed
    synthetic KG (types = id prefix) — all mass off-diagonal, so r
    comes out strongly disassortative; exact cross-multiplied counts,
    one division each for frac and r."""
    from kgraph_spark.operators.graph_analytics import attribute_mixing

    tri = _kg_synth_triples(spark, sf_dir)
    ents = (
        tri.select(F.col("subject_id").alias("entity_id"))
        .unionByName(tri.select(F.col("object_id").alias("entity_id")))
        .distinct()
    )
    types = ents.select(
        "entity_id", F.substring("entity_id", 1, 1).alias("type")
    )
    return attribute_mixing(tri, types)


def q_text_burrows_delta(spark, sf_dir):
    """Burrows' Delta style distance between the corpus' 20 sources over
    the top-50 function words — integer-micro z-scores, exact-long
    |z| sums, one final division per pair."""
    from kgraph_spark.operators.text_analysis import burrows_delta

    return burrows_delta(_read(spark, sf_dir, "documents"), top_k=50)


def q_emb_sq8_error(spark, sf_dir):
    """int8 scalar-quantization audit over the embeddings table:
    per-vector reconstruction SSE / max error / rmse on the exact
    micro grid — the memory-vs-recall gate for a quantized ANN index."""
    from kgraph_spark.operators.similarity import sq8_error_profile

    return sq8_error_profile(_read(spark, sf_dir, "embeddings"))


def q_evt_stationary(spark, sf_dir):
    """Equilibrium of the user-behaviour Markov chain: five exact
    integer-micro power steps from uniform over the transition matrix
    — where event-type mass settles; bit-identical fixed-point replay
    in both engines."""
    from kgraph_spark.operators.event_analytics import stationary_distribution

    return stationary_distribution(_read(spark, sf_dir, "events"))


def q_media_phash_dedup(spark, sf_dir):
    """aHash near-dup sweep over media grids with planted re-encodes:
    every doc%7 gets an exact copy (hamming 0), every doc%10 a
    perturbed variant (two grid cells bumped — a few bits flip);
    banded pigeonhole candidates, ids-only shuffle, exact hamming."""
    from kgraph_spark.operators.multimodal import phash_near_dups

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    hx = F.sha2(F.col("text").cast("string"), 256)

    def grid(bump):
        return F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                F.conv(F.substring(hx, (i % 32) * 2 + 1, F.lit(2)), 16, 10)
                .cast("int")
                + F.when((i % 32) == 0, F.lit(bump)).otherwise(F.lit(0))
            )
            % 256,
        )

    ref = F.concat(F.lit("media-"), F.col("doc_id").cast("string"))
    base = docs.select(ref.alias("media_ref"), grid(0).alias("grid"))
    var = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.concat(ref, F.lit("~v")).alias("media_ref"), grid(8).alias("grid")
    )
    copy = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(ref, F.lit("~c")).alias("media_ref"), grid(0).alias("grid")
    )
    return phash_near_dups(base.unionByName(var).unionByName(copy))


def q_kg_inverse_predicates(spark, sf_dir):
    """OWL inverseOf induction over a lineitem KG where contained_in
    reverses contains only for quantity ≥ 20 lines (and supplies
    reverses `from` at ≥ 40) — confidence = overlap/support on exact
    distinct-fact counts, one division."""
    from kgraph_spark.operators.relationships import inverse_predicate_scores

    li = _read(spark, sf_dir, "lineitem")
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    t = (
        li.select(o.alias("subject_id"), F.lit("contains").alias("predicate"), p.alias("object_id"))
        .union(
            li.filter(F.col("l_quantity") >= 20).select(
                p.alias("subject_id"),
                F.lit("contained_in").alias("predicate"),
                o.alias("object_id"),
            )
        )
        .union(li.select(p.alias("subject_id"), F.lit("from").alias("predicate"), s.alias("object_id")))
        .union(
            li.filter(F.col("l_quantity") >= 40).select(
                s.alias("subject_id"),
                F.lit("supplies").alias("predicate"),
                p.alias("object_id"),
            )
        )
    )
    return inverse_predicate_scores(t)


def q_text_discovery_curve(spark, sf_dir):
    """Heaps-law vocabulary growth over 10 equal-width doc_id slices:
    one first-occurrence hash agg + per-bucket rollup; the only ordered
    window runs over the 10-row bucket table."""
    from kgraph_spark.operators.text_analysis import vocabulary_discovery_curve

    return vocabulary_discovery_curve(_read(spark, sf_dir, "documents"))


def q_stat_kruskal(spark, sf_dir):
    """Kruskal-Wallis H across all five event types' values — the
    k-group nonparametric omnibus gate (anova_f without the normality
    assumption); doubled midranks on the distinct value grid, per-group
    terms micro-rounded once and summed exactly."""
    from kgraph_spark.operators.stats import kruskal_wallis

    return kruskal_wallis(_read(spark, sf_dir, "events"), "value", "event_type")


def q_stat_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend of finished-order share across the ordered
    priority bands 1..5 — one degree of freedom spent on the ordering;
    exact cross-multiplied integers, one sqrt."""
    from kgraph_spark.operators.stats import cochran_armitage

    q = _read(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("w"),
        (F.col("o_orderstatus") == "F").alias("f"),
    )
    return cochran_armitage(q, "w", "f")


def q_stat_poisson_rate(spark, sf_dir):
    """Two-sample Poisson rate test: error-event arrivals per second vs
    click-event arrivals per second over each stream's observed span —
    the count-process companion to stat_prop_ztest."""
    from kgraph_spark.operators.stats import poisson_rate_test

    ev = _read(spark, sf_dir, "events").withColumn(
        "t_sec",
        # parquet stores NTZ; session tz is UTC — floor-µs ≡ epoch_us//1e6
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000).cast("long"),
    )
    return poisson_rate_test(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "click"),
        "t_sec",
    )


def q_eval_auc_roc(spark, sf_dir):
    """Exact rank-based ROC-AUC of the event value as a purchase
    discriminator — midranks on the distinct stored-double grid, the
    Mann-Whitney identity on exact wide integers, ONE division."""
    from kgraph_spark.operators.eval_metrics import auc_roc

    e = _read(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "purchase").alias("y")
    )
    return auc_roc(e, "value", "y")


def q_eval_calibration(spark, sf_dir):
    """Reliability diagram of the fastText-style quality classifier
    against the lang='en' label: micro-quantized per-bin confidence,
    exact accuracy, exact-integer ECE contributions."""
    from kgraph_spark.operators.eval_metrics import calibration_bins
    from kgraph_spark.operators.text_analysis import quality_classifier

    docs = _read(spark, sf_dir, "documents")
    scored = quality_classifier(docs).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("y")), "doc_id"
    )
    return calibration_bins(scored, n_bins=10, score_col="prob", label_col="y")


def _session_lifetimes(spark, sf_dir):
    from kgraph_spark.operators.survival import session_lifetimes

    return session_lifetimes(_read(spark, sf_dir, "events"))


def q_evt_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier curve over right-censored session durations (30-min
    gap sessionization; sessions ending within one gap of the corpus
    close are censored): nano-rounded log-survival prefix sums on the
    distinct duration grid — the censoring-aware curve evt_sessionize's
    point summaries can't give."""
    from kgraph_spark.operators.survival import kaplan_meier

    return kaplan_meier(_session_lifetimes(spark, sf_dir))


def q_stat_logrank(spark, sf_dir):
    """Two-group log-rank test: weekend-started vs weekday-started
    session survival — micro-rounded hypergeometric expectation/variance
    terms summed exactly, one sqrt. Weekend from pure epoch-day
    arithmetic ((days+4) % 7 ∈ {0,6}), no timezone dependence in either
    engine."""
    from kgraph_spark.operators.survival import logrank_test

    lt = _session_lifetimes(spark, sf_dir).withColumn(
        "grp",
        ((F.floor(F.col("start_sec") / 86400).cast("long") + 4) % 7).isin(0, 6),
    )
    return logrank_test(lt)


def q_stat_mcnemar(spark, sf_dir):
    """McNemar paired-gate disagreement: the linear quality classifier vs
    the E1 length+language rule on the same documents — exact discordant
    cells, one division per statistic."""
    from kgraph_spark.operators.stats import mcnemar
    from kgraph_spark.operators.text_analysis import quality_classifier

    docs = _read(spark, sf_dir, "documents")
    paired = (
        quality_classifier(docs)
        .select("doc_id", F.col("keep").alias("a"))
        .join(
            docs.select(
                "doc_id",
                (
                    (F.col("n_chars") >= 300) & F.col("lang").isin("en", "de", "es")
                ).alias("b"),
            ),
            "doc_id",
        )
    )
    return mcnemar(paired, "a", "b")


def q_evt_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard over the same censored session
    durations as evt_kaplan_meier — nano-exact hazard increments summed
    on the duration grid, Fleming-Harrington survival as exp(−H)."""
    from kgraph_spark.operators.survival import nelson_aalen

    return nelson_aalen(_session_lifetimes(spark, sf_dir))


def q_stat_jsd(spark, sf_dir):
    """Jensen-Shannon divergence between the weekend and weekday
    event-type distributions — the bounded symmetric drift companion to
    text_tvd_drift/evt_psi; nano-rounded per-category terms summed
    exactly."""
    from kgraph_spark.operators.stats import jensen_shannon

    e = _read(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek("ts").isin(1, 7).alias("is_weekend"),
    )
    return jensen_shannon(e, "event_type", "is_weekend")


def q_stat_friedman(spark, sf_dir):
    """Friedman within-block rank test: do the five event types rank
    consistently differently across users (blocks = users, cell = the
    user×type micro-grid mean) — complete blocks only, doubled midranks
    per block, exact rank-sum integers."""
    from kgraph_spark.operators.stats import friedman

    return friedman(
        _read(spark, sf_dir, "events"), "user_id", "event_type", "value"
    )


def q_stat_jt(spark, sf_dir):
    """Jonckheere-Terpstra ordered-alternative test: does order value
    shift monotonically across the ordered priority bands 1..5 — exact
    2J over the dense (cents grid × band) frame, Hollander-Wolfe
    tie-corrected null moments, one sqrt."""
    from kgraph_spark.operators.stats import jonckheere_terpstra

    o = _read(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("w"),
        F.col("o_totalprice").alias("v"),
    )
    return jonckheere_terpstra(o, "v", "w", scale=100)


def q_evt_rmst(spark, sf_dir):
    """Restricted mean survival time of sessions in their first 10
    minutes — the exact step integral of the Kaplan-Meier curve,
    micro-rounded segment areas summed exactly."""
    from kgraph_spark.operators.survival import restricted_mean_survival

    return restricted_mean_survival(_session_lifetimes(spark, sf_dir), tau=600)


def q_text_chao1(spark, sf_dir):
    """Chao1 vocabulary-richness asymptote + Good-Turing unseen mass —
    the keep-crawling-or-stop estimate paired with the discovery curve;
    exact singleton/doubleton longs, one division each."""
    from kgraph_spark.operators.text_analysis import chao1_richness

    return chao1_richness(_read(spark, sf_dir, "documents"))


def q_stat_capture_recapture(spark, sf_dir):
    """Chapman capture-recapture estimate of the total distinct-part
    population from two independent 10%-of-orders captures (orderkey
    deciles 0 and 1) — recovers ~200/~2000 true parts from partial
    captures; exact-integer estimator and SE, one division + one sqrt."""
    from kgraph_spark.operators.stats import capture_recapture

    li = (
        _read(spark, sf_dir, "lineitem")
        .filter((F.col("l_orderkey") % 10).isin(0, 1))
        .select(
            "l_partkey",
            (F.col("l_orderkey") % 10 == 1).alias("side"),
        )
    )
    return capture_recapture(li, "l_partkey", "side")


def q_evt_sprt(spark, sf_dir):
    """Wald SPRT sequential monitor: daily purchase share tested at
    H0 p=0.1875 vs H1 p=0.25 with 5%/5% boundaries — nano-exact LLR
    prefix sums over the day grid."""
    from kgraph_spark.operators.event_analytics import sprt_monitor

    e = _read(spark, sf_dir, "events").select(
        "ts", (F.col("event_type") == "purchase").alias("success")
    )
    return sprt_monitor(e)


def _daily_mean_series(spark, sf_dir):
    e = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
    ).cast("long")
    return e.groupBy(day.alias("t")).agg(
        (
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1_000_000.0))
        ).alias("v")
    )


def q_evt_pettitt(spark, sf_dir):
    """Pettitt rank changepoint on the daily mean-value series: exact
    doubled-midrank U_t integers, earliest-argmax |U|, one exp for the
    approximate p."""
    from kgraph_spark.operators.event_analytics import pettitt_test

    return pettitt_test(_daily_mean_series(spark, sf_dir))


def q_evt_ewma(spark, sf_dir):
    """EWMA control chart over the daily mean-value series: λ=½ k=8
    truncated EMA (exact shifted-long weights) with steady-state 3σ/√3
    limits from exact micro moments."""
    from kgraph_spark.operators.event_analytics import ewma_chart

    return ewma_chart(_daily_mean_series(spark, sf_dir))


def q_stat_cochran_q(spark, sf_dir):
    """Cochran's Q: do the five event types differ in their rate of
    producing a high-value (≥100) event for the SAME user — the binary
    within-block k-treatment test; exact-integer Q, one division."""
    from kgraph_spark.operators.stats import cochran_q

    e = _read(spark, sf_dir, "events").select(
        "user_id", "event_type", (F.col("value") >= 100.0).alias("hi")
    )
    return cochran_q(e, "user_id", "event_type", "hi")


def q_stat_bowker(spark, sf_dir):
    """Bowker symmetry test on the per-user event-type transition
    matrix: is A→B traffic balanced with B→A — micro-rounded per-pair
    McNemar terms summed exactly."""
    from kgraph_spark.operators.stats import bowker_symmetry

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNotNull() & F.col("event_type").isNotNull()
    )
    return bowker_symmetry(p, "prev", "event_type")


def q_stat_mood_median(spark, sf_dir):
    """Mood's median test: do the five event types share a median value
    — dichotomize every value at the exact pooled grand median (lower
    median on the micro grid), chi2 on the k×2 group-by-side table; the
    outlier-immune location gate complementing kruskal/anova."""
    from kgraph_spark.operators.stats import mood_median

    return mood_median(_read(spark, sf_dir, "events"), "value", "event_type")


def q_stat_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa across three deterministic document-quality
    'raters' (char-length band, word-count band, avg-word-length band,
    each rating {low,mid,high}): do the quality heuristics agree beyond
    what their marginals force — exact-integer kappa, one division."""
    from kgraph_spark.operators.stats import fleiss_kappa

    d = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            "n_chars",
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            ).alias("wc"),
        )
    )
    band = lambda c, lo, hi: (  # noqa: E731
        F.when(c < lo, "low").when(c < hi, "mid").otherwise("high")
    )
    ratings = (
        d.select(
            F.col("doc_id").alias("item"),
            F.lit("len").alias("rater"),
            band(F.col("n_chars"), 220, 380).alias("cat"),
        )
        .unionByName(
            d.select(
                F.col("doc_id").alias("item"),
                F.lit("words").alias("rater"),
                band(F.col("wc"), 40, 70).alias("cat"),
            )
        )
        .unionByName(
            d.select(
                F.col("doc_id").alias("item"),
                F.lit("awl").alias("rater"),
                # avg word length bands 5.45 / 5.60, cross-multiplied so the
                # comparison stays in exact integers
                F.when(F.col("n_chars") * 100 < F.col("wc") * 545, "low")
                .when(F.col("n_chars") * 100 < F.col("wc") * 560, "mid")
                .otherwise("high")
                .alias("cat"),
            )
        )
    )
    return fleiss_kappa(ratings, "item", "rater", "cat")


def q_stat_hellinger(spark, sf_dir):
    """Hellinger distance between even- and odd-user event-type
    distributions — the bounded true-metric A/B drift gate (IEEE-exact
    sqrts, nano-rounded Bhattacharyya terms summed exactly)."""
    from kgraph_spark.operators.stats import hellinger_distance

    e = _read(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2 == 1).alias("odd_user")
    )
    return hellinger_distance(e, "event_type", "odd_user")


def q_stat_cliffs_delta(spark, sf_dir):
    """Cliff's delta + Vargha-Delaney A for purchase vs view event
    values — the rank-based effect-size pair (how MUCH did the
    distribution shift, not just whether), computed on the distinct
    quantized-value grid with exact doubled midranks (never the
    O(n·m) textbook pair sweep)."""
    from kgraph_spark.operators.stats import cliffs_delta

    ev = _read(spark, sf_dir, "events")
    return cliffs_delta(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
        "value",
    )


def q_stat_cohen_kappa(spark, sf_dir):
    """Cohen's kappa between the char-length and word-count document
    quality raters (same bands the Fleiss query uses) — the exact
    2-rater crosstab identity: (n·agree − Σr·c)/(n² − Σr·c), wide
    integers, one division."""
    from kgraph_spark.operators.stats import cohen_kappa

    d = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select(
            "n_chars",
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            ).alias("wc"),
        )
    )
    band = lambda c, lo, hi: (  # noqa: E731
        F.when(c < lo, "low").when(c < hi, "mid").otherwise("high")
    )
    rated = d.select(
        band(F.col("n_chars"), 220, 380).alias("len_band"),
        band(F.col("wc"), 40, 70).alias("wc_band"),
    )
    return cohen_kappa(rated, "len_band", "wc_band")


def q_stat_gamma_somers(spark, sf_dir):
    """Goodman-Kruskal gamma + Somers' D between ordinal char-length
    and word-count bands (0/1/2) over documents — concordance computed
    on the k×k crosstab (cells self-join, broadcast), never the O(n²)
    pair sweep; every statistic is exact integers + one division."""
    from kgraph_spark.operators.stats import ordinal_concordance

    d = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select(
            "n_chars",
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            ).alias("wc"),
        )
    )
    iband = lambda c, lo, hi: (  # noqa: E731
        F.when(c < lo, 0).when(c < hi, 1).otherwise(2)
    )
    rated = d.select(
        iband(F.col("n_chars"), 220, 380).alias("len_band"),
        iband(F.col("wc"), 40, 70).alias("wc_band"),
    )
    return ordinal_concordance(rated, "len_band", "wc_band")


def q_evt_hurst(spark, sf_dir):
    """R/S Hurst exponent of the hourly event-count series (gap-filled
    to a full hour grid, zeros kept): per-block-size mean ln(R/S) from
    exact-integer ranges/radicands + the OLS slope = H. Long-memory
    probe for the platform's own traffic."""
    from kgraph_spark.operators.event_analytics import hurst_rs

    e = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cnt = e.groupBy(
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000))
        .cast("long")
        .alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    grid = cnt.agg(F.min("h").alias("lo"), F.max("h").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("t")
    )
    series = grid.join(cnt, grid["t"] == cnt["h"], "left").select(
        "t", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("qv")
    )
    return hurst_rs(series, "t", "qv", sizes=(8, 16, 32, 64))


def q_evt_entropy_rate(spark, sf_dir):
    """Markov entropy rate of per-user event-type transitions —
    H(next|current) in bits from the empirical joint: nano-rounded
    per-cell terms summed exactly, the shared 1/N division once."""
    from kgraph_spark.operators.event_analytics import entropy_rate

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNotNull() & F.col("event_type").isNotNull()
    )
    return entropy_rate(p, "prev", "event_type")


def q_evt_bollinger(spark, sf_dir):
    """Bollinger ±2σ control chart over the daily mean-value series
    (trailing 7-day window): breach decided by the exact integer
    inequality (n·x−Σx)² > 4(n·Σx²−(Σx)²) — floats never touch the
    boolean; pct_b one sqrt + one division."""
    from kgraph_spark.operators.event_analytics import bollinger_bands

    return bollinger_bands(_daily_mean_series(spark, sf_dir), "t", "v", window=7)


def q_text_richness(spark, sf_dir):
    """Corpus vocabulary-richness profile — Yule's K, Honoré's R,
    Herdan's C from one token-frequency aggregate (exact integer
    moments; lns on exact longs). Template-domination / hapax-collapse
    monitor, corpus-wide twin of lexical_diversity."""
    from kgraph_spark.operators.text_analysis import corpus_richness

    return corpus_richness(_read(spark, sf_dir, "documents"))


def q_text_collocations(spark, sf_dir):
    """Dunning G² top-20 bigram collocations: 2×2 cell counts from
    exact bigram marginals, fixed per-row IEEE ln chain, min_count=5
    pruning BEFORE the marginal joins, (g2 desc, w1, w2) total order."""
    from kgraph_spark.operators.text_analysis import collocations_g2

    return collocations_g2(
        _read(spark, sf_dir, "documents"), min_count=5, top_k=20
    )


def q_text_kl_sources(spark, sf_dir):
    """Per-source KL divergence (bits) from the corpus unigram mixture —
    the directed crawl-skew monitor; nano-rounded per-term sums, one
    shared division per source."""
    from kgraph_spark.operators.text_analysis import source_kl_divergence

    return source_kl_divergence(_read(spark, sf_dir, "documents"))


def q_stat_ad2(spark, sf_dir):
    """Two-sample Anderson-Darling A² for purchase vs view values —
    the tail-weighted drift gate complementing stat_ks_drift; exact
    integer numerators on the distinct-value grid, micro-rounded terms,
    one shared 1/(mn) division."""
    from kgraph_spark.operators.stats import anderson_darling_2s

    ev = _read(spark, sf_dir, "events")
    return anderson_darling_2s(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
        "value",
    )


def q_stat_dunn(spark, sf_dir):
    """Dunn's post-hoc pairwise z over event-type values — WHICH pairs
    differ after the Kruskal-Wallis omnibus; tie-corrected pooled
    variance, exact doubled-midrank sums, broadcast pair fan-out."""
    from kgraph_spark.operators.stats import dunn_posthoc

    return dunn_posthoc(_read(spark, sf_dir, "events"), "value", "event_type")


def q_stat_page(spark, sf_dir):
    """Page's L ordered-trend test: do per-user mean values rise
    monotonically across event types in natural order — within-block
    doubled midranks over complete blocks, exact L, normal z."""
    from kgraph_spark.operators.stats import page_trend

    ev = _read(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    mv = ev.groupBy("user_id", "event_type").agg(
        (
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1_000_000.0))
        ).alias("v")
    )
    return page_trend(mv, "user_id", "event_type", "v")


def q_stat_odds_ratio(spark, sf_dir):
    """2×2 odds/risk ratio with Wald CIs: do odd users hit error events
    at a different rate — exact integer cells, one division per ratio,
    exp/ln only in the CI."""
    from kgraph_spark.operators.stats import two_by_two

    e = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 1).alias("odd_user"),
        (F.col("event_type") == "error").alias("is_error"),
    )
    return two_by_two(e, "odd_user", "is_error")


def q_stat_grubbs(spark, sf_dir):
    """Grubbs outlier test on event values: the argmax deviation is
    decided on exact integers (ties to the smallest value); G is one
    fixed double sequence."""
    from kgraph_spark.operators.stats import grubbs_test

    return grubbs_test(_read(spark, sf_dir, "events"), "value")


def q_evt_peaks(spark, sf_dir):
    """Strict local peaks/troughs on the daily mean-value series —
    integer-only comparisons (no float in any boolean), endpoint
    buckets are neither."""
    from kgraph_spark.operators.event_analytics import series_peaks

    return series_peaks(_daily_mean_series(spark, sf_dir), "t", "v")


def q_stat_kendall_w(spark, sf_dir):
    """Kendall's W concordance across users ranking the five event
    types (blocks = users, the friedman machinery) — the agreement
    effect size behind the friedman gate; W = Q/(n(k−1))."""
    from kgraph_spark.operators.stats import kendall_w

    return kendall_w(
        _read(spark, sf_dir, "events"), "user_id", "event_type", "value"
    )


def q_kg_transe_score(spark, sf_dir):
    """TransE-style plausibility audit of the thinned lineitem KG with
    deterministic sha-derived embeddings — exact-integer squared
    distances, one sqrt, total-ordered top-50 'oddest facts' review
    queue (learned embeddings drop in as a broadcast join)."""
    from kgraph_spark.operators.relationships import transe_plausibility

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 5 == 0)
    o = F.concat(F.lit("O"), F.col("l_orderkey").cast("string"))
    p = F.concat(F.lit("P"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    t = li.select(
        o.alias("subject_id"),
        F.lit("contains").alias("predicate"),
        p.alias("object_id"),
    ).union(
        li.select(
            p.alias("subject_id"),
            F.lit("from").alias("predicate"),
            s.alias("object_id"),
        )
    )
    return transe_plausibility(t, dim=8, top_k=50)


def q_evt_records(spark, sf_dir):
    """Running-record audit of the daily mean-value series: record
    count vs the H_n exchangeability expectation — the assumption-free
    trend alarm; integer record decisions, nano-exact H_n."""
    from kgraph_spark.operators.event_analytics import record_audit

    return record_audit(_daily_mean_series(spark, sf_dir), "t", "v")


def q_stat_mood_scale(spark, sf_dir):
    """Mood's scale test: did purchase values SPREAD differently than
    view values even at a shared median — squared central midranks on
    the distinct-value grid, exact ×4 integer M, one sqrt z."""
    from kgraph_spark.operators.stats import mood_scale_test

    ev = _read(spark, sf_dir, "events")
    return mood_scale_test(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
        "value",
    )


def q_evt_hill_tail(spark, sf_dir):
    """Hill tail-index α of event values over the top-100 order
    statistics — the how-Pareto-is-the-tail gate; bounded top-(k+1)
    fetch, nano-exact log-sum, one division."""
    from kgraph_spark.operators.stats import hill_tail_index

    return hill_tail_index(_read(spark, sf_dir, "events"), "value", k=100)


def q_graph_degree_gini(spark, sf_dir):
    """Gini concentration of the order-part graph's part degrees —
    "does one part own the edges": exact sorted-rank identity over the
    pre-aggregated degree rows."""
    from kgraph_spark.operators.stats import gini_coefficient

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 3 == 0)
    deg = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return gini_coefficient(deg, "deg")


def q_stat_krippendorff(spark, sf_dir):
    """Krippendorff's alpha over a deliberately RAGGED rating table
    (len/words raters rate every doc; the avg-word-length rater only
    rates doc_id % 3 == 0) — the missing-tolerant agreement gate;
    nano-exact D_o terms, exact-integer D_e."""
    from kgraph_spark.operators.stats import krippendorff_alpha

    d = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            "n_chars",
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            ).alias("wc"),
        )
    )
    band = lambda c, lo, hi: (  # noqa: E731
        F.when(c < lo, "low").when(c < hi, "mid").otherwise("high")
    )
    ratings = (
        d.select(
            F.col("doc_id").alias("item"),
            F.lit("len").alias("rater"),
            band(F.col("n_chars"), 220, 380).alias("cat"),
        )
        .unionByName(
            d.select(
                F.col("doc_id").alias("item"),
                F.lit("words").alias("rater"),
                band(F.col("wc"), 40, 70).alias("cat"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 3 == 0).select(
                F.col("doc_id").alias("item"),
                F.lit("awl").alias("rater"),
                F.when(F.col("n_chars") * 100 < F.col("wc") * 545, "low")
                .when(F.col("n_chars") * 100 < F.col("wc") * 560, "mid")
                .otherwise("high")
                .alias("cat"),
            )
        )
    )
    return krippendorff_alpha(ratings, "item", "rater", "cat")


def q_curation_hhi(spark, sf_dir):
    """Herfindahl concentration of the corpus source mix — exact
    squared-share integers, one division; effective-source count."""
    from kgraph_spark.operators.profiling import herfindahl_index

    return herfindahl_index(_read(spark, sf_dir, "documents"), "source")


def q_evt_turning_points(spark, sf_dir):
    """Turning-point randomness test on the daily mean-value series —
    strict integer local-extremum decisions vs the classical
    2(n−2)/3 null."""
    from kgraph_spark.operators.event_analytics import turning_points_test

    return turning_points_test(_daily_mean_series(spark, sf_dir), "t", "v")


def q_stat_trimmed_mean(spark, sf_dir):
    """10% trimmed + winsorized mean of event values — exact order
    statistics and in-window copy counts from grid cumulative counts;
    one division per mean."""
    from kgraph_spark.operators.stats import trimmed_mean

    return trimmed_mean(_read(spark, sf_dir, "events"), "value", trim=0.1)


def q_stat_sign_test(spark, sf_dir):
    """Paired sign test: per-user mean value, first half-month vs
    second — assumption-free movement gate; quantized-integer sign
    decisions, ties dropped, one sqrt."""
    from kgraph_spark.operators.stats import sign_test

    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
    ).cast("long")
    half = ev.select(
        "user_id",
        (day >= 19738).alias("h2"),  # 2024-01-16 epoch-day split
        F.round(F.col("value") * 1_000_000).cast("long").alias("qv"),
    )
    per = half.groupBy("user_id", "h2").agg(
        (
            F.sum("qv").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1_000_000.0))
        ).alias("v")
    )
    a = per.filter(~F.col("h2")).select("user_id", F.col("v").alias("v_a"))
    b = per.filter(F.col("h2")).select("user_id", F.col("v").alias("v_b"))
    return sign_test(a.join(b, "user_id"), "v_a", "v_b")


def q_evt_hour_anova(spark, sf_dir):
    """Does hour-of-day explain traffic: one-way ANOVA of hourly event
    counts grouped by hour-of-day (30 days × 24 cells) — the seasonal-
    strength gate; exact integer moments, eta² effect size."""
    from kgraph_spark.operators.stats import anova_f

    e = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hour = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)
    ).cast("long")
    cnt = e.groupBy(hour.alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    hourly = cnt.select((F.col("h") % 24).alias("hod"), F.col("c").cast("double").alias("v"))
    return anova_f(hourly, "v", "hod", scale=1)


def q_stat_wilcoxon_signed(spark, sf_dir):
    """Wilcoxon signed-rank: per-user mean value, first half-month vs
    second — rank-weighted paired movement gate between sign_test and
    paired_t; doubled midranks on the distinct |diff| grid, tie-
    corrected variance, one sqrt."""
    from kgraph_spark.operators.stats import wilcoxon_signed_rank

    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
    ).cast("long")
    half = ev.select(
        "user_id",
        (day >= 19738).alias("h2"),  # 2024-01-16 epoch-day split
        F.round(F.col("value") * 1_000_000).cast("long").alias("qv"),
    )
    per = half.groupBy("user_id", "h2").agg(
        (
            F.sum("qv").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1_000_000.0))
        ).alias("v")
    )
    a = per.filter(~F.col("h2")).select("user_id", F.col("v").alias("v_a"))
    b = per.filter(F.col("h2")).select("user_id", F.col("v").alias("v_b"))
    return wilcoxon_signed_rank(a.join(b, "user_id"), "v_a", "v_b")


def q_stat_jarque_bera(spark, sf_dir):
    """Jarque–Bera normality gate on event values — exact pivot-
    centered integer moments (scale=100, exact for 2-decimal data),
    skewness/kurtosis combined once on final scalars."""
    from kgraph_spark.operators.stats import jarque_bera

    return jarque_bera(_read(spark, sf_dir, "events"), "value", scale=100)


def q_stat_cmh(spark, sf_dir):
    """Cochran–Mantel–Haenszel: is high-value (>100) associated with
    even user_id after controlling for event_type strata — per-stratum
    exact 2×2 counts, nano-rounded E/V/odds terms exact-summed."""
    from kgraph_spark.operators.stats import cmh_test

    ev = _read(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("s"),
        (F.col("user_id") % 2 == 0).alias("exp"),
        (F.col("value") > 100.0).alias("out"),
    )
    return cmh_test(ev, "s", "exp", "out")


def _daily_counts(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
    ).cast("long")
    return ev.groupBy(day.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def q_stat_durbin_watson(spark, sf_dir):
    """Durbin–Watson on the daily-traffic trend fit: is the OLS line
    over daily event counts hiding lag-1 residual autocorrelation —
    micro-rounded residual terms exact-summed, one division."""
    from kgraph_spark.operators.stats import durbin_watson

    return durbin_watson(_daily_counts(spark, sf_dir), "d", "c", y_scale=1)


def q_stat_breusch_pagan(spark, sf_dir):
    """Breusch–Pagan (Koenker) heteroskedasticity of daily total event
    value vs day — per-day totals in exact integer cents, e² on a
    micro grid, auxiliary R² from a second exact moment pass."""
    from kgraph_spark.operators.stats import breusch_pagan

    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
    ).cast("long")
    daily = ev.groupBy(day.alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    return breusch_pagan(daily, "d", "cents", y_scale=1)


def q_stat_chow(spark, sf_dir):
    """Chow break test on daily event counts at the 2024-01-16 split
    (epoch-day 19738) — did the traffic trend line change mid-month;
    closed-form segment SSRs from exact integer moments."""
    from kgraph_spark.operators.stats import chow_test

    return chow_test(_daily_counts(spark, sf_dir), "d", "c", split=19738, y_scale=1)


def q_evt_ljung_box(spark, sf_dir):
    """Ljung–Box whiteness test of the daily traffic series over lags
    1..7 — exact integer centered products per lag, one division per
    autocorrelation, cumulative Q in fixed lag order."""
    from kgraph_spark.operators.event_analytics import ljung_box

    return ljung_box(_daily_counts(spark, sf_dir), "d", "c", n_lags=7, v_scale=1)


def q_evt_forecast_eval(spark, sf_dir):
    """Naive vs seasonal-naive (weekly) backtest on daily event counts
    — MAE/RMSE/sMAPE/MASE accuracy floor; integer forecast errors,
    micro-rounded sMAPE terms, one division per metric."""
    from kgraph_spark.operators.event_analytics import forecast_eval

    return forecast_eval(_daily_counts(spark, sf_dir), "d", "c", season=7, v_scale=1)


def q_stat_theil_u(spark, sf_dir):
    """Theil's U for document lang × source — the directional
    companion to stat_chi2: what fraction of language entropy does
    knowing the source remove (and vice versa); nano-rounded
    integer-count log terms, exact sums."""
    from kgraph_spark.operators.stats import theil_u

    return theil_u(_read(spark, sf_dir, "documents"), "lang", "source")


def q_eval_avg_precision(spark, sf_dir):
    """Average precision (exact PR-AUC, threshold-sweep definition) of
    the event value as a purchase discriminator — the class-imbalance-
    honest companion to eval_auc_roc; distinct-score sweep, nano-
    rounded precision terms, one division."""
    from kgraph_spark.operators.eval_metrics import average_precision

    e = _read(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "purchase").alias("y")
    )
    return average_precision(e, "value", "y")


def q_eval_brier_decomp(spark, sf_dir):
    """Brier score + Murphy decomposition of the quality classifier
    against lang='en' — exact reliability/resolution/uncertainty split
    binned by distinct forecast value (the identity holds exactly)."""
    from kgraph_spark.operators.eval_metrics import brier_decomposition
    from kgraph_spark.operators.text_analysis import quality_classifier

    docs = _read(spark, sf_dir, "documents")
    scored = quality_classifier(docs).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("y")), "doc_id"
    )
    return brier_decomposition(scored, "prob", "y")


def q_eval_lift_gains(spark, sf_dir):
    """Decile lift / cumulative-gains table of the event value vs
    purchase — tie-deterministic bucket assignment by grid start
    offset (never ntile), exact integer counts, one division each."""
    from kgraph_spark.operators.eval_metrics import lift_gains

    e = _read(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "purchase").alias("y")
    )
    return lift_gains(e, "value", "y", n_buckets=10)


def q_stat_cronbach(spark, sf_dir):
    """Cronbach's alpha: are the five per-type mean spends of a user
    one coherent 'spend level' scale — complete users only, exact
    integer variance numerators, ONE division."""
    from kgraph_spark.operators.stats import cronbach_alpha

    return cronbach_alpha(
        _read(spark, sf_dir, "events"), "user_id", "event_type", "value"
    )


def q_stat_icc(spark, sf_dir):
    """ICC(1): how much of an event value's variance is the user —
    one-way random-effects intraclass correlation with Searle's k0 for
    unbalanced users; micro-rounded S²/n terms, exact moments."""
    from kgraph_spark.operators.stats import icc_oneway

    return icc_oneway(_read(spark, sf_dir, "events"), "user_id", "value", scale=100)


def q_stat_quade(spark, sf_dir):
    """Quade range-weighted within-block rank test over user×event_type
    mean-value cells — the Friedman upgrade weighting high-spread
    users more; doubled midranks both ways, F is ONE exact division."""
    from kgraph_spark.operators.stats import quade

    return quade(_read(spark, sf_dir, "events"), "user_id", "event_type", "value")


def q_graph_robustness(spark, sf_dir):
    """Hub-removal robustness of the lineitem entity graph (thinned
    third): before/after node, edge, max-degree and wedge mass when
    the top-10 hubs are removed — the targeted-attack fragility audit;
    exact counts, deterministic ordered top-k, broadcast anti-joins."""
    from kgraph_spark.operators.graph_analytics import hub_removal_robustness

    return hub_removal_robustness(_li_edges(spark, sf_dir, part_mod=3), top_k=10)


def q_stat_kuiper(spark, sf_dir):
    """Kuiper V between click and purchase value distributions — the
    tail-fair KS sibling (D+ + D-); integer cumulative cross-products
    on the merged grid, one division + one sqrt."""
    from kgraph_spark.operators.stats import kuiper_2sample

    ev = _read(spark, sf_dir, "events")
    return kuiper_2sample(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )


def q_evt_sax(spark, sf_dir):
    """SAX symbolization of daily traffic (3-day PAA windows, 4-letter
    alphabet on N(0,1) quartile breakpoints) — exact integer moments
    and window means, literal-breakpoint symbol decisions."""
    from kgraph_spark.operators.event_analytics import sax_symbolize

    return sax_symbolize(_daily_counts(spark, sf_dir), "d", "c", window=3, v_scale=1)


def q_evt_adf(spark, sf_dir):
    """Dickey–Fuller unit-root t on daily traffic: is the series
    mean-reverting or a random walk — Δy on lag-y regression from
    exact integer moments, closed-form SSR, one sqrt."""
    from kgraph_spark.operators.event_analytics import dickey_fuller

    return dickey_fuller(_daily_counts(spark, sf_dir), "d", "c", v_scale=1)


def q_stat_bartlett(spark, sf_dir):
    """Bartlett variance homogeneity across event types (the
    parametric sibling of stat_brown_forsythe) — exact per-type
    variance numerators, nano-rounded ln terms, final χ²/C once."""
    from kgraph_spark.operators.stats import bartlett

    return bartlett(_read(spark, sf_dir, "events"), "value", "event_type", scale=100)


def q_text_code_detect(spark, sf_dir):
    """Code-likeness routing gate per document — symbol density,
    indent and semicolon line fractions through a deterministic
    logistic; map-only JVM expressions, round-6 logit before exp."""
    from kgraph_spark.operators.text_analysis import code_likeness

    return code_likeness(_read(spark, sf_dir, "documents"))


def q_stat_tost(spark, sf_dir):
    """TOST equivalence gate: is weekend mean event value within ±5.0
    of weekday — the positive "did NOT move" claim welch_t can't
    make; Welch variances, 1.645 normal-approx bounds."""
    from kgraph_spark.operators.stats import tost_equivalence

    e = _read(spark, sf_dir, "events").select(
        "value", F.dayofweek("ts").isin(1, 7).alias("is_weekend")
    )
    return tost_equivalence(e, "value", "is_weekend", margin=5.0)


def q_evt_fano(spark, sf_dir):
    """Fano factor of hourly event counts + interarrival CV² — the
    two dispersion diagnostics of the arrival process; exact integer
    moments, one division each."""
    from kgraph_spark.operators.event_analytics import fano_burstiness

    return fano_burstiness(_read(spark, sf_dir, "events"), "ts", 3600)


def q_evt_skyline(spark, sf_dir):
    """Pareto front of users over (total spend cents, event count) —
    the 2-D skyline via two windows (strict-greater RANGE frame +
    same-x group max), pure integer dominance decisions."""
    from kgraph_spark.operators.event_analytics import skyline_2d

    per_user = (
        _read(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    return skyline_2d(per_user, "user_id", "cents", "n_events")


def q_evt_gehan(spark, sf_dir):
    """Gehan–Breslow–Wilcoxon early-weighted survival test on the
    same weekend/weekday session cohorts as stat_logrank — n-at-risk
    weights make the observed-minus-expected sum PURE integer; only
    variance terms are micro-rounded."""
    from kgraph_spark.operators.survival import gehan_wilcoxon

    lt = _session_lifetimes(spark, sf_dir).withColumn(
        "grp",
        ((F.floor(F.col("start_sec") / 86400).cast("long") + 4) % 7).isin(0, 6),
    )
    return gehan_wilcoxon(lt)


def q_eval_mcc(spark, sf_dir):
    """Matthews correlation + F1 + balanced accuracy of the quality
    classifier's keep decision against lang='en' — the one-row gate
    that can't be gamed by majority-class prediction; four exact
    cells, one sqrt."""
    from kgraph_spark.operators.eval_metrics import binary_confusion_stats
    from kgraph_spark.operators.text_analysis import quality_classifier

    docs = _read(spark, sf_dir, "documents")
    scored = quality_classifier(docs).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("y")), "doc_id"
    )
    return binary_confusion_stats(scored, "keep", "y")


def q_curation_source_overlap(spark, sf_dir):
    """Pairwise source content-overlap matrix over md5 keys of the
    lowercased 40-char opening — which feeds syndicate each other's
    ledes; per-(key,source) dedup first, pair join on the per-key
    source set, broadcast totals."""
    from kgraph_spark.operators.corpus_curation import source_overlap_matrix

    return source_overlap_matrix(
        _read(spark, sf_dir, "documents"), prefix_chars=40
    )


def q_evt_decompose(spark, sf_dir):
    """STL-lite additive decomposition of daily traffic (7-day
    centered trend, zero-centered weekday seasonal, residual) — the
    series anomaly detectors should consume; exact window sums,
    micro-rounded phase means."""
    from kgraph_spark.operators.event_analytics import seasonal_decompose_additive

    return seasonal_decompose_additive(
        _daily_counts(spark, sf_dir), "d", "c", period=7, v_scale=1
    )


def q_eval_regression(spark, sf_dir):
    """Regression report (MAE/RMSE/R²/MAPE) for the per-type mean
    predictor fitted on the first half-month and evaluated on the
    second — honest train/eval split; integer micro-grid errors, one
    fold."""
    from kgraph_spark.operators.eval_metrics import regression_metrics

    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
    )
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
    ).cast("long")
    ev = ev.select(
        "event_type",
        (day >= 19738).alias("h2"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("qv"),
    )
    train = ev.filter(~F.col("h2")).groupBy("event_type").agg(
        (
            F.sum("qv").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1_000_000.0))
        ).alias("pred")
    )
    test = ev.filter(F.col("h2")).select(
        "event_type",
        (F.col("qv").cast("double") / F.lit(1_000_000.0)).alias("actual"),
    ).join(F.broadcast(train), "event_type")
    return regression_metrics(test, "pred", "actual")


def q_evt_hour_uniform(spark, sf_dir):
    """One-sample KS of hour-of-day uniformity — the trig-free
    circular-flatness gate; exact 24-cell integer CDF cross-products,
    one division + one sqrt."""
    from kgraph_spark.operators.event_analytics import hour_uniformity_ks

    return hour_uniformity_ks(_read(spark, sf_dir, "events"))


def q_evt_pot(spark, sf_dir):
    """GPD method-of-moments tail fit on value exceedances over the
    fixed 250.0 threshold — the extreme-value companion to
    evt_hill_tail; exact integer excess moments, one fold."""
    from kgraph_spark.operators.event_analytics import pot_tail_fit

    return pot_tail_fit(_read(spark, sf_dir, "events"), "value", 250.0, scale=100)


def q_stat_yuen(spark, sf_dir):
    """Yuen's 10%-trimmed t: weekend vs weekday event value — the
    whale-immune A/B gate; per-side grid cut statistics, exact
    winsorized moments, fixed final t/df sequence."""
    from kgraph_spark.operators.stats import yuen_t

    e = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "value", F.dayofweek("ts").isin(1, 7).alias("is_weekend")
    )
    return yuen_t(e, "value", "is_weekend", trim=0.1, scale=100)


def q_eval_rbo(spark, sf_dir):
    """RBO@20 between the spend-ranked and activity-ranked top users
    — do the two importance scores agree where it matters (top-
    weighted, p=0.9); deterministic id tie-breaks, nano-rounded
    p-power terms."""
    from kgraph_spark.operators.eval_metrics import rank_biased_overlap

    per_user = (
        _read(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    wa = Window.orderBy(F.col("cents").desc(), F.col("user_id").asc())
    wb = Window.orderBy(F.col("n_events").desc(), F.col("user_id").asc())
    ra = per_user.select(
        F.col("user_id").alias("id"), F.row_number().over(wa).alias("rank")
    )
    rb = per_user.select(
        F.col("user_id").alias("id"), F.row_number().over(wb).alias("rank")
    )
    return rank_biased_overlap(ra, rb, "id", "rank", k=20, p=0.9)


def q_stat_weighted_kappa(spark, sf_dir):
    """Quadratic-weighted Cohen's kappa between the ordinal length
    and word-count quality bands (0/1/2) — near-misses penalized by
    (i−j)²; exact integer rescaling, ONE division."""
    from kgraph_spark.operators.stats import weighted_kappa

    d = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .select(
            "n_chars",
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            ).alias("wc"),
        )
    )
    band = lambda c, lo, hi: (  # noqa: E731
        F.when(c < lo, 0).when(c < hi, 1).otherwise(2)
    )
    rated = d.select(
        band(F.col("n_chars"), 220, 380).alias("len_band"),
        band(F.col("wc"), 40, 70).alias("wc_band"),
    )
    return weighted_kappa(rated, "len_band", "wc_band")


def q_evt_drawdown(spark, sf_dir):
    """Max drawdown of the daily net-flow series (purchases add
    value, errors subtract it) — the order-sensitive risk number;
    exact integer prefix sums and running peaks, one division."""
    from kgraph_spark.operators.event_analytics import max_drawdown

    ev = _read(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
    ).cast("long")
    flow = (
        F.when(F.col("event_type") == "purchase", F.round(F.col("value") * 100))
        .when(F.col("event_type") == "error", -F.round(F.col("value") * 100))
        .otherwise(F.lit(0))
    ).cast("long")
    daily = ev.groupBy(day.alias("d")).agg(
        F.sum(flow).cast("long").alias("flow_cents")
    )
    return max_drawdown(daily, "d", "flow_cents", v_scale=1)


def q_er_otsu(spark, sf_dir):
    """Otsu adaptive threshold on the quality-classifier probability
    — where the keep cutoff should actually sit (vs the hard-coded
    0.5); one grid pass maximizing between-class variance."""
    from kgraph_spark.operators.profiling import otsu_threshold
    from kgraph_spark.operators.text_analysis import quality_classifier

    return otsu_threshold(
        quality_classifier(_read(spark, sf_dir, "documents")), "prob"
    )


def q_evt_active_users(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness per day — dedup (user,
    day) first, broadcast day-grid range join, exact distincts."""
    from kgraph_spark.operators.event_analytics import active_users

    return active_users(_read(spark, sf_dir, "events"))


def q_text_license_scan(spark, sf_dir):
    """License/copyright marker scan per document — substring tells
    only (no regex), length-difference counts; the rights-clearance
    gate. Map-only."""
    from kgraph_spark.operators.text_analysis import license_markers

    return license_markers(_read(spark, sf_dir, "documents"))


def q_curation_dedup_savings(spark, sf_dir):
    """What exact vs prefix-40 dedup would buy: docs/tokens removed
    per method from one scan + per-key aggregates (canonical =
    smallest doc_id, min_by token mass); no pair joins."""
    from kgraph_spark.operators.corpus_curation import dedup_savings

    return dedup_savings(_read(spark, sf_dir, "documents"))


def q_evt_slo_burn(spark, sf_dir):
    """Daily SLO error-budget burn (trailing-7-day error rate over a
    5% objective) — integer day-grid windows, one division per
    metric; burn > 1 means the budget is being overspent."""
    from kgraph_spark.operators.event_analytics import slo_burn

    return slo_burn(_read(spark, sf_dir, "events"))


def q_evt_ses(spark, sf_dir):
    """Simple exponential smoothing (α=0.3) of daily traffic with the
    recursion unrolled into literal geometric weights — per-target
    nano-rounded weight·value terms exact-summed; one-step forecast
    errors from the lagged smooth."""
    from kgraph_spark.operators.event_analytics import ses_forecast

    return ses_forecast(_daily_counts(spark, sf_dir), "d", "c", alpha=0.3, v_scale=1)


def q_kg_neighbor_entropy(spark, sf_dir):
    """Per-node neighbor-type entropy over the thinned lineitem
    entity graph (O/P/S prefixes) — which hubs are semantically
    diverse connectors; nano-rounded integer-count log terms."""
    from kgraph_spark.operators.graph_analytics import neighbor_type_entropy

    return neighbor_type_entropy(_li_edges(spark, sf_dir, part_mod=3))


def q_evt_wow(spark, sf_dir):
    """Week-over-week per-day traffic deltas with the exact Poisson
    two-rate z — same-weekday comparisons, one sqrt per row."""
    from kgraph_spark.operators.event_analytics import week_over_week

    return week_over_week(_read(spark, sf_dir, "events"), lag_days=7)


def q_stat_did(spark, sf_dir):
    """Difference-in-differences of event value: even-user 'cohort' ×
    half-month period — the parallel-trends causal gate; four exact
    moment cells, welch-style SE, one sqrt."""
    from kgraph_spark.operators.stats import diff_in_diff

    ev = _read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    )
    day = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)
    ).cast("long")
    framed = ev.select(
        "value",
        (F.col("user_id") % 2 == 0).alias("g"),
        (day >= 19738).alias("p"),
    )
    return diff_in_diff(framed, "value", "g", "p", scale=100)


def q_stat_fisher_ci(spark, sf_dir):
    """Pearson r between document char length and word count with the
    Fisher-z 95% interval — exact integer moments, exp-based tanh
    mapping replayed identically in both engines."""
    from kgraph_spark.operators.stats import fisher_corr_ci

    d = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull() & F.col("text").isNotNull())
        .select(
            "n_chars",
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            ).alias("wc"),
        )
    )
    return fisher_corr_ci(d, "n_chars", "wc", x_scale=1, y_scale=1)


def q_evt_seasonal_strength(spark, sf_dir):
    """Hyndman seasonal/trend strength of daily traffic (weekly
    period) — one-row gate on the decomposition; micro-rounded
    component rows, exact variance moments."""
    from kgraph_spark.operators.event_analytics import seasonal_strength

    return seasonal_strength(_daily_counts(spark, sf_dir), "d", "c", period=7)


def q_evt_type_mix(spark, sf_dir):
    """Daily event-type mix entropy + day-over-day delta — did the
    SHAPE of traffic change; nano-rounded count-log terms, grid
    lag."""
    from kgraph_spark.operators.event_analytics import type_mix_entropy_daily

    return type_mix_entropy_daily(_read(spark, sf_dir, "events"))


def q_curation_mix_gap(spark, sf_dir):
    """Source-mix gap vs a prescribed 5-source recipe (exact binary-
    fraction weights) — per-source share gaps + exact KL(current ||
    target) over recipe-covered sources."""
    from kgraph_spark.operators.corpus_curation import mix_gap_to_target

    target = {"src0": 0.25, "src1": 0.25, "src2": 0.125,
              "src3": 0.125, "src4": 0.25}
    return mix_gap_to_target(_read(spark, sf_dir, "documents"), target)


def q_stat_cochran_c(spark, sf_dir):
    """Cochran's C variance-outlier triage across event types — which
    group's variance dominates the pool; exact CYY numerators,
    micro-rounded Σs², deterministic worst-group pick."""
    from kgraph_spark.operators.stats import cochran_c

    return cochran_c(_read(spark, sf_dir, "events"), "value", "event_type", scale=100)


def q_stat_mde(spark, sf_dir):
    """A/B minimum detectable effect for the purchase-rate test at the
    observed even/odd-user traffic split — 1.96/0.8416 literals, one
    exact fold, one sqrt."""
    from kgraph_spark.operators.stats import min_detectable_effect

    ev = _read(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        (F.col("user_id") % 2 == 0).alias("arm"),
        (F.col("event_type") == "purchase").alias("succ"),
    )
    return min_detectable_effect(ev, "arm", "succ")


def q_evt_day_envelope(spark, sf_dir):
    """Typical-day envelope: exact p10/p50/p90 hourly counts per
    hour-of-day — grid cumulative order statistics, no raw-row
    sort."""
    from kgraph_spark.operators.event_analytics import day_envelope

    return day_envelope(_read(spark, sf_dir, "events"))


def q_evt_peak_conc(spark, sf_dir):
    """Daily top-3-hour traffic concentration — what share of each
    day rides its busiest hours; 24-row per-day rank windows, one
    exact division."""
    from kgraph_spark.operators.event_analytics import peak_concentration

    return peak_concentration(_read(spark, sf_dir, "events"), top_k=3)


def q_evt_peak_load(spark, sf_dir):
    """Busiest trailing 5-minute stretch of the whole stream — the
    number a rate limiter must survive; integer minute-grid RANGE
    window, earliest-end tie-break."""
    from kgraph_spark.operators.event_analytics import peak_load

    return peak_load(_read(spark, sf_dir, "events"), window_minutes=5)


def q_stat_lorenz(spark, sf_dir):
    """Lorenz curve deciles of per-user total spend — the shape
    behind the Gini number; exact grid order statistics with
    proportional tie-block splits."""
    from kgraph_spark.operators.stats import lorenz_curve

    per_user = (
        _read(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
        )
    )
    return lorenz_curve(per_user, "cents", n_points=10, scale=1)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # dict order is execution order in bench.py: the flagship pipeline query
    # runs LAST because its extraction churns the python-worker pool and
    # JVM heap — everything after it would pay a respawn tax (bench.py note)
    raw = {
        "f10_triple_accumulate": q_f10_triple_accumulate,
        "stat_pearson": q_stat_pearson,
        "stat_spearman": q_stat_spearman,
        "stat_ks_drift": q_stat_ks_drift,
        "stat_mwu": q_stat_mwu,
        "stat_ols_trend": q_stat_ols_trend,
        "stat_chi2": q_stat_chi2,
        "er_soundex_blocks": q_er_soundex_blocks,
        "evt_autocorr": q_evt_autocorr,
        "stat_anova": q_stat_anova,
        "stat_prop_ztest": q_stat_prop_ztest,
        "stat_cohens_d": q_stat_cohens_d,
        "stat_gini": q_stat_gini,
        "stat_kendall_tau": q_stat_kendall_tau,
        "stat_theil_sen": q_stat_theil_sen,
        "graph_reciprocity": q_graph_reciprocity,
        "graph_rich_club": q_graph_rich_club,
        "kg_type_inference": q_kg_type_inference,
        "kg_shacl_report": q_kg_shacl_report,
        "kg_pra_features": q_kg_pra_features,
        "evt_seasonality": q_evt_seasonality,
        "evt_rfm": q_evt_rfm,
        "graph_bowtie": q_graph_bowtie,
        "text_burstiness": q_text_burstiness,
        "text_tvd_drift": q_text_tvd_drift,
        "stat_runs_test": q_stat_runs_test,
        "stat_welch_t": q_stat_welch_t,
        "stat_brown_forsythe": q_stat_brown_forsythe,
        "stat_mann_kendall": q_stat_mann_kendall,
        "graph_triads": q_graph_triads,
        "kg_inverse_predicates": q_kg_inverse_predicates,
        "kg_rdfs_entailment": q_kg_rdfs_entailment,
        "kg_fact_fusion": q_kg_fact_fusion,
        "text_discovery_curve": q_text_discovery_curve,
        "f11_symmetric_order": q_f11_symmetric_order,
        "f8_keepmax_dedup": q_f8_keepmax_dedup,
        "d6_usage_count": q_d6_usage_count,
        "e1_promotion_filter": q_e1_promotion_filter,
        "g1_entity_summary": q_g1_entity_summary,
        "g2_evidence_summary": q_g2_evidence_summary,
        "g3_stage_stats": q_g3_stage_stats,
        "g3_rollup": q_g3_rollup,
        "evt_sessionize": q_evt_sessionize,
        "h1_bfs_2hop": q_h1_bfs_2hop,
        "d8_connected_components": q_d8_connected_components,
        "d8_incremental_cc": q_d8_incremental_cc,
        "join_plan": q_join_plan,
        "er_blocking_quality": q_er_blocking_quality,
        "er_fs_weights": q_er_fs_weights,
        "er_rank_eval": q_er_rank_eval,
        "er_ndcg": q_er_ndcg,
        "kmv_vocab_overlap": q_kmv_vocab_overlap,
        "d8_merge_audit": q_d8_merge_audit,
        "evt_ema": q_evt_ema,
        "evt_interval_coalesce": q_evt_interval_coalesce,
        "evt_temporal_conflicts": q_evt_temporal_conflicts,
        "kg_rule_confidence": q_kg_rule_confidence,
        "kg_rule_pca": q_kg_rule_pca,
        "lang_pr_sweep": q_lang_pr_sweep,
        "lang_kappa": q_lang_kappa,
        "kg_conflicts": q_kg_conflicts,
        "rbm_align": q_rbm_align,
        "snm_candidates": q_snm_candidates,
        "dedup_exact": q_dedup_exact,
        "text_token_stats": q_text_token_stats,
        "text_quality_score": q_text_quality_score,
        "lang_id_heuristic": q_lang_id_heuristic,
        "fingerprint": q_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "f1_cooccurrence_docs": q_f1_cooccurrence_docs,
        "c6_vocab_prepass": q_c6_vocab_prepass,
        "word_jaccard_pairs": q_word_jaccard_pairs,
        "kg_completion_candidates": q_kg_completion_candidates,
        "er_cluster_cohesion": q_er_cluster_cohesion,
        "text_ngram_novelty": q_text_ngram_novelty,
        "graph_katz": q_graph_katz,
        "media_captions": q_media_captions,
        "er_weighted_overlap": q_er_weighted_overlap,
        "curation_power_mix": q_curation_power_mix,
        "dedup_clusters": q_dedup_clusters,
        "kg_type_constraints": q_kg_type_constraints,
        "text_lexical_diversity": q_text_lexical_diversity,
        "stat_benford": q_stat_benford,
        "minhash_lsh_candidates": q_minhash_lsh,
        "simhash_near_dups": q_simhash_near_dups,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "evt_windowed_counts": q_evt_windowed_counts,
        "evt_hopping_counts": q_evt_hopping_counts,
        "profile_docs": q_profile_docs,
        "evt_outliers": q_evt_outliers,
        "curation_sample_k": q_curation_sample_k,
        "graph_condense": q_graph_condense,
        "span_interleave": q_span_interleave,
        "media_coref": q_media_coref,
        "evt_rolling": q_evt_rolling,
        "evt_percentiles": q_evt_percentiles,
        "graph_jaccard": q_graph_jaccard,
        "curation_split": q_curation_split,
        "inverted_index": q_inverted_index,
        "cooc_pmi": q_cooc_pmi,
        "kg_negatives": q_kg_negatives,
        "dq_checks": q_dq_checks,
        "graph_scc": q_graph_scc,
        "evt_histogram": q_evt_histogram,
        "docs_upsert": q_docs_upsert,
        "embedding_centroids": q_embedding_centroids,
        "embedding_dispersion": q_embedding_dispersion,
        "containment_pairs": q_containment_pairs,
        "domain_quality": q_domain_quality,
        "cms_hot_terms": q_cms_hot_terms,
        "graph_smooth": q_graph_smooth,
        "evt_mad_outliers": q_evt_mad_outliers,
        "entity_media_grounding": q_entity_media_grounding,
        "evt_norm_scores": q_evt_norm_scores,
        "evt_user_lifecycle": q_evt_user_lifecycle,
        "evt_scd2": q_evt_scd2,
        "evt_grid_fill": q_evt_grid_fill,
        "evt_transitions": q_evt_transitions,
        "evt_stationary": q_evt_stationary,
        "evt_median2p": q_evt_median2p,
        "graph_eccentricity": q_graph_eccentricity,
        "dq_inclusion": q_dq_inclusion,
        "text_burrows_delta": q_text_burrows_delta,
        "emb_sq8_error": q_emb_sq8_error,
        "graph_temporal_reach": q_graph_temporal_reach,
        "graph_mixing": q_graph_mixing,
        "ann_recall_lsh": q_ann_recall_lsh,
        "curation_neyman": q_curation_neyman,
        "stat_cvm_drift": q_stat_cvm_drift,
        "graph_dag_levels": q_graph_dag_levels,
        "evt_lateness": q_evt_lateness,
        "stat_wilson": q_stat_wilson,
        "evt_cuped": q_evt_cuped,
        "layout_zonemap": q_layout_zonemap,
        "eval_lang_report": q_eval_lang_report,
        "emb_centroid_drift": q_emb_centroid_drift,
        "kg_literal_profile": q_kg_literal_profile,
        "graph_efficiency": q_graph_efficiency,
        "stat_paired_t": q_stat_paired_t,
        "er_cannot_link": q_er_cannot_link,
        "hll_distinct": q_hll_distinct,
        "d8_cluster_metrics": q_d8_cluster_metrics,
        "d8_bcubed": q_d8_bcubed,
        "text_entropy": q_text_entropy,
        "evt_cusum": q_evt_cusum,
        "kg_asof": q_kg_asof,
        "mmr_topk": q_mmr_topk,
        "span_seq_dedup": q_span_seq_dedup,
        "kg_predicate_profile": q_predicate_profile,
        "evt_key_skew": q_evt_key_skew,
        "prefix_jaccard": q_prefix_jaccard,
        "evt_psi": q_evt_psi,
        "text_reading_ease": q_reading_ease,
        "evt_scd2_lookup": q_scd2_lookup,
        "graph_modularity": q_graph_modularity,
        "emb_diversity": q_emb_diversity,
        "evt_interarrival": q_evt_interarrival,
        "graph_ball": q_graph_ball,
        "evt_attribution": q_evt_attribution,
        "dq_fd": q_dq_fd,
        "graph_alpha": q_graph_alpha,
        "kg_pred_compose": q_predicate_composition,
        "hll_by_group": q_hll_by_group,
        "rp_project": q_random_projection,
        "multimodal_pack": q_multimodal_pack,
        "compaction_plan": q_compaction_plan,
        "curation_pps": q_curation_pps,
        "zipf_slope": q_zipf_slope,
        "bloom_prune": q_bloom_prune,
        "zorder_layout": q_zorder_layout,
        "rrf_fusion": q_rrf_fusion,
        "evt_incr_agg": q_evt_incr_agg,
        "oov_rate": q_oov_rate,
        "graph_assortativity": q_graph_assortativity,
        "kg_diff": q_kg_diff,
        "d2_acronym": q_d2_acronym,
        "evt_histogram_eqd": q_evt_histogram_eqd,
        "graph_ktruss": q_graph_ktruss,
        "evt_funnel": q_evt_funnel,
        "evt_retention": q_evt_retention,
        "multimodal_features": q_multimodal_features,
        "media_phash_dedup": q_media_phash_dedup,
        "d4_authority_rerank": q_d4_authority_rerank,
        "f4_evidence_containment": q_f4_evidence_containment,
        "embedding_near_dups": q_embedding_near_dups,
        "semantic_dedup": q_semantic_dedup,
        "text_repetition": q_text_repetition,
        "evt_session_windows": q_evt_session_windows,
        "d9_reconcile": q_d9_reconcile,
        "d7_merge_key": q_d7_merge_key,
        "f4_semantic_ladder": q_f4_semantic_ladder,
        "h3_entity_search": q_h3_entity_search,
        "f5_predicate_polarity": q_f5_predicate_polarity,
        "f13_evidence_repair": q_f13_evidence_repair,
        "b1_chunker": q_b1_chunker,
        "e2_kb_assignment": q_e2_kb_assignment,
        "f12_provenance": q_f12_provenance,
        "h2_bfs_filtered": q_h2_bfs_filtered,
        "i1_embed_cache": q_i1_embed_cache,
        "d12_tombstones": q_d12_tombstones,
        "a8_cache_lookup": q_a8_cache_lookup,
        "a8_cache_merge": q_a8_cache_merge,
        "b2_overlapping_windows": q_b2_overlapping_windows,
        "c1_metadata_mentions": q_c1_metadata_mentions,
        "d2_alias_resolve": q_d2_alias_resolve,
        "f6_swap_validate": q_f6_swap_validate,
        "a1_xml_parse": q_a1_xml_parse,
        "f3_name_index": q_f3_name_index,
        "e3_promote_rewrite": q_e3_promote_rewrite,
        "a2_json_parse": q_a2_json_parse,
        "d13_identity_merge": q_d13_identity_merge,
        "curation_keep_best": q_curation_keep_best,
        "curation_sample": q_curation_sample,
        "curation_decontaminate": q_curation_decontaminate,
        "curation_pack": q_curation_pack,
        "line_dedup": q_line_dedup,
        "pii_scrub": q_pii_scrub,
        "domain_mix": q_domain_mix,
        "det_shuffle": q_det_shuffle,
        "lm_perplexity": q_lm_perplexity,
        "boilerplate_strip": q_boilerplate_strip,
        "hot_ngrams": q_hot_ngrams,
        "ppl_buckets": q_ppl_buckets,
        "gopher_rules": q_gopher_rules,
        "c4_clean": q_c4_clean,
        "text_normalize": q_text_normalize,
        "corpus_diff": q_corpus_diff,
        "winnow_fingerprint": q_winnow_fingerprint,
        "winnow_passages": q_winnow_passages,
        "semantic_sample": q_semantic_sample,
        "incremental_dedup": q_incremental_dedup,
        "incremental_near_dup": q_incremental_near_dup,
        "kmeans_lloyd": q_kmeans_lloyd,
        "pq_topk": q_pq_topk,
        "h4_edge_lookup": q_h4_edge_lookup,
        "graph_degree": q_graph_degree,
        "graph_triangles": q_graph_triangles,
        "graph_transitivity": q_graph_transitivity,
        "graph_wl": q_graph_wl,
        "graph_butterflies": q_graph_butterflies,
        "graph_component_sizes": q_graph_component_sizes,
        "graph_edge_lift": q_graph_edge_lift,
        "graph_pagerank": q_graph_pagerank,
        "graph_kcore": q_graph_kcore,
        "graph_ppr": q_graph_ppr,
        "bm25_topk": q_bm25_topk,
        "dsir_weights": q_dsir_weights,
        "quality_classifier": q_quality_classifier,
        "tfidf_keywords": q_tfidf_keywords,
        "evt_asof_join": q_evt_asof,
        "evt_range_join": q_evt_range_join,
        "graph_clustering": q_graph_clustering,
        "graph_adamic_adar": q_graph_adamic_adar,
        "graph_sssp": q_graph_sssp,
        "graph_closure": q_graph_closure,
        "fuzzy_name_match": q_fuzzy_name_match,
        "graph_harmonic": q_graph_harmonic,
        "graph_walks": q_graph_walks,
        "graph_lpa": q_graph_lpa,
        "graph_hits": q_graph_hits,
        "stat_kruskal": q_stat_kruskal,
        "stat_cochran_armitage": q_stat_cochran_armitage,
        "stat_poisson_rate": q_stat_poisson_rate,
        "stat_mcnemar": q_stat_mcnemar,
        "stat_logrank": q_stat_logrank,
        "stat_jsd": q_stat_jsd,
        "stat_friedman": q_stat_friedman,
        "stat_jt": q_stat_jt,
        "evt_rmst": q_evt_rmst,
        "stat_capture_recapture": q_stat_capture_recapture,
        "text_chao1": q_text_chao1,
        "evt_sprt": q_evt_sprt,
        "evt_pettitt": q_evt_pettitt,
        "evt_ewma": q_evt_ewma,
        "stat_cochran_q": q_stat_cochran_q,
        "stat_bowker": q_stat_bowker,
        "stat_mood_median": q_stat_mood_median,
        "stat_fleiss_kappa": q_stat_fleiss_kappa,
        "stat_hellinger": q_stat_hellinger,
        "stat_cliffs_delta": q_stat_cliffs_delta,
        "stat_cohen_kappa": q_stat_cohen_kappa,
        "stat_gamma_somers": q_stat_gamma_somers,
        "evt_hurst": q_evt_hurst,
        "evt_entropy_rate": q_evt_entropy_rate,
        "evt_bollinger": q_evt_bollinger,
        "text_richness": q_text_richness,
        "text_collocations": q_text_collocations,
        "text_kl_sources": q_text_kl_sources,
        "stat_ad2": q_stat_ad2,
        "stat_dunn": q_stat_dunn,
        "stat_page": q_stat_page,
        "stat_odds_ratio": q_stat_odds_ratio,
        "stat_grubbs": q_stat_grubbs,
        "evt_peaks": q_evt_peaks,
        "stat_kendall_w": q_stat_kendall_w,
        "kg_transe_score": q_kg_transe_score,
        "evt_records": q_evt_records,
        "stat_mood_scale": q_stat_mood_scale,
        "evt_hill_tail": q_evt_hill_tail,
        "graph_degree_gini": q_graph_degree_gini,
        "stat_krippendorff": q_stat_krippendorff,
        "curation_hhi": q_curation_hhi,
        "evt_turning_points": q_evt_turning_points,
        "stat_trimmed_mean": q_stat_trimmed_mean,
        "stat_sign_test": q_stat_sign_test,
        "evt_hour_anova": q_evt_hour_anova,
        "stat_wilcoxon_signed": q_stat_wilcoxon_signed,
        "stat_jarque_bera": q_stat_jarque_bera,
        "stat_cmh": q_stat_cmh,
        "stat_durbin_watson": q_stat_durbin_watson,
        "stat_breusch_pagan": q_stat_breusch_pagan,
        "stat_chow": q_stat_chow,
        "evt_ljung_box": q_evt_ljung_box,
        "evt_forecast_eval": q_evt_forecast_eval,
        "stat_theil_u": q_stat_theil_u,
        "eval_avg_precision": q_eval_avg_precision,
        "eval_brier_decomp": q_eval_brier_decomp,
        "eval_lift_gains": q_eval_lift_gains,
        "stat_cronbach": q_stat_cronbach,
        "stat_icc": q_stat_icc,
        "stat_quade": q_stat_quade,
        "graph_robustness": q_graph_robustness,
        "stat_kuiper": q_stat_kuiper,
        "evt_sax": q_evt_sax,
        "evt_adf": q_evt_adf,
        "stat_bartlett": q_stat_bartlett,
        "text_code_detect": q_text_code_detect,
        "stat_tost": q_stat_tost,
        "evt_fano": q_evt_fano,
        "evt_skyline": q_evt_skyline,
        "evt_gehan": q_evt_gehan,
        "eval_mcc": q_eval_mcc,
        "curation_source_overlap": q_curation_source_overlap,
        "evt_decompose": q_evt_decompose,
        "eval_regression": q_eval_regression,
        "evt_hour_uniform": q_evt_hour_uniform,
        "evt_pot": q_evt_pot,
        "stat_yuen": q_stat_yuen,
        "eval_rbo": q_eval_rbo,
        "stat_weighted_kappa": q_stat_weighted_kappa,
        "evt_drawdown": q_evt_drawdown,
        "er_otsu": q_er_otsu,
        "evt_active_users": q_evt_active_users,
        "text_license_scan": q_text_license_scan,
        "curation_dedup_savings": q_curation_dedup_savings,
        "evt_slo_burn": q_evt_slo_burn,
        "evt_ses": q_evt_ses,
        "kg_neighbor_entropy": q_kg_neighbor_entropy,
        "evt_wow": q_evt_wow,
        "stat_did": q_stat_did,
        "stat_fisher_ci": q_stat_fisher_ci,
        "evt_seasonal_strength": q_evt_seasonal_strength,
        "evt_type_mix": q_evt_type_mix,
        "curation_mix_gap": q_curation_mix_gap,
        "stat_cochran_c": q_stat_cochran_c,
        "stat_mde": q_stat_mde,
        "evt_day_envelope": q_evt_day_envelope,
        "evt_peak_conc": q_evt_peak_conc,
        "evt_peak_load": q_evt_peak_load,
        "stat_lorenz": q_stat_lorenz,
        "eval_auc_roc": q_eval_auc_roc,
        "eval_calibration": q_eval_calibration,
        "evt_kaplan_meier": q_evt_kaplan_meier,
        "evt_nelson_aalen": q_evt_nelson_aalen,
        "kg_pipeline_triples": kg_pipeline_triples,
        "medlit_pass2_triples": medlit_pass2_triples,
        "medlit_pass3_relationships": medlit_pass3_relationships,
        "medlit_bundle_stats": q_medlit_bundle_stats,
        "medlit_auth_ids": q_medlit_auth_ids,
        "curation_unimax": q_curation_unimax,
        "media_aspect_buckets": q_media_aspect_buckets,
    }
    return {k: _with_shipping(v) for k, v in raw.items()}


def _with_shipping(fn):
    """Each query ships kgraph_spark to workers on first use (cwd-proof)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


def _pagerank_oracle_sql(iterations: int = 5, seeds: list[str] | None = None) -> str:
    """Unrolled fixed-iteration PageRank over the C/S→N⇄R graph. Every
    float literal is ::DOUBLE-cast so DuckDB runs the same IEEE ops as
    Spark; per-node incoming sums are ordered folds (list_sum over
    list(... ORDER BY src) == pagerank(exact_fold=True)); ranks re-rounded
    to 6 each round. The graph has no dangling node by construction (R→N
    back edges), so the dangling term — exactly 0.0 in pagerank() too — is
    omitted here. With `seeds`, restates the personalized variant: r0 and
    the teleport concentrate on the seed set (1/|S|)."""
    if seeds is not None:
        seed_list = ", ".join(f"'{s}'" for s in sorted(set(seeds)))
        n_t = f"{float(len(set(seeds)))!r}"
        r0_expr = (
            f"CASE WHEN node IN ({seed_list}) "
            f"THEN round(1.0::DOUBLE / {n_t}, 6) ELSE 0.0 END"
        )
        tele_expr = (
            f"CASE WHEN nd.node IN ({seed_list}) "
            f"THEN (1.0::DOUBLE - 0.85::DOUBLE) / {n_t} ELSE 0.0 END"
        )
    else:
        r0_expr = "round(1.0::DOUBLE / (SELECT n FROM nn), 6)"
        tele_expr = "(1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)"
    parts = ["""
            WITH e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst FROM customer
                    UNION ALL SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
                    UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
                    UNION ALL SELECT 'R' || n_regionkey, 'N' || n_nationkey FROM nation
                )
            ), nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
            ), od AS (
                SELECT src AS node, count(*) AS od FROM e GROUP BY 1
            ), nn AS (
                SELECT count(*)::DOUBLE AS n FROM nodes
            ), r0 AS (
                SELECT node, {r0} AS rank
                FROM nodes
            )""".replace("{r0}", r0_expr)]
    for i in range(1, iterations + 1):
        parts.append(f""", c{i} AS (
                SELECT e.dst AS node,
                       list_sum(list(r.rank / o.od ORDER BY e.src)) AS contrib
                FROM e JOIN r{i - 1} r ON e.src = r.node
                JOIN od o ON e.src = o.node
                GROUP BY e.dst
            ), r{i} AS (
                SELECT nd.node,
                       round({tele_expr}
                             + 0.85::DOUBLE * coalesce(c.contrib, 0.0), 6) AS rank
                FROM nodes nd LEFT JOIN c{i} c ON nd.node = c.node
            )""")
    parts.append(f"\n            SELECT node, rank FROM r{iterations}")
    return "".join(parts)


def _sssp_oracle_sql(rounds: int = 3) -> str:
    """Unrolled Bellman-Ford relaxations — every aggregate a plain min()
    (order-independent), weights/distances round-6, one IEEE add per
    candidate: no ordered folds required."""
    parts = ["""
            WITH e AS (
                SELECT src, dst, min(w) AS w FROM (
                    SELECT 'O' || l_orderkey AS src, 'P' || l_partkey AS dst,
                           round(l_quantity, 6) AS w FROM lineitem
                    UNION ALL
                    SELECT 'P' || l_partkey, 'S' || l_suppkey,
                           round(l_discount, 6) FROM lineitem
                ) GROUP BY 1, 2
            ), d0 AS (
                SELECT 'O' || k AS node, 0.0::DOUBLE AS dist FROM (
                    SELECT DISTINCT l_orderkey AS k FROM lineitem ORDER BY k LIMIT 3
                )
            )"""]
    for i in range(1, rounds + 1):
        parts.append(f""", d{i} AS (
                SELECT node, min(dist) AS dist FROM (
                    SELECT node, dist FROM d{i - 1}
                    UNION ALL
                    SELECT e.dst, round(r.dist + e.w, 6)
                    FROM e JOIN d{i - 1} r ON e.src = r.node
                ) GROUP BY 1
            )""")
    parts.append(f"\n            SELECT node, dist FROM d{rounds}")
    return "".join(parts)


def _lpa_oracle_sql(rounds: int = 3) -> str:
    """Unrolled synchronous label propagation over the thinned lineitem
    entity graph — integer/string arithmetic only; each round is one
    adjacency⋈label join, a (node, label) count, and a QUALIFY
    row_number() argmax (count DESC, label ASC), exactly
    label_propagation(rounds)."""
    parts = ["""
            WITH und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d
                    FROM lineitem WHERE l_partkey % 3 = 0
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey
                    FROM lineitem WHERE l_partkey % 3 = 0
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey
                    FROM lineitem WHERE l_partkey % 3 = 0
                ) WHERE s <> d
            ), adj AS (
                SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
            ), l0 AS (
                SELECT DISTINCT u AS node, u AS label FROM adj
            )"""]
    for i in range(1, rounds + 1):
        parts.append(f""", c{i} AS (
                SELECT adj.u AS node, l.label, count(*) AS c
                FROM adj JOIN l{i - 1} l ON adj.v = l.node
                GROUP BY 1, 2
            ), l{i} AS (
                SELECT node, label FROM c{i}
                QUALIFY row_number() OVER (
                    PARTITION BY node ORDER BY c DESC, label ASC) = 1
            )""")
    parts.append(f"\n            SELECT node, label FROM l{rounds}")
    return "".join(parts)


def _hits_oracle_sql(iterations: int = 3) -> str:
    """Unrolled HITS with L∞ normalization over the C/S→N⇄R graph —
    ordered folds for the incoming sums (list_sum ORDER BY counterpart ≡
    hits(exact_fold=True)), max() for the normalizers (order-independent),
    round-6 everywhere: both engines walk the identical trajectory. Each
    round's CTEs are MATERIALIZED: inlined, every round re-derived the one
    before it four times over (16 s for 190 rows at sf0.001)."""
    parts = ["""
            WITH e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst FROM customer
                    UNION ALL SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
                    UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
                    UNION ALL SELECT 'R' || n_regionkey, 'N' || n_nationkey FROM nation
                )
            ), nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
            ), h0 AS (
                SELECT node, 1.0::DOUBLE AS hub FROM nodes
            )"""]
    for i in range(1, iterations + 1):
        parts.append(f""", ar{i} AS MATERIALIZED (
                SELECT e.dst AS node,
                       round(list_sum(list(h.hub ORDER BY e.src)), 6) AS s
                FROM e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst
            ), a{i} AS MATERIALIZED (
                SELECT nd.node,
                       round(coalesce(ar.s, 0.0::DOUBLE)
                             / (SELECT max(s) FROM ar{i}), 6) AS authority
                FROM nodes nd LEFT JOIN ar{i} ar ON nd.node = ar.node
            ), hr{i} AS MATERIALIZED (
                SELECT e.src AS node,
                       round(list_sum(list(a.authority ORDER BY e.dst)), 6) AS s
                FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
            ), h{i} AS MATERIALIZED (
                SELECT nd.node,
                       round(coalesce(hr.s, 0.0::DOUBLE)
                             / (SELECT max(s) FROM hr{i}), 6) AS hub
                FROM nodes nd LEFT JOIN hr{i} hr ON nd.node = hr.node
            )""")
    parts.append(f"""
            SELECT h.node, h.hub, a.authority
            FROM h{iterations} h JOIN a{iterations} a USING (node)""")
    return "".join(parts)


def _kcore_oracle_sql(k: int = 4, rounds: int = 3) -> str:
    """Unrolled synchronous k-core peels over the lineitem entity graph —
    integer arithmetic only; each round = one degree aggregate + endpoint
    IN-filters, exactly kcore(k, rounds)."""
    parts = ["""
            WITH e0 AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d FROM lineitem
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey FROM lineitem
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey FROM lineitem
                ) WHERE s <> d
            )"""]
    for i in range(1, rounds + 1):
        parts.append(f""", k{i} AS (
                SELECT node FROM (
                    SELECT a AS node FROM e{i - 1}
                    UNION ALL SELECT b FROM e{i - 1}
                ) GROUP BY 1 HAVING count(*) >= {k}
            ), e{i} AS (
                SELECT a, b FROM e{i - 1}
                WHERE a IN (SELECT node FROM k{i}) AND b IN (SELECT node FROM k{i})
            )""")
    parts.append(f"""
            SELECT node, count(*)::BIGINT AS degree FROM (
                SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
            ) GROUP BY 1""")
    return "".join(parts)


# Laplace unigram model over the corpus itself: logp = ln((c+1) / (T +
# V+1)) for the top-1000 vocab (count DESC, token ASC), OOV slot
# ln(1 / (T + V+1)); both pre-rounded to 6 decimals (identical arithmetic
# to unigram_logprob_model). Shared by lm_perplexity and ppl_buckets.
_LM_SCORED_CTES = """
            WITH toks AS (
                SELECT doc_id, token
                FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
                    FROM documents
                ) WHERE length(token) > 0
            ), counts AS (
                SELECT token, count(*) AS c FROM toks GROUP BY 1
            ), tot AS (
                SELECT sum(c)::DOUBLE AS t FROM counts
            ), vocab AS (
                SELECT token, c FROM counts ORDER BY c DESC, token LIMIT 1000
            ), vk AS (
                SELECT count(*)::DOUBLE AS v FROM vocab
            ), model AS (
                SELECT token, round(ln((c + 1.0) / (t + (v + 1))), 6) AS logp
                FROM vocab, tot, vk
            ), oov AS (
                SELECT round(ln(1.0 / (t + (v + 1))), 6) AS logp FROM tot, vk
            ), scored AS (
                SELECT d.doc_id, count(*) AS n_tokens,
                       round(-avg(coalesce(m.logp, o.logp)), 4) AS avg_neg_logp
                FROM toks d LEFT JOIN model m USING (token), oov o
                GROUP BY 1
            )"""


def oracle_sql() -> dict[str, str]:
    cooc_words = ", ".join(f"'{w}'" for w in COOC_WORDS)
    kg_terms = ", ".join(f"'{w}'" for w in KG_TERMS)
    # the SAME integer discount literals the Spark plan uses — no engine
    # evaluates a log (eval_metrics.ndcg_discount_micro)
    from kgraph_spark.operators.eval_metrics import ndcg_discount_micro

    ndcg_w10 = "[" + ", ".join(str(w) for w in ndcg_discount_micro(10)) + "]"
    # the SAME Benford first-digit micro literals the Spark plan embeds
    from kgraph_spark.operators.profiling import benford_first_digit_micro

    benford_vals = ", ".join(
        f"('{d}', {m})" for d, m in zip(range(1, 10), benford_first_digit_micro())
    )
    # Flagship oracle. Restates the whole construction pipeline in SQL for
    # the driver corpus, where it is exactly expressible because: documents
    # are < 2000 chars (single chunk — no window-overlap effects), the
    # gazetteer is single-token vocabulary terms (no canonical ids → all
    # provisional sha256 ids, reproducible in DuckDB), and no relation
    # phrases / same_as merges fire (verified: predicates are exactly
    # appears_in + co_occurs_with). Mirrors: 12-token paragraphs
    # (_docs_to_span_documents), word-regex occurrence presence (raw,
    # pre-C5 — reference window-re-scan semantics), N=5 windows with the
    # 40-char minimum, pair counting per window, conf = min(.95,.6+.1n),
    # symmetric least/greatest ordering, cross-doc accumulation.
    kg_pipeline_oracle = f"""
        WITH base AS (
            SELECT doc_id::VARCHAR AS doc_id,
                   string_split_regex(trim(text), '\\s+') AS toks
            FROM documents
        ), paras AS (
            SELECT doc_id, i AS para_idx,
                   array_to_string(toks[i*12+1 : i*12+12], ' ') AS para
            FROM base, unnest(range(0, ((len(toks) + 11) // 12)::BIGINT)) AS u(i)
        ), pres AS (
            SELECT DISTINCT doc_id, para_idx, lower(w) AS term
            FROM paras, unnest(regexp_extract_all(para, '[A-Za-z0-9]+')) AS u(w)
            WHERE lower(w) IN ({kg_terms})
        ), plen AS (
            SELECT doc_id, para_idx, length(para) AS plen FROM paras
        ), nper AS (
            SELECT doc_id, count(*) AS n FROM paras GROUP BY doc_id
        ), wins AS (
            SELECT doc_id, j AS win_j
            FROM nper, unnest(range(0, greatest(n - 4, 0)::BIGINT)) AS w(j)
        ), winlen AS (
            SELECT w.doc_id, w.win_j
            FROM wins w JOIN plen l
              ON l.doc_id = w.doc_id AND l.para_idx BETWEEN w.win_j AND w.win_j + 4
            GROUP BY 1, 2
            HAVING sum(l.plen) + 4 >= 40
        ), member AS (
            SELECT DISTINCT wl.doc_id, wl.win_j, pr.term
            FROM winlen wl JOIN pres pr
              ON pr.doc_id = wl.doc_id AND pr.para_idx BETWEEN wl.win_j AND wl.win_j + 4
        ), pair_counts AS (
            SELECT a.doc_id, a.term AS ta, b.term AS tb, count(*) AS n
            FROM member a JOIN member b
              ON a.doc_id = b.doc_id AND a.win_j = b.win_j AND a.term < b.term
            GROUP BY 1, 2, 3
        ), eid AS (
            SELECT DISTINCT term,
                   'prov-' || substr(sha256(term || '|term'), 1, 12) AS id
            FROM pres
        ), cooc_doc AS (
            SELECT p.doc_id,
                   least(ea.id, eb.id) AS subject_id,
                   greatest(ea.id, eb.id) AS object_id,
                   least(0.95, 0.60 + 0.10 * p.n) AS conf
            FROM pair_counts p
            JOIN eid ea ON ea.term = p.ta
            JOIN eid eb ON eb.term = p.tb
        ), cooc AS (
            SELECT subject_id, 'co_occurs_with' AS predicate, object_id,
                   round(max(conf), 6) AS confidence, count(*) AS evidence_count
            FROM cooc_doc GROUP BY 1, 3
        ), appears AS (
            SELECT DISTINCT e.id AS subject_id, 'appears_in' AS predicate,
                   'DOC:' || pr.doc_id AS object_id,
                   round(0.95, 6) AS confidence, 1::BIGINT AS evidence_count
            FROM (SELECT DISTINCT doc_id, term FROM pres) pr
            JOIN eid e ON e.term = pr.term
        )
        SELECT * FROM cooc UNION ALL SELECT * FROM appears
    """
    mh_mins = ", ".join(f"min(md5(shingle || '#{i}')) AS h{i}" for i in range(64))
    mh_cols = ", ".join(f"h{i}" for i in range(64))
    hex60 = " + ".join(
        f"(strpos('0123456789abcdef', substr(m, {j}, 1)) - 1) * {16 ** (15 - j)}::BIGINT"
        for j in range(1, 16)
    )
    sh_votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(60)
    )
    sh_pack = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(60))
    # hyperplanes EXACTLY as similarity.hyperplane_buckets draws them
    # (random.Random(42).gauss, driver-side literals) — embedded here as SQL
    # literals so DuckDB reproduces the bucket assignment bit-for-bit.
    # dim=64 is the testdata embeddings dimension (all sf dirs).
    import random as _random

    _rng = _random.Random(42)
    _planes = [[_rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(8)]
    ann_bucket = " + ".join(
        "(CASE WHEN list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(repr(x) for x in plane)
        + f"]::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(_planes)
    )

    # banded LSH planes EXACTLY as similarity.banded_hyperplane_buckets
    # draws them: band b uses random.Random(42 + 7919*(b+1)), 4 planes
    def _band_bucket_sql(band: int) -> str:
        rng = _random.Random(42 + 7919 * (band + 1))
        planes = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(4)]
        return " + ".join(
            "(CASE WHEN list_dot_product(v, ["
            + ", ".join(repr(x) for x in plane)
            + f"]::DOUBLE[]) >= 0 THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes)
        )

    banded_union = "\n                UNION ALL\n".join(
        f"                SELECT id, v, {b} AS band, ({_band_bucket_sql(b)})::BIGINT AS bucket FROM e"
        for b in range(6)
    )
    # Morton interleave: column 0 (u) owns even bit positions, column 1
    # (h) odd — the same fold zorder_key builds as JVM shifts
    morton_2x16 = " + ".join(
        f"(((qu >> {b}) & 1) << {2 * b}) + (((qh >> {b}) & 1) << {2 * b + 1})"
        for b in range(16)
    )
    d = {
        "kg_pipeline_triples": kg_pipeline_oracle,
        "multimodal_features": """
            SELECT 'media-' || doc_id AS media_ref,
                   CASE WHEN doc_id % 7 = 0 THEN 'pdf'
                        WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   octet_length(encode(text))::BIGINT AS n_bytes,
                   (doc_id % 7 <> 0) AS decode_ok
            FROM documents WHERE doc_id < 300
        """,
        "ann_lsh_topk": f"""
            WITH b AS (
                SELECT vec_id, embedding::DOUBLE[] AS e,
                       ({ann_bucket})::BIGINT AS bucket
                FROM embeddings
            ), p AS (
                SELECT vec_id AS probe_id, e AS pe, bucket FROM b WHERE vec_id < 5
            ), scored AS (
                SELECT p.probe_id, b.vec_id,
                       list_cosine_similarity(b.e, p.pe) AS c
                FROM b JOIN p USING (bucket)
            ), ranked AS (
                SELECT probe_id, vec_id, c,
                       row_number() OVER (PARTITION BY probe_id ORDER BY c DESC, vec_id) AS rank
                FROM scored
            )
            SELECT probe_id, vec_id, round(c, 6) AS cosine, rank
            FROM ranked WHERE rank <= 10
        """,
        "ann_recall_lsh": f"""
            -- LSH top-10 vs brute-force top-10 per probe; exact hit
            -- counts, one division (eval_metrics.retrieval_recall)
            WITH b AS (
                SELECT vec_id, embedding::DOUBLE[] AS e,
                       ({ann_bucket})::BIGINT AS bucket
                FROM embeddings
            ), p AS (
                SELECT vec_id AS probe_id, e AS pe, bucket FROM b
                WHERE vec_id < 5
            ), scored AS (
                SELECT p.probe_id, b.vec_id,
                       list_cosine_similarity(b.e, p.pe) AS c
                FROM b JOIN p USING (bucket)
            ), lsh AS (
                SELECT probe_id, vec_id FROM (
                    SELECT probe_id, vec_id,
                           row_number() OVER (PARTITION BY probe_id
                               ORDER BY c DESC, vec_id) AS rank
                    FROM scored
                ) WHERE rank <= 10
            ), s2 AS (
                SELECT p.probe_id, i.vec_id,
                       list_cosine_similarity(i.embedding::DOUBLE[],
                                              p.pe) AS c
                FROM embeddings i, p
            ), bf AS (
                SELECT probe_id, vec_id FROM (
                    SELECT probe_id, vec_id,
                           row_number() OVER (PARTITION BY probe_id
                               ORDER BY c DESC, vec_id) AS rank
                    FROM s2
                ) WHERE rank <= 10
            ), hits AS (
                SELECT bf.probe_id, count(*)::BIGINT AS n_hits
                FROM bf JOIN lsh USING (probe_id, vec_id) GROUP BY 1
            ), base AS (
                SELECT probe_id, count(*)::BIGINT AS k FROM bf GROUP BY 1
            )
            SELECT base.probe_id, k,
                   coalesce(n_hits, 0)::BIGINT AS n_hits,
                   round(coalesce(n_hits, 0)::DOUBLE / k::DOUBLE, 6)
                       AS recall
            FROM base LEFT JOIN hits USING (probe_id)
        """,
        "ann_ivf_topk": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            ), cent AS (
                SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id < 8
            ), asg AS (
                SELECT e.vec_id, e.emb, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.emb, c.ce) DESC, c.cid) AS rn
                FROM e CROSS JOIN cent c
            ), cells AS (
                SELECT vec_id, emb, cid AS cell FROM asg WHERE rn = 1
            ), pasg AS (
                SELECT vec_id AS probe_id, emb AS pe, cid AS cell
                FROM asg WHERE vec_id < 5 AND rn <= 2
            ), scored AS (
                SELECT p.probe_id, c.vec_id,
                       list_cosine_similarity(c.emb, p.pe) AS cos
                FROM cells c JOIN pasg p USING (cell)
            ), ranked AS (
                SELECT probe_id, vec_id, cos,
                       row_number() OVER (PARTITION BY probe_id
                           ORDER BY cos DESC, vec_id) AS rank
                FROM scored
            )
            SELECT probe_id, vec_id, round(cos, 6) AS cosine, rank
            FROM ranked WHERE rank <= 10
        """,
        "evt_windowed_counts": """
            SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
                   event_type, count(*) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "profile_docs": """
            SELECT 'doc_id' AS "column", count(*)::BIGINT AS n_rows,
                   (count(*) - count(doc_id))::BIGINT AS n_nulls,
                   count(DISTINCT doc_id)::BIGINT AS n_distinct,
                   min(doc_id)::VARCHAR AS min_value, max(doc_id)::VARCHAR AS max_value
            FROM documents
            UNION ALL
            SELECT 'text', count(*), count(*) - count(text), count(DISTINCT text),
                   min(text), max(text) FROM documents
            UNION ALL
            SELECT 'lang', count(*), count(*) - count(lang), count(DISTINCT lang),
                   min(lang), max(lang) FROM documents
            UNION ALL
            SELECT 'source', count(*), count(*) - count(source), count(DISTINCT source),
                   min(source), max(source) FROM documents
            UNION ALL
            SELECT 'n_chars', count(*), count(*) - count(n_chars), count(DISTINCT n_chars),
                   min(n_chars)::VARCHAR, max(n_chars)::VARCHAR FROM documents
        """,
        "evt_outliers": """
            WITH f AS (
                SELECT event_type AS g,
                       round(quantile_cont(value, 0.25), 6) AS q1,
                       round(quantile_cont(value, 0.75), 6) AS q3
                FROM events GROUP BY 1
            ), b AS (
                SELECT g, round(q1 - 1.5::DOUBLE * (q3 - q1), 6) AS lo,
                       round(q3 + 1.5::DOUBLE * (q3 - q1), 6) AS hi
                FROM f
            )
            SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
                   b.lo, b.hi,
                   CASE WHEN e.value IS NULL THEN false
                        ELSE (round(e.value, 6) < b.lo OR round(e.value, 6) > b.hi)
                   END AS is_outlier
            FROM events e JOIN b ON e.event_type = b.g
        """,
        "curation_sample_k": """
            SELECT doc_id, text, lang, source, n_chars, rk::BIGINT AS sample_rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY lang
                    ORDER BY md5(doc_id::VARCHAR || 'v1'), doc_id
                ) AS rk
                FROM documents
            ) WHERE rk <= 5
        """,
        "graph_condense": """
            WITH members AS (
                SELECT n_regionkey AS region, 'N' || n_nationkey AS id FROM nation
                UNION ALL
                SELECT n_regionkey, 'R' || n_regionkey FROM nation
                UNION ALL
                SELECT n_regionkey, 'C' || c_custkey
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                UNION ALL
                SELECT n_regionkey, 'S' || s_suppkey
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
            ), winners AS (
                SELECT region, min(id) AS component FROM members GROUP BY region
            ), trade AS (
                SELECT 'C' || o_custkey AS cid, c_nationkey AS cn,
                       'S' || l_suppkey AS sid, s_nationkey AS sn
                FROM orders
                JOIN lineitem ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
            ), withreg AS (
                SELECT cid, sid, nc.n_regionkey AS rc, ns.n_regionkey AS rs
                FROM trade
                JOIN nation nc ON cn = nc.n_nationkey
                JOIN nation ns ON sn = ns.n_nationkey
            )
            SELECT wc.component AS comp_src, ws.component AS comp_dst,
                   count(*)::BIGINT AS n_edges,
                   count(DISTINCT cid || '|' || sid)::BIGINT AS n_pairs
            FROM withreg
            JOIN winners wc ON rc = wc.region
            JOIN winners ws ON rs = ws.region
            GROUP BY 1, 2
        """,
        "span_interleave": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 400
            ), np AS (
                SELECT doc_id, greatest(cast(ceil(len(t) / 12.0) AS INT), 1) AS n
                FROM toks
            ), kinds AS (
                SELECT doc_id, flatten(list_transform(range(0, n), i ->
                    CASE WHEN i % 6 = 5 THEN ['text', 'media', 'media']
                         WHEN i % 3 = 2 THEN ['text', 'media']
                         ELSE ['text'] END)) AS ks
                FROM np
            ), ex AS (
                SELECT doc_id, unnest(ks) AS kind,
                       generate_subscripts(ks, 1) AS pos
                FROM kinds
            ), w AS (
                SELECT doc_id, kind, pos,
                       lag(kind) OVER (PARTITION BY doc_id ORDER BY pos) AS pk,
                       pos - row_number() OVER (
                           PARTITION BY doc_id, kind ORDER BY pos) AS grp
                FROM ex
            ), base AS (
                SELECT doc_id,
                       count(*)::BIGINT AS n_spans,
                       count(*) FILTER (WHERE kind = 'text')::BIGINT AS n_text,
                       count(*) FILTER (WHERE kind = 'media')::BIGINT AS n_media,
                       count(*) FILTER (WHERE pk IS NOT NULL AND pk <> kind)::BIGINT
                           AS n_transitions,
                       min(pos) FILTER (WHERE kind = 'media')::BIGINT AS first_media_pos
                FROM w GROUP BY doc_id
            ), mr AS (
                SELECT doc_id, max(cnt)::BIGINT AS max_media_run
                FROM (SELECT doc_id, grp, count(*) AS cnt FROM w
                      WHERE kind = 'media' GROUP BY doc_id, grp)
                GROUP BY doc_id
            )
            SELECT b.doc_id, n_spans, n_text, n_media,
                   round(n_media::DOUBLE / greatest(n_spans, 1), 6) AS media_fraction,
                   n_transitions,
                   coalesce(max_media_run, 0)::BIGINT AS max_media_run,
                   first_media_pos
            FROM base b LEFT JOIN mr USING (doc_id)
        """,
        "media_coref": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 400
            ), np AS (
                SELECT doc_id, greatest(cast(ceil(len(t) / 12.0) AS INT), 1) AS n
                FROM toks
            ), refs AS (
                SELECT doc_id, flatten(list_transform(range(0, n), i ->
                    CASE WHEN i % 6 = 5 THEN
                             ['media://asset/' || ((doc_id * 31 + i) % 41)::VARCHAR,
                              'media://asset/' || (((doc_id * 17 + i) % 37) + 50)::VARCHAR]
                         WHEN i % 3 = 2 THEN
                             ['media://asset/' || ((doc_id * 31 + i) % 41)::VARCHAR]
                         ELSE []::VARCHAR[] END)) AS rs
                FROM np
            ), ex AS (
                SELECT doc_id, unnest(rs) AS media_ref FROM refs
            )
            SELECT media_ref, count(*)::BIGINT AS n_uses,
                   count(DISTINCT doc_id)::BIGINT AS n_docs,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM ex GROUP BY 1
        """,
        "evt_histogram_eqd": """
            WITH b AS (
                SELECT round(quantile_cont(value, 0.125), 6) AS q1,
                       round(quantile_cont(value, 0.25), 6) AS q2,
                       round(quantile_cont(value, 0.375), 6) AS q3,
                       round(quantile_cont(value, 0.5), 6) AS q4,
                       round(quantile_cont(value, 0.625), 6) AS q5,
                       round(quantile_cont(value, 0.75), 6) AS q6,
                       round(quantile_cont(value, 0.875), 6) AS q7
                FROM events WHERE value IS NOT NULL
            ), x AS (
                SELECT round(value, 6) AS v FROM events WHERE value IS NOT NULL
            ), binned AS (
                SELECT v,
                       (CASE WHEN v > q1 THEN 1 ELSE 0 END
                        + CASE WHEN v > q2 THEN 1 ELSE 0 END
                        + CASE WHEN v > q3 THEN 1 ELSE 0 END
                        + CASE WHEN v > q4 THEN 1 ELSE 0 END
                        + CASE WHEN v > q5 THEN 1 ELSE 0 END
                        + CASE WHEN v > q6 THEN 1 ELSE 0 END
                        + CASE WHEN v > q7 THEN 1 ELSE 0 END)::BIGINT AS bin
                FROM x, b
            )
            SELECT bin, min(v) AS lo, max(v) AS hi, count(*)::BIGINT AS n
            FROM binned GROUP BY 1
        """,
        "graph_ktruss": """
            WITH e0 AS (
                SELECT DISTINCT
                       least('P' || a.l_partkey, 'P' || b.l_partkey) AS a,
                       greatest('P' || a.l_partkey, 'P' || b.l_partkey) AS b
                FROM lineitem a JOIN lineitem b
                  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
                WHERE a.l_orderkey < 80 AND b.l_orderkey < 80
            ), adj0 AS (
                SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
            ), c0 AS (
                SELECT x.v AS na, y.v AS nb, count(*)::BIGINT AS nc
                FROM adj0 x JOIN adj0 y ON x.u = y.u AND x.v < y.v
                GROUP BY 1, 2
            ), s0 AS (
                SELECT e0.a, e0.b, coalesce(nc, 0)::BIGINT AS support
                FROM e0 LEFT JOIN c0 ON e0.a = c0.na AND e0.b = c0.nb
            ), e1 AS (
                SELECT a, b FROM s0 WHERE support >= 1
            ), adj1 AS (
                SELECT a AS u, b AS v FROM e1 UNION ALL SELECT b, a FROM e1
            ), c1 AS (
                SELECT x.v AS na, y.v AS nb, count(*)::BIGINT AS nc
                FROM adj1 x JOIN adj1 y ON x.u = y.u AND x.v < y.v
                GROUP BY 1, 2
            ), s1 AS (
                SELECT e1.a, e1.b, coalesce(nc, 0)::BIGINT AS support
                FROM e1 LEFT JOIN c1 ON e1.a = c1.na AND e1.b = c1.nb
            ), e2 AS (
                SELECT a, b FROM s1 WHERE support >= 1
            ), adj2 AS (
                SELECT a AS u, b AS v FROM e2 UNION ALL SELECT b, a FROM e2
            ), c2 AS (
                SELECT x.v AS na, y.v AS nb, count(*)::BIGINT AS nc
                FROM adj2 x JOIN adj2 y ON x.u = y.u AND x.v < y.v
                GROUP BY 1, 2
            ), s2 AS (
                SELECT e2.a, e2.b, coalesce(nc, 0)::BIGINT AS support
                FROM e2 LEFT JOIN c2 ON e2.a = c2.na AND e2.b = c2.nb
            )
            SELECT a, b, support FROM s2 WHERE support >= 1
        """,
        "kg_diff": """
            WITH old_t AS (
                SELECT 'O' || l_orderkey AS subject_id, 'contains' AS predicate,
                       'P' || l_partkey AS object_id,
                       round(least(0.95::DOUBLE, 0.6::DOUBLE + 0.1::DOUBLE * count(*)), 6)
                           AS old_confidence
                FROM lineitem WHERE l_orderkey >= 0 AND l_orderkey < 200
                GROUP BY 1, 2, 3, l_partkey
            ), new_t AS (
                SELECT 'O' || l_orderkey AS subject_id, 'contains' AS predicate,
                       'P' || l_partkey AS object_id,
                       round(round(least(0.95::DOUBLE, 0.6::DOUBLE + 0.1::DOUBLE * count(*)), 6)
                             + CASE WHEN l_partkey % 2 = 0 THEN 0.01::DOUBLE
                                    ELSE 0.0::DOUBLE END, 6) AS new_confidence
                FROM lineitem WHERE l_orderkey >= 50 AND l_orderkey < 250
                GROUP BY 1, 2, 3, l_partkey
            )
            SELECT coalesce(o.subject_id, n.subject_id) AS subject_id,
                   coalesce(o.predicate, n.predicate) AS predicate,
                   coalesce(o.object_id, n.object_id) AS object_id,
                   o.old_confidence, n.new_confidence,
                   CASE WHEN o.old_confidence IS NULL THEN 'added'
                        WHEN n.new_confidence IS NULL THEN 'removed'
                        WHEN o.old_confidence <> n.new_confidence THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM old_t o FULL OUTER JOIN new_t n
              ON o.subject_id = n.subject_id AND o.predicate = n.predicate
             AND o.object_id = n.object_id
        """,
        "d2_acronym": """
            WITH acr AS (
                SELECT p_name AS name,
                       upper(array_to_string(list_transform(
                           string_split_regex(lower(trim(p_name)), '\\s+'),
                           t -> t[1:1]), '')) AS a,
                       p_partkey
                FROM part
            ), idx AS (
                SELECT DISTINCT name AS expansion, a AS _acr FROM acr
                WHERE len(string_split_regex(lower(trim(name)), '\\s+')) >= 2
            ), amb AS (
                SELECT _acr, count(*)::BIGINT AS n_candidates FROM idx GROUP BY 1
            ), m AS (
                SELECT DISTINCT a AS mention FROM acr WHERE p_partkey % 7 = 0
            )
            SELECT m.mention, idx.expansion, amb.n_candidates
            FROM m JOIN idx ON m.mention = idx._acr
            JOIN amb ON idx._acr = amb._acr
        """,
        "evt_user_lifecycle": """
            WITH days AS (
                SELECT DISTINCT user_id, ts::DATE AS d FROM events
            ), g AS (
                SELECT user_id, d,
                       d - lag(d) OVER (PARTITION BY user_id ORDER BY d) AS gap
                FROM days
            ), pd AS (
                SELECT user_id, count(*)::BIGINT AS n_active_days,
                       coalesce(max(gap), 0)::BIGINT AS max_gap_days
                FROM g GROUP BY 1
            ), span AS (
                SELECT user_id, epoch_us(min(ts)) AS first_seen_us,
                       epoch_us(max(ts)) AS last_seen_us,
                       count(*)::BIGINT AS n_events
                FROM events GROUP BY 1
            )
            SELECT s.user_id, first_seen_us, last_seen_us, n_events,
                   n_active_days, max_gap_days
            FROM span s JOIN pd USING (user_id)
        """,
        "oov_rate": """
            WITH toks AS (
                SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    t -> length(t) > 0)) AS token
                FROM documents
            ), dfr AS (
                SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
            ), rare AS (
                SELECT token FROM dfr WHERE df < 2
            ), pd AS (
                SELECT doc_id, count(*)::BIGINT AS n_tokens FROM toks GROUP BY 1
            ), rc AS (
                SELECT doc_id, count(*)::BIGINT AS n_oov
                FROM toks JOIN rare USING (token) GROUP BY 1
            )
            SELECT pd.doc_id, n_tokens,
                   coalesce(n_oov, 0)::BIGINT AS n_oov,
                   round(coalesce(n_oov, 0) / n_tokens, 6) AS oov_rate
            FROM pd LEFT JOIN rc USING (doc_id)
        """,
        "graph_assortativity": """
            WITH e AS (
                SELECT DISTINCT 'O' || l_orderkey AS a, 'P' || l_partkey AS b
                FROM lineitem WHERE l_partkey % 3 = 0
            ), und AS (
                SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
                FROM e WHERE a <> b
            ), deg AS (
                SELECT n, count(*)::BIGINT AS d
                FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
                GROUP BY 1
            ), ends AS (
                SELECT da.d AS x, db.d AS y
                FROM und JOIN deg da ON und.a = da.n JOIN deg db ON und.b = db.n
            ), b2 AS (
                SELECT x, y FROM ends UNION ALL SELECT y, x FROM ends
            ), m AS (
                SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                       sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
                FROM b2
            )
            SELECT n AS n_ends,
                   CASE WHEN (n::DOUBLE * sxx - sx::DOUBLE * sx) <> 0 THEN
                       round((n::DOUBLE * sxy - sx::DOUBLE * sx)
                             / (n::DOUBLE * sxx - sx::DOUBLE * sx), 6)
                   END AS assortativity
            FROM m
        """,
        "entity_media_grounding": """
            WITH base AS (
                SELECT doc_id,
                       generate_subscripts(string_split_regex(lower(trim(text)), '\\s+'), 1) - 1 AS idx,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
                FROM documents WHERE doc_id < 400
            ), mentions AS (
                SELECT DISTINCT doc_id, (idx // 12)::BIGINT AS para, token
                FROM base
                WHERE token IN ('join', 'filter', 'window', 'customer', 'spark',
                                'merge', 'stream', 'table')
            ), np AS (
                SELECT doc_id,
                       greatest(cast(ceil(len(string_split_regex(trim(text), '\\s+')) / 12.0) AS INT), 1) AS n
                FROM documents WHERE doc_id < 400
            ), paras AS (
                SELECT doc_id, unnest(range(0, n)) AS para FROM np
            ), media AS (
                SELECT doc_id, para,
                       'media://asset/' || ((doc_id * 31 + para) % 41)::VARCHAR AS media_ref
                FROM paras WHERE para % 3 = 2
                UNION ALL
                SELECT doc_id, para,
                       'media://asset/' || (((doc_id * 17 + para) % 37) + 50)::VARCHAR
                FROM paras WHERE para % 6 = 5
            )
            SELECT m.token, md.media_ref,
                   count(*)::BIGINT AS n_cooccur,
                   count(DISTINCT m.doc_id)::BIGINT AS n_docs
            FROM mentions m JOIN media md
              ON m.doc_id = md.doc_id AND abs(m.para - md.para) <= 1
            GROUP BY 1, 2
        """,
        "evt_norm_scores": """
            WITH s AS (
                SELECT event_type AS g,
                       round(min(value), 6) AS lo, round(max(value), 6) AS hi,
                       round(quantile_cont(value, 0.25), 6) AS q1,
                       round(quantile_cont(value, 0.5), 6) AS med,
                       round(quantile_cont(value, 0.75), 6) AS q3
                FROM events GROUP BY 1
            )
            SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
                   CASE WHEN s.hi = s.lo THEN 0.5::DOUBLE
                        ELSE round((round(e.value, 6) - s.lo) / (s.hi - s.lo), 6)
                   END AS minmax_norm,
                   CASE WHEN s.q3 <> s.q1 THEN
                       round((round(e.value, 6) - s.med) / (s.q3 - s.q1), 6)
                   END AS robust_norm
            FROM events e JOIN s ON e.event_type = s.g
        """,
        "graph_smooth": """
            WITH e AS (
                SELECT 'S' || s_suppkey AS a, 'N' || s_nationkey AS b FROM supplier
                UNION
                SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
            ), adj AS (
                SELECT a AS n, b AS nb FROM e UNION SELECT b, a FROM e
            ), f0 AS (
                SELECT 'S' || s_suppkey AS n, round(s_acctbal, 6) AS f FROM supplier
                UNION ALL
                SELECT 'N' || n_nationkey, 0.0::DOUBLE FROM nation
                UNION ALL
                SELECT 'R' || r_regionkey, 0.0::DOUBLE FROM region
            ), m1 AS (
                SELECT adj.n,
                       sum(round(nf.f * 1000000, 0)::BIGINT) / count(*) / 1000000.0 AS mean
                FROM adj JOIN f0 nf ON adj.nb = nf.n GROUP BY 1
            ), f1 AS (
                SELECT f0.n,
                       round(CASE WHEN m1.mean IS NULL THEN f0.f
                                  ELSE 0.5::DOUBLE * f0.f + 0.5::DOUBLE * m1.mean
                             END, 6) AS f
                FROM f0 LEFT JOIN m1 ON f0.n = m1.n
            ), m2 AS (
                SELECT adj.n,
                       sum(round(nf.f * 1000000, 0)::BIGINT) / count(*) / 1000000.0 AS mean
                FROM adj JOIN f1 nf ON adj.nb = nf.n GROUP BY 1
            )
            SELECT f1.n AS id,
                   round(CASE WHEN m2.mean IS NULL THEN f1.f
                              ELSE 0.5::DOUBLE * f1.f + 0.5::DOUBLE * m2.mean
                         END, 6) AS f
            FROM f1 LEFT JOIN m2 ON f1.n = m2.n
        """,
        "evt_mad_outliers": """
            WITH med AS (
                SELECT event_type AS g,
                       round(quantile_cont(value, 0.5), 6) AS med
                FROM events GROUP BY 1
            ), d AS (
                SELECT e.event_id, e.event_type, e.value, m.med,
                       round(abs(round(e.value, 6) - m.med), 6) AS dev
                FROM events e JOIN med m ON e.event_type = m.g
            ), mad AS (
                SELECT event_type AS g2,
                       round(quantile_cont(dev, 0.5), 6) AS mad
                FROM d GROUP BY 1
            )
            SELECT d.event_id, d.event_type, round(d.value, 6) AS value,
                   d.med AS median, mad.mad,
                   CASE WHEN d.value IS NULL THEN false
                        ELSE d.dev > round(3.0::DOUBLE * mad.mad, 6)
                   END AS is_outlier
            FROM d JOIN mad ON d.event_type = mad.g2
        """,
        "containment_pairs": """
            WITH sh AS (
                SELECT DISTINCT doc_id, t AS shingle
                FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
                WHERE doc_id < 300 AND length(t) > 0
            ), sz AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, i::BIGINT AS n_shared,
                   round(i::DOUBLE / sa.sz, 6) AS containment_a_in_b,
                   round(i::DOUBLE / sb.sz, 6) AS containment_b_in_a
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE greatest(i::DOUBLE / sa.sz, i::DOUBLE / sb.sz) >= 0.6
        """,
        "domain_quality": """
            WITH f AS (
                SELECT doc_id,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
                FROM documents
            ), q AS (
                SELECT doc_id,
                       round(0.5 * alpha_ratio + 0.3 * (1 - punct_ratio)
                             + 0.2 * least(1.0, n_tokens / 100.0), 6) AS qs
                FROM f
            ), j AS (
                SELECT source AS domain, round(qs * 1000000, 0)::BIGINT AS u
                FROM q JOIN documents USING (doc_id)
            )
            SELECT domain, count(*)::BIGINT AS n_docs,
                   round(sum(u) / count(*) / 1000000.0, 6) AS mean_quality,
                   round(sum(u) / count(*) / 1000000.0, 6) >= 0.5 AS keep
            FROM j GROUP BY 1
        """,
        "cms_hot_terms": """
            WITH toks AS (
                SELECT unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    t -> length(t) > 0)) AS key
                FROM documents WHERE doc_id < 200
            ), cells AS (
                SELECT key, i,
                       ('0x' || substr(md5(key || '#cms' || i::VARCHAR), 1, 8))::BIGINT
                           % 512 AS bucket
                FROM toks CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
            ), sk AS (
                SELECT i, bucket, count(*)::BIGINT AS cnt
                FROM cells GROUP BY 1, 2
            ), keys AS (
                SELECT key, count(*)::BIGINT AS exact FROM toks GROUP BY 1
            ), probes AS (
                SELECT k.key, k.exact, i,
                       ('0x' || substr(md5(k.key || '#cms' || i::VARCHAR), 1, 8))::BIGINT
                           % 512 AS bucket
                FROM keys k CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
            ), est AS (
                SELECT key, exact, min(cnt)::BIGINT AS estimate
                FROM probes JOIN sk USING (i, bucket) GROUP BY 1, 2
            )
            SELECT key, exact, estimate, (estimate - exact)::BIGINT AS overcount
            FROM est WHERE estimate >= 30
        """,
        "embedding_centroids": """
            WITH ex AS (
                SELECT label, generate_subscripts(embedding, 1) AS pos,
                       unnest(embedding)::DOUBLE AS x
                FROM embeddings
            )
            SELECT label, (pos - 1)::BIGINT AS pos,
                   round(sum(round(x * 1000000, 0)::BIGINT)
                         / count(*) / 1000000.0, 6) AS mean,
                   count(*)::BIGINT AS n_vectors
            FROM ex GROUP BY 1, 2
        """,
        "embedding_dispersion": """
            WITH ex AS (
                SELECT label, generate_subscripts(embedding, 1) AS pos,
                       unnest(embedding)::DOUBLE AS x
                FROM embeddings
            ), su AS (
                SELECT label, pos,
                       sum(round(x * 1000000, 0)::BIGINT) AS s,
                       count(*) AS n
                FROM ex GROUP BY 1, 2
            ), cent AS (
                SELECT label,
                       list(round(s / n / 1000000.0, 6) ORDER BY pos) AS c
                FROM su GROUP BY 1
            ), scored AS (
                SELECT e.label,
                       round(list_cosine_similarity(e.embedding::DOUBLE[], c.c)
                             * 1000000, 0)::BIGINT AS u
                FROM embeddings e JOIN cent c ON e.label = c.label
            )
            SELECT label, count(*)::BIGINT AS n_vectors,
                   round(sum(u) / count(*) / 1000000.0, 6) AS mean_cosine,
                   round(min(u) / 1000000.0, 6) AS min_cosine
            FROM scored GROUP BY 1
        """,
        "graph_scc": """
            WITH RECURSIVE c AS (
                SELECT c_custkey AS k, c_nationkey AS nk FROM customer
                WHERE c_custkey < 300
            ), o AS (
                SELECT k, nk,
                       row_number() OVER (PARTITION BY nk ORDER BY k) AS rn,
                       count(*) OVER (PARTITION BY nk) AS cnt
                FROM c
            ), cyc AS (
                SELECT 'C' || o1.k AS src, 'C' || o2.k AS dst
                FROM o o1 JOIN o o2
                  ON o1.nk = o2.nk AND o2.rn = (o1.rn % o1.cnt) + 1
            ), mins AS (
                SELECT nk, min(k) AS mk FROM c GROUP BY 1
            ), nxt AS (
                SELECT mk, lead(mk) OVER (ORDER BY nk) AS nmk FROM mins
            ), chain AS (
                SELECT 'C' || mk AS src, 'C' || nmk AS dst
                FROM nxt WHERE nmk IS NOT NULL
            ), e AS (
                SELECT src, dst FROM cyc UNION SELECT src, dst FROM chain
            ), nodes AS (
                SELECT src AS n FROM e UNION SELECT dst FROM e
            ), r(src, dst) AS (
                SELECT src, dst FROM e
                UNION
                SELECT r.src, e2.dst FROM r JOIN e e2 ON r.dst = e2.src
            ), reach AS (
                SELECT src, dst FROM r UNION SELECT n, n FROM nodes
            )
            SELECT a.src AS id, min(a.dst) AS scc_id
            FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
            GROUP BY 1
        """,
        "evt_histogram": """
            WITH b AS (
                SELECT min(value) AS lo, max(value) AS hi
                FROM events WHERE value IS NOT NULL
            ), x AS (
                SELECT event_type,
                       least(floor((value - lo) / ((hi - lo) / 10)), 9)::BIGINT AS bin,
                       lo, hi
                FROM events, b WHERE value IS NOT NULL
            )
            SELECT event_type, bin,
                   round(min(lo + bin * ((hi - lo) / 10)), 6) AS bin_lo,
                   round(min(lo + (bin + 1) * ((hi - lo) / 10)), 6) AS bin_hi,
                   count(*)::BIGINT AS n
            FROM x GROUP BY 1, 2
        """,
        "docs_upsert": """
            WITH base AS (
                SELECT doc_id, lang, source, n_chars, 0::BIGINT AS version,
                       0 AS tag, false AS del
                FROM documents
            ), upd AS (
                SELECT doc_id, lang, source, n_chars + 1000 AS n_chars,
                       1::BIGINT AS version, 1 AS tag, (doc_id % 20 = 0) AS del
                FROM documents WHERE doc_id % 5 = 0
            ), u AS (
                SELECT * FROM base UNION ALL SELECT * FROM upd
            ), w AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY version DESC, tag DESC) AS rn
                FROM u
            )
            SELECT doc_id, lang, source, n_chars, version
            FROM w WHERE rn = 1 AND NOT del
        """,
        "kg_negatives": """
            WITH tri AS (
                SELECT DISTINCT 'O' || l_orderkey AS s, 'contains' AS p,
                       'P' || l_partkey AS o
                FROM lineitem WHERE l_orderkey < 100
            ), ents AS (
                SELECT DISTINCT 'P' || p_partkey AS e FROM part
            ), idx AS (
                SELECT e, (row_number() OVER (ORDER BY e) - 1)::BIGINT AS i
                FROM ents
            ), n AS (
                SELECT count(*)::BIGINT AS c FROM ents
            ), ex AS (
                SELECT s, p, o, j FROM tri
                CROSS JOIN (SELECT unnest(range(0, 3)) AS j)
            ), hashed AS (
                SELECT s, p, o, j,
                       ('0x' || substr(md5(s || '|' || p || '|' || o || '|'
                            || j::VARCHAR || 'neg-v1'), 1, 6))::BIGINT
                           % (SELECT c FROM n) AS hi
                FROM ex
            ), neg AS (
                SELECT s, p, o, j, e FROM hashed JOIN idx ON hi = idx.i
            )
            SELECT s AS subject_id, p AS predicate, o AS object_id,
                   j::BIGINT AS sample_idx, e AS neg_object_id
            FROM neg
            WHERE NOT EXISTS (SELECT 1 FROM tri t
                              WHERE t.s = neg.s AND t.p = neg.p AND t.o = neg.e)
        """,
        "dq_checks": """
            SELECT 'documents_empty_text' AS rule,
                   (SELECT count(*) FROM documents
                    WHERE length(trim(text)) = 0)::BIGINT AS n_violations
            UNION ALL
            SELECT 'events_null_value',
                   (SELECT count(*) FROM events WHERE value IS NULL)::BIGINT
            UNION ALL
            SELECT 'lineitem_nonpositive_qty',
                   (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)::BIGINT
            UNION ALL
            SELECT 'lineitem_orphan_order',
                   (SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey))::BIGINT
            UNION ALL
            SELECT 'orders_orphan_customer',
                   (SELECT count(*) FROM orders o
                    WHERE NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey))::BIGINT
        """,
        "inverted_index": """
            WITH toks AS (
                SELECT doc_id, list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    t -> length(t) > 0) AS t
                FROM documents WHERE doc_id < 200
            ), ex AS (
                SELECT doc_id, unnest(t) AS term FROM toks
            ), tf AS (
                SELECT term, doc_id, count(*)::BIGINT AS tf
                FROM ex GROUP BY 1, 2
            ), stats AS (
                SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
                FROM tf GROUP BY 1 HAVING count(*) >= 2
            ), ranked AS (
                SELECT term, doc_id, tf,
                       row_number() OVER (PARTITION BY term
                           ORDER BY tf DESC, doc_id ASC)::BIGINT AS rank
                FROM tf
            )
            SELECT r.term, s.df, s.cf, r.doc_id, r.tf, r.rank
            FROM ranked r JOIN stats s USING (term)
            WHERE r.rank <= 5
        """,
        "cooc_pmi": """
            WITH toks AS (
                SELECT doc_id, list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    t -> length(t) > 0) AS t
                FROM documents
            ), pres AS (
                SELECT DISTINCT doc_id, w FROM (
                    SELECT doc_id, unnest(t) AS w FROM toks)
                WHERE w IN ('join', 'filter', 'window', 'customer', 'spark',
                            'merge', 'stream', 'table')
            ), marg AS (
                SELECT w, count(*)::BIGINT AS n FROM pres GROUP BY 1
            ), nd AS (
                SELECT count(*)::BIGINT AS n_docs FROM documents
            ), pairs AS (
                SELECT a.w AS wa, b.w AS wb, count(*)::BIGINT AS n_ab
                FROM pres a JOIN pres b
                  ON a.doc_id = b.doc_id AND a.w < b.w
                GROUP BY 1, 2
            )
            SELECT wa AS word_a, wb AS word_b, n_ab, ma.n AS n_a, mb.n AS n_b,
                   round(ln(n_ab * n_docs::DOUBLE / (ma.n * mb.n)), 6) AS pmi,
                   CASE WHEN n_ab < n_docs THEN
                       round(ln(n_ab * n_docs::DOUBLE / (ma.n * mb.n))
                             / (-ln(n_ab / n_docs::DOUBLE)), 6)
                   END AS npmi
            FROM pairs
            CROSS JOIN nd
            JOIN marg ma ON wa = ma.w
            JOIN marg mb ON wb = mb.w
        """,
        "graph_jaccard": """
            WITH e AS (
                SELECT DISTINCT 'O' || l_orderkey AS a, 'P' || l_partkey AS b
                FROM lineitem WHERE l_partkey % 3 = 0
            ), und AS (
                SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
            ), deg AS (
                SELECT u AS node, count(*)::BIGINT AS d FROM und GROUP BY 1
            ), wed AS (
                SELECT x.v AS na, y.v AS nb, count(*)::BIGINT AS n_common
                FROM und x JOIN und y ON x.u = y.u AND x.v < y.v
                GROUP BY 1, 2
            ), cand AS (
                SELECT * FROM wed w WHERE n_common >= 2
                AND NOT EXISTS (SELECT 1 FROM e
                                WHERE (e.a = w.na AND e.b = w.nb)
                                   OR (e.a = w.nb AND e.b = w.na))
            )
            SELECT na AS node_a, nb AS node_b, n_common,
                   (da.d + db.d - n_common)::BIGINT AS n_union,
                   round(n_common::DOUBLE / (da.d + db.d - n_common), 6) AS jaccard
            FROM cand
            JOIN deg da ON na = da.node
            JOIN deg db ON nb = db.node
        """,
        "curation_split": """
            SELECT doc_id, lang, source, n_chars,
                   CASE WHEN substr(md5(doc_id::VARCHAR || 'split-v1'), 1, 6)
                             < 'cccccd' THEN 'train'
                        WHEN substr(md5(doc_id::VARCHAR || 'split-v1'), 1, 6)
                             < 'e66666' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "evt_rolling": """
            WITH e AS (
                SELECT event_id, event_type, ts,
                       round(value * 10000, 0)::BIGINT AS u
                FROM events
            )
            SELECT event_id, event_type, epoch_us(ts) AS ts_us,
                   count(u) OVER w AS rolling_n,
                   round((sum(u) OVER w) / 10000.0, 4) AS rolling_sum,
                   round((sum(u) OVER w) / 10000.0 / (count(u) OVER w), 6)
                       AS rolling_avg
            FROM e
            WINDOW w AS (PARTITION BY event_type ORDER BY ts
                         RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                               AND CURRENT ROW)
        """,
        "evt_percentiles": """
            SELECT event_type, count(value)::BIGINT AS n,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(quantile_cont(value, 0.99), 6) AS p99,
                   round(avg(value), 6) AS mean
            FROM events GROUP BY 1
        """,
        "evt_funnel": """
            WITH s1 AS (
                SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1
            ), s2 AS (
                SELECT b.user_id, min(b.ts) AS t2
                FROM events b JOIN s1 USING (user_id)
                WHERE b.event_type = 'click' AND b.ts > s1.t1
                  AND b.ts <= s1.t1 + INTERVAL 7 DAY
                GROUP BY 1
            ), s3 AS (
                SELECT b.user_id, min(b.ts) AS t3
                FROM events b JOIN s1 USING (user_id) JOIN s2 USING (user_id)
                WHERE b.event_type = 'purchase' AND b.ts > s2.t2
                  AND b.ts <= s1.t1 + INTERVAL 7 DAY
                GROUP BY 1
            )
            SELECT s1.user_id,
                   (1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT)::BIGINT
                       AS n_completed,
                   epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
                   epoch_us(t3) AS t3_us
            FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        """,
        "evt_retention": """
            WITH base AS (
                SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
            ), first AS (
                SELECT user_id, min(week) AS cohort_week FROM base GROUP BY 1
            ), sizes AS (
                SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
                FROM first GROUP BY 1
            ), active AS (
                SELECT f.cohort_week, b.user_id,
                       ((epoch_us(b.week) - epoch_us(f.cohort_week))
                        // 604800000000) AS week_offset
                FROM base b JOIN first f USING (user_id)
            ), agg AS (
                SELECT cohort_week, week_offset,
                       count(DISTINCT user_id) AS n_active
                FROM active GROUP BY 1, 2
            )
            SELECT epoch_us(cohort_week) AS cohort_week_us,
                   week_offset::BIGINT AS week_offset, n_active::BIGINT AS n_active,
                   cohort_size::BIGINT AS cohort_size,
                   round(n_active::DOUBLE / cohort_size, 6) AS retention_rate
            FROM agg JOIN sizes USING (cohort_week)
        """,
        "evt_hopping_counts": """
            -- 1h windows every 15min: each event belongs to the 4 slide
            -- buckets ending at or after it (aligned hops: window starts
            -- are exact multiples of 900000000 us, Spark's epoch alignment)
            SELECT ((epoch_us(ts) // 900000000 - j.j) * 900000000)::BIGINT
                       AS window_start_us,
                   event_type, count(*) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM events, (SELECT unnest(range(4)) AS j) j
            GROUP BY 1, 2
        """,
        "simhash_near_dups": f"""
            WITH tok AS (
                SELECT doc_id, md5(t) AS m
                FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
                WHERE doc_id < 500 AND t <> ''
            ), h AS (
                SELECT doc_id, ({hex60}) AS h FROM tok
            ), votes AS (
                SELECT doc_id, {sh_votes} FROM h GROUP BY doc_id
            ), sim AS (
                SELECT doc_id, ({sh_pack})::BIGINT AS simhash FROM votes
            )
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                   bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
            FROM sim x JOIN sim y ON x.doc_id < y.doc_id
            WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        """,
        "minhash_lsh_candidates": f"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 500
            ), sh AS (
                SELECT DISTINCT doc_id, gram AS shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(0, greatest(len(t) - 3, 0) + 1),
                               i -> array_to_string(t[i+1:i+3], ' '))) AS gram
                    FROM toks
                )
                WHERE length(gram) > 0
            ), sig AS (
                SELECT doc_id, {mh_mins} FROM sh GROUP BY doc_id
            ), sigl AS (
                SELECT doc_id, [{mh_cols}] AS sig FROM sig
            ), banded AS (
                SELECT doc_id, sig, b,
                       array_to_string(sig[4*b+1:4*b+4], ',') AS bkey
                FROM sigl CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
            ), cand AS (
                SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                       x.sig AS sig_a, y.sig AS sig_b
                FROM banded x JOIN banded y
                  ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
            )
            SELECT doc_a, doc_b,
                   round(len(list_filter(range(1, 65), i -> sig_a[i] = sig_b[i])) / 64.0, 6)
                       AS est_jaccard
            FROM cand
        """,
        "curation_keep_best": f"""
            WITH RECURSIVE toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 500
            ), sh AS (
                SELECT DISTINCT doc_id, gram AS shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(0, greatest(len(t) - 3, 0) + 1),
                               i -> array_to_string(t[i+1:i+3], ' '))) AS gram
                    FROM toks
                )
                WHERE length(gram) > 0
            ), sig AS (
                SELECT doc_id, {{mh_mins}} FROM sh GROUP BY doc_id
            ), sigl AS (
                SELECT doc_id, [{{mh_cols}}] AS sig FROM sig
            ), banded AS (
                SELECT doc_id, sig, b,
                       array_to_string(sig[4*b+1:4*b+4], ',') AS bkey
                FROM sigl CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
            ), cand AS (
                SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                       x.sig AS sig_a, y.sig AS sig_b
                FROM banded x JOIN banded y
                  ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id
            -- pairs and edges MATERIALIZED: inlined, the recursive reach
            -- re-derived the shingle self-join on every round
            ), pairs AS MATERIALIZED (
                SELECT doc_a, doc_b FROM cand
                WHERE len(list_filter(range(1, 65), i -> sig_a[i] = sig_b[i])) / 64.0 >= 0.5
            ), edges AS MATERIALIZED (
                SELECT doc_a AS s, doc_b AS d FROM pairs
                UNION
                SELECT doc_b AS s, doc_a AS d FROM pairs
            ), reach(id, lbl) AS (
                SELECT s, s FROM edges
                UNION
                SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
            ), comp AS (
                SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
            ), clustered AS (
                SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                       d.n_chars
                FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 500) d
                LEFT JOIN comp c ON d.doc_id = c.id
            ), elect AS (
                SELECT cluster_id, doc_id AS keeper_doc_id,
                       row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM clustered
            ), keepers AS (
                SELECT cluster_id, keeper_doc_id FROM elect WHERE rn = 1
            )
            SELECT c.doc_id, c.cluster_id, k.keeper_doc_id,
                   (c.doc_id = k.keeper_doc_id) AS keep
            FROM clustered c JOIN keepers k USING (cluster_id)
        """.format(mh_mins=mh_mins, mh_cols=mh_cols),
        "curation_sample": """
            -- md5-threshold Bernoulli sample, identical arithmetic to
            -- stratified_sample(): keep iff first 6 hex digits of
            -- md5(doc_id) < round(rate * 16^6) as 6-digit hex
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE substr(md5(doc_id::VARCHAR), 1, 6) <
                  CASE lang WHEN 'en' THEN '800000'
                            WHEN 'de' THEN '400000'
                            WHEN 'zh' THEN 'c00000'
                            ELSE '19999a' END
        """,
        "curation_pack": """
            WITH c AS (
                SELECT doc_id, lang, n_chars,
                       sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_chars AS start
                FROM documents
            )
            SELECT doc_id, lang, n_chars,
                   (start // 4096)::BIGINT AS seq_id,
                   (start % 4096)::BIGINT AS offset_in_seq
            FROM c
        """,
        "h4_edge_lookup": """
            WITH edges AS (
                SELECT 'O' || l_orderkey AS subject_id, 'contains' AS predicate,
                       'P' || l_partkey AS object_id, l_quantity::DOUBLE AS qty
                FROM lineitem
            ), keys AS (
                SELECT 'O' || min(l_orderkey) AS s_key, 'P' || min(l_partkey) AS o_key
                FROM lineitem
            ), min_obj AS (
                SELECT min(object_id) AS obj FROM edges, keys
                WHERE subject_id = s_key
            )
            SELECT e.*, 'subject' AS probe FROM edges e, keys WHERE subject_id = s_key
            UNION ALL
            SELECT e.*, 'object' AS probe FROM edges e, keys WHERE object_id = o_key
            UNION ALL
            SELECT e.*, 'triple' AS probe FROM edges e, keys, min_obj
            WHERE subject_id = s_key AND predicate = 'contains' AND object_id = obj
        """,
        "curation_decontaminate": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, gram AS shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(0, greatest(len(t) - 5, 0) + 1),
                               i -> array_to_string(t[i+1:i+5], ' '))) AS gram
                    FROM toks
                )
                WHERE length(gram) > 0
            ), bench AS (
                SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 0
            )
            SELECT s.doc_id,
                   count(DISTINCT s.shingle) AS n_contaminated_shingles
            FROM sh s JOIN bench b USING (shingle)
            WHERE s.doc_id % 7 <> 0
            GROUP BY 1
        """,
        "line_dedup": f"""
            WITH d AS (
                SELECT doc_id, text || chr(10) || '{_FOOTER}' AS text FROM documents
            ), l AS (
                SELECT doc_id,
                       generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos,
                       unnest(string_split(text, chr(10))) AS line
                FROM d
            ), flag AS (
                -- a partition mixes eligible/ineligible rows only if the
                -- same exact line text had both, which is impossible
                -- (eligibility is a function of the text)
                SELECT doc_id, pos, line,
                       length(trim(line)) >= 1 AS elig,
                       row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
                FROM l
            ), kept AS (
                SELECT doc_id, pos, line FROM flag WHERE NOT elig OR rn = 1
            ), tot AS (
                SELECT doc_id, count(*) AS n_lines FROM l GROUP BY 1
            ), reb AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text,
                       count(*) AS n_lines_kept
                FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id, coalesce(r.text, '') AS text, t.n_lines,
                   coalesce(r.n_lines_kept, 0) AS n_lines_kept
            FROM tot t LEFT JOIN reb r USING (doc_id)
        """,
        "pii_scrub": f"""
            WITH d AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id::VARCHAR
                            || '@example.com or +1 555-01' || (doc_id % 90 + 10)::VARCHAR
                            || ' at 192.168.' || (doc_id % 256)::VARCHAR || '.1 ok' AS t
                FROM documents
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(t,
                       '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_IPV4}', '<IP>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g') AS text,
                   len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
                   len(regexp_extract_all(t, '{_PII_IPV4}')) AS n_ipv4,
                   len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phone
            FROM d
        """,
        "domain_mix": """
            -- rate = min(1, budget / stratum total); keep iff the first 6
            -- md5 hex digits of the id, as a fraction of 16^6, fall below
            -- it — identical double arithmetic to domain_mix_sample()
            WITH t AS (
                SELECT lang, sum(n_chars)::DOUBLE AS tot FROM documents GROUP BY 1
            )
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d JOIN t USING (lang)
            WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT / 16777216.0
                  < least(1.0, 100000 / t.tot)
        """,
        "det_shuffle": """
            SELECT doc_id,
                   row_number() OVER (ORDER BY md5(doc_id::VARCHAR || 'epoch1'), doc_id)
                       - 1 AS shuffle_rank
            FROM documents
        """,
        "text_normalize": """
            -- same order as normalize_text: C0 strip first, then NFC;
            -- injected suffix = ' cafe' + U+0301 + ' bell' + BEL + 'end'
            WITH d AS (
                SELECT doc_id,
                       text || ' cafe' || chr(769) || ' bell' || chr(7) || 'end' AS t
                FROM documents
            )
            SELECT doc_id,
                   nfc_normalize(regexp_replace(t,
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) AS text,
                   nfc_normalize(regexp_replace(t,
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) <> t AS changed
            FROM d
        """,
        "corpus_diff": """
            WITH old AS (
                SELECT doc_id, md5(text) AS oh FROM documents WHERE doc_id % 5 <> 0
            ), new AS (
                SELECT doc_id,
                       md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS nh
                FROM documents WHERE doc_id % 7 <> 0
            )
            SELECT doc_id,
                   CASE WHEN o.oh IS NULL THEN 'added'
                        WHEN n.nh IS NULL THEN 'removed'
                        WHEN o.oh <> n.nh THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM old o FULL JOIN new n USING (doc_id)
        """,
        "winnow_fingerprint": """
            -- winnowing selections restated exactly: sortable key =
            -- hex15(md5(gram)) ++ lpad(99999999 - pos) so string min ==
            -- (min hash, rightmost pos); windows/slices clamp identically
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS t
                FROM documents WHERE doc_id < 500
            ), g AS (
                SELECT doc_id,
                    CASE WHEN len(t) >= 5 THEN
                        list_transform(range(0, len(t) - 5 + 1), i ->
                            substr(md5(array_to_string(t[i+1:i+5], ' ')), 1, 15) ||
                            lpad((99999999 - i)::VARCHAR, 8, '0'))
                    ELSE []::VARCHAR[] END AS hs
                FROM base
            ), sel AS (
                SELECT doc_id, unnest(list_distinct(
                    list_transform(range(0, greatest(len(hs) - 4, 0) + 1),
                                   j -> list_min(hs[j+1:j+4])))) AS s
                FROM g WHERE len(hs) > 0
            )
            SELECT doc_id,
                   ('0x' || substr(s, 1, 15))::BIGINT AS fp,
                   99999999 - substr(s, 16, 8)::BIGINT AS pos
            FROM sel
        """,
        "winnow_passages": """
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS t
                FROM documents WHERE doc_id < 500
            ), g AS (
                SELECT doc_id,
                    CASE WHEN len(t) >= 5 THEN
                        list_transform(range(0, len(t) - 5 + 1), i ->
                            substr(md5(array_to_string(t[i+1:i+5], ' ')), 1, 15) ||
                            lpad((99999999 - i)::VARCHAR, 8, '0'))
                    ELSE []::VARCHAR[] END AS hs
                FROM base
            ), fp AS (
                SELECT DISTINCT doc_id,
                       ('0x' || substr(s, 1, 15))::BIGINT AS fp
                FROM (
                    SELECT doc_id, unnest(list_distinct(
                        list_transform(range(0, greatest(len(hs) - 4, 0) + 1),
                                       j -> list_min(hs[j+1:j+4])))) AS s
                    FROM g WHERE len(hs) > 0
                )
            ), rare AS (
                SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 10000
            ), fps AS (
                SELECT doc_id, fp.fp FROM fp JOIN rare USING (fp)
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS shared_fps
            FROM fps a JOIN fps b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "incremental_dedup": """
            WITH old AS (
                SELECT md5(coalesce(text, '')) AS h
                FROM documents WHERE doc_id % 5 <> 0
            ), new AS (
                SELECT doc_id,
                       md5(coalesce(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
                                         ELSE text END, '')) AS content_hash
                FROM documents WHERE doc_id % 7 <> 0
            )
            SELECT doc_id, content_hash FROM new n
            WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.h = n.content_hash)
        """,
        "pq_topk": """
            -- PQ restated: codebooks = subvectors of the 16 smallest ids,
            -- encode = per-(item, subspace) argmin of squared L2 (ties →
            -- smallest centroid idx), ADC = ordered per-subspace LUT sum.
            -- Every squared-L2 is a left-fold over range(1,9) and every
            -- total is list_sum over list(d ORDER BY s) — the identical
            -- association order the Spark expressions / Python LUT use.
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            ), cb AS (
                SELECT s.s, row_number() OVER (PARTITION BY s.s ORDER BY vec_id) - 1 AS cid,
                       emb[s.s*8+1 : s.s*8+8] AS ce
                FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS s) s
                WHERE vec_id < 16
            ), enc AS (
                SELECT e.vec_id, c.s, c.cid,
                       list_sum(list_transform(range(1, 9), i ->
                           (e.emb[c.s*8 + i] - c.ce[i]) * (e.emb[c.s*8 + i] - c.ce[i]))) AS d
                FROM e CROSS JOIN cb c
            ), codes AS (
                SELECT vec_id, s, cid
                FROM (SELECT vec_id, s, cid,
                             row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY d, cid) AS rn
                      FROM enc)
                WHERE rn = 1
            ), lut AS (
                SELECT p.vec_id AS probe_id, c.s, c.cid,
                       list_sum(list_transform(range(1, 9), i ->
                           (p.emb[c.s*8 + i] - c.ce[i]) * (p.emb[c.s*8 + i] - c.ce[i]))) AS d
                FROM e p CROSS JOIN cb c
                WHERE p.vec_id < 5
            ), adist AS (
                SELECT l.probe_id, co.vec_id,
                       list_sum(list(l.d ORDER BY l.s)) AS adist
                FROM codes co JOIN lut l ON l.s = co.s AND l.cid = co.cid
                GROUP BY 1, 2
            ), ranked AS (
                SELECT probe_id, vec_id, adist,
                       row_number() OVER (PARTITION BY probe_id
                           ORDER BY adist, vec_id) AS rank
                FROM adist
            )
            SELECT probe_id, vec_id, round(adist, 6) AS adist, rank
            FROM ranked WHERE rank <= 10
        """,
        "kmeans_lloyd": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            ), cent0 AS (
                SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id < 8
            ), asg0 AS (
                SELECT e.vec_id, e.emb, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.emb, c.ce) DESC, c.cid) AS rn
                FROM e CROSS JOIN cent0 c
            ), cells0 AS (
                SELECT vec_id, emb, cid AS cell FROM asg0 WHERE rn = 1
            ), dims AS (
                SELECT cell, generate_subscripts(emb, 1) AS pos, unnest(emb) AS x
                FROM cells0
            ), m AS (
                SELECT cell, pos, round(avg(x), 6) AS mm FROM dims GROUP BY 1, 2
            ), newc AS (
                SELECT cell AS cid, list(mm ORDER BY pos) AS ce FROM m GROUP BY cell
            ), cent1 AS (
                SELECT c0.cid, coalesce(n.ce, c0.ce) AS ce
                FROM cent0 c0 LEFT JOIN newc n ON n.cid = c0.cid
            ), asg1 AS (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.emb, c.ce) DESC, c.cid) AS rn
                FROM e CROSS JOIN cent1 c
            )
            SELECT vec_id, cid AS cell FROM asg1 WHERE rn = 1
        """,
        "incremental_near_dup": f"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 500
            ), sh AS (
                SELECT DISTINCT doc_id, gram AS shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(0, greatest(len(t) - 3, 0) + 1),
                               i -> array_to_string(t[i+1:i+3], ' '))) AS gram
                    FROM toks
                )
                WHERE length(gram) > 0
            ), sig AS (
                SELECT doc_id, {mh_mins} FROM sh GROUP BY doc_id
            ), sigl AS (
                SELECT doc_id, [{mh_cols}] AS sig FROM sig
            ), banded AS (
                SELECT doc_id, sig, b,
                       array_to_string(sig[4*b+1:4*b+4], ',') AS bkey
                FROM sigl CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
            ), cand AS (
                SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS old_doc_id,
                       n.sig AS sig_n, o.sig AS sig_o
                FROM banded n JOIN banded o ON n.b = o.b AND n.bkey = o.bkey
                WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
            ), est AS (
                SELECT doc_id, old_doc_id,
                       len(list_filter(range(1, 65), i -> sig_n[i] = sig_o[i])) / 64.0 AS ej
                FROM cand
            ), best AS (
                SELECT doc_id, old_doc_id, ej,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY ej DESC, old_doc_id) AS rn
                FROM est WHERE ej >= 0.5
            )
            SELECT d.doc_id,
                   b.old_doc_id IS NOT NULL AS near_dup,
                   b.old_doc_id AS matched_old,
                   round(b.ej, 6) AS est_jaccard
            FROM (SELECT doc_id FROM documents
                  WHERE doc_id < 500 AND doc_id % 5 = 0) d
            LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        """,
        "semantic_sample": """
            -- same quantizer restatement as ann_ivf_topk (cells CTE), then
            -- per-cell md5-rank keep — deterministic stratified selection
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            ), cent AS (
                SELECT vec_id AS cid, emb AS ce FROM e WHERE vec_id < 8
            ), asg AS (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.emb, c.ce) DESC, c.cid) AS rn
                FROM e CROSS JOIN cent c
            ), cells AS (
                SELECT vec_id, cid AS cell FROM asg WHERE rn = 1
            ), ranked AS (
                SELECT vec_id, cell,
                       count(*) OVER (PARTITION BY cell) AS cell_size,
                       row_number() OVER (PARTITION BY cell
                           ORDER BY md5(vec_id::VARCHAR || 'divsample'), vec_id) AS rank
                FROM cells
            )
            SELECT vec_id, cell, cell_size, rank FROM ranked WHERE rank <= 20
        """,
        "lm_perplexity": _LM_SCORED_CTES + """
            SELECT doc_id, n_tokens, avg_neg_logp FROM scored
        """,
        "ppl_buckets": _LM_SCORED_CTES + """
            SELECT s.doc_id, d2.source, s.avg_neg_logp,
                   ntile(3) OVER (PARTITION BY d2.source
                                  ORDER BY s.avg_neg_logp, s.doc_id)::BIGINT AS bucket
            FROM scored s JOIN documents d2 USING (doc_id)
        """,
        "boilerplate_strip": """
            WITH d AS (
                SELECT doc_id, source,
                       text || chr(10) || '(c) ' || source || ' footer'
                            || chr(10) || 'uid ' || doc_id::VARCHAR AS text
                FROM documents
            ), l AS (
                SELECT doc_id, source,
                       generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos,
                       unnest(string_split(text, chr(10))) AS line
                FROM d
            ), flagged AS (
                SELECT source, line FROM l
                WHERE length(trim(line)) >= 1
                GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3
            ), kept AS (
                -- short lines can never be flagged (eligibility is a
                -- function of the text), so one NOT EXISTS suffices
                SELECT doc_id, pos, line FROM l
                WHERE NOT EXISTS (
                    SELECT 1 FROM flagged f
                    WHERE f.source = l.source AND f.line = l.line)
            ), tot AS (
                SELECT doc_id, source, count(*)::BIGINT AS n_lines FROM l GROUP BY 1, 2
            ), reb AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id, t.source, coalesce(r.text, '') AS text, t.n_lines,
                   (t.n_lines - coalesce(r.n_kept, 0))::BIGINT AS n_removed
            FROM tot t LEFT JOIN reb r USING (doc_id)
        """,
        "gopher_rules": """
            WITH f AS (
                SELECT doc_id, text,
                       string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ), s AS (
                SELECT doc_id,
                       len(t)::BIGINT AS n_words,
                       round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                             / len(t), 6) AS mean_word_len,
                       round(((length(text) - length(replace(text, '#', '')))
                              + (length(text) - length(replace(text, '...', ''))) / 3.0)
                             / len(t), 6) AS symbol_ratio,
                       round(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                             / len(t), 6) AS alpha_word_frac,
                       len(list_intersect(
                           list_distinct(list_transform(t, x -> lower(x))),
                           ['the','be','to','of','and','that','have','with']))::BIGINT
                           AS n_stop_hits
                FROM f
            )
            SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                   alpha_word_frac, n_stop_hits,
                   (n_words BETWEEN 50 AND 100000
                    AND mean_word_len BETWEEN 3.0::DOUBLE AND 10.0::DOUBLE
                    AND symbol_ratio < 0.1::DOUBLE
                    AND alpha_word_frac > 0.8::DOUBLE
                    AND n_stop_hits >= 2) AS keep
            FROM s
        """,
        "c4_clean": """
            WITH d AS (
                SELECT doc_id,
                       text || '.' || chr(10)
                            || 'another perfectly good sentence right here.' || chr(10)
                            || 'yet another valid sentence appears here.' || chr(10)
                            || 'no terminal punctuation here at all' || chr(10)
                            || CASE WHEN doc_id % 7 = 0
                                    THEN 'lorem ipsum dolor sit amet.'
                                    ELSE 'closing remarks of this document stand.' END
                           AS text
                FROM documents
            ), s AS (
                SELECT doc_id, text,
                       string_split(text, chr(10)) AS lines,
                       list_filter(string_split(text, chr(10)),
                                   l -> regexp_matches(trim(l), '[.!?\"]$')
                                        AND len(string_split_regex(trim(l), '\\s+')) >= 5)
                           AS kept
                FROM d
            )
            SELECT doc_id,
                   array_to_string(kept, chr(10)) AS text,
                   len(lines)::BIGINT AS n_lines,
                   len(kept)::BIGINT AS n_kept,
                   (len(kept) >= 3
                    AND NOT contains(lower(text), 'lorem ipsum')
                    AND NOT contains(lower(text), '{')) AS keep
            FROM s
        """,
        "hot_ngrams": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ), oc AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(0, greatest(len(t) - 5, 0) + 1),
                           i -> array_to_string(t[i+1:i+5], ' '))) AS shingle
                FROM toks
            )
            SELECT shingle, count(*)::BIGINT AS n_occurrences,
                   count(DISTINCT doc_id)::BIGINT AS n_docs
            FROM oc WHERE length(shingle) > 0
            GROUP BY 1 ORDER BY n_occurrences DESC, shingle LIMIT 100
        """,
        "f10_triple_accumulate": """
            SELECT user_id AS subject_id, event_type AS predicate,
                   max(value) AS max_conf, count(*) AS evidence_count
            FROM events GROUP BY 1, 2
        """,
        "f11_symmetric_order": """
            SELECT least(l_partkey, l_suppkey) AS subject_id,
                   greatest(l_partkey, l_suppkey) AS object_id,
                   count(*) AS n
            FROM lineitem GROUP BY 1, 2
        """,
        "f8_keepmax_dedup": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
            FROM (
                SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice,
                       row_number() OVER (PARTITION BY l_orderkey
                           ORDER BY l_extendedprice DESC, l_linenumber DESC) AS rn
                FROM lineitem
            ) WHERE rn = 1
        """,
        "d6_usage_count": """
            -- sum() returns HUGEINT in DuckDB (float64 via pandas) while Spark
            -- casts to BIGINT; the ::BIGINT makes the driver's value hash agree
            SELECT lang, source, count(*) AS usage_count,
                   sum(n_chars)::BIGINT AS total_chars
            FROM documents GROUP BY 1, 2
        """,
        "e1_promotion_filter": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE n_chars >= 300 AND lang IN ('en', 'de', 'es')
        """,
        "g1_entity_summary": """
            SELECT lang, min(doc_id) AS first_seen_document,
                   count(*) AS n_docs, count(DISTINCT source) AS n_sources
            FROM documents GROUP BY 1
        """,
        "g2_evidence_summary": """
            SELECT user_id, count(*) AS evidence_count, max(value) AS strongest,
                   round(avg(value), 4) AS avg_conf
            FROM events GROUP BY 1
        """,
        "g3_stage_stats": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS n
            FROM lineitem GROUP BY 1, 2
        """,
        "g3_rollup": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "evt_sessionize": """
            WITH marked AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                            THEN 1 ELSE 0 END AS _new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, event_id, value,
                       (sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
                FROM marked
            )
            SELECT user_id, session_idx, count(*) AS n_events,
                   min(event_id) AS first_event,
                   round(sum(value), 4) AS session_value
            FROM sess GROUP BY 1, 2
        """,
        "h1_bfs_2hop": """
            WITH seeds AS (
                SELECT DISTINCT 'C' || c_custkey AS entity_id, 0 AS hop
                FROM customer WHERE c_nationkey = 1
            ), h1 AS (
                SELECT DISTINCT 'O' || o_orderkey AS entity_id, 1 AS hop
                FROM orders JOIN customer ON o_custkey = c_custkey
                WHERE c_nationkey = 1
            ), h2 AS (
                SELECT DISTINCT 'P' || l_partkey AS entity_id, 2 AS hop
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE c_nationkey = 1
            )
            SELECT * FROM seeds UNION ALL SELECT * FROM h1 UNION ALL SELECT * FROM h2
        """,
        "d8_connected_components": """
            WITH members AS (
                SELECT n_regionkey AS region, 'N' || n_nationkey AS id FROM nation
                UNION ALL
                SELECT n_regionkey AS region, 'R' || n_regionkey AS id FROM nation
                UNION ALL
                SELECT n_regionkey AS region, 'C' || c_custkey AS id
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            ), dedup AS (
                SELECT DISTINCT region, id FROM members
            ), winners AS (
                SELECT region, min(id) AS component FROM dedup GROUP BY region
            )
            SELECT d.id, w.component FROM dedup d JOIN winners w USING (region)
        """,
        "er_blocking_quality": """
            WITH r AS (
                SELECT p_partkey AS id,
                       row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS rn
                FROM part
            ), cand AS (
                SELECT DISTINCT least(a.id, b.id) AS ia,
                                greatest(a.id, b.id) AS ib
                FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 2
            ), g AS (
                SELECT p_partkey AS id, p_brand AS gc FROM part
            ), lab AS (
                SELECT ga.gc AS ga, gb.gc AS gb
                FROM cand c JOIN g ga ON c.ia = ga.id
                            JOIN g gb ON c.ib = gb.id
            ), ca AS (
                SELECT count(*)::BIGINT AS n_candidate_pairs,
                       sum(CASE WHEN ga = gb THEN 1 ELSE 0 END)::BIGINT
                           AS covered_gold_pairs
                FROM lab
            ), tot AS (
                SELECT sum(n)::BIGINT AS n_items,
                       sum(n * (n - 1) // 2)::BIGINT AS gold_pairs
                FROM (SELECT count(*) AS n FROM g GROUP BY gc)
            )
            SELECT n_items,
                   (n_items * (n_items - 1) // 2)::BIGINT AS total_pairs,
                   n_candidate_pairs, gold_pairs, covered_gold_pairs,
                   round(1 - n_candidate_pairs::DOUBLE
                           / (n_items * (n_items - 1) // 2), 6)
                       AS reduction_ratio,
                   round(covered_gold_pairs::DOUBLE / gold_pairs, 6)
                       AS pairs_completeness,
                   round(covered_gold_pairs::DOUBLE / n_candidate_pairs, 6)
                       AS pairs_quality
            FROM ca, tot
        """,
        "er_fs_weights": """
            -- Fellegi-Sunter m/u per comparison field on the SNM pairs:
            -- exact counts, add-one smoothing, cross-multiplied ratio
            WITH r AS (
                SELECT p_partkey AS id,
                       row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS rn
                FROM part
            ), cand AS (
                SELECT DISTINCT least(a.id, b.id) AS ia,
                                greatest(a.id, b.id) AS ib
                FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 2
            ), pa AS (
                SELECT (a.p_brand = b.p_brand) AS m,
                       (a.p_type = b.p_type) AS f_type,
                       (a.p_size = b.p_size) AS f_size,
                       (split_part(a.p_name, ' ', 1)
                        = split_part(b.p_name, ' ', 1)) AS f_prefix
                FROM cand c JOIN part a ON c.ia = a.p_partkey
                            JOIN part b ON c.ib = b.p_partkey
            ), agg AS (
                SELECT sum(CASE WHEN m THEN 1 ELSE 0 END)::BIGINT AS nm,
                       sum(CASE WHEN m THEN 0 ELSE 1 END)::BIGINT AS nn,
                       sum(CASE WHEN m AND f_type THEN 1 ELSE 0 END)::BIGINT AS am1,
                       sum(CASE WHEN NOT m AND f_type THEN 1 ELSE 0 END)::BIGINT AS an1,
                       sum(CASE WHEN m AND f_size THEN 1 ELSE 0 END)::BIGINT AS am2,
                       sum(CASE WHEN NOT m AND f_size THEN 1 ELSE 0 END)::BIGINT AS an2,
                       sum(CASE WHEN m AND f_prefix THEN 1 ELSE 0 END)::BIGINT AS am3,
                       sum(CASE WHEN NOT m AND f_prefix THEN 1 ELSE 0 END)::BIGINT AS an3
                FROM pa
            )
            SELECT 'same_type' AS field, nm AS n_match, nn AS n_nonmatch,
                   am1 AS agree_match, an1 AS agree_nonmatch,
                   round((am1 + 1) / (nm + 2), 6) AS m_prob,
                   round((an1 + 1) / (nn + 2), 6) AS u_prob,
                   round(((am1 + 1) * (nn + 2))::DOUBLE
                         / ((an1 + 1) * (nm + 2))::DOUBLE, 6) AS mu_ratio
            FROM agg
            UNION ALL
            SELECT 'same_size', nm, nn, am2, an2,
                   round((am2 + 1) / (nm + 2), 6),
                   round((an2 + 1) / (nn + 2), 6),
                   round(((am2 + 1) * (nn + 2))::DOUBLE
                         / ((an2 + 1) * (nm + 2))::DOUBLE, 6)
            FROM agg
            UNION ALL
            SELECT 'same_name_prefix', nm, nn, am3, an3,
                   round((am3 + 1) / (nm + 2), 6),
                   round((an3 + 1) / (nn + 2), 6),
                   round(((am3 + 1) * (nn + 2))::DOUBLE
                         / ((an3 + 1) * (nm + 2))::DOUBLE, 6)
            FROM agg
        """,
        "er_rank_eval": """
            -- MRR/Hits@k on integer micro-cosines (cosine_fixed restated);
            -- rank = 1 + better-than-gold count, ties to the smaller id;
            -- per-query reciprocal ranks are micro-unit integer divisions
            WITH e AS (
                SELECT vec_id, label,
                       list_transform(embedding::DOUBLE[],
                                      x -> round(x * 1000000)::BIGINT) AS v
                FROM embeddings
            ), q AS (
                SELECT vec_id AS qid, label AS ql, v FROM e WHERE vec_id % 5 = 0
            ), s AS (
                SELECT q.qid, e.vec_id AS cid,
                       round((list_sum(list_transform(list_zip(q.v, e.v),
                                                      z -> z[1] * z[2]))::DOUBLE
                              / (sqrt(list_sum(list_transform(q.v, x -> x * x))::DOUBLE)
                                 * sqrt(list_sum(list_transform(e.v, x -> x * x))::DOUBLE)))
                             * 1000000)::BIGINT AS sc
                FROM q JOIN e ON e.vec_id != q.qid
            ), g AS (
                SELECT q.qid, min(e.vec_id) AS gid
                FROM q JOIN e ON e.label = q.ql AND e.vec_id != q.qid
                GROUP BY q.qid
            ), gs AS (
                SELECT s.qid, s.sc AS gsc, s.cid AS gcid
                FROM s JOIN g ON s.qid = g.qid AND s.cid = g.gid
            ), ranks AS (
                SELECT s.qid,
                       (1 + sum(CASE WHEN s.sc > gs.gsc
                                      OR (s.sc = gs.gsc AND s.cid < gs.gcid)
                                     THEN 1 ELSE 0 END))::BIGINT AS r
                FROM s JOIN gs ON s.qid = gs.qid
                GROUP BY s.qid
            ), nq AS (SELECT count(*)::BIGINT AS n_queries FROM g)
            SELECT n_queries,
                   count(*)::BIGINT AS n_found,
                   round(sum(1000000 // r)::DOUBLE / (n_queries * 1000000), 6)
                       AS mrr,
                   round(sum(r)::DOUBLE / count(*), 6) AS mean_rank,
                   round(sum(CASE WHEN r <= 1 THEN 1 ELSE 0 END)::DOUBLE
                         / n_queries, 6) AS hits_at_1,
                   round(sum(CASE WHEN r <= 3 THEN 1 ELSE 0 END)::DOUBLE
                         / n_queries, 6) AS hits_at_3,
                   round(sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END)::DOUBLE
                         / n_queries, 6) AS hits_at_10
            FROM ranks, nq GROUP BY n_queries
        """,
        "er_ndcg": f"""
            -- mean nDCG@10 on micro-cosine scores; discounts are the
            -- shared integer-micro literals, per-query nDCG is ONE
            -- integer micro-division, the mean sums exact longs
            WITH e AS (
                SELECT vec_id, label,
                       list_transform(embedding::DOUBLE[],
                                      x -> round(x * 1000000)::BIGINT) AS v
                FROM embeddings
            ), q AS (
                SELECT vec_id AS qid, label AS ql, v FROM e WHERE vec_id % 5 = 0
            ), s AS (
                SELECT q.qid, e.vec_id AS cid,
                       greatest(0, 2 - abs(q.ql - e.label))::BIGINT AS rel,
                       round((list_sum(list_transform(list_zip(q.v, e.v),
                                                      z -> z[1] * z[2]))::DOUBLE
                              / (sqrt(list_sum(list_transform(q.v, x -> x * x))::DOUBLE)
                                 * sqrt(list_sum(list_transform(e.v, x -> x * x))::DOUBLE)))
                             * 1000000)::BIGINT AS sc
                FROM q JOIN e ON e.vec_id != q.qid
            ), r1 AS (
                SELECT qid, rel,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY sc DESC, cid ASC) AS rn
                FROM s
            ), r2 AS (
                SELECT qid, rel,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY rel DESC, cid ASC) AS ri
                FROM s
            ), d AS (
                SELECT qid, sum(rel * ({ndcg_w10}[rn]))::BIGINT AS dcg
                FROM r1 WHERE rn <= 10 GROUP BY qid
            ), i AS (
                SELECT qid, sum(rel * ({ndcg_w10}[ri]))::BIGINT AS idcg
                FROM r2 WHERE ri <= 10 GROUP BY qid
            ), pq AS (
                SELECT d.qid, d.dcg, i.idcg FROM d JOIN i USING (qid)
            ), ns AS (
                SELECT count(*)::BIGINT AS n_scored FROM pq
            ), v AS (
                SELECT (dcg * 1000000 // idcg)::BIGINT AS nm
                FROM pq WHERE idcg > 0
            )
            SELECT ns.n_scored AS n_scored_queries,
                   count(*)::BIGINT AS n_queries,
                   round(sum(nm)::DOUBLE / (count(*) * 1000000), 6)
                       AS ndcg_at_10
            FROM v, ns GROUP BY ns.n_scored
        """,
        "kmv_vocab_overlap": """
            -- k=256 KMV union sketch over word bigrams; md5 hex strings
            -- ARE the hash order
            WITH ta AS (
                SELECT DISTINCT md5(g) AS h FROM (
                    SELECT unnest(list_transform(
                               range(0, greatest(len(t) - 2, 0) + 1),
                               i -> array_to_string(t[i+1:i+2], ' '))) AS g
                    FROM (SELECT string_split_regex(trim(text), '\\s+') AS t
                          FROM documents WHERE lang = 'en')
                ) WHERE length(g) > 0
            ), tb AS (
                SELECT DISTINCT md5(g) AS h FROM (
                    SELECT unnest(list_transform(
                               range(0, greatest(len(t) - 2, 0) + 1),
                               i -> array_to_string(t[i+1:i+2], ' '))) AS g
                    FROM (SELECT string_split_regex(trim(text), '\\s+') AS t
                          FROM documents WHERE lang = 'de')
                ) WHERE length(g) > 0
            ), m AS (
                SELECT coalesce(ta.h, tb.h) AS h,
                       CASE WHEN ta.h IS NOT NULL THEN 1 ELSE 0 END AS ina,
                       CASE WHEN tb.h IS NOT NULL THEN 1 ELSE 0 END AS inb
                FROM ta FULL OUTER JOIN tb ON ta.h = tb.h
            ), sk AS (
                SELECT * FROM m ORDER BY h LIMIT 256
            )
            SELECT 256::BIGINT AS k,
                   count(*)::BIGINT AS k_used,
                   coalesce(sum(ina * inb), 0)::BIGINT AS n_common,
                   CASE WHEN count(*) > 0
                        THEN round(sum(ina * inb)::DOUBLE / count(*), 6)
                   END AS jaccard_est,
                   max(h) AS theta
            FROM sk
        """,
        "d8_merge_audit": """
            -- closed-form region components + per-component segment audit
            WITH members AS (
                SELECT n_regionkey AS region, 'N' || n_nationkey AS id FROM nation
                UNION ALL
                SELECT n_regionkey AS region, 'R' || n_regionkey AS id FROM nation
                UNION ALL
                SELECT n_regionkey AS region, 'C' || c_custkey AS id
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            ), dedup AS (
                SELECT DISTINCT region, id FROM members
            ), winners AS (
                SELECT region, min(id) AS component FROM dedup GROUP BY region
            ), mapped AS (
                SELECT d.id, w.component FROM dedup d JOIN winners w USING (region)
            ), attrs AS (
                SELECT 'C' || c_custkey AS id, c_mktsegment AS v FROM customer
            )
            SELECT m.component,
                   count(*)::BIGINT AS n_members,
                   count(a.v)::BIGINT AS n_with_attr,
                   count(DISTINCT a.v)::BIGINT AS n_distinct_attr,
                   min(a.v) AS attr_min,
                   max(a.v) AS attr_max,
                   count(DISTINCT a.v) > 1 AS is_conflicted
            FROM mapped m LEFT JOIN attrs a USING (id)
            GROUP BY m.component
        """,
        "evt_interval_coalesce": """
            -- gaps-and-islands: island opens where start > running max end
            WITH iv AS (
                SELECT user_id, event_type, ts AS s,
                       ts + INTERVAL 1 HOUR AS e
                FROM events
            ), flagged AS (
                SELECT user_id, event_type, s, e,
                       CASE WHEN max(e) OVER (
                                PARTITION BY user_id, event_type
                                ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                              OR s > max(e) OVER (
                                PARTITION BY user_id, event_type
                                ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS opens
                FROM iv
            ), islands AS (
                SELECT user_id, event_type, s, e,
                       sum(opens) OVER (PARTITION BY user_id, event_type
                                        ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW) AS isl
                FROM flagged
            )
            SELECT user_id, event_type, min(s) AS valid_from,
                   max(e) AS valid_to, count(*)::BIGINT AS n_source_intervals
            FROM islands GROUP BY user_id, event_type, isl
        """,
        "evt_temporal_conflicts": """
            -- half-open overlap, value_a < value_b orders each conflict once
            WITH iv AS (
                SELECT user_id, event_type AS v, ts AS s,
                       ts + INTERVAL 30 MINUTE AS e
                FROM events
            )
            SELECT DISTINCT a.user_id, a.v AS value_a, b.v AS value_b,
                   greatest(a.s, b.s) AS overlap_from,
                   least(a.e, b.e) AS overlap_to
            FROM iv a JOIN iv b ON a.user_id = b.user_id
            WHERE a.v < b.v AND a.s < b.e AND b.s < a.e
        """,
        "kg_rule_confidence": """
            -- AMIE-lite: distinct body pairs, (x,z) head join, degree cap
            WITH t AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey::VARCHAR AS s, 'contains' AS p,
                           'P' || l_partkey::VARCHAR AS o FROM lineitem
                    UNION ALL
                    SELECT 'O' || l_orderkey::VARCHAR, 'supplied_by',
                           'S' || l_suppkey::VARCHAR FROM lineitem
                    UNION ALL
                    SELECT 'P' || l_partkey::VARCHAR, 'from',
                           'S' || l_suppkey::VARCHAR FROM lineitem
                )
            ), outd AS (
                SELECT s AS n, count(*) AS d FROM t GROUP BY 1
            ), ind AS (
                SELECT o AS n, count(*) AS d FROM t GROUP BY 1
            ), ok AS (
                SELECT outd.n FROM outd JOIN ind USING (n)
                WHERE outd.d <= 1000 AND ind.d <= 1000
            ), lft AS (
                SELECT * FROM t WHERE o IN (SELECT n FROM ok)
            ), rgt AS (
                SELECT * FROM t WHERE s IN (SELECT n FROM ok)
            ), bodies AS (
                SELECT DISTINCT a.s AS x, b.o AS z, a.p AS p1, b.p AS p2
                FROM lft a JOIN rgt b ON a.o = b.s
            ), closed AS (
                SELECT bd.p1, bd.p2, h.p AS p3, count(*)::BIGINT AS support
                FROM bodies bd JOIN t h ON bd.x = h.s AND bd.z = h.o
                GROUP BY 1, 2, 3
            ), bc AS (
                SELECT p1, p2, count(*)::BIGINT AS body_support
                FROM bodies GROUP BY 1, 2
            ), xp AS (
                SELECT DISTINCT s AS x, p AS p3 FROM t
            ), pca AS (
                SELECT bd.p1, bd.p2, xp.p3,
                       count(*)::BIGINT AS pca_body_support
                FROM bodies bd JOIN xp ON bd.x = xp.x
                GROUP BY 1, 2, 3
            )
            SELECT c.p1, c.p2, c.p3, bc.body_support,
                   pca.pca_body_support, c.support,
                   round(c.support::DOUBLE / bc.body_support, 6) AS confidence,
                   round(c.support::DOUBLE / pca.pca_body_support, 6)
                       AS pca_confidence
            FROM closed c JOIN bc USING (p1, p2) JOIN pca USING (p1, p2, p3)
        """,
        "kg_rule_pca": """
            -- head-sparse variant: supplied_by asserted only for qty >= 25
            -- lines, so PCA confidence (x-asserts-p3 denominator) exceeds
            -- the closed-world standard confidence
            WITH t AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey::VARCHAR AS s, 'contains' AS p,
                           'P' || l_partkey::VARCHAR AS o FROM lineitem
                    UNION ALL
                    SELECT 'O' || l_orderkey::VARCHAR, 'supplied_by',
                           'S' || l_suppkey::VARCHAR FROM lineitem
                    WHERE l_quantity >= 25
                    UNION ALL
                    SELECT 'P' || l_partkey::VARCHAR, 'from',
                           'S' || l_suppkey::VARCHAR FROM lineitem
                )
            ), outd AS (
                SELECT s AS n, count(*) AS d FROM t GROUP BY 1
            ), ind AS (
                SELECT o AS n, count(*) AS d FROM t GROUP BY 1
            ), ok AS (
                SELECT outd.n FROM outd JOIN ind USING (n)
                WHERE outd.d <= 1000 AND ind.d <= 1000
            ), lft AS (
                SELECT * FROM t WHERE o IN (SELECT n FROM ok)
            ), rgt AS (
                SELECT * FROM t WHERE s IN (SELECT n FROM ok)
            ), bodies AS (
                SELECT DISTINCT a.s AS x, b.o AS z, a.p AS p1, b.p AS p2
                FROM lft a JOIN rgt b ON a.o = b.s
            ), closed AS (
                SELECT bd.p1, bd.p2, h.p AS p3, count(*)::BIGINT AS support
                FROM bodies bd JOIN t h ON bd.x = h.s AND bd.z = h.o
                GROUP BY 1, 2, 3
            ), bc AS (
                SELECT p1, p2, count(*)::BIGINT AS body_support
                FROM bodies GROUP BY 1, 2
            ), xp AS (
                SELECT DISTINCT s AS x, p AS p3 FROM t
            ), pca AS (
                SELECT bd.p1, bd.p2, xp.p3,
                       count(*)::BIGINT AS pca_body_support
                FROM bodies bd JOIN xp ON bd.x = xp.x
                GROUP BY 1, 2, 3
            )
            SELECT c.p1, c.p2, c.p3, bc.body_support,
                   pca.pca_body_support, c.support,
                   round(c.support::DOUBLE / bc.body_support, 6) AS confidence,
                   round(c.support::DOUBLE / pca.pca_body_support, 6)
                       AS pca_confidence
            FROM closed c JOIN bc USING (p1, p2) JOIN pca USING (p1, p2, p3)
        """,
        "lang_pr_sweep": """
            -- predict 'en' when n_en >= t; exact confusion counts,
            -- harmonic-identity F1 (ONE division)
            WITH f AS (
                SELECT len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('the', 'and', 'of')))::BIGINT AS score,
                       (lang = 'en') AS label
                FROM documents
            ), cells AS (
                SELECT t.threshold, (f.score >= t.threshold) AS pos, f.label
                FROM f, (VALUES (1), (2), (3), (4), (5)) AS t(threshold)
            ), agg AS (
                SELECT threshold::BIGINT AS threshold,
                       sum(CASE WHEN pos AND label THEN 1 ELSE 0 END)::BIGINT AS tp,
                       sum(CASE WHEN pos AND NOT label THEN 1 ELSE 0 END)::BIGINT AS fp,
                       sum(CASE WHEN NOT pos AND label THEN 1 ELSE 0 END)::BIGINT AS fn,
                       sum(CASE WHEN NOT pos AND NOT label THEN 1 ELSE 0 END)::BIGINT AS tn
                FROM cells GROUP BY 1
            )
            SELECT threshold, tp, fp, fn, tn,
                   CASE WHEN tp + fp > 0
                        THEN round(tp::DOUBLE / (tp + fp), 6) END AS precision,
                   CASE WHEN tp + fn > 0
                        THEN round(tp::DOUBLE / (tp + fn), 6) END AS recall,
                   CASE WHEN 2 * tp + fp + fn > 0
                        THEN round((2 * tp)::DOUBLE / (2 * tp + fp + fn), 6)
                   END AS f1
            FROM agg
        """,
        "lang_kappa": """
            -- kappa = (agree·n − Σ na·nb)/(n² − Σ na·nb): exact longs,
            -- one division (lang-ID guess restated from lang_id_heuristic)
            WITH f AS (
                SELECT lang AS a,
                       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('the', 'and', 'of')))::BIGINT AS n_en,
                       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('der', 'und', 'das')))::BIGINT AS n_de,
                       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('el', 'los', 'que')))::BIGINT AS n_es
                FROM documents
            ), g AS (
                SELECT a,
                       CASE WHEN n_en = 0 AND n_de = 0 AND n_es = 0 THEN 'und'
                            WHEN n_en >= n_de AND n_en >= n_es THEN 'en'
                            WHEN n_de >= n_es THEN 'de'
                            ELSE 'es' END AS b
                FROM f
            ), tot AS (
                SELECT count(*)::BIGINT AS n,
                       sum(CASE WHEN a = b THEN 1 ELSE 0 END)::BIGINT AS n_agree
                FROM g
            ), na AS (
                SELECT a AS k, count(*)::BIGINT AS c FROM g GROUP BY 1
            ), nb AS (
                SELECT b AS k, count(*)::BIGINT AS c FROM g GROUP BY 1
            ), sm AS (
                SELECT coalesce(sum(na.c * nb.c), 0)::BIGINT AS s
                FROM na JOIN nb USING (k)
            )
            SELECT n, n_agree,
                   CASE WHEN n > 0 THEN round(n_agree::DOUBLE / n, 6) END AS po,
                   CASE WHEN n > 0 THEN round(s::DOUBLE / (n * n), 6) END AS pe,
                   CASE WHEN n * n - s > 0
                        THEN round((n_agree * n - s)::DOUBLE / (n * n - s), 6)
                   END AS kappa
            FROM tot, sm
        """,
        "evt_ema": """
            -- k=8 truncated EMA: power-of-two weights, exact long
            -- numerator/denominator, ONE round-6 division (ema_smooth)
            WITH q AS (
                SELECT user_id, ts, event_id,
                       round(value * 1000000)::BIGINT AS qv
                FROM events
            ), lagged AS (
                SELECT user_id, ts, event_id, qv,
                       lag(qv, 1) OVER w AS l1, lag(qv, 2) OVER w AS l2,
                       lag(qv, 3) OVER w AS l3, lag(qv, 4) OVER w AS l4,
                       lag(qv, 5) OVER w AS l5, lag(qv, 6) OVER w AS l6,
                       lag(qv, 7) OVER w AS l7
                FROM q
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, ts, event_id,
                   round((qv * 128 + coalesce(l1, 0) * 64
                          + coalesce(l2, 0) * 32 + coalesce(l3, 0) * 16
                          + coalesce(l4, 0) * 8 + coalesce(l5, 0) * 4
                          + coalesce(l6, 0) * 2 + coalesce(l7, 0))::DOUBLE
                         / ((128
                             + CASE WHEN l1 IS NOT NULL THEN 64 ELSE 0 END
                             + CASE WHEN l2 IS NOT NULL THEN 32 ELSE 0 END
                             + CASE WHEN l3 IS NOT NULL THEN 16 ELSE 0 END
                             + CASE WHEN l4 IS NOT NULL THEN 8 ELSE 0 END
                             + CASE WHEN l5 IS NOT NULL THEN 4 ELSE 0 END
                             + CASE WHEN l6 IS NOT NULL THEN 2 ELSE 0 END
                             + CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
                            * 1000000)::DOUBLE, 6) AS ema
            FROM lagged
        """,
        "rbm_align": """
            -- mutual argmax on integer micro-cosines (cosine_fixed
            -- restated), ties to the smaller id via the window order
            WITH l AS (
                SELECT label, vec_id AS left_id,
                       list_transform(embedding::DOUBLE[],
                                      x -> round(x * 1000000)::BIGINT) AS v
                FROM embeddings WHERE vec_id % 2 = 0
            ), r AS (
                SELECT label, vec_id AS right_id,
                       list_transform(embedding::DOUBLE[],
                                      x -> round(x * 1000000)::BIGINT) AS v
                FROM embeddings WHERE vec_id % 2 = 1
            ), s AS (
                SELECT left_id, right_id,
                       round((list_sum(list_transform(list_zip(l.v, r.v), z -> z[1] * z[2]))::DOUBLE
                              / (sqrt(list_sum(list_transform(l.v, x -> x * x))::DOUBLE)
                                 * sqrt(list_sum(list_transform(r.v, x -> x * x))::DOUBLE)))
                             * 1000000)::BIGINT AS c
                FROM l JOIN r USING (label)
            ), bl AS (
                SELECT left_id, right_id, c,
                       row_number() OVER (PARTITION BY left_id
                                          ORDER BY c DESC, right_id ASC) AS rn
                FROM s
            ), br AS (
                SELECT left_id, right_id,
                       row_number() OVER (PARTITION BY right_id
                                          ORDER BY c DESC, left_id ASC) AS rn
                FROM s
            )
            SELECT bl.left_id, bl.right_id,
                   round(bl.c / 1000000.0, 6) AS cosine
            FROM bl JOIN br ON bl.left_id = br.left_id
                           AND bl.right_id = br.right_id
            WHERE bl.rn = 1 AND br.rn = 1
        """,
        "kg_conflicts": """
            WITH t AS (
                SELECT 'S' || l_suppkey AS s,
                       CASE WHEN l_returnflag = 'R' THEN 'returns'
                            ELSE 'ships' END AS p,
                       'P' || l_partkey AS o
                FROM lineitem
            ), c AS (
                SELECT s, o, p, count(*)::BIGINT AS n FROM t GROUP BY 1, 2, 3
            )
            SELECT a.s AS subject_id, a.o AS object_id,
                   'ships' AS pred_a, 'returns' AS pred_b,
                   a.n AS n_a, b.n AS n_b
            FROM c a JOIN c b ON a.s = b.s AND a.o = b.o
            WHERE a.p = 'ships' AND b.p = 'returns'
        """,
        "snm_candidates": """
            WITH r AS (
                SELECT p_partkey AS id, p_name AS k,
                       row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS rn
                FROM part
            )
            SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b,
                   (b.rn - a.rn)::INTEGER AS rank_distance
            FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 2
        """,
        "join_plan": """
            WITH lc AS (
                SELECT c_custkey AS k, count(*)::BIGINT AS nl
                FROM customer GROUP BY 1
            ), rc AS (
                SELECT o_custkey AS k, count(*)::BIGINT AS nr
                FROM orders GROUP BY 1
            ), j AS (
                SELECT lc.k::VARCHAR AS k, (nl * nr)::BIGINT AS outr
                FROM lc JOIN rc USING (k)
            ), lt AS (SELECT sum(nl)::BIGINT AS left_rows FROM lc),
               rt AS (SELECT sum(nr)::BIGINT AS right_rows FROM rc),
               pa AS (
                SELECT coalesce(sum(outr), 0)::BIGINT AS out_rows,
                       count(*)::BIGINT AS matching_keys,
                       coalesce(max(outr), 0)::BIGINT AS max_key_out,
                       (SELECT min(k) FROM j
                        WHERE outr = (SELECT max(outr) FROM j)) AS top_key
                FROM j
            )
            SELECT out_rows, left_rows, right_rows, matching_keys,
                   max_key_out, top_key,
                   CASE WHEN out_rows > 0
                        THEN round(max_key_out::DOUBLE / out_rows, 6)
                        END AS p_max_out,
                   round(out_rows::DOUBLE / (left_rows + right_rows), 6)
                       AS amplification,
                   right_rows <= 1000000 AS broadcast_ok,
                   greatest(1, (max_key_out + 4999999) // 5000000)::BIGINT
                       AS recommended_salts
            FROM pa, lt, rt
        """,
        "d8_incremental_cc": """
            -- union-graph membership closed form: even regions were fused
            -- already, region 1 fuses via the delta, other odd-region
            -- nations stand alone; qualifying suppliers attach to their
            -- nation's cluster. component = min member id (C < N < R < S).
            WITH grp AS (
                SELECT CASE WHEN n_regionkey % 2 = 0 OR n_regionkey = 1
                            THEN 'R' || n_regionkey
                            ELSE 'N' || n_nationkey END AS g,
                       n_nationkey, n_regionkey
                FROM nation
            ), qsupp AS (
                SELECT s_suppkey, s_nationkey FROM supplier
                WHERE s_suppkey % 100 = 0
            ), members AS (
                SELECT g.g AS g, 'C' || c_custkey AS id
                FROM customer JOIN grp g ON c_nationkey = g.n_nationkey
                UNION ALL
                SELECT g.g, 'S' || s.s_suppkey
                FROM qsupp s JOIN grp g ON s.s_nationkey = g.n_nationkey
                UNION ALL
                SELECT g.g, 'N' || g.n_nationkey FROM grp g
                WHERE g.n_regionkey % 2 = 0 OR g.n_regionkey = 1
                   OR EXISTS (SELECT 1 FROM customer
                              WHERE c_nationkey = g.n_nationkey)
                   OR EXISTS (SELECT 1 FROM qsupp
                              WHERE s_nationkey = g.n_nationkey)
                UNION ALL
                SELECT g.g, 'R' || g.n_regionkey FROM grp g
                WHERE g.n_regionkey % 2 = 0 OR g.n_regionkey = 1
            ), dedup AS (
                SELECT DISTINCT g, id FROM members
            ), winners AS (
                SELECT g, min(id) AS component FROM dedup GROUP BY g
            )
            SELECT d.id, w.component FROM dedup d JOIN winners w USING (g)
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "text_token_stats": """
            SELECT doc_id,
                   length(text)::BIGINT AS n_chars,
                   len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT
                       AS n_tokens_bpe,
                   round(length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                         / len(string_split_regex(trim(text), '\\s+')), 6) AS avg_token_len
            FROM documents
        """,
        "text_quality_score": """
            WITH f AS (
                SELECT doc_id,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
                       len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                               'that','for','on','with','as','was','at','by','be'],
                                              lower(t))))::DOUBLE
                           / len(string_split_regex(trim(text), '\\s+')) AS stopword_ratio,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
                FROM documents
            )
            SELECT doc_id, round(alpha_ratio, 6) AS alpha_ratio,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(stopword_ratio, 6) AS stopword_ratio, n_tokens,
                   round(0.5 * alpha_ratio + 0.3 * (1 - punct_ratio)
                         + 0.2 * least(1.0, n_tokens / 100.0), 6) AS quality_score
            FROM f
        """,
        "lang_id_heuristic": """
            WITH f AS (
                SELECT doc_id,
                       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('the', 'and', 'of')))::BIGINT AS n_en,
                       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('der', 'und', 'das')))::BIGINT AS n_de,
                       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('el', 'los', 'que')))::BIGINT AS n_es
                FROM documents
            )
            SELECT doc_id, n_en, n_de, n_es,
                   CASE WHEN n_en = 0 AND n_de = 0 AND n_es = 0 THEN 'und'
                        WHEN n_en >= n_de AND n_en >= n_es THEN 'en'
                        WHEN n_de >= n_es THEN 'de'
                        ELSE 'es' END AS lang_guess
            FROM f
        """,
        "fingerprint": """
            SELECT doc_id, md5(substr(text, 1, 64)) AS fp_prefix,
                   list_reduce(
                       list_transform(string_split(substr(text, 1, 256), ''),
                                      c -> ascii(c)::BIGINT),
                       (a, x) -> (a * 131 + x) % 1000000007
                   )::BIGINT AS fp_rolling,
                   (length(text) // 64 * 64)::BIGINT AS len_bucket
            FROM documents
        """,
        "ann_cosine_topk": """
            WITH p AS (
                SELECT vec_id AS probe_id, embedding FROM embeddings WHERE vec_id < 5
            ), scored AS (
                SELECT p.probe_id, i.vec_id,
                       list_cosine_similarity(i.embedding::DOUBLE[], p.embedding::DOUBLE[]) AS c
                FROM embeddings i, p
            ), ranked AS (
                SELECT probe_id, vec_id, c,
                       row_number() OVER (PARTITION BY probe_id ORDER BY c DESC, vec_id) AS rank
                FROM scored
            )
            SELECT probe_id, vec_id, round(c, 6) AS cosine, rank
            FROM ranked WHERE rank <= 10
        """,
        "f1_cooccurrence_docs": f"""
            WITH tok AS (
                SELECT DISTINCT doc_id, t
                FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
                WHERE t IN ({cooc_words})
            ), pairs AS (
                SELECT a.t AS w1, b.t AS w2, count(*) AS n
                FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
                GROUP BY 1, 2
            )
            SELECT w1, w2, n, round(least(0.95, 0.60 + 0.10 * n), 6) AS confidence
            FROM pairs
        """,
        "c6_vocab_prepass": f"""
            WITH tok AS (
                SELECT DISTINCT doc_id, t
                FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
                WHERE t IN ({", ".join(repr(w) for w in KG_TERMS)})
            )
            SELECT t AS norm_name, 'term' AS entity_type,
                   count(*) AS doc_frequency, count(*) AS total_mentions,
                   1.0 AS max_confidence
            FROM tok GROUP BY 1
        """,
        "word_jaccard_pairs": """
            WITH sh AS (
                SELECT DISTINCT doc_id, t AS shingle
                FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
                WHERE doc_id < 300 AND length(t) > 0
            ), sz AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
        """,
        "kg_completion_candidates": """
            WITH li AS (
                SELECT * FROM lineitem WHERE l_orderkey < 500
            ), t1 AS (
                SELECT DISTINCT 'O' || l_orderkey AS x, 'P' || l_partkey AS y FROM li
            ), t2 AS (
                SELECT DISTINCT 'P' || l_partkey AS y, 'S' || l_suppkey AS z FROM li
            ), imp AS (
                SELECT DISTINCT x, z FROM t1 JOIN t2 USING (y)
            ), hd AS (
                SELECT DISTINCT 'O' || l_orderkey AS x, 'S' || l_suppkey AS z
                FROM li WHERE l_quantity >= 25
            )
            SELECT i.x AS subject_id, 'supplied_by' AS predicate, i.z AS object_id
            FROM imp i
            WHERE NOT EXISTS (SELECT 1 FROM hd WHERE hd.x = i.x AND hd.z = i.z)
        """,
        # cluster labels restated via the dedup_clusters recursive CC,
        # then pair density per multi-member cluster
        "er_cluster_cohesion": """
            WITH RECURSIVE sh AS (
                SELECT DISTINCT doc_id, t AS shingle
                FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
                WHERE doc_id < 300 AND length(t) > 0
            ), sz AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            -- pairs and edges MATERIALIZED: inlined, the recursive reach
            -- re-derived the shingle self-join on every round
            ), pairs AS MATERIALIZED (
                SELECT doc_a, doc_b FROM inter
                JOIN sz sa ON sa.doc_id = doc_a
                JOIN sz sb ON sb.doc_id = doc_b
                WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
            ), edges AS MATERIALIZED (
                SELECT doc_a AS s, doc_b AS d FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs
            ), reach AS (
                SELECT s AS id, s AS lab FROM edges
                UNION
                SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
            ), comp AS (
                SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
            ), base AS (
                SELECT doc_id FROM documents WHERE doc_id < 300
            ), lab AS (
                SELECT b.doc_id, coalesce(c.cluster_id, b.doc_id) AS cluster_id
                FROM base b LEFT JOIN comp c ON c.id = b.doc_id
            ), sizes AS (
                SELECT cluster_id, count(*)::BIGINT AS m FROM lab
                GROUP BY 1 HAVING count(*) >= 2
            ), direct AS (
                SELECT la.cluster_id, count(*)::BIGINT AS nd
                FROM pairs p
                JOIN lab la ON la.doc_id = p.doc_a
                JOIN lab lb ON lb.doc_id = p.doc_b
                WHERE la.cluster_id = lb.cluster_id
                GROUP BY 1
            )
            SELECT s.cluster_id, s.m AS n_members,
                   (s.m * (s.m - 1) // 2)::BIGINT AS n_possible_pairs,
                   coalesce(d.nd, 0)::BIGINT AS n_direct_pairs,
                   ((1000000 * coalesce(d.nd, 0)) // (s.m * (s.m - 1) // 2))::BIGINT
                       AS cohesion_micro
            FROM sizes s LEFT JOIN direct d USING (cluster_id)
        """,
        "text_ngram_novelty": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 500
            ), sh AS (
                SELECT DISTINCT doc_id, gram AS shingle
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(
                               range(0, greatest(len(t) - 3, 0) + 1),
                               i -> array_to_string(t[i+1:i+3], ' '))) AS gram
                    FROM toks
                )
                WHERE length(gram) > 0
            ), first AS (
                SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY 1
            )
            SELECT doc_id, count(*)::BIGINT AS n_grams,
                   sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
                   ((1000000 * sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END))
                    // count(*))::BIGINT AS novelty_micro
            FROM sh JOIN first USING (shingle)
            GROUP BY doc_id
        """,
        "graph_katz": """
            WITH e AS (
                SELECT 'C' || c_custkey AS s, 'N' || c_nationkey AS d FROM customer
                UNION ALL
                SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
                UNION ALL
                SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
                UNION ALL
                SELECT 'R' || n_regionkey, 'N' || n_nationkey FROM nation
            ), nodes AS (
                SELECT s AS node FROM e UNION SELECT d FROM e
            ), w1 AS (
                SELECT d AS node, count(*)::BIGINT AS w FROM e GROUP BY 1
            ), w2 AS (
                SELECT e.d AS node, sum(w1.w)::BIGINT AS w
                FROM e JOIN w1 ON w1.node = e.s GROUP BY 1
            ), w3 AS (
                SELECT e.d AS node, sum(w2.w)::BIGINT AS w
                FROM e JOIN w2 ON w2.node = e.s GROUP BY 1
            )
            SELECT n.node,
                   (coalesce(w1.w, 0) * 500000 + coalesce(w2.w, 0) * 250000
                    + coalesce(w3.w, 0) * 125000)::BIGINT AS katz_micro
            FROM nodes n
            LEFT JOIN w1 USING (node)
            LEFT JOIN w2 USING (node)
            LEFT JOIN w3 USING (node)
        """,
        # rebuilds the deterministic interleaved span sequence (same
        # residue arithmetic as _docs_to_interleaved_spans), then pairs
        # each media span with the latest preceding text span
        "media_captions": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 400
            ), np AS (
                SELECT doc_id, greatest(cast(ceil(len(t) / 12.0) AS INT), 1) AS n
                FROM toks
            ), kv AS (
                SELECT doc_id,
                       flatten(list_transform(range(0, n), i ->
                           CASE WHEN i % 6 = 5 THEN ['text', 'media', 'media']
                                WHEN i % 3 = 2 THEN ['text', 'media']
                                ELSE ['text'] END)) AS ks,
                       flatten(list_transform(range(0, n), i ->
                           CASE WHEN i % 6 = 5 THEN
                                    ['para-' || i,
                                     'media://asset/' || ((doc_id * 31 + i) % 41),
                                     'media://asset/' || (((doc_id * 17 + i) % 37) + 50)]
                                WHEN i % 3 = 2 THEN
                                    ['para-' || i,
                                     'media://asset/' || ((doc_id * 31 + i) % 41)]
                                ELSE ['para-' || i] END)) AS vs
                FROM np
            ), ex AS (
                SELECT doc_id, unnest(ks) AS kind, unnest(vs) AS val,
                       generate_subscripts(ks, 1) AS pos
                FROM kv
            ), w AS (
                SELECT doc_id, pos, kind, val,
                       max(CASE WHEN kind = 'text' THEN pos END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS cap_pos
                FROM ex
            )
            SELECT m.doc_id, (m.pos - 1)::BIGINT AS span_pos, m.val AS media_ref,
                   t.val AS caption, (t.pos - 1)::BIGINT AS caption_pos,
                   (m.pos - t.pos)::BIGINT AS caption_distance
            FROM w m
            LEFT JOIN ex t ON t.doc_id = m.doc_id AND t.pos = m.cap_pos
            WHERE m.kind = 'media'
        """,
        "er_weighted_overlap": """
            WITH names AS (
                SELECT p_partkey AS id, p_brand AS blk, p_name AS nm
                FROM part WHERE p_partkey < 500
            ), toks AS (
                SELECT DISTINCT id, blk, t AS tok
                FROM names, unnest(string_split_regex(lower(trim(nm)), '\\s+')) AS u(t)
                WHERE length(t) > 0
            ), n AS (
                SELECT count(DISTINCT id)::BIGINT AS n FROM names
            ), dfw AS (
                SELECT tok, (n.n // count(DISTINCT id))::BIGINT AS w
                FROM toks, n GROUP BY tok, n.n
            ), wt AS (
                SELECT id, blk, toks.tok, w FROM toks JOIN dfw USING (tok)
            ), tot AS (
                SELECT id, sum(w)::BIGINT AS tw FROM wt GROUP BY 1
            ), sh AS (
                SELECT a.id AS id_a, b.id AS id_b, sum(a.w)::BIGINT AS shared_w
                FROM wt a JOIN wt b
                  ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, shared_w,
                   (ta.tw + tb.tw - shared_w)::BIGINT AS union_w,
                   ((1000000 * shared_w) // (ta.tw + tb.tw - shared_w))::BIGINT
                       AS overlap_micro
            FROM sh
            JOIN tot ta ON ta.id = id_a
            JOIN tot tb ON tb.id = id_b
            WHERE (1000000 * shared_w) // (ta.tw + tb.tw - shared_w) >= 200000
        """,
        "curation_power_mix": """
            WITH c AS (
                SELECT lang AS domain, count(*)::BIGINT AS n_docs
                FROM documents GROUP BY 1
            ), t AS (
                SELECT domain, n_docs,
                       sum(n_docs) OVER ()::BIGINT AS tot,
                       (n_docs * n_docs)::BIGINT AS pw,
                       sum(n_docs * n_docs) OVER ()::BIGINT AS ptot
                FROM c
            )
            SELECT domain, n_docs,
                   ((1000000 * n_docs) // tot)::BIGINT AS share_micro,
                   ((1000000 * pw) // ptot)::BIGINT AS weight_micro,
                   ((1000000 * tot * n_docs) // ptot)::BIGINT AS upsample_micro
            FROM t
        """,
        # CC restated as a recursive reachable-min-label fixpoint — safe
        # here because near-dup clusters are tiny (the recursion enumerates
        # (node, reachable-seed) pairs within a cluster only)
        "dedup_clusters": """
            WITH RECURSIVE sh AS (
                SELECT DISTINCT doc_id, t AS shingle
                FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
                WHERE doc_id < 300 AND length(t) > 0
            ), sz AS (
                SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            -- pairs and edges MATERIALIZED: inlined, the recursive reach
            -- re-derived the shingle self-join on every round
            ), pairs AS MATERIALIZED (
                SELECT doc_a, doc_b FROM inter
                JOIN sz sa ON sa.doc_id = doc_a
                JOIN sz sb ON sb.doc_id = doc_b
                WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
            ), edges AS MATERIALIZED (
                SELECT doc_a AS s, doc_b AS d FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs
            ), reach AS (
                SELECT s AS id, s AS lab FROM edges
                UNION
                SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id
            ), comp AS (
                SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id
            ), base AS (
                SELECT doc_id, length(trim(text)) AS len
                FROM documents WHERE doc_id < 300
            ), lab AS (
                SELECT b.doc_id, b.len,
                       coalesce(c.cluster_id, b.doc_id) AS cluster_id
                FROM base b LEFT JOIN comp c ON c.id = b.doc_id
            ), canon AS (
                SELECT cluster_id, doc_id AS canonical_id
                FROM (SELECT cluster_id, doc_id,
                             row_number() OVER (PARTITION BY cluster_id
                                                ORDER BY len DESC, doc_id ASC) AS rn
                      FROM lab)
                WHERE rn = 1
            )
            SELECT l.doc_id, l.cluster_id, c.canonical_id,
                   l.doc_id = c.canonical_id AS keep
            FROM lab l JOIN canon c USING (cluster_id)
        """,
        "kg_type_constraints": """
            WITH t AS (
                SELECT 'contains' AS predicate,
                       CASE WHEN l_quantity = 1 THEN 'part' ELSE 'order' END AS st,
                       CASE WHEN l_quantity = 1 THEN 'supplier' ELSE 'part' END AS ot
                FROM lineitem
                UNION ALL
                SELECT 'supplied_by', 'order', 'supplier' FROM lineitem
            ), sig AS (
                SELECT predicate, st, ot, count(*)::BIGINT AS n
                FROM t GROUP BY 1, 2, 3
            ), dom AS (
                SELECT predicate, st AS dom_subject_type, ot AS dom_object_type,
                       n AS n_conforming,
                       sum(n) OVER (PARTITION BY predicate)::BIGINT AS n_total,
                       row_number() OVER (PARTITION BY predicate
                                          ORDER BY n DESC, st ASC, ot ASC) AS rn
                FROM sig
            )
            SELECT predicate, dom_subject_type, dom_object_type, n_total,
                   n_conforming,
                   (n_total - n_conforming)::BIGINT AS n_violations,
                   ((1000000 * n_conforming) // n_total)::BIGINT AS conform_micro
            FROM dom WHERE rn = 1
        """,
        "text_lexical_diversity": """
            WITH per AS (
                SELECT doc_id, t AS token, count(*) AS n
                FROM documents,
                     unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(t)
                WHERE doc_id < 500 AND length(t) > 0
                GROUP BY 1, 2
            ), agg AS (
                SELECT doc_id, sum(n)::BIGINT AS n_tokens,
                       count(*)::BIGINT AS n_types,
                       sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
                       sum(n * (n - 1))::BIGINT AS rep
                FROM per GROUP BY 1
            )
            SELECT doc_id, n_tokens, n_types,
                   ((1000000 * n_types) // n_tokens)::BIGINT AS ttr_micro,
                   ((1000000 * n_hapax) // n_types)::BIGINT AS hapax_micro,
                   CASE WHEN n_tokens >= 2
                        THEN ((1000000 * rep) // (n_tokens * (n_tokens - 1)))::BIGINT
                        ELSE 0::BIGINT END AS simpson_micro
            FROM agg
        """,
        "stat_benford": f"""
            WITH d AS (
                SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                                   AS VARCHAR), 1, 1) AS digit
                FROM orders
            ), f AS (
                SELECT digit, count(*)::BIGINT AS n FROM d
                WHERE digit BETWEEN '1' AND '9' GROUP BY 1
            ), t AS (
                SELECT digit, n, sum(n) OVER ()::BIGINT AS total FROM f
            ), e AS (
                SELECT * FROM (VALUES {benford_vals}) AS v(digit, benford_micro)
            )
            SELECT t.digit, t.n,
                   ((1000000 * t.n) // t.total)::BIGINT AS share_micro,
                   e.benford_micro::BIGINT AS benford_micro,
                   abs((1000000 * t.n) // t.total - e.benford_micro)::BIGINT AS dev_micro
            FROM t JOIN e USING (digit)
        """,
        # D4 rerank: levenshtein similarity argmax, levenshtein + the
        # norm_key pipeline (lower/strip/collapse) restated verbatim; the
        # spelling map is a no-op on part names so it is omitted. Ties
        # break (sim DESC, candidate_id ASC) — same struct-min order as
        # resolve.rerank_authority_candidates.
        "d4_authority_rerank": r"""
            WITH terms AS (
                SELECT p_brand AS norm_key,
                       arg_min(p_name, p_partkey) AS text,
                       min(p_partkey) AS tk
                FROM part GROUP BY p_brand
            ), cands AS (
                SELECT p.p_brand AS norm_key,
                       p.p_partkey::VARCHAR AS candidate_id,
                       p.p_name AS label
                FROM part p JOIN terms t ON p.p_brand = t.norm_key
                WHERE p.p_partkey <> t.tk
            ), scored AS (
                SELECT c.norm_key, t.text, c.candidate_id,
                       1.0 - levenshtein(
                           trim(regexp_replace(regexp_replace(lower(trim(t.text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')),
                           trim(regexp_replace(regexp_replace(lower(trim(c.label)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
                       )::DOUBLE / greatest(
                           length(trim(regexp_replace(regexp_replace(lower(trim(t.text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))),
                           length(trim(regexp_replace(regexp_replace(lower(trim(c.label)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))),
                           1) AS sim
                FROM cands c JOIN terms t USING (norm_key)
            ), best AS (
                SELECT norm_key, text, candidate_id, sim,
                       row_number() OVER (PARTITION BY norm_key ORDER BY sim DESC, candidate_id ASC) AS rn
                FROM scored
            )
            SELECT norm_key, text, candidate_id, round(sim, 6) AS similarity
            FROM best WHERE rn = 1
        """,
        # Banded-LSH near-dup pairing: base vectors + planted twins, band
        # buckets restated as literal hyperplane sign sums (one SELECT per
        # band, UNION ALL = the Spark explode), DISTINCT candidate pairs,
        # cosine >= 0.95 on survivors — replicates recall misses exactly.
        "embedding_near_dups": f"""
            WITH base AS (
                SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
            ), twins AS (
                SELECT vec_id + 100000 AS id,
                       [v[1] + 0.2] || v[2:] AS v
                FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                      WHERE vec_id < 40)
            ), e AS (
                SELECT id, v FROM base UNION ALL SELECT id, v FROM twins
            ), bands AS (
{banded_union}
            ), pairs AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
            ), scored AS (
                SELECT p.id_a, p.id_b, list_cosine_similarity(ea.v, eb.v) AS c
                FROM pairs p
                JOIN e ea ON ea.id = p.id_a
                JOIN e eb ON eb.id = p.id_b
            )
            SELECT id_a, id_b, round(c, 6) AS cosine
            FROM scored WHERE c >= 0.95
        """,
        "semantic_dedup": """
            -- SemDeDup restated: same planted twins as embedding_near_dups,
            -- IVF cell assignment (argmax cosine to the 8 smallest-id
            -- centroids, ties to smallest cid), within-cell pairs only,
            -- drop when a lower-id cell-mate sits at round-6 cosine >= .95
            WITH base AS (
                SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
            ), twins AS (
                SELECT vec_id + 100000 AS id,
                       [v[1] + 0.2] || v[2:] AS v
                FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                      WHERE vec_id < 40)
            ), e AS (
                SELECT id, v FROM base UNION ALL SELECT id, v FROM twins
            ), cent AS (
                SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v AS ce
                FROM e WHERE id < 8
            ), asg AS (
                SELECT e.id, e.v, c.cid,
                       row_number() OVER (PARTITION BY e.id
                           ORDER BY list_cosine_similarity(e.v, c.ce) DESC, c.cid) AS rn
                FROM e CROSS JOIN cent c
            ), cells AS (
                SELECT id, v, cid AS cell FROM asg WHERE rn = 1
            ), pairs AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       round(list_cosine_similarity(a.v, b.v), 6) AS cos
                FROM cells a JOIN cells b USING (cell)
                WHERE a.id < b.id
            ), dups AS (
                SELECT id_b AS id, min(id_a) AS dup_of
                FROM pairs WHERE cos >= 0.95::DOUBLE GROUP BY 1
            )
            SELECT e.id AS vec_id, d.dup_of, d.dup_of IS NULL AS keep
            FROM e LEFT JOIN dups d USING (id)
        """,
        # session_window semantics: merge on window OVERLAP, so a gap
        # EXACTLY equal to 30 min starts a new session (>=, unlike the lag
        # formulation's strict >); end = last event + gap
        "evt_session_windows": """
            WITH e AS (
                SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, value FROM events
            ), m AS (
                SELECT user_id, us, value,
                       CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                              OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                                 >= 1800000000
                            THEN 1 ELSE 0 END AS n
                FROM e
            ), s AS (
                SELECT user_id, us, value,
                       sum(n) OVER (PARTITION BY user_id ORDER BY us
                                    ROWS UNBOUNDED PRECEDING) AS sid
                FROM m
            )
            SELECT user_id,
                   min(us) AS session_start_us,
                   max(us) + 1800000000 AS session_end_us,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), 4) AS session_value
            FROM s GROUP BY user_id, sid
        """,
        "text_repetition": r"""
            WITH base AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                FROM documents
            ), grams AS (
                SELECT doc_id, array_to_string(toks[i+1 : i+3], ' ') AS gram
                FROM base,
                     unnest(range(0, greatest(len(toks) - 2, 0)::BIGINT)) AS u(i)
            ), gstat AS (
                SELECT doc_id, count(*) AS ng, count(DISTINCT gram) AS ngd
                FROM grams GROUP BY 1
            )
            SELECT b.doc_id,
                   len(b.toks) AS n_tokens,
                   round(CASE WHEN len(b.toks) > 0
                         THEN 1.0 - len(list_distinct(b.toks))::DOUBLE / len(b.toks)
                         ELSE 0.0 END, 6) AS dup_word_frac,
                   round(coalesce(1.0 - g.ngd::DOUBLE / g.ng, 0.0), 6) AS dup_3gram_frac
            FROM base b LEFT JOIN gstat g USING (doc_id)
        """,
        "f4_evidence_containment": r"""
            WITH rels AS (
                SELECT doc_id::VARCHAR AS doc_id,
                       'data' AS subject_norm,
                       list_extract(['join','filter','window','customer','spark','merge','stream','table'],
                                    (doc_id % 8 + 1)::INT) AS object_norm,
                       text AS evidence,
                       trim(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS norm_ev
                FROM documents
            )
            SELECT doc_id, subject_norm, object_norm FROM rels
            WHERE evidence IS NOT NULL
              AND contains(norm_ev, subject_norm) AND contains(norm_ev, object_norm)
        """,
        # D9 winner election: authoritative-first then lexicographic — the
        # Spark min-of-struct restated as a row_number window; norm_dedup =
        # norm_key + whole-key British→American spelling map
        "d9_reconcile": r"""
            WITH base AS (
                SELECT
                    CASE WHEN c_custkey % 4 = 0 THEN 'MeSH:D' || c_custkey::VARCHAR
                         ELSE 'prov-' || lpad(c_custkey::VARCHAR, 8, '0') END AS entity_id,
                    CASE WHEN c_custkey % 2 = 0 THEN 'disease' ELSE 'location' END AS entity_type,
                    CASE WHEN c_custkey % 5 = 0 THEN 'Tumour'
                         WHEN c_custkey % 5 = 1 THEN 'tumor!'
                         WHEN c_custkey % 3 = 0 THEN upper('Clinic ' || (c_custkey % 40)::VARCHAR)
                         WHEN c_custkey % 3 = 1 THEN 'Clinic ' || (c_custkey % 40)::VARCHAR || '!!'
                         ELSE '  Clinic ' || (c_custkey % 40)::VARCHAR END AS name
                FROM customer
            ), keyed AS (
                SELECT DISTINCT entity_id, entity_type,
                    CASE trim(regexp_replace(regexp_replace(lower(trim(name)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
                         WHEN 'tumour' THEN 'tumor'
                         WHEN 'hyperglycaemia' THEN 'hyperglycemia'
                         WHEN 'haemoglobin' THEN 'hemoglobin'
                         WHEN 'oesophagus' THEN 'esophagus'
                         WHEN 'leukaemia' THEN 'leukemia'
                         ELSE trim(regexp_replace(regexp_replace(lower(trim(name)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
                    END AS norm_name
                FROM base
            ), ranked AS (
                SELECT entity_id, entity_type, norm_name,
                    row_number() OVER (
                        PARTITION BY norm_name, entity_type
                        ORDER BY (CASE WHEN starts_with(entity_id, 'MeSH:') THEN 0 ELSE 1 END),
                                 entity_id
                    ) AS rn,
                    count(*) OVER (PARTITION BY norm_name, entity_type) AS n
                FROM keyed
            ), winners AS (
                SELECT norm_name, entity_type, entity_id AS final_id
                FROM ranked WHERE rn = 1 AND n > 1
            )
            SELECT k.entity_id, w.final_id
            FROM keyed k JOIN winners w USING (norm_name, entity_type)
            WHERE k.entity_id <> w.final_id
        """,
        # D7 priority chain: auth(x) = trimmed id when the trimmed form is
        # authoritative for its known shape; Gene branch formats bare-digit
        # HGNC and consults the UMLS→HGNC cross map before the raw UMLS id
        "d7_merge_key": r"""
            WITH rows AS (
                SELECT p_partkey AS k, p_partkey::VARCHAR AS s,
                    CASE WHEN p_partkey % 2 = 0 THEN 'Gene' ELSE 'Drug' END AS entity_class,
                    CASE WHEN p_partkey % 5 = 0 THEN 'MeSH:D' || p_partkey::VARCHAR
                         WHEN p_partkey % 5 = 1 THEN 'prov-' || p_partkey::VARCHAR END AS canonical_id,
                    CASE WHEN p_partkey % 3 = 0 THEN 'C' || p_partkey::VARCHAR END AS umls_id,
                    CASE WHEN p_partkey % 4 = 0 THEN p_partkey::VARCHAR
                         WHEN p_partkey % 4 = 1 THEN ' HGNC:' || p_partkey::VARCHAR END AS hgnc_id,
                    CASE WHEN p_partkey % 7 = 0 THEN 'RxNorm:' || p_partkey::VARCHAR END AS rxnorm_id,
                    CASE WHEN p_partkey % 11 = 0 THEN 'UniProt:P' || p_partkey::VARCHAR END AS uniprot_id
                FROM part
            ), xmap AS (
                SELECT 'C' || p_partkey::VARCHAR AS umls_id,
                       'HGNC:' || (p_partkey + 7)::VARCHAR AS hgnc_id
                FROM part WHERE p_partkey % 6 = 0
            ), auth AS (
                SELECT r.*, x.hgnc_id AS cross_hgnc,
                    CASE WHEN starts_with(trim(r.canonical_id), 'MeSH:') THEN trim(r.canonical_id) END AS a_can,
                    CASE WHEN regexp_matches(trim(r.umls_id), '^C[0-9]+$') THEN trim(r.umls_id) END AS a_umls,
                    CASE WHEN regexp_matches(trim(r.hgnc_id), '^[0-9]+$')
                           OR starts_with(trim(r.hgnc_id), 'HGNC:') THEN trim(r.hgnc_id) END AS a_hgnc,
                    CASE WHEN starts_with(trim(r.rxnorm_id), 'RxNorm:') THEN trim(r.rxnorm_id) END AS a_rx,
                    CASE WHEN starts_with(trim(r.uniprot_id), 'UniProt:') THEN trim(r.uniprot_id) END AS a_uni
                FROM rows r LEFT JOIN xmap x ON trim(r.umls_id) = x.umls_id
            )
            SELECT s AS row_id, entity_class,
                CASE WHEN entity_class = 'Gene' THEN
                    coalesce(
                        CASE WHEN a_hgnc IS NOT NULL THEN
                            CASE WHEN regexp_matches(trim(hgnc_id), '^[0-9]+$')
                                 THEN 'HGNC:' || trim(hgnc_id) ELSE trim(hgnc_id) END END,
                        CASE WHEN a_umls IS NOT NULL THEN coalesce(cross_hgnc, trim(umls_id)) END,
                        a_can)
                ELSE coalesce(a_can, a_umls, a_hgnc, a_rx, a_uni) END AS merge_key
            FROM auth
        """,
        # F4 full ladder with the letter-frequency encoder: integer-valued
        # 26-dim vectors are bit-exact across engines; rung 1 = substring,
        # rung 2 = one-endpoint early drop (residue keeps neither-matched
        # only), rung 3 = both cosines >= 0.5, rung 4 = marker-disease
        # context rescue against the full document content
        "f4_semantic_ladder": r"""
            WITH docs AS (
                SELECT doc_id::VARCHAR AS doc_id, doc_id::BIGINT % 4 AS m, text FROM documents
            ), rels AS (
                SELECT doc_id, m, text,
                    CASE WHEN m >= 2 THEN 'datta systemm' ELSE 'data' END AS subject_norm,
                    CASE WHEN m = 1 THEN 'zzzz'
                         WHEN m = 2 THEN 'tablee windoww'
                         WHEN m = 3 THEN 'zyzzyva'
                         ELSE list_extract(['join','filter','window','customer','spark','merge','stream','table'],
                                           (doc_id::BIGINT % 8 + 1)::INT) END AS object_norm,
                    CASE WHEN m = 3 THEN 'indicates' ELSE 'mentions' END AS predicate,
                    CASE WHEN m = 3 THEN 'disease' ELSE 'term' END AS object_type,
                    CASE WHEN m = 3 THEN 'tumor staining in ' || substr(text, 1, 120)
                         ELSE text END AS evidence
                FROM docs
            ), flags AS (
                SELECT *,
                    trim(regexp_replace(regexp_replace(lower(trim(evidence)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS norm_ev,
                    (evidence IS NOT NULL AND trim(evidence) <> '') AS has_ev
                FROM rels
            ), marked AS (
                SELECT *, contains(norm_ev, subject_norm) AS sub_ok,
                          contains(norm_ev, object_norm) AS obj_ok
                FROM flags
            ), emb AS (
                SELECT *,
                    list_transform(['a','b','c','d','e','f','g','h','i','j','k','l','m','n','o','p','q','r','s','t','u','v','w','x','y','z'],
                        c -> (length(lower(evidence)) - length(replace(lower(evidence), c, '')))::DOUBLE) AS ev_e,
                    list_transform(['a','b','c','d','e','f','g','h','i','j','k','l','m','n','o','p','q','r','s','t','u','v','w','x','y','z'],
                        c -> (length(lower(subject_norm)) - length(replace(lower(subject_norm), c, '')))::DOUBLE) AS s_e,
                    list_transform(['a','b','c','d','e','f','g','h','i','j','k','l','m','n','o','p','q','r','s','t','u','v','w','x','y','z'],
                        c -> (length(lower(object_norm)) - length(replace(lower(object_norm), c, '')))::DOUBLE) AS o_e
                FROM marked WHERE has_ev AND NOT sub_ok AND NOT obj_ok
            ), scored AS (
                SELECT *,
                    list_cosine_similarity(ev_e, s_e) >= 0.5 AS s_sem,
                    list_cosine_similarity(ev_e, o_e) >= 0.5 AS o_sem
                FROM emb
            ), fast AS (
                SELECT doc_id, subject_norm, object_norm, predicate
                FROM marked WHERE has_ev AND sub_ok AND obj_ok
            ), semantic AS (
                SELECT doc_id, subject_norm, object_norm, predicate
                FROM scored WHERE s_sem AND o_sem
            ), rescued AS (
                SELECT r.doc_id, r.subject_norm, r.object_norm, r.predicate
                FROM scored r JOIN docs d ON d.doc_id = r.doc_id
                WHERE r.s_sem AND NOT r.o_sem
                  AND r.predicate IN ('indicates', 'associated_with')
                  AND r.object_type = 'disease'
                  AND len(list_filter(['tumor','cancer','cell','cells','positive','negativity','negative','staining','ihc','immunohisto','immunoreactivity','positivity','neoplastic'],
                          w -> contains(r.norm_ev, w))) > 0
                  AND contains(
                        trim(regexp_replace(regexp_replace(lower(trim(d.text || ' zyzzyva')), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')),
                        r.object_norm)
            )
            SELECT * FROM fast
            UNION ALL SELECT * FROM semantic
            UNION ALL SELECT * FROM rescued
        """,
        # H3: alias set = name + synonyms (p_brand, p_type), lowercase
        # substring — the index path is result-equivalent to this scan
        "h3_entity_search": r"""
            WITH ents AS (
                SELECT p_partkey::VARCHAR AS entity_id, p_name AS name,
                       lower(p_name) AS a1, lower(p_brand) AS a2, lower(p_type) AS a3
                FROM part
            )
            SELECT 'red' AS needle, entity_id, name FROM ents
            WHERE contains(a1, 'red') OR contains(a2, 'red') OR contains(a3, 'red')
            UNION ALL
            SELECT 'economy' AS needle, entity_id, name FROM ents
            WHERE contains(a1, 'economy') OR contains(a2, 'economy') OR contains(a3, 'economy')
        """,
        "f5_predicate_polarity": r"""
            WITH rels AS (
                SELECT doc_id::VARCHAR AS doc_id,
                    list_extract(['treats','causes','prevents','increases_risk','interacts_with'],
                                 (doc_id % 5 + 1)::INT) AS predicate,
                    text || CASE WHEN doc_id % 3 = 0 THEN ' not observed'
                                 WHEN doc_id % 3 = 1 THEN ' improved response'
                                 ELSE '' END AS evidence
                FROM documents
            ), flags AS (
                SELECT *,
                    list_has_any(string_split_regex(lower(coalesce(evidence, '')), '\s+'),
                                 ['not','no','never','failed','without','absence','lack']) AS has_neg,
                    list_has_any(string_split_regex(lower(coalesce(evidence, '')), '\s+'),
                                 ['improved','reduced','effective','benefit','response']) AS has_pos
                FROM rels
            )
            SELECT doc_id, predicate FROM flags
            WHERE NOT ((predicate IN ('treats', 'prevents') AND has_neg AND NOT has_pos)
                    OR (predicate IN ('causes', 'increases_risk') AND has_pos AND NOT has_neg))
        """,
        "f13_evidence_repair": r"""
            WITH df AS (
                SELECT 'PMC' || doc_id::VARCHAR AS doc_id,
                    CASE WHEN doc_id % 4 = 0 THEN 'PMC_UNKNOWN:intro:1:llm'
                         WHEN doc_id % 4 = 1 THEN '==CURRENT_PAPER==:body:2:regex'
                         WHEN doc_id % 4 = 2 THEN 'PMC' || (doc_id + 999999)::VARCHAR || ':abstract:3:llm'
                         ELSE 'PMC' || doc_id::VARCHAR || ':body:4:pattern' END AS evidence_id
                FROM documents
            ), parts AS (
                SELECT doc_id, evidence_id,
                       split_part(evidence_id, ':', 1) AS first,
                       substr(evidence_id, length(split_part(evidence_id, ':', 1)) + 1) AS rest
                FROM df
            )
            SELECT doc_id,
                CASE WHEN first IN ('PMC_UNKNOWN', '==CURRENT_PAPER==')
                       OR (regexp_matches(first, '^PMC[0-9]+$') AND first <> doc_id)
                     THEN doc_id || rest ELSE evidence_id END AS evidence_id
            FROM parts
        """,
        # B1 window arithmetic: stride/min-size/tail rules; the sentence
        # snap is a no-op on this punctuation-free corpus (pytest-covered)
        "b1_chunker": r"""
            WITH docs AS (
                SELECT doc_id::VARCHAR AS doc_id, text AS content, length(text) AS n
                FROM documents WHERE length(text) > 0
            ), single AS (
                SELECT doc_id, content, 0 AS start_offset, n::INT AS end_offset, 0 AS chunk_index
                FROM docs WHERE n <= 120
            ), strided AS (
                SELECT doc_id, content, n, (i * 90)::INT AS cur,
                       least(i * 90 + 120, n)::INT AS e
                FROM docs, unnest(range(0, n // 90 + 2)) AS u(i)
                WHERE n > 120 AND i * 90 < n
            ), emitted AS (
                SELECT doc_id, substr(content, cur + 1, e - cur) AS content,
                       cur AS start_offset, e AS end_offset,
                       (row_number() OVER (PARTITION BY doc_id ORDER BY cur) - 1)::INT AS chunk_index
                FROM strided WHERE (e - cur) >= 40 OR e >= n
            )
            SELECT doc_id, content, start_offset, end_offset, chunk_index FROM single
            UNION ALL
            SELECT doc_id, content, start_offset, end_offset, chunk_index FROM emitted
        """,
        # E2: norm_dedup-keyed broadcast KB alias join, type-checked
        "e2_kb_assignment": r"""
            WITH kbrows AS (
                SELECT p_name || ' ' || p_partkey::VARCHAR AS alias,
                       'MeSH:D' || p_partkey::VARCHAR AS canonical_id,
                       CASE WHEN p_partkey % 2 = 0 THEN 'drug' ELSE 'disease' END AS kb_type
                FROM part
                UNION ALL
                SELECT 'alias ' || p_name || ' ' || p_partkey::VARCHAR,
                       'MeSH:D' || p_partkey::VARCHAR,
                       CASE WHEN p_partkey % 2 = 0 THEN 'drug' ELSE 'disease' END
                FROM part WHERE p_partkey % 3 = 0
            ), kb AS (
                SELECT trim(regexp_replace(regexp_replace(lower(trim(alias)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS kb_key,
                       canonical_id, kb_type
                FROM kbrows
            ), cands AS (
                SELECT 'prov-' || p_partkey::VARCHAR AS entity_id,
                    CASE WHEN p_partkey % 4 = 0 THEN upper(p_name || ' ' || p_partkey::VARCHAR)
                         WHEN p_partkey % 4 = 1 THEN p_name || ' ' || p_partkey::VARCHAR || '!!'
                         WHEN p_partkey % 4 = 2 THEN 'alias ' || p_name || ' ' || p_partkey::VARCHAR
                         ELSE 'unknown thing ' || p_partkey::VARCHAR END AS name,
                    CASE WHEN p_partkey % 6 < 3 THEN
                        CASE WHEN p_partkey % 2 = 0 THEN 'drug' ELSE 'disease' END
                    ELSE 'gene' END AS entity_type
                FROM part
            )
            SELECT c.entity_id, k.canonical_id AS assigned_id
            FROM cands c
            JOIN kb k ON k.kb_key = trim(regexp_replace(regexp_replace(lower(trim(c.name)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
                     AND k.kb_type = c.entity_type
        """,
        # F12: author/institution id normalization, ROR preference, blank
        # filters, DESCRIBED top-2 window
        "f12_provenance": r"""
            WITH cust AS (
                SELECT c_custkey AS k, 'PMC' || c_custkey::VARCHAR AS doc_id FROM customer
            ), a1 AS (
                SELECT k, doc_id,
                       'Ada B. Lovelace' || (k % 40)::VARCHAR AS name,
                       CASE WHEN k % 2 = 0 THEN 'MIT CSAIL Lab #' || (k % 10)::VARCHAR ELSE '' END AS affiliation,
                       CASE WHEN k % 6 = 0 THEN '0' || (k % 100)::VARCHAR || 'ab' END AS ror
                FROM cust
            ), a2 AS (
                SELECT k, doc_id,
                       CASE WHEN k % 5 = 0 THEN '  ' ELSE 'Grace Hopper' || (k % 25)::VARCHAR END AS name,
                       'Navy Research 7' AS affiliation, NULL::VARCHAR AS ror
                FROM cust WHERE k % 3 = 0
            ), authors AS (
                SELECT * FROM a1 UNION ALL SELECT * FROM a2
            ), named AS (
                SELECT *,
                    'Author:' ||
                    list_extract(string_split_regex(trim(lower(regexp_replace(name, '[^A-Za-z ]', '', 'g'))), '\s+'), -1)
                    || '_' ||
                    substr(list_extract(string_split_regex(trim(lower(regexp_replace(name, '[^A-Za-z ]', '', 'g'))), '\s+'), 1), 1, 1)
                    AS author_id
                FROM authors WHERE trim(name) <> ''
            ), authored AS (
                SELECT doc_id, author_id AS subject_id, 'authored' AS predicate,
                       'PAPER:' || doc_id AS object_id, 1.0::DOUBLE AS confidence
                FROM named
            ), affiliated AS (
                SELECT doc_id, author_id AS subject_id, 'affiliated_with' AS predicate,
                    coalesce(
                        CASE WHEN coalesce(trim(ror), '') <> '' THEN 'ROR:' || trim(ror) END,
                        'Institution:' || substr(
                            regexp_replace(regexp_replace(lower(trim(affiliation)), '[^a-z0-9]+', '-', 'g'), '^-|-$', '', 'g'),
                            1, 50)
                    ) AS object_id,
                    1.0::DOUBLE AS confidence
                FROM named WHERE coalesce(trim(affiliation), '') <> ''
            ), cites AS (
                SELECT doc_id, 'PAPER:' || doc_id AS subject_id, 'cites' AS predicate,
                       'PAPER:PMC' || (k + 1)::VARCHAR AS object_id, 1.0::DOUBLE AS confidence
                FROM cust WHERE k % 4 = 0
            ), uniq AS (
                SELECT DISTINCT * FROM (
                    SELECT * FROM authored UNION ALL SELECT * FROM affiliated UNION ALL SELECT * FROM cites
                )
            ), counts AS (
                SELECT 'PMC' || (o_orderkey % 100)::VARCHAR AS doc_id,
                       'E' || (o_orderkey % 7)::VARCHAR AS subject_id,
                       count(*) AS rel_count
                FROM orders GROUP BY 1, 2
            ), described AS (
                SELECT doc_id, 'PAPER:' || doc_id AS subject_id, 'described' AS predicate,
                       ent_id AS object_id, 0.9::DOUBLE AS confidence
                FROM (
                    SELECT doc_id, subject_id AS ent_id,
                           row_number() OVER (PARTITION BY doc_id ORDER BY rel_count DESC, subject_id ASC) AS rn
                    FROM counts
                ) WHERE rn <= 2
            )
            SELECT * FROM uniq UNION ALL SELECT * FROM described
        """,
        # H2: presentation-not-topology filters; hop = first-reach; stubs
        # for nodes missing from the type dimension
        "h2_bfs_filtered": r"""
            WITH seeds AS (
                SELECT * FROM (VALUES ('C1', 0), ('C2', 0)) AS t(entity_id, hop)
            ), h1 AS (
                SELECT DISTINCT 'O' || o_orderkey::VARCHAR AS entity_id, 1 AS hop
                FROM orders WHERE o_custkey IN (1, 2)
            ), h2 AS (
                SELECT DISTINCT 'P' || l_partkey::VARCHAR AS entity_id, 2 AS hop
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_custkey IN (1, 2)
                AND 'P' || l_partkey::VARCHAR NOT IN (SELECT entity_id FROM h1)
            ), visited AS (
                SELECT * FROM seeds UNION ALL SELECT * FROM h1 UNION ALL SELECT * FROM h2
            ), dim AS (
                SELECT 'C' || c_custkey::VARCHAR AS entity_id, 'customer' AS entity_type FROM customer
                UNION ALL
                SELECT 'O' || o_orderkey::VARCHAR, 'order' FROM orders
            )
            SELECT v.entity_id, v.hop,
                   coalesce(d.entity_type = 'order', false) AS is_full
            FROM visited v LEFT JOIN dim d USING (entity_id)
        """,
        # I1: sha256-digest vectors recomputed from hex pairs; float32 cast
        # then round-6 absorbs norm-summation-order ulps
        "i1_embed_cache": r"""
            WITH texts AS (
                SELECT p_partkey::VARCHAR AS entity_id,
                       p_name || ' ' || p_partkey::VARCHAR AS name
                FROM part
            ), hashed AS (
                SELECT entity_id, name,
                       sha256(trim(regexp_replace(regexp_replace(lower(trim(name)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS h
                FROM texts
            ), vecs AS (
                SELECT entity_id, name,
                    list_transform(range(0, 32), i ->
                        ((strpos('0123456789abcdef', substr(h, (i * 2 + 1)::INT, 1)) - 1) * 16
                         + strpos('0123456789abcdef', substr(h, (i * 2 + 2)::INT, 1)) - 1)::DOUBLE
                        - 127.5) AS v
                FROM hashed
            ), normed AS (
                SELECT entity_id, name, v,
                       sqrt(list_sum(list_transform(v, x -> x * x))) AS n
                FROM vecs
            )
            SELECT entity_id, name,
                   list_transform(v, x -> round((x / n)::FLOAT::DOUBLE, 6)) AS embedding
            FROM normed
        """,
        # D12: loser aggregation with BINDING array caps (5 docs / 3 names)
        "d12_tombstones": r"""
            WITH mentions AS (
                SELECT 'D' || (o_orderkey % 50)::VARCHAR AS doc_id,
                       'E' || (o_orderkey % 20)::VARCHAR AS entity_id,
                       'name ' || (o_orderkey % 7)::VARCHAR AS text,
                       0.5 + (o_orderkey % 5)::DOUBLE * 0.1 AS confidence,
                       o_orderkey::INT AS start_offset,
                       'T' || ((o_orderkey % 20) % 3)::VARCHAR AS entity_type
                FROM orders
            ), mapping AS (
                SELECT 'E' || i::VARCHAR AS entity_id, 'E' || (i + 10)::VARCHAR AS final_id
                FROM unnest(range(0, 10)) AS t(i)
            ), losers AS (
                SELECT m.*, mp.final_id FROM mentions m JOIN mapping mp USING (entity_id)
            ), best_name AS (
                SELECT entity_id, text AS name FROM (
                    SELECT entity_id, text,
                           row_number() OVER (PARTITION BY entity_id
                                              ORDER BY confidence DESC, start_offset ASC) AS rn
                    FROM losers
                ) WHERE rn = 1
            )
            SELECT l.entity_id,
                   min(l.entity_type) AS entity_type,
                   max(l.confidence) AS confidence,
                   count(*) AS usage_count,
                   min(b.name) AS name,
                   list_sort(list_distinct(list(l.text)))[1:3] AS synonyms,
                   min(l.doc_id) AS first_seen_document,
                   count(*) AS total_mentions,
                   list_sort(list_distinct(list(l.doc_id)))[1:5] AS supporting_documents,
                   min(l.final_id) AS merged_into,
                   'merged' AS status
            FROM losers l JOIN best_name b USING (entity_id)
            GROUP BY l.entity_id
        """,
        # A8/A9: whole-key spelling-map hit + case hit + known-bad anti-join
        "a8_cache_lookup": r"""
            WITH cache AS (
                SELECT lower(p_name || ' ' || p_partkey::VARCHAR) AS norm_name,
                       'MeSH:D' || p_partkey::VARCHAR AS canonical_id
                FROM part WHERE p_partkey % 2 = 0
                UNION ALL
                SELECT 'tumor', 'MeSH:D999999' FROM part WHERE p_partkey = 0
            ), names AS (
                SELECT p_partkey::VARCHAR AS row_id,
                    CASE WHEN p_partkey % 4 = 0 THEN 'Tumour'
                         WHEN p_partkey % 4 = 2 THEN upper(p_name || ' ' || p_partkey::VARCHAR) || '!'
                         ELSE p_name || ' ' || p_partkey::VARCHAR END AS name
                FROM part
            ), keyed AS (
                SELECT row_id, name,
                    CASE trim(regexp_replace(regexp_replace(lower(trim(name)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
                         WHEN 'tumour' THEN 'tumor'
                         WHEN 'hyperglycaemia' THEN 'hyperglycemia'
                         WHEN 'haemoglobin' THEN 'hemoglobin'
                         WHEN 'oesophagus' THEN 'esophagus'
                         WHEN 'leukaemia' THEN 'leukemia'
                         ELSE trim(regexp_replace(regexp_replace(lower(trim(name)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
                    END AS key
                FROM names
            ), looked AS (
                SELECT s.row_id, s.name, c.canonical_id AS cached_canonical_id
                FROM keyed s LEFT JOIN cache c ON s.key = c.norm_name
            )
            SELECT row_id, name, cached_canonical_id FROM looked
            WHERE cached_canonical_id IS NULL
               OR cached_canonical_id NOT IN (
                    SELECT 'MeSH:D' || p_partkey::VARCHAR FROM part WHERE p_partkey % 8 = 2)
        """,
        # A8 merge: max-(confidence, id) collision winner via row_number
        "a8_cache_merge": r"""
            WITH cache AS (
                SELECT 'term ' || (p_partkey % 60)::VARCHAR AS norm_name,
                       'drug' AS entity_class,
                       'RxNorm:' || p_partkey::VARCHAR AS canonical_id,
                       0.5 + (p_partkey % 4)::DOUBLE * 0.1 AS confidence,
                       'old' AS resolution,
                       ['PMC' || p_partkey::VARCHAR] AS source_papers
                FROM part WHERE p_partkey % 3 = 0
            ), new_links AS (
                SELECT 'term ' || (p_partkey % 60)::VARCHAR AS norm_name,
                       'drug' AS entity_class,
                       'RxNorm:' || p_partkey::VARCHAR AS canonical_id,
                       0.4 + (p_partkey % 6)::DOUBLE * 0.1 AS confidence,
                       'new' AS resolution,
                       ['PMC' || p_partkey::VARCHAR, 'PMCx'] AS source_papers
                FROM part WHERE p_partkey % 3 = 1
            ), all_rows AS (
                SELECT * FROM cache UNION ALL SELECT * FROM new_links
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY norm_name, entity_class
                                             ORDER BY confidence DESC, canonical_id DESC) AS rn
                FROM all_rows
            )
            SELECT r.norm_name, r.entity_class,
                   max(CASE WHEN r.rn = 1 THEN r.canonical_id END) AS canonical_id,
                   max(r.confidence) AS confidence,
                   max(CASE WHEN r.rn = 1 THEN r.resolution END) AS resolution,
                   list_sort(list_distinct(flatten(list(r.source_papers)))) AS source_papers
            FROM ranked r
            GROUP BY 1, 2
        """,
        # B2: abstract window 0 + sliding body windows, stop at first
        # end-reaching window; no min-size drop (unlike B1)
        "b2_overlapping_windows": r"""
            WITH base AS (
                SELECT doc_id::VARCHAR AS doc_id,
                       string_split_regex(trim(text), '\s+') AS toks
                FROM documents
            ), paras AS (
                SELECT doc_id, i AS para_idx,
                       array_to_string(toks[i*12+1 : i*12+12], ' ') AS para
                FROM base, unnest(range(0, ((len(toks) + 11) // 12)::BIGINT)) AS u(i)
            ), abstract AS (
                SELECT doc_id, para AS content, 0 AS start_offset,
                       length(para)::INT AS end_offset, 0 AS chunk_index
                FROM paras WHERE para_idx = 0
            ), body AS (
                SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY para_idx) AS b
                FROM paras WHERE para_idx >= 1 GROUP BY doc_id
            ), wind AS (
                SELECT doc_id, b, i,
                       (i * 90)::INT AS cur,
                       least(i * 90 + 120, length(b))::INT AS e
                FROM body, unnest(range(0, (length(b) // 90 + 2))) AS u(i)
                WHERE length(b) > 0 AND i * 90 < length(b)
                  AND (i = 0 OR (i - 1) * 90 + 120 < length(b))
            )
            SELECT doc_id, content, start_offset, end_offset, chunk_index FROM abstract
            UNION ALL
            SELECT doc_id, substr(b, cur + 1, e - cur), cur, e, (i + 1)::INT FROM wind
        """,
        # C1: explode + the three drop rules + lowercased type and hint
        # passthrough at conf 0.9
        "c1_metadata_mentions": r"""
            WITH docs AS (
                SELECT 'M' || p_partkey::VARCHAR AS doc_id,
                       [struct_pack(name := p_name, entity_type := 'chemical',
                                    canonical_id := 'MeSH:D' || p_partkey::VARCHAR),
                        struct_pack(name := 'xy', entity_type := 'drug',
                                    canonical_id := NULL::VARCHAR),
                        struct_pack(name := ' gene ', entity_type := 'gene',
                                    canonical_id := NULL::VARCHAR),
                        struct_pack(name := 'Chemical', entity_type := 'chemical',
                                    canonical_id := NULL::VARCHAR),
                        struct_pack(name := p_name || ' extra', entity_type := 'Drug',
                                    canonical_id := NULL::VARCHAR)] AS entities
                FROM part
            ), exploded AS (
                SELECT doc_id, unnest(entities, recursive := true) FROM docs
            )
            SELECT doc_id, name AS text, lower(entity_type) AS entity_type,
                   0 AS start_offset, 0 AS end_offset, 0.9::DOUBLE AS confidence,
                   canonical_id AS canonical_id_hint, 0 AS para_idx
            FROM exploded
            WHERE length(trim(name)) >= 3
              AND lower(trim(name)) NOT IN ('biomarker','condition','disease','drug',
                    'entity','gene','hormone','location','pathway','procedure',
                    'protein','symptom')
              AND lower(trim(name)) <> lower(entity_type)
        """,
        # D1/D2/D5: KB row beats vocab row for the same key; hint fallback;
        # sha256 provisional ids on the spelling-normalized key
        "d2_alias_resolve": r"""
            WITH terms(w) AS (VALUES ('join'), ('filter'), ('window'), ('customer'), ('spark'), ('merge'), ('stream'), ('table'), ('query'), ('scan'), ('sort'), ('group'), ('batch'), ('data'), ('key'), ('row')),
            idx AS (
                SELECT 'spark' AS norm_key, 'MeSH:D100' AS entity_id
                UNION ALL
                SELECT w, 'prov-' || substr(sha256(w || '|term'), 1, 12)
                FROM terms WHERE w <> 'spark'
            ), men AS (
                SELECT p_partkey::VARCHAR AS row_id,
                    CASE WHEN p_partkey % 5 = 0 THEN 'Spark!'
                         WHEN p_partkey % 5 = 1 THEN 'JOIN'
                         WHEN p_partkey % 5 = 4 THEN 'Tumour'
                         ELSE 'unknown widget ' || p_partkey::VARCHAR END AS text,
                    CASE WHEN p_partkey % 5 = 4 THEN 'disease'
                         WHEN p_partkey % 5 <= 1 THEN 'term'
                         ELSE 'widget' END AS entity_type,
                    CASE WHEN p_partkey % 5 = 2 THEN 'HINT:' || p_partkey::VARCHAR END AS hint
                FROM part
            ), keyed AS (
                SELECT *,
                    CASE trim(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
                         WHEN 'tumour' THEN 'tumor'
                         WHEN 'hyperglycaemia' THEN 'hyperglycemia'
                         WHEN 'haemoglobin' THEN 'hemoglobin'
                         WHEN 'oesophagus' THEN 'esophagus'
                         WHEN 'leukaemia' THEN 'leukemia'
                         ELSE trim(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
                    END AS key
                FROM men
            )
            SELECT m.row_id, m.text,
                coalesce(i.entity_id, m.hint,
                         'prov-' || substr(sha256(m.key || '|' || m.entity_type), 1, 12)
                ) AS entity_id
            FROM keyed m LEFT JOIN idx i ON m.key = i.norm_key
        """,
        # F6/F7/F8: swap flags + type constraints inlined per predicate;
        # specificity election via row_number
        "f6_swap_validate": r"""
            WITH rows AS (
                SELECT p_partkey % 6 AS m,
                    'D' || (p_partkey % 20)::VARCHAR AS doc_id,
                    'S' || (p_partkey % 40)::VARCHAR AS subject_id,
                    'O' || (p_partkey % 40)::VARCHAR AS object_id,
                    list_extract(['drug','disease','gene','biomarker','location','drug'],
                                 (p_partkey % 6 + 1)::INT) AS subject_type,
                    list_extract(['treats','treats','treats','indicates','associated_with','interacts_with'],
                                 (p_partkey % 6 + 1)::INT) AS predicate,
                    list_extract(['disease','drug','pathway','disease','hormone','drug'],
                                 (p_partkey % 6 + 1)::INT) AS object_type,
                    0.6 + (p_partkey % 4)::DOUBLE * 0.1 AS confidence,
                    'ev ' || (p_partkey % 9)::VARCHAR AS evidence
                FROM part
            ), flags AS (
                SELECT *,
                    CASE predicate
                        WHEN 'treats' THEN subject_type IN ('drug','procedure')
                                       AND object_type IN ('disease','symptom')
                        WHEN 'indicates' THEN subject_type IN ('biomarker','gene','protein')
                                          AND object_type = 'disease'
                        WHEN 'associated_with' THEN true
                        WHEN 'interacts_with' THEN subject_type IN ('drug','protein','gene')
                                               AND object_type IN ('drug','protein','gene')
                    END AS valid_asis,
                    CASE predicate
                        WHEN 'treats' THEN object_type IN ('drug','procedure')
                                       AND subject_type IN ('disease','symptom')
                        WHEN 'indicates' THEN object_type IN ('biomarker','gene','protein')
                                          AND subject_type = 'disease'
                        WHEN 'associated_with' THEN true
                        WHEN 'interacts_with' THEN object_type IN ('drug','protein','gene')
                                               AND subject_type IN ('drug','protein','gene')
                    END AS valid_swapped
                FROM rows
            ), kept AS (
                SELECT doc_id,
                    CASE WHEN valid_asis THEN subject_id ELSE object_id END AS subject_id,
                    CASE WHEN valid_asis THEN object_id ELSE subject_id END AS object_id,
                    predicate, confidence, evidence,
                    CASE predicate WHEN 'indicates' THEN 2
                                   WHEN 'associated_with' THEN 1 ELSE 0 END AS spec
                FROM flags WHERE valid_asis OR valid_swapped
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id, subject_id, object_id
                    ORDER BY spec DESC, confidence DESC, predicate ASC, evidence ASC
                ) AS rn
                FROM kept
            )
            SELECT doc_id, subject_id, predicate, object_id, confidence, evidence
            FROM ranked WHERE rn = 1
        """,
        # A1: expected spans rebuilt from the same fields (no XML in
        # DuckDB) — id preference, drops, cursor arithmetic all pinned
        "a1_xml_parse": r"""
            WITH base AS (
                SELECT p_partkey AS k, p_partkey::VARCHAR AS s, p_partkey % 6 AS m
                FROM part WHERE p_partkey % 6 IN (0, 1, 2)
            ), ids AS (
                SELECT k, s,
                    CASE WHEN m = 0 THEN '10.1/x' || s
                         WHEN m = 1 THEN '9' || s
                         ELSE 'PMC' || s END AS doc_id,
                    'abstract text ' || s AS t0,
                    'para one ' || s AS t1,
                    'para two' AS t3
                FROM base
            ), spans AS (
                SELECT doc_id, 0 AS span_idx, 'text' AS kind, t0 AS text,
                       NULL::VARCHAR AS media_ref, 0 AS "offset"
                FROM ids
                UNION ALL
                SELECT doc_id, 1, 'text', t1, NULL, length(t0) + 2 FROM ids
                UNION ALL
                SELECT doc_id, 2, 'media', '', 'media://' || doc_id || '/img' || s || '.png',
                       length(t0) + 2 + length(t1) + 2
                FROM ids
                UNION ALL
                SELECT doc_id, 3, 'text', t3, NULL, length(t0) + 2 + length(t1) + 2 + 1 FROM ids
            )
            SELECT doc_id, span_idx, kind, text, media_ref, "offset" FROM spans
        """,
        # F3: explode name+synonyms to alnum-only keys; per-key election via
        # row_number over (canonical, usage, confidence, id); inner joins
        # drop unresolved endpoints (F14)
        "f3_name_index": r"""
            WITH ent AS (
                SELECT 'E' || p_partkey::VARCHAR AS entity_id,
                    'term' || (p_partkey % 50)::VARCHAR AS name_key,
                    'alias' || (p_partkey % 25)::VARCHAR AS syn_key,
                    CASE WHEN p_partkey % 3 = 0 THEN 'canonical' ELSE 'provisional' END AS status,
                    (p_partkey % 7)::BIGINT AS usage_count,
                    0.5 + (p_partkey % 5)::DOUBLE * 0.1 AS confidence,
                    CASE WHEN p_partkey % 2 = 0 THEN 'gene' ELSE 'disease' END AS entity_type
                FROM part
            ), exploded AS (
                SELECT unnest([name_key, syn_key]) AS norm_key,
                       entity_id, entity_type, status, usage_count, confidence
                FROM ent
            ), elected AS (
                SELECT norm_key, entity_id, entity_type,
                    row_number() OVER (
                        PARTITION BY norm_key
                        ORDER BY (status = 'canonical') DESC, usage_count DESC,
                                 confidence DESC, entity_id ASC
                    ) AS rn
                FROM exploded
            ), idx AS (
                SELECT norm_key, entity_id, entity_type FROM elected WHERE rn = 1
            ), rels AS (
                SELECT 'R' || p_partkey::VARCHAR AS rel_id,
                    'term' || (p_partkey % 60)::VARCHAR AS s_key,
                    'alias' || (p_partkey % 30)::VARCHAR AS o_key,
                    list_extract(['treats','indicates','associated_with'],
                                 (p_partkey % 3 + 1)::INT) AS predicate
                FROM part
            )
            SELECT r.rel_id, r.predicate,
                   si.entity_id AS subject_id, si.entity_type AS subject_type,
                   oi.entity_id AS object_id, oi.entity_type AS object_type
            FROM rels r
            JOIN idx si ON r.s_key = si.norm_key
            JOIN idx oi ON r.o_key = oi.norm_key
        """,
        # E3: E1 candidacy filter → KB join id map → both-endpoint rewrite →
        # re-accumulation (max conf, union sources, summed evidence) with
        # self-loops dropped
        "e3_promote_rewrite": r"""
            WITH ent AS (
                SELECT 'prov-p' || p_partkey::VARCHAR AS entity_id,
                    'name ' || (p_partkey % 40)::VARCHAR AS name,
                    CASE WHEN p_partkey % 2 = 0 THEN 'gene' ELSE 'disease' END AS entity_type,
                    (p_partkey % 4)::BIGINT AS usage_count,
                    0.3 + (p_partkey % 6)::DOUBLE * 0.1 AS confidence
                FROM part
            ), kb AS (
                SELECT DISTINCT 'KB:' || (p_partkey % 40)::VARCHAR AS canonical_id,
                    'name ' || (p_partkey % 40)::VARCHAR AS name,
                    CASE WHEN p_partkey % 40 % 2 = 0 THEN 'gene' ELSE 'disease' END AS entity_type
                FROM part WHERE p_partkey % 40 < 20
            ), id_map AS (
                SELECT e.entity_id, k.canonical_id AS final_id
                FROM ent e JOIN kb k
                  ON e.name = k.name AND e.entity_type = k.entity_type
                WHERE e.usage_count >= 1 AND e.confidence >= 0.4
            ), tri AS (
                SELECT 'prov-p' || (p_partkey % 200 + 1)::VARCHAR AS subject_id,
                    list_extract(['treats','indicates','associated_with'],
                                 (p_partkey % 3 + 1)::INT) AS predicate,
                    'prov-p' || ((p_partkey * 7) % 200 + 1)::VARCHAR AS object_id,
                    0.5 + (p_partkey % 5)::DOUBLE * 0.1 AS confidence,
                    ['D' || (p_partkey % 9)::VARCHAR,
                     'D' || (p_partkey % 11)::VARCHAR] AS source_documents,
                    (p_partkey % 3 + 1)::BIGINT AS evidence_count
                FROM part
            ), rewritten AS (
                SELECT coalesce(ms.final_id, t.subject_id) AS subject_id,
                    t.predicate,
                    coalesce(mo.final_id, t.object_id) AS object_id,
                    t.confidence, t.source_documents, t.evidence_count
                FROM tri t
                LEFT JOIN id_map ms ON t.subject_id = ms.entity_id
                LEFT JOIN id_map mo ON t.object_id = mo.entity_id
            )
            SELECT subject_id, predicate, object_id,
                round(max(confidence), 4) AS confidence,
                sum(evidence_count) AS evidence_count,
                len(list_distinct(flatten(list(source_documents))))::INT AS n_sources
            FROM rewritten
            WHERE subject_id <> object_id
            GROUP BY subject_id, predicate, object_id
        """,
        # A2: abstract-then-sections text list, empties filtered, offset
        # re-numbered over kept texts, zero-span papers dropped
        "a2_json_parse": r"""
            WITH raw AS (
                SELECT 'P' || p_partkey::VARCHAR AS doc_id,
                    list_filter([
                        CASE WHEN p_partkey % 5 = 0 THEN ''
                             ELSE 'abstract ' || p_partkey::VARCHAR END,
                        CASE WHEN p_partkey % 3 = 0 THEN ''
                             ELSE 'sec one ' || p_partkey::VARCHAR END,
                        CASE WHEN p_partkey % 5 = 0 THEN ''
                             ELSE 'sec two ' || (p_partkey % 7)::VARCHAR END
                    ], v -> v <> '') AS texts
                FROM part
            )
            SELECT doc_id,
                (generate_subscripts(texts, 1) - 1)::INT AS span_idx,
                'text' AS kind,
                unnest(texts) AS text,
                (generate_subscripts(texts, 1) - 1)::INT AS "offset"
            FROM raw WHERE len(texts) > 0
        """,
        # D13: the g%5<2 synonym bridges close into components {5m,5m+1,5m+2}
        # (three consecutive members, singletons elsewhere) — restated in
        # closed form instead of recursive CC; survivor = authoritative
        # (non-prov) min, else min id
        "d13_identity_merge": r"""
            WITH gs AS (
                SELECT DISTINCT p_partkey % 30 AS g FROM part
            ), e AS (
                SELECT g,
                    CASE WHEN g % 4 = 0 THEN 'MeSH:D' || g::VARCHAR
                         ELSE 'prov-' || lpad(g::VARCHAR, 2, '0') END AS entity_id,
                    'drug ' || g::VARCHAR AS name,
                    CASE WHEN g % 4 = 0 THEN 'canonical' ELSE 'provisional' END AS status,
                    CASE WHEN g % 5 <= 2 THEN g - (g % 5) ELSE g END AS comp
                FROM gs
            ), w AS (
                SELECT comp,
                    coalesce(
                        min(CASE WHEN entity_id NOT LIKE 'prov-%' THEN entity_id END),
                        min(entity_id)
                    ) AS winner,
                    count(*) AS n
                FROM e GROUP BY comp
            )
            SELECT e.entity_id, e.name,
                CASE WHEN w.n > 1 AND e.entity_id <> w.winner THEN 'merged'
                     ELSE e.status END AS status,
                CASE WHEN w.n > 1 AND e.entity_id <> w.winner THEN w.winner END AS merged_into
            FROM e JOIN w USING (comp)
        """,
        "graph_degree": """
            WITH e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d FROM lineitem
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey FROM lineitem
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey FROM lineitem
                )
            ), sides AS (
                SELECT s AS node, 1 AS o, 0 AS i FROM e
                UNION ALL SELECT d, 0, 1 FROM e
            )
            SELECT node, sum(o)::BIGINT AS out_degree, sum(i)::BIGINT AS in_degree,
                   count(*)::BIGINT AS degree
            FROM sides GROUP BY 1
        """,
        "graph_triangles": """
            -- naive canonical a<b<c enumeration; the Spark side runs the
            -- degree-ordered orientation — identical triangle set
            WITH li AS (
                SELECT * FROM lineitem WHERE l_partkey % 3 = 0
            ), e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d FROM li
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey FROM li
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey FROM li
                )
            ), und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e WHERE s <> d
            ), tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e1.b = e2.a
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ), corners AS (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            )
            SELECT node, count(*)::BIGINT AS n_triangles FROM corners GROUP BY 1
        """,
        "graph_transitivity": """
            -- naive triangle total + wedge sum from degrees; the one float
            -- is the final division of two BIGINTs (round-6)
            WITH li AS (
                SELECT * FROM lineitem WHERE l_partkey % 3 = 0
            ), e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d FROM li
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey FROM li
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey FROM li
                )
            ), und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e WHERE s <> d
            ), tri AS (
                SELECT count(*)::BIGINT AS n_triangles
                FROM und e1
                JOIN und e2 ON e1.b = e2.a
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ), deg AS (
                SELECT node, count(*)::BIGINT AS d FROM (
                    SELECT a AS node FROM und UNION ALL SELECT b FROM und
                ) GROUP BY 1
            ), w AS (
                SELECT (sum(d * (d - 1) / 2))::BIGINT AS n_wedges FROM deg
            )
            SELECT n_triangles, n_wedges,
                   CASE WHEN n_wedges > 0
                        THEN round(3 * n_triangles / n_wedges, 6) END AS transitivity
            FROM tri, w
        """,
        "graph_wl": """
            -- two unrolled WL rounds: label0 = degree, label(r+1) =
            -- md5(own || '|' || sorted comma-joined neighbor labels)[:16]
            WITH li AS (
                SELECT * FROM lineitem WHERE l_partkey % 3 = 0
            ), e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d FROM li
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey FROM li
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey FROM li
                )
            ), und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e WHERE s <> d
            ), adj AS (
                SELECT a, b FROM und UNION ALL SELECT b, a FROM und
            ), lab0 AS (
                SELECT a AS node, count(*)::VARCHAR AS wl_label FROM adj GROUP BY 1
            ), lab1 AS (
                SELECT l.node,
                       substr(md5(l.wl_label || '|' || coalesce(n.nbrs, '')), 1, 16) AS wl_label
                FROM lab0 l LEFT JOIN (
                    SELECT adj.a AS node,
                           array_to_string(list_sort(list(x.wl_label)), ',') AS nbrs
                    FROM adj JOIN lab0 x ON adj.b = x.node GROUP BY 1
                ) n USING (node)
            ), lab2 AS (
                SELECT l.node,
                       substr(md5(l.wl_label || '|' || coalesce(n.nbrs, '')), 1, 16) AS wl_label
                FROM lab1 l LEFT JOIN (
                    SELECT adj.a AS node,
                           array_to_string(list_sort(list(x.wl_label)), ',') AS nbrs
                    FROM adj JOIN lab1 x ON adj.b = x.node GROUP BY 1
                ) n USING (node)
            )
            SELECT node, wl_label FROM lab2
        """,
        "graph_butterflies": """
            -- wedge self-join on the shared part, exact integer C(c,2)
            WITH e AS (
                SELECT DISTINCT 'O' || l_orderkey::VARCHAR AS l,
                                'P' || l_partkey::VARCHAR AS r
                FROM lineitem
            ), p AS (
                SELECT e1.l AS a, e2.l AS b, count(*)::BIGINT AS n_common
                FROM e e1 JOIN e e2 ON e1.r = e2.r AND e1.l < e2.l
                GROUP BY 1, 2
            )
            SELECT a, b, n_common,
                   (n_common * (n_common - 1) / 2)::BIGINT AS n_butterflies
            FROM p WHERE n_common >= 2
        """,
        "graph_component_sizes": """
            -- component membership restated closed-form: even-region nations
            -- fuse into their region's cluster, odd-region nations stand alone
            -- with their customers (no nation->region edge exists for them).
            WITH grp AS (
                SELECT CASE WHEN n_regionkey % 2 = 0 THEN 'R' || n_regionkey
                            ELSE 'N' || n_nationkey END AS g,
                       n_nationkey, n_regionkey
                FROM nation
            ), members AS (
                SELECT g.g AS g, 'C' || c_custkey AS id
                FROM customer JOIN grp g ON c_nationkey = g.n_nationkey
                UNION ALL
                SELECT g.g, 'N' || g.n_nationkey FROM grp g
                WHERE g.n_regionkey % 2 = 0
                   OR EXISTS (SELECT 1 FROM customer
                              WHERE c_nationkey = g.n_nationkey)
                UNION ALL
                SELECT g.g, 'R' || g.n_regionkey FROM grp g
                WHERE g.n_regionkey % 2 = 0
            ), dedup AS (
                SELECT DISTINCT g, id FROM members
            ), sizes AS (
                SELECT g, count(*)::BIGINT AS sz FROM dedup GROUP BY g
            )
            SELECT sz AS component_size, count(*)::BIGINT AS n_components,
                   sum(sz)::BIGINT AS n_nodes
            FROM sizes GROUP BY sz
        """,
        "graph_edge_lift": """
            WITH p AS (
                SELECT least('S' || l_suppkey, 'P' || l_partkey) AS a,
                       greatest('S' || l_suppkey, 'P' || l_partkey) AS b,
                       count(*)::BIGINT AS w
                FROM lineitem GROUP BY 1, 2
            ), s AS (
                SELECT n, sum(w)::BIGINT AS s FROM (
                    SELECT a AS n, w FROM p
                    UNION ALL SELECT b, w FROM p
                ) GROUP BY n
            ), t AS (SELECT (sum(w) * 2)::BIGINT AS w2 FROM p)
            SELECT p.a AS subject_id, p.b AS object_id, p.w AS weight,
                   round((p.w * t.w2)::DOUBLE / (sa.s * sb.s)::DOUBLE, 6)
                       AS lift
            FROM p JOIN s sa ON p.a = sa.n JOIN s sb ON p.b = sb.n, t
        """,
        "graph_pagerank": _pagerank_oracle_sql(iterations=5),
        "graph_kcore": _kcore_oracle_sql(k=4, rounds=3),
        "graph_sssp": _sssp_oracle_sql(rounds=3),
        "fuzzy_name_match": """
            WITH q AS (
                SELECT p_partkey AS query_id,
                       substr(p_name, 1, pos - 1) || substr(p_name, pos + 1) AS query
                FROM (
                    SELECT p_partkey, p_name,
                           ((p_partkey // 10) % length(p_name) + 1)::INTEGER AS pos
                    FROM part WHERE p_partkey % 10 = 0
                )
            ), n AS (
                SELECT DISTINCT p_name AS name FROM part
            ), c AS (
                SELECT q.query_id, q.query, n.name,
                       levenshtein(q.query, n.name) AS d
                FROM q CROSS JOIN n
                WHERE levenshtein(q.query, n.name) <= 1
            )
            SELECT query_id, query,
                   (min({'d': d, 'n': name})).n AS match_name,
                   (min({'d': d, 'n': name})).d::BIGINT AS distance
            FROM c GROUP BY 1, 2
        """,
        "graph_closure": """
            WITH RECURSIVE e AS (
                SELECT doc_id AS src, doc_id // 2 AS dst
                FROM documents WHERE doc_id >= 2
            ), r(src, dst, depth) AS (
                SELECT src, dst, 1 FROM e
                UNION ALL
                SELECT r.src, e.dst, r.depth + 1
                FROM r JOIN e ON r.dst = e.src WHERE r.depth < 4
            )
            SELECT src, dst, min(depth)::BIGINT AS depth FROM r GROUP BY 1, 2
        """,
        "graph_harmonic": """
            WITH RECURSIVE li AS (
                SELECT * FROM lineitem WHERE l_partkey % 3 = 0
            ), e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d FROM li
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey FROM li
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey FROM li
                )
            ), und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e WHERE s <> d
            ), adj AS (
                SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
            ), seeds AS (
                SELECT 'O' || k AS s FROM (
                    SELECT DISTINCT l_orderkey AS k FROM li ORDER BY k LIMIT 5
                )
            ), d(seed, node, hop) AS (
                SELECT s, s, 0 FROM seeds
                UNION
                SELECT d.seed, adj.v, d.hop + 1
                FROM d JOIN adj ON d.node = adj.u WHERE d.hop < 3
            ), best AS (
                SELECT seed, node, min(hop) AS hop FROM d GROUP BY 1, 2
            ), per AS (
                SELECT node,
                       count(*) FILTER (hop = 1) AS c1,
                       count(*) FILTER (hop = 2) AS c2,
                       count(*) FILTER (hop = 3) AS c3
                FROM best WHERE hop > 0 GROUP BY node
            )
            SELECT node, (c1 + c2 + c3)::BIGINT AS n_reached,
                   round(c1 / 1.0 + c2 / 2.0 + c3 / 3.0, 6) AS harmonic
            FROM per
        """,
        "graph_walks": """
            WITH RECURSIVE e AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT doc_id AS src, (doc_id * 2 + 1) % 500 AS dst FROM documents
                    UNION ALL
                    SELECT doc_id, (doc_id * 3 + 2) % 500 FROM documents
                )
            ), init AS (
                SELECT doc_id AS origin, w AS walk_idx
                FROM documents, (SELECT unnest(range(2)) AS w) WHERE doc_id < 12
            ), nxt AS (
                -- hash-argmin per (src, origin, walk, step) as a ranked
                -- QUALIFY: a min() over a {hash, dst} struct with 60k groups
                -- peaks at ~5 GB RSS in DuckDB for a 60k-row result
                SELECT e.src, i.origin, i.walk_idx, st.step, e.dst
                FROM e CROSS JOIN init i
                CROSS JOIN (SELECT unnest(range(1, 6)) AS step) st
                QUALIFY row_number() OVER (
                    PARTITION BY e.src, i.origin, i.walk_idx, st.step
                    ORDER BY md5(i.origin::VARCHAR || '|' || i.walk_idx::VARCHAR
                                 || '|' || st.step::VARCHAR || '|'
                                 || e.src::VARCHAR || '|' || e.dst::VARCHAR),
                             e.dst
                ) = 1
            ), walk(origin, walk_idx, step, cur, path) AS (
                SELECT origin, walk_idx, 0, origin, [origin] FROM init
                UNION ALL
                SELECT w.origin, w.walk_idx, w.step + 1, n.dst,
                       list_append(w.path, n.dst)
                FROM walk w JOIN nxt n
                  ON n.src = w.cur AND n.origin = w.origin
                 AND n.walk_idx = w.walk_idx AND n.step = w.step + 1
                WHERE w.step < 5
            )
            SELECT origin, walk_idx::BIGINT AS walk_idx, path,
                   (len(path) - 1)::BIGINT AS n_steps
            FROM walk WHERE step = 5
        """,
        "graph_lpa": _lpa_oracle_sql(rounds=3),
        "graph_hits": _hits_oracle_sql(iterations=3),
        "graph_ppr": _pagerank_oracle_sql(iterations=5, seeds=PPR_SEEDS),
        "graph_clustering": """
            WITH li AS (
                SELECT * FROM lineitem WHERE l_partkey % 3 = 0
            ), e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d FROM li
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey FROM li
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey FROM li
                )
            ), und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e WHERE s <> d
            ), tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e1.b = e2.a
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            ), tcount AS (
                SELECT node, count(*)::BIGINT AS n FROM (
                    SELECT x AS node FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri
                ) GROUP BY 1
            ), deg AS (
                SELECT node, count(*)::BIGINT AS degree FROM (
                    SELECT a AS node FROM und UNION ALL SELECT b FROM und
                ) GROUP BY 1
            )
            SELECT d.node, d.degree,
                   coalesce(t.n, 0)::BIGINT AS n_triangles,
                   CASE WHEN d.degree > 1
                        THEN round((2.0::DOUBLE * coalesce(t.n, 0))
                                   / (d.degree * (d.degree - 1)), 6)
                        ELSE 0.0 END AS coefficient
            FROM deg d LEFT JOIN tcount t USING (node)
        """,
        "graph_adamic_adar": """
            -- wedge enumeration + ordered-fold scoring; the n_common >= 2
            -- HAVING is the operative pruning (the 1-common tail is ~350x
            -- larger); every float op ::DOUBLE, per-term w rounded to 6
            WITH und AS (
                SELECT DISTINCT 'O' || l_orderkey AS a, 'P' || l_partkey AS b
                FROM lineitem WHERE l_partkey % 3 = 0
            ), deg AS (
                SELECT node, count(*)::BIGINT AS d FROM (
                    SELECT a AS node FROM und UNION ALL SELECT b FROM und
                ) GROUP BY 1
            ), w AS (
                SELECT node, round(1.0::DOUBLE / ln(d), 6) AS w
                FROM deg WHERE d >= 2
            ), adj AS (
                SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b, a FROM und
            ), wedges AS (
                SELECT e1.u, e1.v AS na, e2.v AS nb
                FROM adj e1 JOIN adj e2 USING (u) WHERE e1.v < e2.v
            ), cand AS (
                SELECT wg.* FROM wedges wg
                ANTI JOIN und ON und.a = wg.na AND und.b = wg.nb
            )
            SELECT c.na AS node_a, c.nb AS node_b,
                   count(*)::BIGINT AS n_common,
                   round(list_sum(list(wt.w ORDER BY c.u)), 4) AS score
            FROM cand c JOIN w wt ON c.u = wt.node
            GROUP BY 1, 2
            HAVING count(*) >= 2 AND round(list_sum(list(wt.w ORDER BY c.u)), 4) >= 0.0
        """,
        "evt_asof_join": """
            -- DuckDB's native ASOF JOIN is the independent restatement of
            -- the union+running-last-window Spark formulation
            WITH c AS (
                SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
            ), p AS (
                SELECT user_id, ts, round(max(value), 4) AS purchase_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            )
            SELECT c.user_id, c.event_id, c.ts,
                   p.ts AS last_purchase_ts,
                   p.purchase_value AS last_purchase_value
            FROM c ASOF LEFT JOIN p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "evt_range_join": """
            -- plain inequality join (DuckDB IEJoin) vs Spark's bucketized
            -- equi-join + exact filter — identical match set
            WITH g AS (
                SELECT min(ts) AS t0 FROM events
            ), iv AS (
                SELECT i AS interval_id,
                       t0 + to_microseconds(i * 3600000000) AS s,
                       t0 + to_microseconds(i * 3600000000 + 5400000000) AS e
                FROM range(0, 96) r(i), g
            )
            SELECT iv.interval_id, ev.event_id
            FROM events ev JOIN iv ON iv.s <= ev.ts AND ev.ts < iv.e
        """,
        "quality_classifier": """
            -- the quality_score feature vector (text_quality_score oracle)
            -- fed through the linear classifier; every weight is an exact
            -- binary fraction, the logit rounds to 6 before exp
            WITH f AS (
                SELECT doc_id,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
                       len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                               'that','for','on','with','as','was','at','by','be'],
                                              lower(t))))::DOUBLE
                           / len(string_split_regex(trim(text), '\\s+')) AS stopword_ratio,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
                FROM documents
            ), z AS (
                SELECT doc_id,
                       round(-2.0 + 3.0 * alpha_ratio + 2.5 * stopword_ratio
                             + (-4.0) * punct_ratio
                             + 1.5 * least(1.0, n_tokens / 200.0), 6) AS logit
                FROM f
            )
            SELECT doc_id, logit,
                   round(1.0 / (1.0 + exp(-logit)), 6) AS prob,
                   round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS keep
            FROM z
        """,
        "tfidf_keywords": """
            WITH tk AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                   t -> length(t) > 0) AS toks
                FROM documents
            ), nn AS (
                SELECT count(*)::DOUBLE AS n FROM tk
            ), tf AS (
                SELECT doc_id, token, count(*) AS tf
                FROM (SELECT doc_id, unnest(toks) AS token FROM tk)
                GROUP BY 1, 2
            ), idf AS (
                SELECT token,
                       round(ln((1.0::DOUBLE + (SELECT n FROM nn))
                                / (1.0::DOUBLE + df)) + 1.0::DOUBLE, 6) AS idf
                FROM (SELECT token, count(*) AS df FROM tf GROUP BY 1)
            ), s AS (
                SELECT doc_id, token, round(tf * idf, 6) AS tfidf
                FROM tf JOIN idf USING (token)
            )
            SELECT doc_id, token, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, token)::BIGINT AS rank
            FROM s QUALIFY rank <= 5
        """,
        "bm25_topk": _BM25_ORACLE,
        "rrf_fusion": f"""
            -- RRF of BM25 relevance and a doc-id recency prior: per-list
            -- ranks from a FULL OUTER join of the two top-50 lists; score
            -- is the fixed two-term sum 1/(60+r0) + 1/(60+r1)
            WITH b AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS r0
                FROM ({_BM25_ORACLE})
            ), f AS (
                SELECT doc_id, r1 FROM (
                    SELECT doc_id,
                           row_number() OVER (ORDER BY doc_id DESC) AS r1
                    FROM documents
                ) WHERE r1 <= 50
            ), u AS (
                SELECT coalesce(b.doc_id, f.doc_id) AS doc_id, b.r0, f.r1,
                       coalesce(1.0::DOUBLE / (60.0::DOUBLE + b.r0), 0.0::DOUBLE)
                       + coalesce(1.0::DOUBLE / (60.0::DOUBLE + f.r1), 0.0::DOUBLE) AS s
                FROM b FULL OUTER JOIN f ON b.doc_id = f.doc_id
            )
            SELECT 'q1' AS query_id, doc_id,
                   r0::BIGINT AS rank_0, r1::BIGINT AS rank_1,
                   round(s, 6) AS rrf_score,
                   row_number() OVER (ORDER BY s DESC, doc_id)::BIGINT AS fused_rank
            FROM u
        """,
        "dsir_weights": """
            -- DSIR: md5-prefix bigram buckets (bit-identical hash), add-1/2
            -- smoothed target/raw log-ratio per bucket rounded to 6, per-doc
            -- position-ordered fold == Spark aggregate over array_sort
            WITH tk AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                   t -> length(t) > 0) AS toks
                FROM documents
            ), bg AS (
                SELECT doc_id, i AS pos,
                       ('0x' || substr(md5(toks[i] || ' ' || toks[i + 1]), 1, 6))::BIGINT
                           % 4096 AS bucket
                FROM tk, unnest(range(1, len(toks))) AS t(i)
            ), rc AS (
                SELECT bucket, count(*) AS cr FROM bg GROUP BY 1
            ), tgt AS (
                SELECT bucket FROM bg
                WHERE doc_id IN (SELECT doc_id FROM documents
                                 WHERE substr(md5(doc_id::VARCHAR), 1, 1) = '0')
            ), tc AS (
                SELECT bucket, count(*) AS ct FROM tgt GROUP BY 1
            ), tots AS (
                SELECT (SELECT coalesce(sum(cr), 0)::DOUBLE FROM rc) AS tr,
                       (SELECT coalesce(sum(ct), 0)::DOUBLE FROM tc) AS tt
            ), lam AS (
                SELECT bucket,
                       round(ln((coalesce(ct, 0) + 0.5::DOUBLE)
                                / (tt + 0.5::DOUBLE * 4096))
                             - ln((coalesce(cr, 0) + 0.5::DOUBLE)
                                  / (tr + 0.5::DOUBLE * 4096)), 6) AS lam
                FROM rc FULL OUTER JOIN tc USING (bucket), tots
            ), folded AS (
                SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams,
                       round(list_sum(list(l.lam ORDER BY bg.pos)), 4) AS log_weight
                FROM bg JOIN lam l USING (bucket)
                GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(f.n_bigrams, 0)::BIGINT AS n_bigrams,
                   coalesce(f.log_weight, 0.0) AS log_weight
            FROM documents d LEFT JOIN folded f USING (doc_id)
        """,
        "evt_scd2": """
            -- Type-2 SCD restated: same-instant dedup to the greatest
            -- attr struct, change-only version opens, lead() interval
            -- chaining. Integer-µs bounds — no float playbook needed.
            WITH snap AS (
                SELECT user_id AS _k, ts AS _ts, max(event_type) AS et
                FROM events GROUP BY 1, 2
            ), chg AS (
                SELECT _k, _ts, et
                FROM (SELECT _k, _ts, et,
                             lag(et) OVER (PARTITION BY _k ORDER BY _ts) AS pet,
                             lag(_ts) OVER (PARTITION BY _k ORDER BY _ts) AS pts
                      FROM snap)
                WHERE pts IS NULL OR et <> pet
            )
            SELECT _k AS user_id,
                   row_number() OVER (PARTITION BY _k ORDER BY _ts)::BIGINT AS version,
                   et AS event_type,
                   epoch_us(_ts) AS valid_from_us,
                   epoch_us(lead(_ts) OVER (PARTITION BY _k ORDER BY _ts)) AS valid_to_us,
                   lead(_ts) OVER (PARTITION BY _k ORDER BY _ts) IS NULL AS is_current
            FROM chg
        """,
        "evt_grid_fill": """
            -- per-user hour grid via range(); observed sums in round-6
            -- fixed-point longs (order-free); ffill = last_value IGNORE
            -- NULLS running window
            WITH h AS (
                SELECT user_id AS u,
                       epoch_us(ts::TIMESTAMP) // 3600000000 AS b,
                       round(sum(round(value * 1000000, 0)::BIGINT) / 1000000.0, 6) AS obs
                FROM events GROUP BY 1, 2
            ), s AS (
                SELECT u, min(b) AS lo, max(b) AS hi FROM h GROUP BY 1
            ), g AS (
                SELECT u, unnest(range(lo, hi + 1)) AS b FROM s
            ), j AS (
                SELECT g.u, g.b, h.obs FROM g LEFT JOIN h USING (u, b)
            )
            SELECT u AS user_id, b * 3600000000 AS bucket_start_us,
                   last_value(obs IGNORE NULLS) OVER (
                       PARTITION BY u ORDER BY b ROWS UNBOUNDED PRECEDING
                   ) AS value_filled,
                   obs IS NOT NULL AS is_observed
            FROM j
        """,
        "evt_transitions": """
            WITH p AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS to_type
                FROM events
            )
            SELECT from_type, to_type, count(*)::BIGINT AS n_transitions,
                   round(count(*) / (sum(count(*)) OVER (
                       PARTITION BY from_type))::DOUBLE, 6) AS prob
            FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
        """,
        "hll_distinct": """
            -- HLL rebuilt exactly: 60-bit md5-prefix hash, register = low
            -- 8 bits, rho = 53 - digits(bin(w)); harmonic denominator as
            -- exact 2^(53-rho) longs; alpha literal = the same double
            WITH h AS (
                SELECT ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT AS hv
                FROM events
            ), rr AS (
                SELECT hv & 255 AS register,
                       max(53 - length(ltrim(bin(hv >> 8), '0'))) AS max_rho
                FROM h GROUP BY 1
            ), agg AS (
                SELECT sum(1::BIGINT << (53 - max_rho))::BIGINT AS obs,
                       count(*)::BIGINT AS n_registers
                FROM rr
            ), est AS (
                SELECT n_registers,
                       0.7182725932495458::DOUBLE * 65536.0::DOUBLE * 9007199254740992.0::DOUBLE /
                           (obs + (256 - n_registers) * (1::BIGINT << 53))::DOUBLE AS raw,
                       256 - n_registers AS empty
                FROM agg
            )
            SELECT 256::BIGINT AS m, n_registers,
                   round(CASE WHEN raw <= 640.0 AND empty > 0
                              THEN 256.0 * ln(256.0 / empty::DOUBLE)
                              ELSE raw END, 2) AS estimate,
                   (SELECT count(DISTINCT event_id) FROM events)::BIGINT AS exact_distinct
            FROM est
        """,
        "evt_incr_agg": """
            -- refresh == recompute: the from-scratch aggregate over the
            -- post-change corpus (base minus deletes plus inserts).
            -- %10=0 rows are the inserts; %7=3 base rows were deleted.
            SELECT user_id, event_type, count(*)::BIGINT AS n,
                   round(coalesce(sum(round(value * 1000000, 0)::BIGINT), 0)
                         / 1000000.0, 6) AS value_sum
            FROM events
            WHERE event_id % 10 = 0 OR event_id % 7 <> 3
            GROUP BY 1, 2
        """,
        "zorder_layout": f"""
            -- exact integer quantization + Morton interleave, restated
            -- with DuckDB bit ops (// floor-div == Spark's div: both
            -- operands non-negative by the greatest() clamp)
            WITH base AS (
                SELECT event_id, user_id::BIGINT AS u,
                       epoch_us(ts::TIMESTAMP) // 3600000000 AS h
                FROM events
            ), bnd AS (
                SELECT min(u) AS ulo, max(u) AS uhi,
                       min(h) AS hlo, max(h) AS hhi
                FROM base
            ), q AS (
                SELECT event_id,
                       least(greatest(u - ulo, 0) * 65535 // (uhi - ulo), 65535) AS qu,
                       least(greatest(h - hlo, 0) * 65535 // (hhi - hlo), 65535) AS qh
                FROM base, bnd
            )
            SELECT event_id, ({morton_2x16})::BIGINT AS z_key FROM q
        """,
        "emb_diversity": """
            -- quantized-integer cosines (cosine_fixed restated), exact
            -- fixed-point sums, lower-id < higher-id pairing
            WITH it AS (
                SELECT label, vec_id,
                       list_transform(embedding::DOUBLE[],
                                      x -> round(x * 1000000)::BIGINT) AS v
                FROM embeddings WHERE vec_id < 60
            ), pairs AS (
                SELECT a.label,
                       round((list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))::DOUBLE / (sqrt(list_sum(list_transform(a.v, x -> x * x))::DOUBLE) * sqrt(list_sum(list_transform(b.v, x -> x * x))::DOUBLE))) * 1000000)::BIGINT AS c
                FROM it a JOIN it b ON a.label = b.label AND a.vec_id < b.vec_id
            ), sizes AS (
                SELECT label, count(*)::BIGINT AS n_items FROM it GROUP BY 1
            ), agg AS (
                SELECT label, count(*)::BIGINT AS n_pairs,
                       sum(c)::BIGINT AS s, max(c) AS m
                FROM pairs GROUP BY 1
            )
            SELECT sizes.label, n_items,
                   coalesce(n_pairs, 0)::BIGINT AS n_pairs,
                   CASE WHEN n_pairs IS NOT NULL
                        THEN round(s / n_pairs / 1000000.0, 6) END
                       AS mean_pairwise_cosine,
                   CASE WHEN n_pairs IS NOT NULL
                        THEN round(m / 1000000.0, 6) END AS max_pairwise_cosine
            FROM sizes LEFT JOIN agg USING (label)
        """,
        "evt_interarrival": """
            -- integer-us lag gaps; exact lower median at rank (n+1)//2
            WITH base AS (
                SELECT user_id AS "group", epoch_us(ts) AS us, event_id AS id
                FROM events
            ), gaps AS (
                SELECT "group", id,
                       us - lag(us) OVER (PARTITION BY "group" ORDER BY us, id) AS gap
                FROM base QUALIFY gap IS NOT NULL
            ), ranked AS (
                SELECT "group", gap,
                       row_number() OVER (PARTITION BY "group" ORDER BY gap, id) AS r,
                       count(*) OVER (PARTITION BY "group") AS n
                FROM gaps
            ), med AS (
                SELECT "group", gap AS medgap FROM ranked WHERE r = (n + 1) // 2
            ), agg AS (
                SELECT "group", count(*)::BIGINT AS n_gaps,
                       sum(gap)::BIGINT AS s, max(gap)::BIGINT AS mx
                FROM gaps GROUP BY 1
            ), sizes AS (
                SELECT "group", count(*)::BIGINT AS n_events FROM base GROUP BY 1
            )
            SELECT sizes."group", n_events,
                   coalesce(n_gaps, 0)::BIGINT AS n_gaps,
                   round(s / n_gaps / 1000000.0, 6) AS mean_gap_s,
                   round(medgap / 1000000.0, 6) AS median_gap_s,
                   round(mx / 1000000.0, 6) AS max_gap_s
            FROM sizes LEFT JOIN agg USING ("group") LEFT JOIN med USING ("group")
        """,
        "graph_modularity": """
            -- Q = sum_c (ec*S div m - ((dc*S div 2m)*dc div 2m)) / S,
            -- the exact two-step integer-division form the operator uses
            WITH cust AS (
                SELECT 'C' || c_custkey::VARCHAR AS cid,
                       'N' || n_nationkey::VARCHAR AS nid,
                       'R' || n_regionkey::VARCHAR AS rid
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            ), e AS (
                SELECT cid AS s, nid AS d FROM cust
                UNION ALL
                SELECT DISTINCT 'N' || n_nationkey::VARCHAR,
                       'R' || n_regionkey::VARCHAR FROM nation
            ), und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e WHERE s <> d
            ), lab AS (
                SELECT cid AS node, rid AS label FROM cust
                UNION ALL SELECT DISTINCT 'N' || n_nationkey::VARCHAR,
                       'R' || n_regionkey::VARCHAR FROM nation
                UNION ALL SELECT DISTINCT 'R' || n_regionkey::VARCHAR,
                       'R' || n_regionkey::VARCHAR FROM nation
            ), tagged AS (
                SELECT coalesce(la.label, chr(2) || u.a) AS la,
                       coalesce(lb.label, chr(2) || u.b) AS lb
                FROM und u
                LEFT JOIN lab la ON u.a = la.node
                LEFT JOIN lab lb ON u.b = lb.node
            ), mm AS (
                SELECT count(*)::BIGINT AS m FROM tagged
            ), intra AS (
                SELECT la AS c, count(*)::BIGINT AS ec FROM tagged
                WHERE la = lb GROUP BY 1
            ), dsum AS (
                SELECT c, count(*)::BIGINT AS dc FROM (
                    SELECT la AS c FROM tagged UNION ALL SELECT lb FROM tagged
                ) GROUP BY 1
            ), terms AS (
                SELECT m,
                       coalesce(ec, 0) * 1000000000 // m
                       - ((dc * 1000000000 // (2 * m)) * dc // (2 * m)) AS t
                FROM dsum LEFT JOIN intra USING (c), mm
            )
            SELECT m, count(*)::BIGINT AS n_communities,
                   round(sum(t) / 1000000000.0, 6) AS modularity
            FROM terms GROUP BY 1
        """,
        "graph_ball": """
            -- adjacency both ways, hub mids (deg > 1000) skipped for the
            -- 2-hop join, distinct reach counts
            WITH li AS (
                SELECT * FROM lineitem WHERE l_partkey % 3 = 0
            ), e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d FROM li
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey FROM li
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey FROM li
                )
            ), und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e WHERE s <> d
            ), adj AS (
                SELECT a, b FROM und UNION ALL SELECT b, a FROM und
            ), deg AS (
                SELECT a, count(*)::BIGINT AS d FROM adj GROUP BY 1
            ), mids AS (
                SELECT a AS m FROM deg WHERE d <= 1000
            ), hop2 AS (
                SELECT x.a, y.b AS c
                FROM adj x JOIN mids ON x.b = mids.m
                JOIN adj y ON y.a = x.b
                WHERE y.b <> x.a
            ), reach AS (
                SELECT DISTINCT a, c FROM (
                    SELECT a, b AS c FROM adj UNION ALL SELECT a, c FROM hop2
                )
            ), cnt AS (
                SELECT a, count(*)::BIGINT AS n_2hop FROM reach GROUP BY 1
            )
            SELECT deg.a AS node, deg.d AS n_1hop, cnt.n_2hop
            FROM deg JOIN cnt ON deg.a = cnt.a
        """,
        "evt_scd2_lookup": """
            -- SCD2 dim restated (see evt_scd2), then a key join with the
            -- interval as residual predicate; left join keeps every event
            WITH snap AS (
                SELECT user_id AS _k, ts AS _ts, max(event_type) AS et
                FROM events GROUP BY 1, 2
            ), chg AS (
                SELECT _k, _ts, et
                FROM (SELECT _k, _ts, et,
                             lag(et) OVER (PARTITION BY _k ORDER BY _ts) AS pet,
                             lag(_ts) OVER (PARTITION BY _k ORDER BY _ts) AS pts
                      FROM snap)
                WHERE pts IS NULL OR et <> pet
            ), dim AS (
                SELECT _k AS user_id,
                       row_number() OVER (PARTITION BY _k ORDER BY _ts)::BIGINT AS version,
                       et AS event_type,
                       epoch_us(_ts) AS vf,
                       epoch_us(lead(_ts) OVER (PARTITION BY _k ORDER BY _ts)) AS vt
                FROM chg
            )
            SELECT e.event_id, e.ts, e.user_id, e.value,
                   d.version AS dim_version, d.event_type AS dim_event_type
            FROM events e LEFT JOIN dim d
              ON e.user_id = d.user_id
             AND epoch_us(e.ts) >= d.vf
             AND (d.vt IS NULL OR epoch_us(e.ts) < d.vt)
        """,
        "evt_attribution": """
            -- last-touch via last_value(IGNORE NULLS) over the running
            -- (ts, id)-ordered frame; unattributed conversions keep NULLs
            WITH base AS (
                SELECT user_id AS "group", ts AS _ts, event_id AS _id,
                       event_type AS _ty,
                       CASE WHEN event_type IN ('view', 'click')
                            THEN {'ts': ts, 'id': event_id, 'ty': event_type}
                       END AS touch
                FROM events
            ), w AS (
                SELECT "group", _ts, _id, _ty,
                       last_value(touch IGNORE NULLS) OVER (
                           PARTITION BY "group" ORDER BY _ts, _id
                           ROWS UNBOUNDED PRECEDING) AS t
                FROM base
            )
            SELECT "group", _id AS conversion_id, _ts AS conversion_ts,
                   (t).id AS touch_id, (t).ts AS touch_ts, (t).ty AS touch_type
            FROM w WHERE _ty = 'purchase'
        """,
        "dq_fd": """
            WITH o AS (
                SELECT count(*)::BIGINT AS n_lhs_values,
                       sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating
                FROM (SELECT o_orderkey,
                             count(DISTINCT {'v': o_custkey}) AS n
                      FROM orders GROUP BY 1)
            ), d AS (
                SELECT count(*)::BIGINT AS n_lhs_values,
                       sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating
                FROM (SELECT lang, count(DISTINCT {'v': source}) AS n
                      FROM documents GROUP BY 1)
            )
            SELECT 'orders_pk' AS check, n_lhs_values, n_violating,
                   round(n_violating / n_lhs_values, 6) AS violation_rate,
                   n_violating = 0 AS holds
            FROM o
            UNION ALL
            SELECT 'docs_lang_source', n_lhs_values, n_violating,
                   round(n_violating / n_lhs_values, 6), n_violating = 0
            FROM d
        """,
        "text_reading_ease": """
            -- marker-trick run counts (global 'g' flag!); two exact-int
            -- divisions in one fixed IEEE expression
            WITH t AS (
                SELECT doc_id, lower(trim(text)) AS x FROM documents
            ), c AS (
                SELECT doc_id,
                       len(list_filter(string_split_regex(x, '\\s+'),
                                       w -> length(w) > 0))::BIGINT AS n_words,
                       greatest(
                           length(regexp_replace(x, '[.!?]+', chr(1), 'g'))
                           - length(regexp_replace(x, '[.!?]+', '', 'g')),
                           1)::BIGINT AS n_sentences,
                       (length(regexp_replace(x, '[aeiouy]+', chr(1), 'g'))
                        - length(regexp_replace(x, '[aeiouy]+', '', 'g')))::BIGINT AS vg
                FROM t
            )
            SELECT doc_id, n_words, n_sentences,
                   greatest(vg, n_words)::BIGINT AS n_syllables,
                   CASE WHEN n_words > 0 THEN
                       round(206.835 - 1.015 * (n_words / n_sentences)
                             - 84.6 * (greatest(vg, n_words) / n_words), 6)
                   END AS flesch
            FROM c
        """,
        "graph_alpha": """
            -- Hill MLE over the degree tail: round-6 fixed-point ln terms
            WITH e AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d FROM lineitem
                    UNION ALL SELECT 'O' || l_orderkey, 'S' || l_suppkey FROM lineitem
                    UNION ALL SELECT 'P' || l_partkey, 'S' || l_suppkey FROM lineitem
                )
            ), und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e WHERE s <> d
            ), deg AS (
                SELECT node, count(*)::BIGINT AS dg FROM (
                    SELECT a AS node FROM und UNION ALL SELECT b FROM und
                ) GROUP BY 1
            ), tail AS (
                SELECT round(ln(dg / 3.0) * 1000000.0)::BIGINT AS t
                FROM deg WHERE dg >= 3
            ), agg AS (
                SELECT count(*)::BIGINT AS n_tail, sum(t)::BIGINT AS s FROM tail
            )
            SELECT n_tail, 3::BIGINT AS d_min,
                   CASE WHEN s > 0
                        THEN round(1.0 + n_tail::DOUBLE * 1000000.0 / s::DOUBLE, 6)
                        END AS alpha
            FROM agg
        """,
        "evt_psi": """
            -- equi-width bins from the REFERENCE min/max; Laplace-smoothed
            -- fractions; fixed-point ln terms summed as exact longs
            WITH ref AS (
                SELECT value::DOUBLE AS v FROM events
                WHERE ts < TIMESTAMP '2024-01-15' AND value IS NOT NULL
            ), cur AS (
                SELECT value::DOUBLE AS v FROM events
                WHERE ts >= TIMESTAMP '2024-01-15' AND value IS NOT NULL
            ), edges AS (
                SELECT min(v) AS lo, (max(v) - min(v)) / 10 AS w FROM ref
            ), rb AS (
                SELECT greatest(0, least(9, floor((v - lo) / w)::BIGINT)) AS bin,
                       count(*)::BIGINT AS rc
                FROM ref, edges GROUP BY 1
            ), cb AS (
                SELECT greatest(0, least(9, floor((v - lo) / w)::BIGINT)) AS bin,
                       count(*)::BIGINT AS cc
                FROM cur, edges GROUP BY 1
            ), bins AS (
                SELECT unnest(range(0, 10)) AS bin
            ), j AS (
                SELECT bin, coalesce(rc, 0) AS rc, coalesce(cc, 0) AS cc
                FROM bins LEFT JOIN rb USING (bin) LEFT JOIN cb USING (bin)
            ), tot AS (
                SELECT sum(rc)::BIGINT AS n_ref, sum(cc)::BIGINT AS n_cur FROM j
            ), terms AS (
                SELECT n_ref, n_cur,
                       round(((rc + 1) / (n_ref + 10) - (cc + 1) / (n_cur + 10))
                             * ln(((rc + 1) / (n_ref + 10)) / ((cc + 1) / (n_cur + 10)))
                             * 1000000.0)::BIGINT AS t
                FROM j, tot
            )
            SELECT n_ref, n_cur, 10::BIGINT AS n_bins,
                   round(sum(t) / 1000000.0, 6) AS psi
            FROM terms GROUP BY 1, 2
        """,
        "kg_pred_compose": """
            -- mid nodes capped at in/out degree 1000 BEFORE the path join
            WITH t AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey::VARCHAR AS s, 'contains' AS p,
                           'P' || l_partkey::VARCHAR AS o FROM lineitem
                    UNION ALL
                    SELECT 'O' || l_orderkey::VARCHAR, 'supplied_by',
                           'S' || l_suppkey::VARCHAR FROM lineitem
                    UNION ALL
                    SELECT 'P' || l_partkey::VARCHAR, 'from',
                           'S' || l_suppkey::VARCHAR FROM lineitem
                )
            ), outd AS (
                SELECT s AS n, count(*) AS d FROM t GROUP BY 1
            ), ind AS (
                SELECT o AS n, count(*) AS d FROM t GROUP BY 1
            ), ok AS (
                SELECT outd.n FROM outd JOIN ind USING (n)
                WHERE outd.d <= 1000 AND ind.d <= 1000
            ), lft AS (
                SELECT * FROM t WHERE o IN (SELECT n FROM ok)
            ), rgt AS (
                SELECT * FROM t WHERE s IN (SELECT n FROM ok)
            )
            SELECT a.p AS p1, b.p AS p2, count(*)::BIGINT AS n_paths,
                   count(DISTINCT a.o)::BIGINT AS n_mid_nodes
            FROM lft a JOIN rgt b ON a.o = b.s
            GROUP BY 1, 2
        """,
        "prefix_jaccard": """
            -- the prefix-filter theorem makes the full inverted-index
            -- join the same answer; integer threshold i*2 >= union
            WITH sh AS (
                SELECT DISTINCT doc_id, t AS shingle
                FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS u(t)
                WHERE doc_id < 300 AND length(t) > 0
            ), sz AS (
                SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY 1
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, i AS n_shared,
                   round(i / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE i * 2 >= sa.sz + sb.sz - i
        """,
        "evt_key_skew": """
            -- Lorenz sum over (count asc, key asc)-ranked key table;
            -- gini from exact longs, three final divisions
            WITH counts AS (
                SELECT user_id AS k, count(*)::BIGINT AS c
                FROM events GROUP BY 1
            ), ranked AS (
                SELECT k, c, row_number() OVER (ORDER BY c ASC, k ASC) AS r,
                       count(*) OVER () AS n
                FROM counts
            ), agg AS (
                SELECT sum(c)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
                       max(c)::BIGINT AS max_key_rows,
                       (min({'nc': -c, 'k': k::VARCHAR})).k AS top_key,
                       sum(r * c)::BIGINT AS lorenz,
                       sum(CASE WHEN r > n - 10 THEN c ELSE 0 END)::BIGINT AS topn
                FROM ranked
            )
            SELECT n_rows, n_keys, max_key_rows, top_key,
                   round(topn / n_rows, 6) AS topn_fraction,
                   round(max_key_rows / n_rows, 6) AS p_max,
                   round((2.0 * lorenz::DOUBLE - (n_keys + 1)::DOUBLE * n_rows::DOUBLE)
                         / (n_keys::DOUBLE * n_rows::DOUBLE), 6) AS gini
            FROM agg
        """,
        "hll_by_group": """
            -- grouped HLL rebuilt exactly (see hll_distinct); exact
            -- distinct joined as the audit column
            WITH h AS (
                SELECT event_type AS "group",
                       ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
                FROM events
            ), rr AS (
                SELECT "group", hv & 255 AS register,
                       max(53 - length(ltrim(bin(hv >> 8), '0'))) AS max_rho
                FROM h GROUP BY 1, 2
            ), agg AS (
                SELECT "group",
                       sum(1::BIGINT << (53 - max_rho))::BIGINT AS obs,
                       count(*)::BIGINT AS n_registers
                FROM rr GROUP BY 1
            ), est AS (
                SELECT "group", n_registers,
                       0.7182725932495458::DOUBLE * 65536.0::DOUBLE * 9007199254740992.0::DOUBLE /
                           (obs + (256 - n_registers) * (1::BIGINT << 53))::DOUBLE AS raw,
                       256 - n_registers AS empty
                FROM agg
            ), ex AS (
                SELECT event_type AS "group",
                       count(DISTINCT user_id)::BIGINT AS exact_distinct
                FROM events GROUP BY 1
            )
            SELECT est."group", n_registers,
                   round(CASE WHEN raw <= 640.0 AND empty > 0
                              THEN 256.0 * ln(256.0 / empty::DOUBLE)
                              ELSE raw END, 2) AS estimate,
                   exact_distinct
            FROM est JOIN ex ON est."group" = ex."group"
        """,
        "kg_predicate_profile": """
            WITH t AS (
                SELECT DISTINCT * FROM (
                    SELECT 'O' || l_orderkey::VARCHAR AS s, 'contains' AS p,
                           'P' || l_partkey::VARCHAR AS o FROM lineitem
                    UNION ALL
                    SELECT 'O' || l_orderkey::VARCHAR, 'supplied_by',
                           'S' || l_suppkey::VARCHAR FROM lineitem
                    UNION ALL
                    SELECT 'P' || l_partkey::VARCHAR, 'from',
                           'S' || l_suppkey::VARCHAR FROM lineitem
                )
            ), per_s AS (
                SELECT p, s, count(*)::BIGINT AS k FROM t GROUP BY 1, 2
            ), per_o AS (
                SELECT p, o, count(*)::BIGINT AS k FROM t GROUP BY 1, 2
            ), subj AS (
                SELECT p, count(*)::BIGINT AS n_subjects, max(k) AS max_out,
                       sum(k)::BIGINT AS n_triples
                FROM per_s GROUP BY 1
            ), obj AS (
                SELECT p, count(*)::BIGINT AS n_objects, max(k) AS max_in
                FROM per_o GROUP BY 1
            )
            SELECT subj.p AS predicate, n_triples, n_subjects, n_objects,
                   round(n_triples / n_subjects, 6) AS functionality,
                   round(n_triples / n_objects, 6) AS inverse_functionality,
                   max_out = 1 AS is_functional,
                   max_in = 1 AS is_inverse_functional
            FROM subj JOIN obj USING (p)
        """,
        "rp_project": """
            -- md5-parity sign matrix rebuilt in SQL; exact integer dots
            WITH ex AS (
                SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                       round(unnest(embedding)::DOUBLE * 1000000)::BIGINT AS v
                FROM embeddings
            ), sj AS (
                SELECT vec_id, j,
                       sum(v * CASE WHEN ('0x' || substr(md5(j::VARCHAR || '#'
                               || i::VARCHAR), 1, 1))::INT % 2 = 0
                               THEN 1 ELSE -1 END)::BIGINT AS s
                FROM ex CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
                GROUP BY 1, 2
            )
            SELECT vec_id, j::BIGINT AS pos,
                   round(s / (1000000.0 * sqrt(8)), 6) AS value
            FROM sj
        """,
        "span_seq_dedup": """
            -- rebuild the deterministic span sequence, serialize with
            -- chr(31)/chr(30) separators, md5, group on the hash
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 400
            ), np AS (
                SELECT doc_id, greatest(cast(ceil(len(t) / 12.0) AS INT), 1) AS n
                FROM toks
            ), parts AS (
                SELECT doc_id, flatten(list_transform(range(0, n), i ->
                    CASE WHEN i % 6 = 5 THEN [
                        'text' || chr(31) || 'para-' || i::VARCHAR || chr(31),
                        'media' || chr(31) || chr(31) || 'media://asset/'
                            || ((doc_id * 31 + i) % 41)::VARCHAR,
                        'media' || chr(31) || chr(31) || 'media://asset/'
                            || (((doc_id * 17 + i) % 37) + 50)::VARCHAR]
                    WHEN i % 3 = 2 THEN [
                        'text' || chr(31) || 'para-' || i::VARCHAR || chr(31),
                        'media' || chr(31) || chr(31) || 'media://asset/'
                            || ((doc_id * 31 + i) % 41)::VARCHAR]
                    ELSE ['text' || chr(31) || 'para-' || i::VARCHAR || chr(31)]
                    END)) AS ps
                FROM np
            ), hashed AS (
                SELECT doc_id, md5(array_to_string(ps, chr(30))) AS seq_hash
                FROM parts
            )
            SELECT seq_hash, min(doc_id)::BIGINT AS keep_doc_id,
                   count(*)::BIGINT AS n_dups
            FROM hashed GROUP BY 1
        """,
        "multimodal_pack": """
            -- per-doc token fold (text = 1 + len div 4, media = 256) then
            -- linear packing in doc-id-string order, bin = (cum-1)//2048
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 400
            ), np AS (
                SELECT doc_id, greatest(cast(ceil(len(t) / 12.0) AS INT), 1) AS n
                FROM toks
            ), cost AS (
                SELECT doc_id,
                       list_sum(list_transform(range(0, n), i ->
                           1 + length('para-' || i::VARCHAR) // 4))::BIGINT AS txt,
                       list_sum(list_transform(range(0, n), i ->
                           CASE WHEN i % 6 = 5 THEN 2
                                WHEN i % 3 = 2 THEN 1 ELSE 0 END))::BIGINT AS nm
                FROM np
            ), f AS (
                SELECT doc_id::VARCHAR AS doc_id,
                       (txt + nm * 256)::BIGINT AS doc_tokens
                FROM cost WHERE txt + nm * 256 > 0
            ), c AS (
                SELECT doc_id, doc_tokens,
                       ((sum(doc_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)) - 1)
                           // 2048 AS bin
                FROM f
            )
            SELECT doc_id, doc_tokens, bin::BIGINT AS bin,
                   count(*) OVER (PARTITION BY bin)::BIGINT AS n_docs_in_bin,
                   sum(doc_tokens) OVER (PARTITION BY bin)::BIGINT AS bin_tokens
            FROM c
        """,
        "mmr_topk": """
            -- three unrolled MMR rounds: fixed-point cosines, integer
            -- marginal score 7*rel - 3*maxsim, min-of-struct argmax
            WITH it AS (
                SELECT label, vec_id,
                       list_transform(embedding::DOUBLE[],
                                      x -> round(x * 1000000)::BIGINT) AS v
                FROM embeddings
            ), prk AS (
                SELECT label, min(vec_id) AS pid FROM it GROUP BY 1
            ), pr AS (
                SELECT i.label, i.v AS pv
                FROM it i JOIN prk ON i.label = prk.label AND i.vec_id = prk.pid
            ), cand AS (
                SELECT it.label, it.vec_id, it.v,
                       round((list_sum(list_transform(list_zip(it.v, pr.pv), z -> z[1] * z[2]))::DOUBLE / (sqrt(list_sum(list_transform(it.v, x -> x * x))::DOUBLE) * sqrt(list_sum(list_transform(pr.pv, x -> x * x))::DOUBLE))) * 1000000)::BIGINT AS rel
                FROM it JOIN pr USING (label)
            ), s1 AS (
                SELECT label, (min({'s': -rel, 'i': vec_id})).i AS i1 FROM cand GROUP BY 1
            ), s1v AS (
                SELECT c.label, c.vec_id AS i1, c.v AS v1, c.rel AS r1
                FROM cand c JOIN s1 ON c.label = s1.label AND c.vec_id = s1.i1
            ), sc2 AS (
                SELECT c.label, c.vec_id, c.v, c.rel,
                       7 * c.rel - 3 * round((list_sum(list_transform(list_zip(c.v, s.v1), z -> z[1] * z[2]))::DOUBLE / (sqrt(list_sum(list_transform(c.v, x -> x * x))::DOUBLE) * sqrt(list_sum(list_transform(s.v1, x -> x * x))::DOUBLE)))
                                             * 1000000)::BIGINT AS score
                FROM cand c JOIN s1v s ON c.label = s.label AND c.vec_id <> s.i1
            ), s2 AS (
                SELECT label, (min({'s': -score, 'i': vec_id})).i AS i2 FROM sc2 GROUP BY 1
            ), s2v AS (
                SELECT c.label, c.vec_id AS i2, c.v AS v2, c.rel AS r2
                FROM cand c JOIN s2 ON c.label = s2.label AND c.vec_id = s2.i2
            ), sc3 AS (
                SELECT c.label, c.vec_id, c.rel,
                       7 * c.rel - 3 * greatest(
                           round((list_sum(list_transform(list_zip(c.v, a.v1), z -> z[1] * z[2]))::DOUBLE / (sqrt(list_sum(list_transform(c.v, x -> x * x))::DOUBLE) * sqrt(list_sum(list_transform(a.v1, x -> x * x))::DOUBLE))) * 1000000)::BIGINT,
                           round((list_sum(list_transform(list_zip(c.v, b.v2), z -> z[1] * z[2]))::DOUBLE / (sqrt(list_sum(list_transform(c.v, x -> x * x))::DOUBLE) * sqrt(list_sum(list_transform(b.v2, x -> x * x))::DOUBLE))) * 1000000)::BIGINT
                       ) AS score
                FROM cand c
                JOIN s1v a ON c.label = a.label
                JOIN s2v b ON c.label = b.label
                WHERE c.vec_id <> a.i1 AND c.vec_id <> b.i2
            ), s3 AS (
                SELECT label, (min({'s': -score, 'i': vec_id})).i AS i3 FROM sc3 GROUP BY 1
            ), s3v AS (
                SELECT c.label, c.vec_id AS i3, c.rel AS r3
                FROM cand c JOIN s3 ON c.label = s3.label AND c.vec_id = s3.i3
            )
            SELECT label, 1::BIGINT AS rank, i1 AS vec_id, round(r1 / 1000000.0, 6) AS relevance FROM s1v
            UNION ALL
            SELECT label, 2::BIGINT, i2, round(r2 / 1000000.0, 6) FROM s2v
            UNION ALL
            SELECT label, 3::BIGINT, i3, round(r3 / 1000000.0, 6) FROM s3v
        """,
        "kg_asof": """
            -- last change at-or-before the cut per triple key (struct max
            -- on (ts, event_id)); present iff that change was an upsert
            WITH log AS (
                SELECT 'U' || user_id::VARCHAR AS subject_id,
                       'did' AS predicate,
                       'E' || event_type AS object_id,
                       ts,
                       CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
                       round(value, 6) AS confidence,
                       event_id
                FROM events
            ), last AS (
                SELECT subject_id, predicate, object_id,
                       max({'t': ts, 's': event_id, 'o': op, 'c': confidence}) AS m
                FROM log WHERE ts <= TIMESTAMP '2024-01-20'
                GROUP BY 1, 2, 3
            )
            SELECT subject_id, predicate, object_id, (m).c AS confidence
            FROM last WHERE (m).o = 'upsert'
        """,
        "compaction_plan": """
            -- linear packing in id order: bin = (cum - 1) // target
            WITH f AS (
                SELECT doc_id::VARCHAR AS path, n_chars::BIGINT AS size_bytes
                FROM documents WHERE n_chars > 0
            ), c AS (
                SELECT path, size_bytes,
                       ((sum(size_bytes) OVER (ORDER BY path ROWS UNBOUNDED PRECEDING)) - 1)
                           // 20000 AS bin
                FROM f
            )
            SELECT path, size_bytes, bin::BIGINT AS bin,
                   count(*) OVER (PARTITION BY bin)::BIGINT AS n_files_in_bin,
                   sum(size_bytes) OVER (PARTITION BY bin)::BIGINT AS bin_bytes
            FROM c
        """,
        "evt_cusum": """
            -- s+ = prefix - min(0, running-min prefix); fixed-point longs
            WITH base AS (
                SELECT user_id AS "group", ts, event_id,
                       round(value * 1000000.0)::BIGINT AS v
                FROM events WHERE value IS NOT NULL
            ), mu AS (
                SELECT "group", sum(v) // count(*) AS m FROM base GROUP BY 1
            ), rows_ AS (
                SELECT b."group", b.ts, b.event_id, b.v, mu.m,
                       sum(b.v - mu.m - 250000) OVER w AS ph,
                       sum(mu.m - 250000 - b.v) OVER w AS pl
                FROM base b JOIN mu USING ("group")
                WINDOW w AS (PARTITION BY b."group" ORDER BY b.ts, b.event_id
                             ROWS UNBOUNDED PRECEDING)
            ), s AS (
                SELECT "group", ts,
                       ph - least(min(ph) OVER w2, 0) AS sh,
                       pl - least(min(pl) OVER w2, 0) AS sl
                FROM rows_
                WINDOW w2 AS (PARTITION BY "group" ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)
            )
            SELECT "group", count(*)::BIGINT AS n_events,
                   round(max(sh) / 1000000.0, 6) AS max_cusum_high,
                   round(max(sl) / 1000000.0, 6) AS max_cusum_low,
                   sum(CASE WHEN sh > 3000000 OR sl > 3000000 THEN 1 ELSE 0 END)::BIGINT
                       AS n_alarms,
                   min(CASE WHEN sh > 3000000 OR sl > 3000000 THEN ts END) AS first_alarm_ts
            FROM s GROUP BY 1
        """,
        "curation_pps": """
            -- md5-ordered weight line; interval [a,a+w) hits stride k*T/n
            -- iff ceil(a*n/T) < ceil((a+w)*n/T); all integer
            WITH w AS (
                SELECT doc_id, text, lang, source, n_chars,
                       md5(doc_id::VARCHAR) AS k, n_chars::BIGINT AS wt
                FROM documents WHERE n_chars > 0
            ), c AS (
                SELECT *, sum(wt) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS cum,
                       sum(wt) OVER () AS total
                FROM w
            ), s AS (
                SELECT doc_id, text, lang, source, n_chars,
                       (((cum - wt + wt) * 50 + total - 1) // total
                        - ((cum - wt) * 50 + total - 1) // total)::BIGINT AS n_hits
                FROM c
            )
            SELECT * FROM s WHERE n_hits > 0
        """,
        "text_entropy": """
            -- fixed-point long term sums: round((c/n)*log2(n/c)*1e6)
            WITH toks AS (
                SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    t -> length(t) > 0)) AS token
                FROM documents
            ), counts AS (
                SELECT doc_id, token, count(*)::BIGINT AS c
                FROM toks GROUP BY 1, 2
            ), totals AS (
                SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                       count(*)::BIGINT AS n_types
                FROM counts GROUP BY 1
            ), terms AS (
                SELECT c.doc_id, t.n_tokens, t.n_types,
                       round((c.c / t.n_tokens) * log2(t.n_tokens / c.c)
                             * 1000000.0)::BIGINT AS ft
                FROM counts c JOIN totals t USING (doc_id)
            )
            SELECT doc_id, n_tokens, n_types,
                   round(sum(ft) / 1000000.0, 6) AS entropy_bits
            FROM terms GROUP BY 1, 2, 3
        """,
        "zipf_slope": """
            -- fixed-point log10 coordinates; closed-form OLS on exact longs
            WITH toks AS (
                SELECT unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    t -> length(t) > 0)) AS token
                FROM documents
            ), freq AS (
                SELECT token, count(*)::BIGINT AS freq FROM toks GROUP BY 1
            ), ranked AS (
                SELECT freq, row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
                FROM freq QUALIFY rank <= 500
            ), fp AS (
                SELECT round(log10(rank::DOUBLE) * 1000000.0)::BIGINT AS x,
                       round(log10(freq::DOUBLE) * 1000000.0)::BIGINT AS y
                FROM ranked
            ), sums AS (
                SELECT count(*)::BIGINT AS n_terms,
                       sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                       sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
                FROM fp
            )
            SELECT n_terms,
                   CASE WHEN n_terms::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <> 0
                        THEN round((n_terms::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                                   / (n_terms::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
                        END AS slope,
                   CASE WHEN n_terms::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE <> 0
                        THEN round((sy::DOUBLE
                                    - ((n_terms::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                                       / (n_terms::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
                                      * sx::DOUBLE)
                                   / n_terms::DOUBLE / 1000000.0, 6)
                        END AS intercept
            FROM sums
        """,
        "d8_bcubed": """
            -- same closed-form degraded components as d8_cluster_metrics;
            -- B-cubed sums as fixed-point longs: n*n*1e6 // cluster_size
            WITH members AS (
                SELECT 'C' || c_custkey::VARCHAR AS id,
                       CASE WHEN n_regionkey % 2 = 0
                            THEN 'R' || n_regionkey::VARCHAR
                            ELSE 'N' || n_nationkey::VARCHAR END AS gkey,
                       'R' || n_regionkey::VARCHAR AS gold
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                UNION ALL
                SELECT 'N' || n_nationkey::VARCHAR,
                       CASE WHEN n_regionkey % 2 = 0
                            THEN 'R' || n_regionkey::VARCHAR
                            ELSE 'N' || n_nationkey::VARCHAR END,
                       'R' || n_regionkey::VARCHAR
                FROM nation
                WHERE n_regionkey % 2 = 0
                   OR EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
                UNION ALL
                SELECT 'R' || n_regionkey::VARCHAR,
                       'R' || n_regionkey::VARCHAR,
                       'R' || n_regionkey::VARCHAR
                FROM (SELECT DISTINCT n_regionkey FROM nation WHERE n_regionkey % 2 = 0)
            ), pred AS (
                SELECT id, min(id) OVER (PARTITION BY gkey) AS p, gold AS g
                FROM members
            ), cells AS (
                SELECT p, g, count(*)::BIGINT AS n FROM pred GROUP BY 1, 2
            ), psize AS (
                SELECT p, sum(n)::BIGINT AS np FROM cells GROUP BY 1
            ), gsize AS (
                SELECT g, sum(n)::BIGINT AS ng FROM cells GROUP BY 1
            ), terms AS (
                SELECT sum(n * n * 1000000 // np)::BIGINT AS sp,
                       sum(n * n * 1000000 // ng)::BIGINT AS sr,
                       sum(n)::BIGINT AS n_items
                FROM cells JOIN psize USING (p) JOIN gsize USING (g)
            )
            SELECT n_items,
                   CASE WHEN n_items > 0
                        THEN round(sp / (n_items * 1000000), 6) END AS bcubed_precision,
                   CASE WHEN n_items > 0
                        THEN round(sr / (n_items * 1000000), 6) END AS bcubed_recall,
                   CASE WHEN sp + sr > 0
                        THEN round((2.0 * sp::DOUBLE * sr::DOUBLE)
                                   / ((sp + sr)::DOUBLE * n_items::DOUBLE * 1000000.0), 6)
                        END AS bcubed_f1
            FROM terms
        """,
        "bloom_prune": """
            -- membership decision restated on the SET of set bit positions
            -- (bit-packing does not change membership); count(*) = k means
            -- every probe position is set
            WITH mem AS (
                SELECT DISTINCT o_orderkey::VARCHAR AS key
                FROM orders WHERE o_orderpriority = '1-URGENT'
            ), bits AS (
                SELECT DISTINCT
                    ('0x' || substr(md5(key || '#bf' || i::VARCHAR), 1, 8))::BIGINT
                        % 65536 AS pos
                FROM mem CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
            ), keys AS (
                SELECT l_orderkey::VARCHAR AS orderkey, count(*)::BIGINT AS n_rows
                FROM lineitem GROUP BY 1
            ), probes AS (
                SELECT orderkey, n_rows, i,
                       ('0x' || substr(md5(orderkey || '#bf' || i::VARCHAR), 1, 8))::BIGINT
                           % 65536 AS pos
                FROM keys CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
            ), pass AS (
                SELECT orderkey, n_rows
                FROM probes JOIN bits USING (pos)
                GROUP BY 1, 2 HAVING count(*) = 3
            )
            SELECT p.orderkey, m.key IS NOT NULL AS is_member, p.n_rows
            FROM pass p LEFT JOIN mem m ON p.orderkey = m.key
        """,
        "d8_cluster_metrics": """
            -- degraded-D8 components in closed form: even region -> the
            -- region-wide min node id; odd region -> per-nation min id
            -- (odd R nodes and customer-less odd N nodes never enter the
            -- degraded edge set). Pairwise P/R/F1 from exact C(n,2) sums.
            WITH members AS (
                SELECT 'C' || c_custkey::VARCHAR AS id,
                       CASE WHEN n_regionkey % 2 = 0
                            THEN 'R' || n_regionkey::VARCHAR
                            ELSE 'N' || n_nationkey::VARCHAR END AS gkey,
                       'R' || n_regionkey::VARCHAR AS gold
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                UNION ALL
                SELECT 'N' || n_nationkey::VARCHAR,
                       CASE WHEN n_regionkey % 2 = 0
                            THEN 'R' || n_regionkey::VARCHAR
                            ELSE 'N' || n_nationkey::VARCHAR END,
                       'R' || n_regionkey::VARCHAR
                FROM nation
                WHERE n_regionkey % 2 = 0
                   OR EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
                UNION ALL
                SELECT 'R' || n_regionkey::VARCHAR,
                       'R' || n_regionkey::VARCHAR,
                       'R' || n_regionkey::VARCHAR
                FROM (SELECT DISTINCT n_regionkey FROM nation WHERE n_regionkey % 2 = 0)
            ), pred AS (
                SELECT id, min(id) OVER (PARTITION BY gkey) AS p, gold AS g
                FROM members
            ), cells AS (
                SELECT p, g, count(*)::BIGINT AS n FROM pred GROUP BY 1, 2
            ), tot AS (
                SELECT sum(n * (n - 1) // 2)::BIGINT AS pairs_both,
                       sum(n)::BIGINT AS n_items
                FROM cells
            ), pp AS (
                SELECT sum(a * (a - 1) // 2)::BIGINT AS pairs_pred
                FROM (SELECT sum(n) AS a FROM cells GROUP BY p)
            ), gg AS (
                SELECT sum(b * (b - 1) // 2)::BIGINT AS pairs_gold
                FROM (SELECT sum(n) AS b FROM cells GROUP BY g)
            )
            SELECT n_items, pairs_pred, pairs_gold, pairs_both,
                   CASE WHEN pairs_pred > 0
                        THEN round(pairs_both / pairs_pred::DOUBLE, 6) END AS pair_precision,
                   CASE WHEN pairs_gold > 0
                        THEN round(pairs_both / pairs_gold::DOUBLE, 6) END AS pair_recall,
                   CASE WHEN pairs_pred + pairs_gold > 0
                        THEN round(2 * pairs_both / (pairs_pred + pairs_gold)::DOUBLE, 6)
                        END AS pair_f1
            FROM tot, pp, gg
        """,
        "stat_pearson": """
            -- exact HUGEINT moments, sqrt (correctly rounded) combination
            -- once, round 6 (stats.pearson_corr)
            WITH q AS (
                SELECT round(l_quantity * 1)::BIGINT AS qx,
                       round(l_extendedprice * 100)::BIGINT AS qy
                FROM lineitem
                WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            ), m AS (
                SELECT count(*)::BIGINT AS n,
                       sum(qx::HUGEINT) AS sx, sum(qy::HUGEINT) AS sy,
                       sum(qx::HUGEINT * qx) AS sxx,
                       sum(qy::HUGEINT * qy) AS syy,
                       sum(qx::HUGEINT * qy) AS sxy
                FROM q
            )
            SELECT n,
                   CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                        THEN round((n * sxy - sx * sy)::DOUBLE
                                   / (sqrt((n * sxx - sx * sx)::DOUBLE)
                                      * sqrt((n * syy - sy * sy)::DOUBLE)), 6)
                   END AS corr
            FROM m
        """,
        "stat_spearman": """
            -- doubled midranks (2·below + t + 1) on the distinct-value
            -- grid, then the exact Pearson machinery (stats.spearman_corr)
            WITH q AS (
                SELECT p_size::BIGINT AS vx,
                       round(p_retailprice * 100)::BIGINT AS vy
                FROM part
                WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
            ), rx AS (
                SELECT vx, 2 * (sum(t) OVER (ORDER BY vx ROWS UNBOUNDED PRECEDING) - t)
                           + t + 1 AS r2x
                FROM (SELECT vx, count(*)::BIGINT AS t FROM q GROUP BY vx)
            ), ry AS (
                SELECT vy, 2 * (sum(t) OVER (ORDER BY vy ROWS UNBOUNDED PRECEDING) - t)
                           + t + 1 AS r2y
                FROM (SELECT vy, count(*)::BIGINT AS t FROM q GROUP BY vy)
            ), ranked AS (
                SELECT r2x::BIGINT AS qx, r2y::BIGINT AS qy
                FROM q JOIN rx USING (vx) JOIN ry USING (vy)
            ), m AS (
                SELECT count(*)::BIGINT AS n,
                       sum(qx::HUGEINT) AS sx, sum(qy::HUGEINT) AS sy,
                       sum(qx::HUGEINT * qx) AS sxx,
                       sum(qy::HUGEINT * qy) AS syy,
                       sum(qx::HUGEINT * qy) AS sxy
                FROM ranked
            )
            SELECT n,
                   CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                        THEN round((n * sxy - sx * sy)::DOUBLE
                                   / (sqrt((n * sxx - sx * sx)::DOUBLE)
                                      * sqrt((n * syy - sy * sy)::DOUBLE)), 6)
                   END AS spearman
            FROM m
        """,
        "stat_ks_drift": """
            -- D's numerator is the integer max |cum_a·n_b − cum_b·n_a|;
            -- ONE division finishes it; smallest grid value on ties
            -- (stats.ks_2sample)
            WITH a AS (
                SELECT round(value * 1000000)::BIGINT AS qv FROM events
                WHERE event_type = 'click' AND value IS NOT NULL
            ), b AS (
                SELECT round(value * 1000000)::BIGINT AS qv FROM events
                WHERE event_type = 'purchase' AND value IS NOT NULL
            ), ca AS (SELECT qv, count(*)::BIGINT AS na_c FROM a GROUP BY qv),
            cb AS (SELECT qv, count(*)::BIGINT AS nb_c FROM b GROUP BY qv),
            mg AS (
                SELECT qv, coalesce(na_c, 0) AS na_c, coalesce(nb_c, 0) AS nb_c
                FROM ca FULL OUTER JOIN cb USING (qv)
            ), cum AS (
                SELECT qv,
                       sum(na_c) OVER w AS cum_a, sum(nb_c) OVER w AS cum_b
                FROM mg WINDOW w AS (ORDER BY qv ROWS UNBOUNDED PRECEDING)
            ), tot AS (
                SELECT sum(na_c)::BIGINT AS n_a, sum(nb_c)::BIGINT AS n_b FROM mg
            ), d AS (
                SELECT n_a, n_b,
                       abs(cum_a * n_b - cum_b * n_a)::BIGINT AS d_num, qv
                FROM cum, tot
            )
            SELECT n_a, n_b,
                   round(d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE), 6) AS ks_d,
                   round(qv::DOUBLE / 1000000.0, 6) AS at_value
            FROM d ORDER BY d_num DESC, qv ASC LIMIT 1
        """,
        "stat_mwu": """
            -- doubled midranks → exact rank sums; tie-corrected z is a
            -- fixed double-op sequence with one sqrt (stats.mann_whitney_u)
            WITH p AS (
                SELECT round(value * 1000000)::BIGINT AS qv, 1 AS is_a FROM events
                WHERE event_type = 'view' AND value IS NOT NULL
                UNION ALL
                SELECT round(value * 1000000)::BIGINT AS qv, 0 AS is_a FROM events
                WHERE event_type = 'error' AND value IS NOT NULL
            ), pv AS (
                SELECT qv, count(*)::BIGINT AS t, sum(is_a)::BIGINT AS t_a
                FROM p GROUP BY qv
            ), r AS (
                SELECT qv, t, t_a,
                       (2 * (sum(t) OVER (ORDER BY qv ROWS UNBOUNDED PRECEDING) - t)
                        + t + 1)::BIGINT AS r2
                FROM pv
            ), m AS (
                SELECT sum(t_a)::BIGINT AS n_a,
                       (sum(t) - sum(t_a))::BIGINT AS n_b,
                       sum(t_a::HUGEINT * r2) AS r2_a,
                       sum(t::HUGEINT * t * t - t) AS ties_t
                FROM r
            )
            SELECT n_a, n_b,
                   (r2_a - n_a::HUGEINT * (n_a + 1))::DOUBLE / 2.0 AS u_a,
                   n_a::DOUBLE * n_b::DOUBLE
                     - (r2_a - n_a::HUGEINT * (n_a + 1))::DOUBLE / 2.0 AS u_b,
                   round(((r2_a - n_a::HUGEINT * (n_a + 1))::DOUBLE / 2.0)
                         / (n_a::DOUBLE * n_b::DOUBLE), 6) AS auc,
                   CASE WHEN (n_a::DOUBLE * n_b::DOUBLE) / 12.0
                             * (((n_a + n_b)::DOUBLE + 1)
                                - ties_t::DOUBLE
                                  / ((n_a + n_b)::DOUBLE * ((n_a + n_b)::DOUBLE - 1))) > 0
                        THEN round(((r2_a - n_a::HUGEINT * (n_a + 1))::DOUBLE / 2.0
                                    - (n_a::DOUBLE * n_b::DOUBLE) / 2)
                                   / sqrt((n_a::DOUBLE * n_b::DOUBLE) / 12.0
                                          * (((n_a + n_b)::DOUBLE + 1)
                                             - ties_t::DOUBLE
                                               / ((n_a + n_b)::DOUBLE
                                                  * ((n_a + n_b)::DOUBLE - 1)))), 6)
                   END AS z
            FROM m
        """,
        "stat_ols_trend": """
            -- x centered on the group min (exact integer shift) before the
            -- moments — the cancellation dodge done in integers; slope and
            -- intercept are one division each (stats.ols_trend)
            WITH q AS (
                SELECT user_id AS g, (epoch_us(ts) // 1000000)::BIGINT AS x,
                       round(value * 1000000)::BIGINT AS qy
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            ), c AS (
                SELECT g, min(x) OVER (PARTITION BY g) AS x_min,
                       x - min(x) OVER (PARTITION BY g) AS qx, qy
                FROM q
            ), m AS (
                SELECT g, x_min, count(*)::BIGINT AS n,
                       sum(qx::HUGEINT) AS sx, sum(qy::HUGEINT) AS sy,
                       sum(qx::HUGEINT * qx) AS sxx,
                       sum(qx::HUGEINT * qy) AS sxy
                FROM c GROUP BY g, x_min
            )
            SELECT g AS user_id, n, x_min,
                   CASE WHEN (n * sxx - sx * sx) > 0
                        THEN round((n * sxy - sx * sy)::DOUBLE
                                   / ((n * sxx - sx * sx)::DOUBLE * 1000000.0), 6)
                             + 0.0
                   END AS slope,
                   CASE WHEN (n * sxx - sx * sx) > 0
                        THEN round((sy * sxx - sx * sxy)::DOUBLE
                                   / ((n * sxx - sx * sx)::DOUBLE * 1000000.0), 6)
                             + 0.0
                   END AS intercept
            FROM m
        """,
        "stat_chi2": """
            -- per-cell (n·O − R·C)²/(n·R·C) terms rounded ONCE to integer
            -- micros, summed exactly; Cramér's V via one sqrt
            -- (stats.chi2_independence)
            WITH base AS (
                SELECT lang AS a, source AS b FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL
            ), cells AS (
                SELECT a, b, count(*)::BIGINT AS o FROM base GROUP BY a, b
            ), ra AS (SELECT a, count(*)::BIGINT AS ra FROM base GROUP BY a),
            cb AS (SELECT b, count(*)::BIGINT AS cb FROM base GROUP BY b),
            tot AS (
                SELECT count(*)::BIGINT AS n,
                       count(DISTINCT a)::BIGINT AS k_a,
                       count(DISTINCT b)::BIGINT AS k_b
                FROM base
            ), terms AS (
                SELECT n, k_a, k_b,
                       round((n::DOUBLE * o - ra::DOUBLE * cb)
                             * (n::DOUBLE * o - ra::DOUBLE * cb)
                             / (n::DOUBLE * ra::DOUBLE * cb::DOUBLE)
                             * 1000000.0)::BIGINT AS tm
                FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot
            ), s AS (
                SELECT n, k_a, k_b, sum(tm)::BIGINT AS chi2_micro
                FROM terms GROUP BY n, k_a, k_b
            )
            SELECT n, k_a, k_b,
                   (k_a - 1) * (k_b - 1) AS dof,
                   round(chi2_micro::DOUBLE / 1000000.0, 6) AS chi2,
                   CASE WHEN least(k_a - 1, k_b - 1) > 0
                        THEN round(sqrt((chi2_micro::DOUBLE / 1000000.0)
                                        / (n::DOUBLE
                                           * least(k_a - 1, k_b - 1)::DOUBLE)), 6)
                   END AS cramers_v
            FROM s
        """,
        "er_soundex_blocks": """
            -- the identical expression chain: translate → collapse runs
            -- (backref) → drop zeros → pad (phonetic.soundex_key)
            WITH txt AS (
                SELECT p_name AS text FROM part
                UNION ALL SELECT text FROM documents
            ), w AS (
                SELECT DISTINCT unnest(string_split_regex(lower(text), '[^a-z]+'))
                       AS word
                FROM txt
            ), ww AS (SELECT word FROM w WHERE word <> ''),
            k AS (
                SELECT word, upper(regexp_replace(word, '[^A-Za-z]', '', 'g')) AS u
                FROM ww
            ), c AS (
                -- DuckDB regex is RE2 (no backreferences): the Spark-side
                -- single-pass '(.)\\1+' run-collapse is restated as seven
                -- per-digit collapses — equivalent, since runs of one
                -- character collapse independently of the other digits
                SELECT word, u,
                       regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(
                           translate(u, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                        '01230120022455012623010202'),
                           '00+', '0', 'g'), '11+', '1', 'g'),
                           '22+', '2', 'g'), '33+', '3', 'g'),
                           '44+', '4', 'g'), '55+', '5', 'g'),
                           '66+', '6', 'g') AS coll
                FROM k
            ), keyed AS (
                SELECT word,
                       CASE WHEN length(u) > 0 THEN
                           substr(u, 1, 1)
                           || rpad(substr(replace(substr(coll, 2), '0', ''), 1, 3),
                                   3, '0')
                       END AS soundex_key
                FROM c
            ), sizes AS (
                SELECT soundex_key, count(*)::BIGINT AS n_in_block
                FROM keyed GROUP BY soundex_key
            )
            SELECT soundex_key, word, n_in_block
            FROM keyed JOIN sizes USING (soundex_key)
        """,
        "stat_anova": """
            -- per-group exact moments; each (Σx/scale)²/n term is one
            -- fixed IEEE sequence in value² units (stats.anova_f)
            WITH q AS (
                SELECT event_type AS g, round(value * 1000)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL
            ), pg AS (
                SELECT g, count(*)::BIGINT AS ng,
                       sum(qv::HUGEINT) AS sg, sum(qv::HUGEINT * qv) AS ssg
                FROM q GROUP BY g
            ), tm AS (
                SELECT ng, sg, ssg,
                       (sg::DOUBLE / 1000.0) * (sg::DOUBLE / 1000.0)
                           / ng::DOUBLE AS tg
                FROM pg
            ), tot AS (
                SELECT sum(ng)::BIGINT AS n, count(*)::BIGINT AS k,
                       sum(sg) AS s, sum(ssg) AS ss, sum(tg) AS a
                FROM tm
            ), parts AS (
                SELECT n, k,
                       a - (s::DOUBLE / 1000.0) * (s::DOUBLE / 1000.0)
                           / n::DOUBLE AS ssb,
                       ss::DOUBLE / (1000.0 * 1000.0) - a AS ssw
                FROM tot
            )
            SELECT n, k,
                   round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
                   CASE WHEN k > 1 AND n > k AND ssw > 0
                        THEN round((ssb / (k - 1)::DOUBLE)
                                   / (ssw / (n - k)::DOUBLE), 6)
                   END AS f_stat,
                   CASE WHEN ssb + ssw > 0
                        THEN round(ssb / (ssb + ssw), 6)
                   END AS eta_sq
            FROM parts
        """,
        "stat_prop_ztest": """
            -- z's numerator is the integer x_a·n_b − x_b·n_a; ONE sqrt of
            -- the pooled expression (stats.prop_ztest)
            WITH a AS (
                SELECT count(*)::BIGINT AS n_a,
                       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS x_a
                FROM events WHERE user_id % 2 = 0 AND event_type IS NOT NULL
            ), b AS (
                SELECT count(*)::BIGINT AS n_b,
                       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS x_b
                FROM events WHERE user_id % 2 = 1 AND event_type IS NOT NULL
            ), j AS (SELECT * FROM a CROSS JOIN b)
            SELECT n_a, n_b, x_a, x_b,
                   round(x_a::DOUBLE / n_a::DOUBLE, 6) AS p_a,
                   round(x_b::DOUBLE / n_b::DOUBLE, 6) AS p_b,
                   CASE WHEN ((x_a + x_b) * ((n_a + n_b) - (x_a + x_b)))::DOUBLE
                             * n_a::DOUBLE * n_b::DOUBLE / (n_a + n_b)::DOUBLE > 0
                        THEN round((x_a * n_b - x_b * n_a)::DOUBLE
                                   / sqrt(((x_a + x_b) * ((n_a + n_b) - (x_a + x_b)))::DOUBLE
                                          * n_a::DOUBLE * n_b::DOUBLE
                                          / (n_a + n_b)::DOUBLE), 6)
                   END AS z
            FROM j
        """,
        "stat_cohens_d": """
            -- pooled-variance standardized mean difference; exact moments
            -- per side, one sqrt (stats.cohens_d)
            WITH a AS (
                SELECT count(*)::BIGINT AS n_a,
                       sum(round(value * 1000000)::BIGINT::HUGEINT) AS s_a,
                       sum(round(value * 1000000)::BIGINT::HUGEINT
                           * round(value * 1000000)::BIGINT) AS ss_a
                FROM events WHERE event_type = 'signup' AND value IS NOT NULL
            ), b AS (
                SELECT count(*)::BIGINT AS n_b,
                       sum(round(value * 1000000)::BIGINT::HUGEINT) AS s_b,
                       sum(round(value * 1000000)::BIGINT::HUGEINT
                           * round(value * 1000000)::BIGINT) AS ss_b
                FROM events WHERE event_type = 'click' AND value IS NOT NULL
            ), j AS (SELECT * FROM a CROSS JOIN b), parts AS (
                SELECT n_a, n_b,
                       s_a::DOUBLE / n_a::DOUBLE / 1000000.0 AS mean_a,
                       s_b::DOUBLE / n_b::DOUBLE / 1000000.0 AS mean_b,
                       ((ss_a::DOUBLE - (s_a * s_a)::DOUBLE / n_a::DOUBLE)
                        + (ss_b::DOUBLE - (s_b * s_b)::DOUBLE / n_b::DOUBLE))
                       / (n_a + n_b - 2)::DOUBLE AS pooled
                FROM j
            )
            SELECT n_a, n_b,
                   round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
                   CASE WHEN n_a + n_b > 2 AND pooled > 0
                        THEN round((mean_a - mean_b)
                                   / (sqrt(pooled) / 1000000.0), 6)
                   END AS d
            FROM parts
        """,
        "evt_autocorr": """
            -- lead() pairs per user, then the grouped exact Pearson
            -- aggregate (stats.pearson_corr via q_evt_autocorr)
            WITH l AS (
                SELECT user_id, value,
                       lead(value) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS value_next
                FROM events
            ), q AS (
                SELECT user_id,
                       round(value * 1000000)::BIGINT AS qx,
                       round(value_next * 1000000)::BIGINT AS qy
                FROM l WHERE value IS NOT NULL AND value_next IS NOT NULL
            ), m AS (
                SELECT user_id, count(*)::BIGINT AS n,
                       sum(qx::HUGEINT) AS sx, sum(qy::HUGEINT) AS sy,
                       sum(qx::HUGEINT * qx) AS sxx,
                       sum(qy::HUGEINT * qy) AS syy,
                       sum(qx::HUGEINT * qy) AS sxy
                FROM q GROUP BY user_id
            )
            SELECT user_id, n,
                   CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                        THEN round((n * sxy - sx * sy)::DOUBLE
                                   / (sqrt((n * sxx - sx * sx)::DOUBLE)
                                      * sqrt((n * syy - sy * sy)::DOUBLE)), 6)
                   END AS corr
            FROM m
        """,
        "stat_gini": """
            WITH cu AS (
                SELECT event_type, user_id, count(*)::BIGINT AS x
                FROM events GROUP BY 1, 2
            ), r AS (
                SELECT event_type, x,
                       row_number() OVER (PARTITION BY event_type ORDER BY x)
                           AS i
                FROM cu
            )
            SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS total,
                   CASE WHEN count(*)::HUGEINT * sum(x)::HUGEINT > 0 THEN
                       round((2::HUGEINT * sum(i::HUGEINT * x)
                              - (count(*)::HUGEINT + 1) * sum(x)::HUGEINT)::DOUBLE
                             / (count(*)::HUGEINT * sum(x)::HUGEINT)::DOUBLE, 6)
                   END AS gini
            FROM r GROUP BY 1
        """,
        "stat_kendall_tau": """
            WITH e AS (
                SELECT event_type,
                       (epoch_us(ts) // 1000000)::BIGINT AS x,
                       round(value * 10000, 0)::BIGINT AS y
                FROM events WHERE event_id % 11 = 0
            ), r AS (
                SELECT event_type, x, y,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY x, y) AS i
                FROM e
            ), p AS (
                SELECT a.event_type,
                       CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0
                           END AS c,
                       CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0
                           END AS d
                FROM r a JOIN r b
                  ON a.event_type = b.event_type AND a.i < b.i
            ), ag AS (
                SELECT event_type, sum(c)::BIGINT AS concordant,
                       sum(d)::BIGINT AS discordant,
                       count(*)::BIGINT AS n_pairs
                FROM p GROUP BY 1
            ), nn AS (
                SELECT event_type, count(*)::BIGINT AS n FROM r GROUP BY 1
            )
            SELECT nn.event_type, n, concordant, discordant,
                   CASE WHEN n_pairs > 0 THEN
                       round((concordant - discordant)::DOUBLE / n_pairs, 6)
                   END AS tau
            FROM ag JOIN nn USING (event_type)
        """,
        "stat_theil_sen": """
            WITH e AS (
                SELECT event_type,
                       (epoch_us(ts) // 1000000)::BIGINT AS x,
                       round(value * 10000, 0)::BIGINT AS y
                FROM events WHERE event_id % 11 = 0
            ), r0 AS (
                SELECT event_type, x, y,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY x, y) AS i
                FROM e
            ), p AS (
                SELECT a.event_type, (b.y - a.y)::DOUBLE / (b.x - a.x) AS s
                FROM r0 a JOIN r0 b
                  ON a.event_type = b.event_type AND a.i < b.i AND a.x <> b.x
            ), rr AS (
                SELECT event_type, s,
                       row_number() OVER (PARTITION BY event_type ORDER BY s)
                           AS r,
                       count(*) OVER (PARTITION BY event_type) AS m
                FROM p
            ), med AS (
                SELECT event_type, avg(s) AS slope
                FROM rr
                WHERE r = (m + 1) / 2 OR r = m / 2 + 1 OR r = m / 2
                GROUP BY 1
            ), nn AS (
                SELECT event_type, count(*)::BIGINT AS n FROM r0 GROUP BY 1
            ), ns AS (
                SELECT event_type, count(*)::BIGINT AS n_slopes
                FROM p GROUP BY 1
            )
            SELECT nn.event_type, n, n_slopes, slope
            FROM med JOIN nn USING (event_type) JOIN ns USING (event_type)
        """,
        "graph_reciprocity": """
            WITH tk AS (
                SELECT lang, string_split_regex(trim(text), '\\s+') AS t
                FROM documents
            ), e0 AS (
                SELECT lang,
                       unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS z
                FROM tk WHERE len(t) >= 2
            ), e AS (
                SELECT DISTINCT lang, z[1] AS u, z[2] AS v
                FROM e0 WHERE z[1] <> z[2]
            ), m AS (
                SELECT e.lang, count(*)::BIGINT AS n_reciprocated
                FROM e JOIN e r
                  ON e.lang = r.lang AND e.u = r.v AND e.v = r.u
                GROUP BY 1
            ), tot AS (
                SELECT lang, count(*)::BIGINT AS n_edges FROM e GROUP BY 1
            )
            SELECT tot.lang, n_edges,
                   coalesce(n_reciprocated, 0)::BIGINT AS n_reciprocated,
                   round(coalesce(n_reciprocated, 0)::DOUBLE / n_edges, 6)
                       AS reciprocity
            FROM tot LEFT JOIN m ON tot.lang = m.lang
        """,
        "graph_rich_club": """
            WITH raw AS (
                SELECT 'O' || l_orderkey AS s, 'P' || l_partkey AS d
                FROM lineitem WHERE l_partkey % 3 = 0
                UNION
                SELECT 'O' || l_orderkey, 'S' || l_suppkey
                FROM lineitem WHERE l_partkey % 3 = 0
                UNION
                SELECT 'P' || l_partkey, 'S' || l_suppkey
                FROM lineitem WHERE l_partkey % 3 = 0
            ), und AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM raw WHERE s <> d
            ), deg AS (
                SELECT n AS node, count(*)::BIGINT AS dg
                FROM (SELECT a AS n FROM und UNION ALL SELECT b FROM und)
                GROUP BY 1
            ), grid AS (SELECT unnest([1, 2, 4, 8, 16]) AS k),
            nk AS (
                SELECT k, count(*)::BIGINT AS n_nodes
                FROM grid JOIN deg ON deg.dg > grid.k GROUP BY 1
            ), ek AS (
                SELECT k, count(*)::BIGINT AS n_edges
                FROM und
                JOIN deg da ON und.a = da.node
                JOIN deg db ON und.b = db.node
                CROSS JOIN grid
                WHERE da.dg > grid.k AND db.dg > grid.k
                GROUP BY 1
            )
            SELECT grid.k, coalesce(n_nodes, 0)::BIGINT AS n_nodes,
                   coalesce(n_edges, 0)::BIGINT AS n_edges,
                   CASE WHEN coalesce(n_nodes, 0) >= 2 THEN
                       round(coalesce(n_edges, 0)::DOUBLE
                             / (n_nodes * (n_nodes - 1) / 2), 6)
                   END AS phi
            FROM grid LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)
        """,
        "kg_type_inference": """
            WITH tri AS (
                SELECT 'C' || c_custkey AS s, 'located_in' AS p,
                       'N' || c_nationkey AS o FROM customer
                UNION ALL
                SELECT 'S' || s_suppkey, 'located_in', 'N' || s_nationkey
                FROM supplier
                UNION ALL
                SELECT 'O' || o_orderkey, 'placed_by', 'C' || o_custkey
                FROM orders
                UNION ALL
                SELECT DISTINCT 'O' || l_orderkey, 'contains',
                       'P' || l_partkey FROM lineitem
                UNION ALL
                SELECT DISTINCT 'P' || l_partkey, 'supplied_by',
                       'S' || l_suppkey FROM lineitem
            ), ty AS (
                SELECT 'C' || c_custkey AS entity_id, 'Customer' AS type
                FROM customer WHERE c_custkey % 3 <> 0
                UNION ALL
                SELECT 'S' || s_suppkey, 'Supplier' FROM supplier
                WHERE s_suppkey % 3 <> 0
                UNION ALL
                SELECT 'N' || n_nationkey, 'Nation' FROM nation
                UNION ALL
                SELECT 'P' || p_partkey, 'Part' FROM part
                WHERE p_partkey % 3 <> 0
                UNION ALL
                SELECT 'O' || o_orderkey, 'Order' FROM orders
                WHERE o_orderkey % 3 <> 0
            ), pos_typed AS (
                SELECT tri.p, 's' AS pos, ty.type
                FROM tri JOIN ty ON tri.s = ty.entity_id
                UNION ALL
                SELECT tri.p, 'o', ty.type
                FROM tri JOIN ty ON tri.o = ty.entity_id
            ), sig AS (
                SELECT p, pos, type AS dom_type FROM (
                    SELECT p, pos, type,
                           row_number() OVER (PARTITION BY p, pos
                                              ORDER BY count(*) DESC, type)
                               AS rn
                    FROM pos_typed GROUP BY p, pos, type
                ) WHERE rn = 1
            ), unty AS (
                SELECT tri.s AS entity_id, tri.p, 's' AS pos
                FROM tri LEFT JOIN ty ON tri.s = ty.entity_id
                WHERE ty.entity_id IS NULL
                UNION ALL
                SELECT tri.o, tri.p, 'o'
                FROM tri LEFT JOIN ty ON tri.o = ty.entity_id
                WHERE ty.entity_id IS NULL
            ), votes AS (
                SELECT entity_id, dom_type, count(*)::BIGINT AS v
                FROM unty JOIN sig
                  ON unty.p = sig.p AND unty.pos = sig.pos
                GROUP BY 1, 2
            )
            SELECT entity_id, dom_type AS inferred_type, v AS n_votes
            FROM (
                SELECT entity_id, dom_type, v,
                       row_number() OVER (PARTITION BY entity_id
                                          ORDER BY v DESC, dom_type) AS rn
                FROM votes
            ) WHERE rn = 1 AND v >= 1
        """,
        "kg_shacl_report": """
            WITH tri AS (
                SELECT 'C' || c_custkey AS s, 'located_in' AS p,
                       'N' || c_nationkey AS o FROM customer
                UNION ALL
                SELECT 'S' || s_suppkey, 'located_in', 'N' || s_nationkey
                FROM supplier
                UNION ALL
                SELECT 'O' || o_orderkey, 'placed_by', 'C' || o_custkey
                FROM orders
                UNION ALL
                SELECT DISTINCT 'O' || l_orderkey, 'contains',
                       'P' || l_partkey FROM lineitem
                UNION ALL
                SELECT DISTINCT 'P' || l_partkey, 'supplied_by',
                       'S' || l_suppkey FROM lineitem
            ), ty AS (
                SELECT 'C' || c_custkey AS entity_id, 'Customer' AS type
                FROM customer WHERE c_custkey % 3 <> 0
                UNION ALL
                SELECT 'S' || s_suppkey, 'Supplier' FROM supplier
                WHERE s_suppkey % 3 <> 0
                UNION ALL
                SELECT 'N' || n_nationkey, 'Nation' FROM nation
                UNION ALL
                SELECT 'P' || p_partkey, 'Part' FROM part
                WHERE p_partkey % 3 <> 0
                UNION ALL
                SELECT 'O' || o_orderkey, 'Order' FROM orders
                WHERE o_orderkey % 3 <> 0
            )
            SELECT s AS entity_id, 'contains' AS predicate,
                   'max_count>5' AS violation, count(DISTINCT o)::BIGINT AS n
            FROM tri WHERE p = 'contains' GROUP BY 1
            HAVING count(DISTINCT o) > 5
            UNION ALL
            SELECT t.entity_id, 'contains', 'min_count<1',
                   coalesce(h.n, 0)::BIGINT
            FROM (SELECT entity_id FROM ty WHERE type = 'Order') t
            LEFT JOIN (SELECT s, count(DISTINCT o)::BIGINT AS n FROM tri
                       WHERE p = 'contains' GROUP BY 1) h
              ON t.entity_id = h.s
            WHERE coalesce(h.n, 0) < 1
            UNION ALL
            SELECT s, 'placed_by', 'domain!=Order', count(*)::BIGINT
            FROM tri LEFT JOIN ty ON tri.s = ty.entity_id
            WHERE p = 'placed_by'
              AND (ty.type IS NULL OR ty.type <> 'Order')
            GROUP BY 1
            UNION ALL
            SELECT o, 'placed_by', 'range!=Customer', count(*)::BIGINT
            FROM tri LEFT JOIN ty ON tri.o = ty.entity_id
            WHERE p = 'placed_by'
              AND (ty.type IS NULL OR ty.type <> 'Customer')
            GROUP BY 1
            UNION ALL
            SELECT o, 'supplied_by', 'closed_object', count(*)::BIGINT
            FROM tri LEFT JOIN ty ON tri.o = ty.entity_id
            WHERE p = 'supplied_by' AND ty.entity_id IS NULL
            GROUP BY 1
        """,
        "kg_pra_features": """
            WITH t AS (
                SELECT DISTINCT 'O' || l_orderkey AS s, 'contains' AS p,
                       'P' || l_partkey AS o
                FROM lineitem WHERE l_partkey % 5 = 0
                UNION
                SELECT DISTINCT 'P' || l_partkey, 'from', 'S' || l_suppkey
                FROM lineitem WHERE l_partkey % 5 = 0
            ), ind AS (
                SELECT o AS mid, count(*)::BIGINT AS di FROM t GROUP BY 1
            ), outd AS (
                SELECT s AS mid, count(*)::BIGINT AS dof FROM t GROUP BY 1
            ), ok AS (
                SELECT ind.mid FROM ind JOIN outd USING (mid)
                WHERE di <= 50 AND dof <= 50
            )
            SELECT l.s AS src, r.o AS dst, l.p AS p1, r.p AS p2,
                   count(*)::BIGINT AS n_paths
            FROM t l
            JOIN ok ON l.o = ok.mid
            JOIN t r ON r.s = l.o
            WHERE l.s <> r.o
            GROUP BY 1, 2, 3, 4
        """,
        "evt_seasonality": """
            WITH c AS (
                SELECT event_type,
                       ((epoch_us(ts) // 86400000000 + 3) % 7)::INT AS dow,
                       ((epoch_us(ts) // 3600000000) % 24)::INT AS hour,
                       count(*)::BIGINT AS n
                FROM events GROUP BY 1, 2, 3
            ), tot AS (
                SELECT event_type, sum(n)::BIGINT AS t FROM c GROUP BY 1
            )
            SELECT c.event_type, dow, hour, n,
                   round(168 * n / t, 6) AS lift
            FROM c JOIN tot USING (event_type)
        """,
        "evt_rfm": """
            WITH pu AS (
                SELECT user_id, max(epoch_us(ts)) AS last_us,
                       count(*)::BIGINT AS frequency,
                       sum(round(value * 10000, 0)::BIGINT)::BIGINT
                           AS monetary_fp
                FROM events GROUP BY 1
            ), base AS (
                SELECT user_id,
                       ((SELECT max(last_us) FROM pu) - last_us) // 1000000
                           AS recency_s,
                       frequency, monetary_fp,
                       count(*) OVER () AS nu
                FROM pu
            ), banded AS (
                SELECT user_id, recency_s, frequency, monetary_fp,
                       (1 + floor(5 * (row_number() OVER
                            (ORDER BY recency_s DESC, user_id) - 1) / nu))::INT
                           AS r,
                       (1 + floor(5 * (row_number() OVER
                            (ORDER BY frequency, user_id) - 1) / nu))::INT
                           AS f,
                       (1 + floor(5 * (row_number() OVER
                            (ORDER BY monetary_fp, user_id) - 1) / nu))::INT
                           AS m
                FROM base
            )
            SELECT user_id, recency_s, frequency, monetary_fp, r, f, m,
                   'R' || r || 'F' || f || 'M' || m AS segment
            FROM banded
        """,
        "graph_bowtie": """
            WITH RECURSIVE d AS (
                SELECT doc_id FROM documents WHERE doc_id < 200
            ), e AS (
                SELECT doc_id AS s, (doc_id * 2 + 1) % 200 AS t FROM d
                UNION ALL
                SELECT doc_id, (doc_id * 7 + 3) % 200 FROM d
            ), nodes AS (
                SELECT DISTINCT n
                FROM (SELECT s AS n FROM e UNION ALL SELECT t FROM e)
            ), rr AS (
                SELECT s AS src, t AS dst FROM e
                UNION
                SELECT rr.src, e.t FROM rr JOIN e ON rr.dst = e.s
            ), reach AS (
                SELECT DISTINCT src, dst FROM rr
            ), allr AS (
                SELECT src, dst FROM reach
                UNION
                SELECT n, n FROM nodes
            ), scc AS (
                SELECT a.src AS id, min(a.dst) AS scc_id
                FROM allr a JOIN allr b ON a.src = b.dst AND a.dst = b.src
                GROUP BY 1
            ), sizes AS (
                SELECT scc_id, count(*)::BIGINT AS sz FROM scc GROUP BY 1
            ), top AS (
                SELECT scc_id FROM sizes ORDER BY sz DESC, scc_id LIMIT 1
            ), core AS (
                SELECT id FROM scc WHERE scc_id = (SELECT scc_id FROM top)
            ), rc AS (
                SELECT DISTINCT src AS id FROM reach
                WHERE dst IN (SELECT id FROM core)
            ), rf AS (
                SELECT DISTINCT dst AS id FROM reach
                WHERE src IN (SELECT id FROM core)
            )
            SELECT n AS id,
                   CASE WHEN n IN (SELECT id FROM core) THEN 'CORE'
                        WHEN n IN (SELECT id FROM rc) THEN 'IN'
                        WHEN n IN (SELECT id FROM rf) THEN 'OUT'
                        ELSE 'OTHER' END AS cls
            FROM nodes
        """,
        "text_burstiness": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                           AS token
                FROM documents
            ), tf AS (
                SELECT doc_id, token, count(*)::BIGINT AS c
                FROM tok WHERE len(token) > 0 GROUP BY 1, 2
            ), nd AS (
                SELECT count(*)::HUGEINT AS n FROM documents
            ), pt AS (
                SELECT token, count(*)::BIGINT AS df, sum(c)::BIGINT AS cf,
                       sum(c::HUGEINT * c) AS sc2
                FROM tf GROUP BY 1 HAVING count(*) >= 2
            )
            SELECT token, df, cf,
                   round(cf::DOUBLE / df, 6) AS per_doc_rate,
                   round((n * sc2 - cf::HUGEINT * cf)::DOUBLE
                         / (n * cf::HUGEINT)::DOUBLE, 6) AS vmr
            FROM pt, nd
        """,
        "text_tvd_drift": """
            -- per-(source,word) |c·t_r − r·t_s| as exact HUGEINT, absent-word
            -- mass in closed form, one double division (text_analysis.source_tvd_drift)
            WITH tok AS (
                SELECT source AS src,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
                FROM documents
            ), per_sw AS (
                SELECT src, token, count(*)::BIGINT AS c
                FROM tok WHERE len(token) > 0 GROUP BY 1, 2
            ), per_w AS (
                SELECT token, sum(c)::BIGINT AS tot_w FROM per_sw GROUP BY 1
            ), totals AS (
                SELECT src, sum(c)::BIGINT AS t_s FROM per_sw GROUP BY 1
            ), grand AS (
                SELECT sum(t_s)::BIGINT AS t_all FROM totals
            ), per_src AS (
                SELECT s.src, t.t_s, g.t_all,
                       sum(abs(s.c::HUGEINT * (g.t_all - t.t_s)
                               - (w.tot_w - s.c)::HUGEINT * t.t_s)) AS present_sum,
                       sum((w.tot_w - s.c)::HUGEINT) AS rest_present
                FROM per_sw s
                JOIN per_w w USING (token)
                JOIN totals t USING (src)
                CROSS JOIN grand g
                GROUP BY 1, 2, 3
            )
            SELECT src AS source, t_s AS n_tokens,
                   (t_all - t_s)::BIGINT AS n_rest_tokens,
                   CASE WHEN t_all > t_s THEN round(
                       (present_sum
                        + ((t_all - t_s)::HUGEINT - rest_present) * t_s)::DOUBLE
                       / (2::HUGEINT * t_s * (t_all - t_s))::DOUBLE, 6)
                   END AS tvd
            FROM per_src
        """,
        "stat_runs_test": """
            -- exact lower-median split on the cents grid, runs in event_id
            -- order, z = diff·√(n−1)/√(2m(2m−n)) on exact longs (stats.runs_test)
            WITH q AS (
                SELECT event_type, event_id AS ord,
                       round(value * 100)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND event_id IS NOT NULL
            ), ranked AS (
                SELECT *,
                       row_number() OVER (PARTITION BY event_type ORDER BY qv, ord) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n_all
                FROM q
            ), med AS (
                SELECT event_type, qv AS med FROM ranked
                WHERE rn = (n_all + 1) // 2
            ), signed AS (
                SELECT q.event_type, q.ord,
                       CASE WHEN q.qv > m.med THEN 1 ELSE 0 END AS sign
                FROM q JOIN med m USING (event_type)
                WHERE q.qv <> m.med
            ), flips AS (
                SELECT event_type, sign,
                       CASE WHEN lag(sign) OVER w IS NULL THEN 1
                            WHEN lag(sign) OVER w <> sign THEN 1
                            ELSE 0 END AS flip
                FROM signed
                WINDOW w AS (PARTITION BY event_type ORDER BY ord)
            ), agg AS (
                SELECT event_type,
                       sum(sign)::BIGINT AS n_pos,
                       (count(*) - sum(sign))::BIGINT AS n_neg,
                       sum(flip)::BIGINT AS runs
                FROM flips GROUP BY 1
            )
            SELECT event_type, n_pos, n_neg, runs,
                   CASE WHEN n_pos + n_neg > 0 THEN round(
                       (n_pos + n_neg + 2 * n_pos * n_neg)::DOUBLE
                       / (n_pos + n_neg)::DOUBLE, 6) END AS expected_runs,
                   CASE WHEN n_pos > 0 AND n_neg > 0
                             AND 2 * n_pos * n_neg <> n_pos + n_neg THEN round(
                       ((runs - 1) * (n_pos + n_neg) - 2 * n_pos * n_neg)::DOUBLE
                       * sqrt((n_pos + n_neg - 1)::DOUBLE)
                       / sqrt((2 * n_pos * n_neg
                               * (2 * n_pos * n_neg - (n_pos + n_neg)))::DOUBLE), 6)
                   END AS z
            FROM agg
        """,
        "stat_welch_t": """
            -- exact (n, Σ, Σ²) per side on the cents grid; u = side
            -- variance/n as ONE double division, then the fixed IEEE
            -- t / Welch–Satterthwaite df sequence (stats.welch_t)
            WITH q AS (
                SELECT event_type,
                       (date_part('dow', ts) IN (0, 6)) AS side,
                       round(value * 100)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND ts IS NOT NULL
            ), per AS (
                SELECT event_type, side,
                       count(*)::BIGINT AS n,
                       sum(qv::HUGEINT)::HUGEINT AS s,
                       sum(qv::HUGEINT * qv)::HUGEINT AS ss
                FROM q GROUP BY 1, 2
            ), wide AS (
                SELECT event_type,
                       max(CASE WHEN side THEN n END) AS n_a,
                       max(CASE WHEN side THEN s END) AS s_a,
                       max(CASE WHEN side THEN ss END) AS ss_a,
                       max(CASE WHEN NOT side THEN n END) AS n_b,
                       max(CASE WHEN NOT side THEN s END) AS s_b,
                       max(CASE WHEN NOT side THEN ss END) AS ss_b
                FROM per GROUP BY 1
            ), calc AS (
                SELECT *,
                       (n_a::HUGEINT * ss_a - s_a * s_a)::DOUBLE
                         / ((n_a::HUGEINT * n_a * (n_a - 1))::DOUBLE
                            * 10000.0) AS ua,
                       (n_b::HUGEINT * ss_b - s_b * s_b)::DOUBLE
                         / ((n_b::HUGEINT * n_b * (n_b - 1))::DOUBLE
                            * 10000.0) AS ub,
                       (s_a::DOUBLE / 100.0) / n_a::DOUBLE AS ma,
                       (s_b::DOUBLE / 100.0) / n_b::DOUBLE AS mb
                FROM wide
                WHERE n_a IS NOT NULL AND n_b IS NOT NULL
            )
            SELECT event_type, n_a, n_b,
                   round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                   CASE WHEN n_a >= 2 AND n_b >= 2 AND ua + ub > 0
                        THEN round((ma - mb) / sqrt(ua + ub), 6)
                   END AS t_stat,
                   CASE WHEN n_a >= 2 AND n_b >= 2 AND ua + ub > 0
                        THEN round(((ua + ub) * (ua + ub))
                             / (ua * ua / (n_a - 1)::DOUBLE
                                + ub * ub / (n_b - 1)::DOUBLE), 6)
                   END AS df_welch
            FROM calc
        """,
        "stat_brown_forsythe": """
            -- exact lower median per group on the cents grid, then the
            -- anova_f moment sequence over |x − med| (stats.brown_forsythe)
            WITH q AS (
                SELECT event_type AS g, round(value * 100)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL
            ), ranked AS (
                SELECT g, qv,
                       row_number() OVER (PARTITION BY g ORDER BY qv) AS rn,
                       count(*) OVER (PARTITION BY g) AS n_all
                FROM q
            ), med AS (
                SELECT g, qv AS med FROM ranked WHERE rn = (n_all + 1) // 2
            ), z AS (
                SELECT q.g, abs(q.qv - m.med)::BIGINT AS qv
                FROM q JOIN med m USING (g)
            ), pg AS (
                SELECT g, count(*)::BIGINT AS ng,
                       sum(qv::HUGEINT) AS sg, sum(qv::HUGEINT * qv) AS ssg
                FROM z GROUP BY g
            ), tm AS (
                SELECT ng, sg, ssg,
                       (sg::DOUBLE / 100.0) * (sg::DOUBLE / 100.0)
                           / ng::DOUBLE AS tg
                FROM pg
            ), tot AS (
                SELECT sum(ng)::BIGINT AS n, count(*)::BIGINT AS k,
                       sum(sg) AS s, sum(ssg) AS ss, sum(tg) AS a
                FROM tm
            ), parts AS (
                SELECT n, k,
                       a - (s::DOUBLE / 100.0) * (s::DOUBLE / 100.0)
                           / n::DOUBLE AS ssb,
                       ss::DOUBLE / (100.0 * 100.0) - a AS ssw
                FROM tot
            )
            SELECT n, k,
                   round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
                   CASE WHEN k > 1 AND n > k AND ssw > 0
                        THEN round((ssb / (k - 1)::DOUBLE)
                                   / (ssw / (n - k)::DOUBLE), 6)
                   END AS f_stat,
                   CASE WHEN ssb + ssw > 0
                        THEN round(ssb / (ssb + ssw), 6)
                   END AS eta_sq
            FROM parts
        """,
        "stat_mann_kendall": """
            -- S = concordant − discordant over time-ordered pairs;
            -- Var(S) with BOTH tie corrections on exact longs, fixed
            -- three-division IEEE finish (stats.mann_kendall)
            WITH e AS (
                SELECT event_type,
                       (epoch_us(ts) // 1000000)::BIGINT AS x,
                       round(value * 10000, 0)::BIGINT AS y
                FROM events WHERE event_id % 11 = 0
            ), r AS (
                SELECT event_type, x, y,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY x, y) AS i
                FROM e
            ), p AS (
                SELECT a.event_type,
                       CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0
                           END AS c,
                       CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0
                           END AS d
                FROM r a JOIN r b
                  ON a.event_type = b.event_type AND a.i < b.i
            ), sa AS (
                SELECT event_type,
                       (sum(c) - sum(d))::BIGINT AS s
                FROM p GROUP BY 1
            ), tx AS (
                SELECT event_type,
                       sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tx_a,
                       sum(t * (t - 1) * (t - 2))::BIGINT AS tx_b,
                       sum(t * (t - 1))::BIGINT AS tx_c,
                       sum(t)::BIGINT AS n
                FROM (SELECT event_type, x, count(*)::BIGINT AS t
                      FROM e GROUP BY 1, 2) GROUP BY 1
            ), ty AS (
                SELECT event_type,
                       sum(t * (t - 1) * (2 * t + 5))::BIGINT AS ty_a,
                       sum(t * (t - 1) * (t - 2))::BIGINT AS ty_b,
                       sum(t * (t - 1))::BIGINT AS ty_c
                FROM (SELECT event_type, y, count(*)::BIGINT AS t
                      FROM e GROUP BY 1, 2) GROUP BY 1
            ), j AS (
                SELECT sa.event_type, s, n, tx_a, tx_b, tx_c, ty_a, ty_b, ty_c,
                       (n * (n - 1) * (2 * n + 5) - tx_a - ty_a)::DOUBLE / 18.0
                       + (tx_b * ty_b)::DOUBLE
                         / (9 * n * (n - 1) * (n - 2))::DOUBLE
                       + (tx_c * ty_c)::DOUBLE
                         / (2 * n * (n - 1))::DOUBLE AS var_s
                FROM sa JOIN tx USING (event_type) JOIN ty USING (event_type)
            )
            SELECT event_type, n, s,
                   CASE WHEN n >= 3 THEN round(var_s, 6) END AS var_s,
                   CASE WHEN n >= 3 AND var_s > 0 THEN round(
                       CASE WHEN s > 0 THEN (s - 1)::DOUBLE / sqrt(var_s)
                            WHEN s < 0 THEN (s + 1)::DOUBLE / sqrt(var_s)
                            ELSE 0.0 END, 6)
                   END AS z
            FROM j
        """,
        "kg_rdfs_entailment": """
            -- stratified RDFS fixpoint: subproperty lift, domain/range
            -- typing, subclass closure; via = min rule label
            -- (validation_extra.rdfs_entailment)
            WITH RECURSIVE tri AS (
                SELECT 'C' || c_custkey AS s, 'located_in' AS p,
                       'N' || c_nationkey AS o FROM customer
                UNION ALL
                SELECT 'S' || s_suppkey, 'located_in', 'N' || s_nationkey
                FROM supplier
                UNION ALL
                SELECT 'O' || o_orderkey, 'placed_by', 'C' || o_custkey
                FROM orders
                UNION ALL
                SELECT DISTINCT 'O' || l_orderkey, 'contains',
                       'P' || l_partkey FROM lineitem
                UNION ALL
                SELECT DISTINCT 'P' || l_partkey, 'supplied_by',
                       'S' || l_suppkey FROM lineitem
            ), ty AS (
                SELECT 'C' || c_custkey AS entity_id, 'Customer' AS type
                FROM customer WHERE c_custkey % 3 <> 0
                UNION ALL
                SELECT 'S' || s_suppkey, 'Supplier' FROM supplier
                WHERE s_suppkey % 3 <> 0
                UNION ALL
                SELECT 'N' || n_nationkey, 'Nation' FROM nation
                UNION ALL
                SELECT 'P' || p_partkey, 'Part' FROM part
                WHERE p_partkey % 3 <> 0
                UNION ALL
                SELECT 'O' || o_orderkey, 'Order' FROM orders
                WHERE o_orderkey % 3 <> 0
            ), sub AS (
                SELECT * FROM (VALUES
                    ('Customer', 'Party'), ('Supplier', 'Party'),
                    ('Party', 'LegalEntity'), ('Part', 'Product')
                ) t(child, parent)
            ), cclo(src, dst) AS (
                SELECT child, parent FROM sub
                UNION
                SELECT c.src, s.parent FROM cclo c JOIN sub s
                  ON c.dst = s.child
            ), pclo AS (
                SELECT 'supplied_by' AS src, 'sourced_from' AS dst
            ), dom AS (
                SELECT * FROM (VALUES
                    ('placed_by', 'Order'), ('located_in', 'Party'),
                    ('contains', 'Order'), ('supplied_by', 'Part'),
                    ('sourced_from', 'Product')
                ) t(pp, cls)
            ), rng AS (
                SELECT * FROM (VALUES
                    ('placed_by', 'Customer'), ('located_in', 'Nation'),
                    ('contains', 'Part'), ('supplied_by', 'Supplier'),
                    ('sourced_from', 'Organization')
                ) t(pp, cls)
            ), ext AS (
                SELECT s, p, o FROM tri
                UNION ALL
                SELECT tri.s, pclo.dst, tri.o FROM tri
                JOIN pclo ON tri.p = pclo.src
            ), base AS (
                SELECT entity_id, type, min(via) AS via FROM (
                    SELECT entity_id, type, 'asserted' AS via FROM ty
                    UNION ALL
                    SELECT ext.s, d.cls, 'rdfs2' FROM ext
                    JOIN dom d ON ext.p = d.pp
                    UNION ALL
                    SELECT ext.o, r.cls, 'rdfs3' FROM ext
                    JOIN rng r ON ext.p = r.pp
                ) GROUP BY 1, 2
            )
            SELECT entity_id, type, min(via) AS via FROM (
                SELECT entity_id, type, via FROM base
                UNION ALL
                SELECT b.entity_id, c.dst, 'rdfs9' FROM base b
                JOIN cclo c ON b.type = c.src
            ) GROUP BY 1, 2
        """,
        "kg_fact_fusion": """
            -- round-1 majority (count DESC, object ASC), integer-micro
            -- source accuracy (ONE division + round), round-2 weighted
            -- re-election (validation_extra.fact_fusion)
            WITH cl AS (
                SELECT DISTINCT * FROM (
                    SELECT 'C' || c_custkey AS s, 'located_in' AS p,
                           'N' || c_nationkey AS o, 'src_a' AS src
                    FROM customer
                    UNION ALL
                    SELECT 'C' || c_custkey, 'located_in',
                           'N' || (CASE WHEN c_custkey % 5 = 0
                                        THEN (c_nationkey + 1) % 25
                                        ELSE c_nationkey END), 'src_b'
                    FROM customer
                    UNION ALL
                    SELECT 'C' || c_custkey, 'located_in',
                           'N' || (CASE WHEN c_custkey % 3 = 0
                                        THEN (c_nationkey + 2) % 25
                                        ELSE c_nationkey END), 'src_c'
                    FROM customer
                )
            ), votes AS (
                SELECT s, p, o, count(*)::BIGINT AS n1
                FROM cl GROUP BY 1, 2, 3
            ), maj AS (
                SELECT s, p, o AS maj_o FROM (
                    SELECT s, p, o,
                           row_number() OVER (PARTITION BY s, p
                                              ORDER BY n1 DESC, o) AS rn
                    FROM votes
                ) WHERE rn = 1
            ), acc AS (
                SELECT src,
                       round(sum(CASE WHEN cl.o = m.maj_o THEN 1 ELSE 0
                                 END)::DOUBLE * 1000000.0
                             / count(*)::DOUBLE)::BIGINT AS acc_micro
                FROM cl JOIN maj m USING (s, p) GROUP BY src
            ), wt AS (
                SELECT s, p, o, sum(acc_micro)::BIGINT AS w,
                       count(*)::BIGINT AS ns
                FROM cl JOIN acc USING (src) GROUP BY 1, 2, 3
            ), win AS (
                SELECT s, p, o, w, ns FROM (
                    SELECT *, row_number() OVER (PARTITION BY s, p
                                                 ORDER BY w DESC, o) AS rn
                    FROM wt
                ) WHERE rn = 1
            )
            SELECT win.s AS subject_id, win.p AS predicate,
                   win.o AS object_id, w AS weight_micro,
                   ns AS n_sources, (win.o <> m.maj_o) AS flipped
            FROM win JOIN maj m ON win.s = m.s AND win.p = m.p
        """,
        "media_phash_dedup": """
            -- division-free aHash (len·g > Σg), 4×16-bit bands,
            -- pigeonhole candidates on ids only, exact XOR-popcount
            -- hamming on survivors (multimodal.phash_near_dups)
            WITH g0 AS (
                SELECT doc_id, 'media-' || doc_id AS media_ref,
                       sha256(text) AS hx
                FROM documents WHERE doc_id < 300
            ), assets AS (
                SELECT media_ref,
                       list_transform(range(64), i ->
                           (('0x' || substr(hx, ((i % 32) * 2) + 1, 2))::INT
                            + 0) % 256) AS grid
                FROM g0
                UNION ALL
                SELECT media_ref || '~v',
                       list_transform(range(64), i ->
                           (('0x' || substr(hx, ((i % 32) * 2) + 1, 2))::INT
                            + CASE WHEN i % 32 = 0 THEN 8 ELSE 0 END) % 256)
                FROM g0 WHERE doc_id % 10 = 0
                UNION ALL
                SELECT media_ref || '~c',
                       list_transform(range(64), i ->
                           (('0x' || substr(hx, ((i % 32) * 2) + 1, 2))::INT
                            + 0) % 256)
                FROM g0 WHERE doc_id % 7 = 0
            ), summed AS (
                SELECT media_ref, grid, list_sum(grid)::BIGINT AS gsum
                FROM assets
            ), bitsed AS (
                SELECT media_ref,
                       list_transform(grid, x ->
                           CASE WHEN x * 64 > gsum THEN 1::BIGINT
                                ELSE 0::BIGINT END) AS bits
                FROM summed
            ), hashed AS (
                SELECT media_ref,
                       list_transform(range(4), j ->
                           list_sum(list_transform(range(16), k ->
                               bits[j * 16 + k + 1] * (1::BIGINT << k)))
                           ::BIGINT) AS bands
                FROM bitsed
            ), eb AS (
                SELECT media_ref, j, bands[j + 1] AS v
                FROM hashed, range(4) t(j)
            ), cand AS (
                SELECT DISTINCT a.media_ref AS ref_a, b.media_ref AS ref_b
                FROM eb a JOIN eb b
                  ON a.j = b.j AND a.v = b.v AND a.media_ref < b.media_ref
            ), pairs AS (
                SELECT ref_a, ref_b,
                       list_sum(list_transform(range(4), j ->
                           bit_count(xor(ha.bands[j + 1], hb.bands[j + 1]))))
                       ::BIGINT AS hamming
                FROM cand
                JOIN hashed ha ON cand.ref_a = ha.media_ref
                JOIN hashed hb ON cand.ref_b = hb.media_ref
            )
            SELECT ref_a, ref_b, hamming FROM pairs WHERE hamming <= 3
        """,
        "evt_stationary": """
            -- integer-micro power iteration: p = round(n·1e6/rowsum),
            -- π' = ⌊Σπ·p/1e6⌋ each step — exact longs throughout
            -- (event_analytics.stationary_distribution)
            WITH p AS (
                SELECT event_type AS from_type,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS to_type
                FROM events
            ), counts AS (
                SELECT from_type, to_type, count(*)::BIGINT AS n
                FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
            ), trans AS (
                SELECT from_type, to_type,
                       round(n::DOUBLE * 1000000.0 / (sum(n) OVER (
                           PARTITION BY from_type))::DOUBLE)::BIGINT
                           AS p_micro
                FROM counts
            ), states AS (
                SELECT DISTINCT from_type AS state FROM trans
            ), pi0 AS (
                SELECT state,
                       (1000000 // (SELECT count(*) FROM states))::BIGINT
                           AS mass
                FROM states
            ), it1 AS (
                SELECT t.to_type AS state,
                       (sum(q.mass * t.p_micro) // 1000000)::BIGINT AS mass
                FROM pi0 q JOIN trans t ON q.state = t.from_type GROUP BY 1
            ), it2 AS (
                SELECT t.to_type AS state,
                       (sum(q.mass * t.p_micro) // 1000000)::BIGINT AS mass
                FROM it1 q JOIN trans t ON q.state = t.from_type GROUP BY 1
            ), it3 AS (
                SELECT t.to_type AS state,
                       (sum(q.mass * t.p_micro) // 1000000)::BIGINT AS mass
                FROM it2 q JOIN trans t ON q.state = t.from_type GROUP BY 1
            ), it4 AS (
                SELECT t.to_type AS state,
                       (sum(q.mass * t.p_micro) // 1000000)::BIGINT AS mass
                FROM it3 q JOIN trans t ON q.state = t.from_type GROUP BY 1
            ), it5 AS (
                SELECT t.to_type AS state,
                       (sum(q.mass * t.p_micro) // 1000000)::BIGINT AS mass
                FROM it4 q JOIN trans t ON q.state = t.from_type GROUP BY 1
            )
            SELECT state, mass AS pi_micro FROM it5
        """,
        "text_burrows_delta": """
            -- micro relative freqs (one division, absent = exact 0),
            -- z = (n·f−S)·1e6/√(nQ−S²) rounded to micro, |z| diffs sum
            -- as exact longs (text_analysis.burrows_delta)
            WITH tok AS (
                SELECT source AS src,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                           AS token
                FROM documents
            ), cnt AS (
                SELECT src, token, count(*)::BIGINT AS c
                FROM tok WHERE len(token) > 0 GROUP BY 1, 2
            ), tot AS (
                SELECT src, sum(c)::BIGINT AS t FROM cnt GROUP BY 1
            ), topk AS (
                SELECT token FROM (
                    SELECT token, sum(c) AS cf FROM cnt GROUP BY 1
                    ORDER BY cf DESC, token LIMIT 50
                )
            ), f AS (
                SELECT t.src, k.token,
                       round(coalesce(c.c, 0)::DOUBLE * 1000000.0
                             / t.t::DOUBLE)::BIGINT AS f
                FROM tot t CROSS JOIN topk k
                LEFT JOIN cnt c ON c.src = t.src AND c.token = k.token
            ), st AS (
                SELECT token, count(*)::BIGINT AS n, sum(f)::BIGINT AS s,
                       sum(f::HUGEINT * f) AS q
                FROM f GROUP BY 1
            ), z AS (
                SELECT f.src, f.token,
                       round((st.n * f.f - st.s)::DOUBLE * 1000000.0
                             / sqrt((st.n::HUGEINT * st.q
                                     - st.s::HUGEINT * st.s)::DOUBLE))
                           ::BIGINT AS z
                FROM f JOIN st USING (token)
                WHERE st.n::HUGEINT * st.q - st.s::HUGEINT * st.s > 0
            ), p AS (
                SELECT a.src AS source_a, b.src AS source_b,
                       count(*)::BIGINT AS n_tokens,
                       sum(abs(a.z - b.z))::BIGINT AS d
                FROM z a JOIN z b
                  ON a.token = b.token AND a.src < b.src
                GROUP BY 1, 2
            )
            SELECT source_a, source_b, n_tokens,
                   round(d::DOUBLE / n_tokens::DOUBLE / 1000000.0, 6)
                       AS delta
            FROM p
        """,
        "emb_sq8_error": """
            -- per-dim affine uint8 on the exact micro grid; code and
            -- dequant are each ONE fixed double op; per-dim errors are
            -- exact longs (similarity.sq8_error_profile)
            WITH ex AS (
                SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                       round(unnest(embedding)::DOUBLE * 1000000.0)
                           ::BIGINT AS q
                FROM embeddings
            ), dims AS (
                SELECT pos, min(q) AS mn, max(q) AS mx FROM ex GROUP BY 1
            ), coded AS (
                SELECT vec_id, q, mn, mx,
                       CASE WHEN mx > mn THEN round(
                           (q - mn)::DOUBLE * 255.0 / (mx - mn)::DOUBLE)
                           ::BIGINT ELSE 0 END AS code
                FROM ex JOIN dims USING (pos)
            ), errs AS (
                SELECT vec_id,
                       q - (mn + CASE WHEN mx > mn THEN round(
                           code::DOUBLE * (mx - mn)::DOUBLE / 255.0)::BIGINT
                           ELSE 0 END) AS e
                FROM coded
            )
            SELECT vec_id, count(*)::BIGINT AS n_dims,
                   sum(e * e)::BIGINT AS sse,
                   max(abs(e))::BIGINT AS max_abs_err_micro,
                   round(sqrt(sum(e * e)::DOUBLE / count(*)::DOUBLE)
                         / 1000000.0, 6) AS rmse
            FROM errs GROUP BY 1
        """,
        "graph_temporal_reach": """
            -- time-respecting min-arrival: edge usable only if its
            -- timestamp ≥ the arrival at its tail; earliest-arrival
            -- dominance makes the per-node min lossless
            -- (temporal.temporal_reachability)
            WITH RECURSIVE edges AS (
                SELECT doc_id AS s, (doc_id + 1) % 50 AS o,
                       (doc_id % 7) * 3 AS t
                FROM documents WHERE doc_id < 50
                UNION ALL
                SELECT doc_id, (doc_id + 11) % 50, (doc_id % 5) * 5 + 1
                FROM documents WHERE doc_id < 50
            ), seeds(node, t0) AS (
                SELECT * FROM (VALUES (0, 0), (25, 2)) v(node, t0)
            ), r(node, arr, h) AS (
                SELECT node, t0, 0 FROM seeds
                UNION
                SELECT e.o, e.t, r.h + 1
                FROM r JOIN edges e ON r.node = e.s AND e.t >= r.arr
                WHERE r.h < 4
            )
            SELECT node::BIGINT AS node,
                   min(arr)::BIGINT AS earliest_arrival
            FROM r GROUP BY 1
        """,
        "graph_mixing": """
            -- typed mixing counts; r = (m·Tr − Σab)/(m² − Σab) on
            -- exact cross-multiplied longs
            -- (graph_analytics.attribute_mixing)
            WITH tri AS (
                SELECT 'C' || c_custkey AS s, 'N' || c_nationkey AS o
                FROM customer
                UNION ALL
                SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
                UNION ALL
                SELECT 'O' || o_orderkey, 'C' || o_custkey FROM orders
                UNION ALL
                SELECT DISTINCT 'O' || l_orderkey, 'P' || l_partkey
                FROM lineitem
                UNION ALL
                SELECT DISTINCT 'P' || l_partkey, 'S' || l_suppkey
                FROM lineitem
            ), typed AS (
                SELECT substr(s, 1, 1) AS type_a, substr(o, 1, 1) AS type_b
                FROM tri
            ), mat AS (
                SELECT type_a, type_b, count(*)::BIGINT AS n_edges
                FROM typed GROUP BY 1, 2
            ), at AS (
                SELECT type_a, sum(n_edges)::BIGINT AS a FROM mat GROUP BY 1
            ), bt AS (
                SELECT type_b, sum(n_edges)::BIGINT AS b FROM mat GROUP BY 1
            ), sab AS (
                SELECT sum(coalesce(a, 0) * coalesce(b, 0))::BIGINT AS sab
                FROM at FULL JOIN bt ON at.type_a = bt.type_b
            ), g AS (
                SELECT sum(n_edges)::BIGINT AS m,
                       sum(CASE WHEN type_a = type_b THEN n_edges
                           ELSE 0 END)::BIGINT AS tr
                FROM mat
            )
            SELECT type_a, type_b, n_edges,
                   round(n_edges::DOUBLE * 1000000.0 / m::DOUBLE)::BIGINT
                       AS frac_micro,
                   CASE WHEN m * m <> sab THEN round(
                       (m * tr - sab)::DOUBLE / (m * m - sab)::DOUBLE, 6)
                   END AS assortativity
            FROM mat, g, sab
        """,
        "curation_neyman": """
            -- n_h ∝ N_h·σ_h: exact moments, ONE division + sqrt per
            -- stratum, milli weights sum as exact longs, one division
            -- per allocation (corpus_curation.neyman_allocation)
            WITH q AS (
                SELECT event_type AS stratum,
                       round(value * 100)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL
            ), per AS (
                SELECT stratum, count(*)::BIGINT AS n_rows,
                       sum(qv::HUGEINT) AS s, sum(qv::HUGEINT * qv) AS ss
                FROM q GROUP BY 1
            ), wd AS (
                SELECT stratum, n_rows,
                       CASE WHEN n_rows > 1 THEN sqrt(
                           (n_rows::HUGEINT * ss - s * s)::DOUBLE
                           / ((n_rows::HUGEINT * (n_rows - 1))::DOUBLE
                              * 10000.0))
                       ELSE 0.0 END AS sdv
                FROM per
            ), w AS (
                SELECT stratum, n_rows, round(sdv, 6) AS sd,
                       round(n_rows::DOUBLE * sdv * 1000.0)::BIGINT
                           AS weight_milli
                FROM wd
            ), t AS (
                SELECT sum(weight_milli)::BIGINT AS tw FROM w
            )
            SELECT stratum, n_rows, sd, weight_milli,
                   CASE WHEN tw > 0 THEN round(
                       1000.0 * weight_milli::DOUBLE / tw::DOUBLE)::BIGINT
                   ELSE 0 END AS alloc,
                   CASE WHEN tw > 0 THEN least(round(
                       1000.0 * weight_milli::DOUBLE / tw::DOUBLE)::BIGINT,
                       n_rows)
                   ELSE 0 END AS alloc_capped
            FROM w, t
        """,
        "stat_cvm_drift": """
            -- Σ(c_a+c_b)·(cum_a·n_b − cum_b·n_a)² in HUGEINT, ONE
            -- division by n_a·n_b·(n_a+n_b)² (stats.cvm_2sample)
            WITH qa AS (
                SELECT round(value * 100)::BIGINT AS qv FROM events
                WHERE value IS NOT NULL AND ts IS NOT NULL
                  AND date_part('dow', ts) IN (0, 6)
            ), qb AS (
                SELECT round(value * 100)::BIGINT AS qv FROM events
                WHERE value IS NOT NULL AND ts IS NOT NULL
                  AND date_part('dow', ts) NOT IN (0, 6)
            ), ca AS (
                SELECT qv, count(*)::BIGINT AS ca FROM qa GROUP BY 1
            ), cb AS (
                SELECT qv, count(*)::BIGINT AS cb FROM qb GROUP BY 1
            ), merged AS (
                SELECT coalesce(ca.qv, cb.qv) AS qv,
                       coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
                FROM ca FULL OUTER JOIN cb USING (qv)
            ), cum AS (
                SELECT ca, cb,
                       sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b
                FROM merged
                WINDOW w AS (ORDER BY qv ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)
            ), tot AS (
                SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
                FROM merged
            ), agg AS (
                SELECT sum((ca + cb)::HUGEINT
                           * (cum_a::HUGEINT * n_b - cum_b::HUGEINT * n_a)
                           * (cum_a::HUGEINT * n_b - cum_b::HUGEINT * n_a))
                           ::HUGEINT AS num,
                       max(n_a) AS n_a, max(n_b) AS n_b
                FROM cum, tot
            )
            SELECT n_a, n_b,
                   CASE WHEN n_a > 0 AND n_b > 0 THEN round(
                       num::DOUBLE
                       / (n_a::HUGEINT * n_b
                          * ((n_a + n_b) * (n_a + n_b)))::DOUBLE, 6)
                   END AS t_stat,
                   CASE WHEN n_a > 0 AND n_b > 0 THEN round(
                       (1.0 + 1.0 / (n_a + n_b)::DOUBLE) / 6.0, 6)
                   END AS t_expected
            FROM agg
        """,
        "graph_dag_levels": """
            -- roots = no incoming edge; level = max predecessor level
            -- + 1, depth-bounded recursion (graph_analytics.dag_levels)
            WITH RECURSIVE e AS (
                SELECT doc_id AS s, doc_id + 7 AS d FROM documents
                WHERE doc_id < 60 AND doc_id + 7 < 60
                UNION ALL
                SELECT doc_id, doc_id + 11 FROM documents
                WHERE doc_id < 60 AND doc_id + 11 < 60
            ), nodes AS (
                SELECT s AS node FROM e UNION SELECT d FROM e
            ), roots AS (
                SELECT node FROM nodes
                WHERE node NOT IN (SELECT d FROM e)
            ), r(node, lev) AS (
                SELECT node, 0 FROM roots
                UNION
                SELECT e.d, r.lev + 1 FROM r JOIN e ON r.node = e.s
                WHERE r.lev < 8
            )
            SELECT node::BIGINT AS node, max(lev)::BIGINT AS level
            FROM r GROUP BY 1
        """,
        "evt_lateness": """
            -- lateness = deterministic (event_id%13)² arrival skew;
            -- per (type, W) drop counts, one division
            -- (event_analytics.watermark_lateness_audit)
            WITH q AS (
                SELECT event_type,
                       (event_id % 13) * (event_id % 13) AS late
                FROM events
                WHERE ts IS NOT NULL AND event_id IS NOT NULL
            ), x AS (
                SELECT event_type, late,
                       unnest([0, 25, 64, 144]) AS w_sec
                FROM q
            )
            SELECT event_type, w_sec::INT AS w_sec,
                   count(*)::BIGINT AS n_events,
                   sum(CASE WHEN late > w_sec THEN 1 ELSE 0 END)::BIGINT
                       AS n_late,
                   round(sum(CASE WHEN late > w_sec THEN 1 ELSE 0
                             END)::DOUBLE * 1000000.0
                         / count(*)::DOUBLE)::BIGINT AS late_micro
            FROM x GROUP BY 1, 2
        """,
        "stat_wilson": """
            -- Wilson score interval, z literal shared verbatim; the
            -- fixed op order denom/center/rad (stats.prop_wilson)
            WITH agg AS (
                SELECT event_type, count(*)::BIGINT AS n,
                       sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)::BIGINT
                           AS x
                FROM events WHERE value IS NOT NULL GROUP BY 1
            ), c AS (
                SELECT event_type, n, x,
                       x::DOUBLE / n::DOUBLE AS p,
                       1.0 + 3.8414588206941254 / n::DOUBLE AS denom,
                       x::DOUBLE / n::DOUBLE
                           + 3.8414588206941254 / (2.0 * n::DOUBLE)
                           AS center,
                       sqrt((x::DOUBLE / n::DOUBLE
                             * (1.0 - x::DOUBLE / n::DOUBLE)
                             + 3.8414588206941254 / (4.0 * n::DOUBLE))
                            / n::DOUBLE) AS rad
                FROM agg
            )
            SELECT event_type, n, x, round(p, 6) AS p,
                   round((center - 1.959963984540054 * rad) / denom, 6)
                       AS lo,
                   round((center + 1.959963984540054 * rad) / denom, 6)
                       AS hi
            FROM c
        """,
        "evt_cuped": """
            -- pooled θ = (nΣxy−ΣxΣy)/(nΣxx−Σx²) on exact integers;
            -- adjusted mean = ȳ_s − θ(x̄_s − x̄), one division per term
            -- (event_analytics.cuped_adjust)
            WITH base AS (
                SELECT value,
                       lag(value) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev,
                       (date_part('dow', ts) IN (0, 6)) AS side
                FROM events
            ), q AS (
                SELECT side, round(value * 100)::BIGINT AS qy,
                       round(prev * 100)::BIGINT AS qx
                FROM base
                WHERE value IS NOT NULL AND prev IS NOT NULL
                  AND side IS NOT NULL
            ), per AS (
                SELECT side, count(*)::BIGINT AS n,
                       sum(qy::HUGEINT) AS sy, sum(qx::HUGEINT) AS sx
                FROM q GROUP BY 1
            ), pool AS (
                SELECT count(*)::BIGINT AS pn,
                       sum(qy::HUGEINT) AS py, sum(qx::HUGEINT) AS px,
                       sum(qx::HUGEINT * qx) AS pxx,
                       sum(qy::HUGEINT * qy) AS pyy,
                       sum(qx::HUGEINT * qy) AS pxy
                FROM q
            ), c AS (
                SELECT per.*, pool.*,
                       (pn * pxy - px * py)::DOUBLE AS cov,
                       (pn * pxx - px * px)::DOUBLE AS varx,
                       (pn * pyy - py * py)::DOUBLE AS vary
                FROM per, pool
            )
            SELECT side, n,
                   round((sy::DOUBLE / 100.0) / n::DOUBLE, 6) AS mean_y,
                   round((sx::DOUBLE / 100.0) / n::DOUBLE, 6) AS mean_x,
                   CASE WHEN varx > 0 THEN round(cov / varx, 6) END
                       AS theta,
                   round(CASE WHEN varx > 0 THEN
                       (sy::DOUBLE / 100.0) / n::DOUBLE
                       - (cov / varx)
                         * ((sx::DOUBLE / 100.0) / n::DOUBLE
                            - (px::DOUBLE / 100.0) / pn::DOUBLE)
                   ELSE (sy::DOUBLE / 100.0) / n::DOUBLE END, 6)
                       AS mean_y_adj,
                   CASE WHEN varx > 0 AND vary > 0 THEN
                       round(cov * cov * 1000000.0
                             / (varx * vary))::BIGINT
                   END AS r2_micro
            FROM c
        """,
        "layout_zonemap": """
            -- ntile(16) zone maps under arrival vs clustered order;
            -- scanned iff zmax ≥ lo AND zmin ≤ hi — parquet row-group
            -- pruning arithmetic (layout.zonemap_prune_stats)
            WITH q AS (
                SELECT event_id AS ord, round(value * 100)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND event_id IS NOT NULL
            ), za AS (
                SELECT 'arrival' AS layout,
                       ntile(16) OVER (ORDER BY ord) AS f, qv FROM q
            ), zc AS (
                SELECT 'clustered' AS layout,
                       ntile(16) OVER (ORDER BY qv, ord) AS f, qv FROM q
            ), zz AS (
                SELECT layout, f, min(qv) AS zmin, max(qv) AS zmax
                FROM (SELECT * FROM za UNION ALL SELECT * FROM zc)
                GROUP BY 1, 2
            ), x AS (
                SELECT layout, zmin, zmax, band_lo, band_hi
                FROM zz CROSS JOIN (VALUES (0, 5000), (10000, 11000),
                                           (40000, 50000))
                     b(band_lo, band_hi)
            )
            SELECT layout, band_lo::BIGINT AS band_lo,
                   band_hi::BIGINT AS band_hi,
                   count(*)::BIGINT AS files_total,
                   sum(CASE WHEN zmax >= band_lo AND zmin <= band_hi
                       THEN 1 ELSE 0 END)::BIGINT AS files_scanned,
                   round(sum(CASE WHEN zmax >= band_lo AND zmin <= band_hi
                             THEN 1 ELSE 0 END)::DOUBLE * 1000000.0
                         / count(*)::DOUBLE)::BIGINT AS scan_micro
            FROM x GROUP BY 1, 2, 3
        """,
        "eval_lang_report": """
            -- per-class P/R/F1; F1 = 2tp/(n_true+n_pred) integer
            -- identity (eval_metrics.classification_report; lang guess
            -- restated from lang_id_heuristic)
            WITH f AS (
                SELECT lang AS a,
                       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('the', 'and', 'of')))::BIGINT AS n_en,
                       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('der', 'und', 'das')))::BIGINT AS n_de,
                       len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x IN ('el', 'los', 'que')))::BIGINT AS n_es
                FROM documents
            ), g AS (
                SELECT a,
                       CASE WHEN n_en = 0 AND n_de = 0 AND n_es = 0 THEN 'und'
                            WHEN n_en >= n_de AND n_en >= n_es THEN 'en'
                            WHEN n_de >= n_es THEN 'de'
                            ELSE 'es' END AS b
                FROM f
            ), nt AS (
                SELECT a AS label, count(*)::BIGINT AS n_true
                FROM g GROUP BY 1
            ), np AS (
                SELECT b AS label, count(*)::BIGINT AS n_pred
                FROM g GROUP BY 1
            ), tp AS (
                SELECT a AS label, count(*)::BIGINT AS tp
                FROM g WHERE a = b GROUP BY 1
            ), j AS (
                SELECT coalesce(nt.label, np.label) AS label,
                       coalesce(n_true, 0)::BIGINT AS n_true,
                       coalesce(n_pred, 0)::BIGINT AS n_pred
                FROM nt FULL OUTER JOIN np ON nt.label = np.label
            )
            SELECT j.label, n_true, n_pred,
                   coalesce(tp.tp, 0)::BIGINT AS tp,
                   CASE WHEN n_pred > 0 THEN round(
                       coalesce(tp.tp, 0)::DOUBLE / n_pred::DOUBLE, 6)
                   END AS precision,
                   CASE WHEN n_true > 0 THEN round(
                       coalesce(tp.tp, 0)::DOUBLE / n_true::DOUBLE, 6)
                   END AS recall,
                   CASE WHEN n_true + n_pred > 0 THEN round(
                       2.0 * coalesce(tp.tp, 0)::DOUBLE
                       / (n_true + n_pred)::DOUBLE, 6)
                   END AS f1
            FROM j LEFT JOIN tp ON j.label = tp.label
        """,
        "emb_centroid_drift": """
            -- fixed-point per-half centroids, proven cosine recipe
            -- (similarity.centroid_drift)
            WITH ex AS (
                SELECT vec_id % 2 AS half, label,
                       generate_subscripts(embedding, 1) AS pos,
                       unnest(embedding)::DOUBLE AS x
                FROM embeddings
            ), su AS (
                SELECT half, label, pos,
                       sum(round(x * 1000000, 0)::BIGINT) AS s,
                       count(*) AS n
                FROM ex GROUP BY 1, 2, 3
            ), cent AS (
                SELECT half, label,
                       list(round(s / n / 1000000.0, 6) ORDER BY pos) AS c,
                       max(n)::BIGINT AS nv
                FROM su GROUP BY 1, 2
            )
            SELECT a.label, a.nv AS n_a, b.nv AS n_b,
                   round(list_cosine_similarity(a.c, b.c), 6)
                       AS centroid_cosine
            FROM cent a JOIN cent b
              ON a.label = b.label AND a.half = 0 AND b.half = 1
        """,
        "kg_literal_profile": """
            -- disjoint anchored regex classes, deterministic dominant
            -- election (validation_extra.literal_type_profile)
            WITH tri AS (
                SELECT 'total_price' AS p,
                       round(o_totalprice)::BIGINT::VARCHAR AS o
                FROM orders
                UNION ALL
                SELECT 'order_date', strftime(o_orderdate, '%Y-%m-%d')
                FROM orders
                UNION ALL
                SELECT 'status', o_orderstatus FROM orders
                UNION ALL
                SELECT 'placed_by', 'C' || o_custkey FROM orders
            ), cls AS (
                SELECT p,
                       CASE WHEN regexp_matches(o, '^[0-9]+$')
                                THEN 'numeric'
                            WHEN regexp_matches(o,
                                '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
                                THEN 'date'
                            WHEN regexp_matches(o, '^[A-Z][0-9]+$')
                                THEN 'id'
                            ELSE 'other' END AS c
                FROM tri WHERE o IS NOT NULL
            ), agg AS (
                SELECT p AS predicate, count(*)::BIGINT AS n,
                       sum(CASE WHEN c = 'numeric' THEN 1 ELSE 0
                           END)::BIGINT AS n_numeric,
                       sum(CASE WHEN c = 'date' THEN 1 ELSE 0
                           END)::BIGINT AS n_date,
                       sum(CASE WHEN c = 'id' THEN 1 ELSE 0
                           END)::BIGINT AS n_id,
                       sum(CASE WHEN c = 'other' THEN 1 ELSE 0
                           END)::BIGINT AS n_other
                FROM cls GROUP BY 1
            ), d AS (
                SELECT predicate, 'date' AS cls, n_date AS cnt FROM agg
                UNION ALL SELECT predicate, 'id', n_id FROM agg
                UNION ALL SELECT predicate, 'numeric', n_numeric FROM agg
                UNION ALL SELECT predicate, 'other', n_other FROM agg
            ), win AS (
                SELECT predicate, cls AS dominant, cnt FROM (
                    SELECT *, row_number() OVER (PARTITION BY predicate
                        ORDER BY cnt DESC, cls) AS rn
                    FROM d
                ) WHERE rn = 1
            )
            SELECT agg.predicate, n, n_numeric, n_date, n_id, n_other,
                   dominant,
                   round(cnt::DOUBLE * 1000000.0 / n::DOUBLE)::BIGINT
                       AS dominant_micro
            FROM agg JOIN win ON agg.predicate = win.predicate
        """,
        "graph_efficiency": """
            -- Σ round(1e6/d) over min-distance pairs, two-division
            -- finish (graph_analytics.global_efficiency)
            WITH RECURSIVE edges AS (
                SELECT doc_id AS s, (doc_id + 1) % 60 AS o
                FROM documents WHERE doc_id < 60
                UNION ALL
                SELECT doc_id, (doc_id + 7) % 60
                FROM documents WHERE doc_id < 60
            ), paths(s, o, d) AS (
                SELECT s, o, 1 FROM edges
                UNION
                SELECT p.s, e.o, p.d + 1
                FROM paths p JOIN edges e ON p.o = e.s WHERE p.d < 4
            ), md AS (
                SELECT s, o, min(d) AS d FROM paths GROUP BY 1, 2
            ), agg AS (
                SELECT count(*)::BIGINT AS n_pairs,
                       sum(round(1000000.0 / d::DOUBLE)::BIGINT)::BIGINT
                           AS s_micro
                FROM md WHERE s <> o
            ), nn AS (
                SELECT count(DISTINCT node)::BIGINT AS n_nodes FROM (
                    SELECT s AS node FROM edges
                    UNION ALL SELECT o FROM edges
                )
            )
            SELECT n_nodes, n_pairs AS n_reachable_pairs,
                   CASE WHEN n_nodes > 1 THEN round(
                       s_micro::DOUBLE
                       / (n_nodes * (n_nodes - 1))::DOUBLE
                       / 1000000.0, 6)
                   END AS efficiency
            FROM agg, nn
        """,
        "stat_paired_t": """
            -- d = qx − qy exact longs; t = Σd·√(n−1)/√(nΣd²−(Σd)²),
            -- scale cancels (stats.paired_t)
            WITH base AS (
                SELECT event_type, value,
                       lag(value) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev
                FROM events
            ), q AS (
                SELECT event_type,
                       round(value * 100)::BIGINT
                       - round(prev * 100)::BIGINT AS d
                FROM base WHERE value IS NOT NULL AND prev IS NOT NULL
            ), agg AS (
                SELECT event_type, count(*)::BIGINT AS n,
                       sum(d::HUGEINT) AS s, sum(d::HUGEINT * d) AS ss
                FROM q GROUP BY 1
            )
            SELECT event_type, n,
                   round((s::DOUBLE / 100.0) / n::DOUBLE, 6) AS mean_diff,
                   CASE WHEN n >= 2 AND n * ss - s * s > 0 THEN round(
                       s::DOUBLE * sqrt((n - 1)::DOUBLE)
                       / sqrt((n * ss - s * s)::DOUBLE), 6)
                   END AS t_stat,
                   (n - 1)::BIGINT AS df
            FROM agg
        """,
        "er_cannot_link": """
            -- constrained pairs the clustering merged anyway, canonical
            -- string order (canonicalize.cannot_link_violations)
            WITH asg AS (
                SELECT 'C' || c_custkey AS i, 'N' || c_nationkey AS c
                FROM customer
            ), cons AS (
                SELECT 'C' || c_custkey AS ra,
                       'C' || (c_custkey + 1) AS rb
                FROM customer WHERE c_custkey % 2 = 0
            ), norm AS (
                SELECT DISTINCT least(ra, rb) AS id_a,
                       greatest(ra, rb) AS id_b
                FROM cons WHERE ra <> rb
            )
            SELECT id_a, id_b, a.c AS cluster_id
            FROM norm
            JOIN asg a ON norm.id_a = a.i
            JOIN asg b ON norm.id_b = b.i
            WHERE a.c = b.c
        """,
        "graph_eccentricity": """
            -- depth-bounded recursive closure, min distance per pair,
            -- max + count per source (graph_analytics.eccentricity_profile)
            WITH RECURSIVE edges AS (
                SELECT doc_id AS s, (doc_id + 1) % 60 AS o
                FROM documents WHERE doc_id < 60
                UNION ALL
                SELECT doc_id, (doc_id + 7) % 60
                FROM documents WHERE doc_id < 60
            ), paths(s, o, d) AS (
                SELECT s, o, 1 FROM edges
                UNION
                SELECT p.s, e.o, p.d + 1
                FROM paths p JOIN edges e ON p.o = e.s WHERE p.d < 4
            ), md AS (
                SELECT s, o, min(d) AS d FROM paths GROUP BY 1, 2
            )
            SELECT s AS node, max(d)::BIGINT AS ecc,
                   count(*)::BIGINT AS n_reached
            FROM md GROUP BY 1
        """,
        "evt_median2p": """
            -- independent restatement: plain ordered LOWER median —
            -- proves the two-pass bucket walk lands on the same grid
            -- element (profiling.two_pass_median)
            WITH q AS (
                SELECT event_type, round(value * 100)::BIGINT AS qv
                FROM events WHERE value IS NOT NULL
            ), r AS (
                SELECT event_type, qv,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY qv) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM q
            )
            SELECT event_type, n::BIGINT AS n,
                   round(qv::DOUBLE / 100.0, 6) AS median
            FROM r WHERE rn = (n + 1) // 2
        """,
        "dq_inclusion": """
            -- distinct value sets tagged by column, one value-keyed
            -- self-join; containment = ONE exact-integer division
            -- (profiling.inclusion_dependencies)
            WITH tagged AS (
                SELECT DISTINCT 'c_custkey' AS cname, c_custkey::VARCHAR AS v
                FROM customer WHERE c_custkey IS NOT NULL
                UNION ALL SELECT DISTINCT 'o_custkey', o_custkey::VARCHAR
                FROM orders WHERE o_custkey IS NOT NULL
                UNION ALL SELECT DISTINCT 'n_nationkey', n_nationkey::VARCHAR
                FROM nation WHERE n_nationkey IS NOT NULL
                UNION ALL SELECT DISTINCT 'c_nationkey', c_nationkey::VARCHAR
                FROM customer WHERE c_nationkey IS NOT NULL
                UNION ALL SELECT DISTINCT 's_nationkey', s_nationkey::VARCHAR
                FROM supplier WHERE s_nationkey IS NOT NULL
                UNION ALL SELECT DISTINCT 'p_partkey', p_partkey::VARCHAR
                FROM part WHERE p_partkey IS NOT NULL
                UNION ALL SELECT DISTINCT 'l_partkey', l_partkey::VARCHAR
                FROM lineitem WHERE l_partkey IS NOT NULL
                UNION ALL SELECT DISTINCT 's_suppkey', s_suppkey::VARCHAR
                FROM supplier WHERE s_suppkey IS NOT NULL
                UNION ALL SELECT DISTINCT 'l_suppkey', l_suppkey::VARCHAR
                FROM lineitem WHERE l_suppkey IS NOT NULL
            ), totals AS (
                SELECT cname, count(*)::BIGINT AS n_a
                FROM tagged GROUP BY 1
            ), inter AS (
                SELECT a.cname AS col_a, b.cname AS col_b,
                       count(*)::BIGINT AS n_inter
                FROM tagged a JOIN tagged b
                  ON a.v = b.v AND a.cname <> b.cname
                GROUP BY 1, 2
            )
            SELECT col_a, col_b, n_a, n_inter,
                   round(n_inter::DOUBLE / n_a::DOUBLE, 6) AS containment,
                   (n_inter = n_a) AS is_ind
            FROM inter JOIN totals t ON inter.col_a = t.cname
        """,
        "graph_triads": """
            -- re-enumerates open paths + closing edges exactly; cycles
            -- collapse 3 rotations by integer div (graph_analytics.directed_triad_motifs)
            WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
            e AS (
                SELECT DISTINCT a, b FROM (
                    SELECT doc_id AS a, (doc_id + 1) % 50 AS b FROM d
                    UNION ALL SELECT doc_id, (doc_id + 2) % 50 FROM d
                    UNION ALL SELECT doc_id, (doc_id + 47) % 50 FROM d
                ) WHERE a <> b
            ), paths AS (
                SELECT e1.a, e1.b, e2.b AS c
                FROM e e1 JOIN e e2 ON e1.b = e2.a
                WHERE e2.b <> e1.a
            ), cyc AS (
                SELECT (count(*) // 3)::BIGINT AS cyclic_triangles
                FROM paths p JOIN e ON e.a = p.c AND e.b = p.a
            ), tr AS (
                SELECT count(*)::BIGINT AS transitive_triads
                FROM paths p
                WHERE EXISTS (SELECT 1 FROM e WHERE e.a = p.a AND e.b = p.c)
            ), ne AS (SELECT count(*)::BIGINT AS n_edges FROM e)
            SELECT n_edges, cyclic_triangles, transitive_triads
            FROM ne, cyc, tr
        """,
        "kg_inverse_predicates": """
            -- distinct facts joined to their own reversal on the (s,o) key;
            -- one division (relationships.inverse_predicate_scores)
            WITH t AS (
                SELECT DISTINCT subject_id, predicate, object_id FROM (
                    SELECT 'O' || l_orderkey AS subject_id,
                           'contains' AS predicate,
                           'P' || l_partkey AS object_id
                    FROM lineitem
                    UNION ALL
                    SELECT 'P' || l_partkey, 'contained_in', 'O' || l_orderkey
                    FROM lineitem WHERE l_quantity >= 20
                    UNION ALL
                    SELECT 'P' || l_partkey, 'from', 'S' || l_suppkey
                    FROM lineitem
                    UNION ALL
                    SELECT 'S' || l_suppkey, 'supplies', 'P' || l_partkey
                    FROM lineitem WHERE l_quantity >= 40
                )
            ), support AS (
                SELECT predicate, count(*)::BIGINT AS support FROM t GROUP BY 1
            ), ov AS (
                SELECT t1.predicate AS p, t2.predicate AS q,
                       count(*)::BIGINT AS overlap
                FROM t t1
                JOIN t t2 ON t1.subject_id = t2.object_id
                         AND t1.object_id = t2.subject_id
                GROUP BY 1, 2
            )
            SELECT p, q, sp.support AS support_p, sq.support AS support_q,
                   overlap,
                   round(overlap::DOUBLE / sp.support::DOUBLE, 6) AS confidence
            FROM ov
            JOIN support sp ON sp.predicate = p
            JOIN support sq ON sq.predicate = q
            WHERE overlap >= 1
        """,
        "text_discovery_curve": """
            -- equal-width doc_id buckets by exact integer div; first
            -- occurrence = min bucket (text_analysis.vocabulary_discovery_curve)
            WITH b AS (
                SELECT min(doc_id)::BIGINT AS lo,
                       (max(doc_id) - min(doc_id) + 1)::BIGINT AS span
                FROM documents
            ), db AS (
                SELECT least(9, ((doc_id - lo) * 10) // span)::BIGINT AS bucket,
                       text
                FROM documents, b
            ), tok AS (
                SELECT bucket,
                       unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
                FROM db
            ), tok2 AS (
                SELECT bucket, token FROM tok WHERE len(token) > 0
            ), dc AS (
                SELECT bucket, count(*)::BIGINT AS n_docs FROM db GROUP BY 1
            ), tc AS (
                SELECT bucket, count(*)::BIGINT AS n_tokens FROM tok2 GROUP BY 1
            ), fb AS (
                SELECT token, min(bucket) AS first_bucket FROM tok2 GROUP BY 1
            ), nt AS (
                SELECT first_bucket AS bucket, count(*)::BIGINT AS new_types
                FROM fb GROUP BY 1
            ), per AS (
                SELECT dc.bucket, dc.n_docs,
                       coalesce(tc.n_tokens, 0)::BIGINT AS n_tokens,
                       coalesce(nt.new_types, 0)::BIGINT AS new_types
                FROM dc LEFT JOIN tc USING (bucket) LEFT JOIN nt USING (bucket)
            )
            SELECT bucket, n_docs, n_tokens, new_types,
                   sum(n_tokens) OVER (ORDER BY bucket)::BIGINT AS tokens_cum,
                   sum(new_types) OVER (ORDER BY bucket)::BIGINT AS types_cum
            FROM per
        """,
        "stat_kruskal": """
            -- doubled midranks on the distinct value grid; per-group
            -- R²/n terms normalized by N(N+1) inside the fixed double
            -- sequence, micro-rounded once, summed exactly
            -- (stats.kruskal_wallis)
            WITH q AS (
                SELECT event_type AS g, round(value * 1000000)::BIGINT AS qv
                FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
            ), pvg AS (
                SELECT qv, g, count(*)::BIGINT AS t_g FROM q GROUP BY 1, 2
            ), pv AS (
                SELECT qv, sum(t_g)::BIGINT AS t FROM pvg GROUP BY 1
            ), r AS (
                SELECT qv, t,
                       (2 * (sum(t) OVER (ORDER BY qv ROWS UNBOUNDED PRECEDING) - t)
                        + t + 1)::BIGINT AS r2
                FROM pv
            ), pg AS (
                SELECT g, sum(t_g)::BIGINT AS n_g,
                       sum(t_g::HUGEINT * r2) AS r2_g
                FROM pvg JOIN r USING (qv) GROUP BY 1
            ), tot AS (
                SELECT sum(t)::BIGINT AS n,
                       sum(t::HUGEINT * t * t - t) AS ties_t
                FROM r
            ), terms AS (
                SELECT n, ties_t,
                       round(r2_g::DOUBLE * r2_g::DOUBLE
                             / (4.0 * n_g::DOUBLE * n::DOUBLE * (n::DOUBLE + 1.0))
                             * 1000000000.0)::BIGINT AS tm
                FROM pg, tot
            ), s AS (
                SELECT n, ties_t, sum(tm)::BIGINT AS s_nano,
                       count(*)::BIGINT AS k
                FROM terms GROUP BY 1, 2
            )
            SELECT n, k, (k - 1)::BIGINT AS dof,
                   round(12.0 * s_nano::DOUBLE / 1000000000.0
                         - 3.0 * (n::DOUBLE + 1.0), 6) AS h,
                   CASE WHEN (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE) > 0
                             AND (1.0 - ties_t::DOUBLE
                                  / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)) > 0
                        THEN round((12.0 * s_nano::DOUBLE / 1000000000.0
                                    - 3.0 * (n::DOUBLE + 1.0))
                                   / (1.0 - ties_t::DOUBLE
                                      / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)), 6)
                   END AS h_tie_corrected
            FROM s
        """,
        "stat_cochran_armitage": """
            -- z = Σw(x·N − n·X) / √(X(N−X)(NΣw²n − (Σwn)²)/N); numerator
            -- and radicand factors exact wide integers, one sqrt
            -- (stats.cochran_armitage)
            WITH q AS (
                SELECT left(o_orderpriority, 1)::BIGINT AS w,
                       (o_orderstatus = 'F')::INT AS s
                FROM orders
                WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
            ), pg AS (
                SELECT w, count(*)::BIGINT AS n_g, sum(s)::BIGINT AS x_g
                FROM q GROUP BY 1
            ), tot AS (
                SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
                       sum(x_g)::BIGINT AS x,
                       sum(w::HUGEINT * n_g) AS swn,
                       sum(w::HUGEINT * w * n_g) AS swwn,
                       sum(w::HUGEINT * x_g) AS swx
                FROM pg
            )
            SELECT k, n, x,
                   CASE WHEN x::DOUBLE * (n::DOUBLE - x::DOUBLE)
                             * (n::HUGEINT * swwn - swn * swn)::DOUBLE
                             / n::DOUBLE > 0
                        THEN round((n::HUGEINT * swx - x::HUGEINT * swn)::DOUBLE
                                   / sqrt(x::DOUBLE * (n::DOUBLE - x::DOUBLE)
                                          * (n::HUGEINT * swwn - swn * swn)::DOUBLE
                                          / n::DOUBLE), 6)
                   END AS z
            FROM tot
        """,
        "stat_poisson_rate": """
            -- rates over observed spans (whole seconds, exact longs);
            -- z = (r_a − r_b)/√(λ̂(1/T_a + 1/T_b)) as one fixed double
            -- sequence (stats.poisson_rate_test)
            WITH a AS (
                SELECT count(*)::BIGINT AS n_a,
                       (max(epoch_us(ts) // 1000000)
                        - min(epoch_us(ts) // 1000000))::BIGINT AS span_a_sec
                FROM events WHERE event_type = 'error' AND ts IS NOT NULL
            ), b AS (
                SELECT count(*)::BIGINT AS n_b,
                       (max(epoch_us(ts) // 1000000)
                        - min(epoch_us(ts) // 1000000))::BIGINT AS span_b_sec
                FROM events WHERE event_type = 'click' AND ts IS NOT NULL
            )
            SELECT n_a, n_b, span_a_sec, span_b_sec,
                   CASE WHEN span_a_sec > 0
                        THEN round(n_a::DOUBLE / span_a_sec::DOUBLE, 6) END AS rate_a,
                   CASE WHEN span_b_sec > 0
                        THEN round(n_b::DOUBLE / span_b_sec::DOUBLE, 6) END AS rate_b,
                   CASE WHEN span_a_sec > 0 AND span_b_sec > 0
                             AND (n_a::DOUBLE + n_b::DOUBLE)
                                 / (span_a_sec::DOUBLE + span_b_sec::DOUBLE)
                                 * (1.0 / span_a_sec::DOUBLE
                                    + 1.0 / span_b_sec::DOUBLE) > 0
                        THEN round((n_a::DOUBLE / span_a_sec::DOUBLE
                                    - n_b::DOUBLE / span_b_sec::DOUBLE)
                                   / sqrt((n_a::DOUBLE + n_b::DOUBLE)
                                          / (span_a_sec::DOUBLE + span_b_sec::DOUBLE)
                                          * (1.0 / span_a_sec::DOUBLE
                                             + 1.0 / span_b_sec::DOUBLE)), 6)
                   END AS z
            FROM a, b
        """,
        "stat_mcnemar": """
            -- discordant cells of the classifier gate vs the E1 rule on
            -- the same docs; exact longs, one division per statistic
            -- (stats.mcnemar)
            WITH f AS (
                SELECT doc_id,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
                       len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                               'that','for','on','with','as','was','at','by','be'],
                                              lower(t))))::DOUBLE
                           / len(string_split_regex(trim(text), '\\s+')) AS stopword_ratio,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
                FROM documents
            ), z AS (
                SELECT doc_id,
                       round(-2.0 + 3.0 * alpha_ratio + 2.5 * stopword_ratio
                             + (-4.0) * punct_ratio
                             + 1.5 * least(1.0, n_tokens / 200.0), 6) AS logit
                FROM f
            ), ga AS (
                SELECT doc_id, round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS a
                FROM z
            ), gb AS (
                SELECT doc_id,
                       (n_chars >= 300 AND lang IN ('en', 'de', 'es')) AS b
                FROM documents
            ), p AS (
                SELECT ga.a AS a, gb.b AS b
                FROM ga JOIN gb USING (doc_id)
                WHERE ga.a IS NOT NULL AND gb.b IS NOT NULL
            ), t AS (
                SELECT count(*)::BIGINT AS n,
                       sum((a AND NOT b)::INT)::BIGINT AS b,
                       sum((NOT a AND b)::INT)::BIGINT AS c
                FROM p
            )
            SELECT n, b, c,
                   CASE WHEN b + c > 0
                        THEN round((b::DOUBLE - c::DOUBLE) * (b::DOUBLE - c::DOUBLE)
                                   / (b::DOUBLE + c::DOUBLE), 6) END AS chi2,
                   CASE WHEN b + c > 0
                        THEN round((abs(b::DOUBLE - c::DOUBLE) - 1.0)
                                   * (abs(b::DOUBLE - c::DOUBLE) - 1.0)
                                   / (b::DOUBLE + c::DOUBLE), 6) END AS chi2_corrected
            FROM t
        """,
        "stat_logrank": """
            -- two-group log-rank on right-censored session durations
            -- (30-min gap sessions; weekend cohort from pure epoch-day
            -- arithmetic); micro-rounded hypergeometric terms summed
            -- exactly, one sqrt (survival.logrank_test)
            WITH marked AS (
                SELECT user_id, epoch_us(ts) AS us,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                            THEN 1 ELSE 0 END AS _new
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
            ), sess AS (
                SELECT user_id, us,
                       sum(_new) OVER (PARTITION BY user_id ORDER BY us
                                       ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            ), per_s AS (
                SELECT user_id, sid, min(us) AS smin, max(us) AS smax
                FROM sess GROUP BY 1, 2
            ), h AS (SELECT max(smax) AS gmax FROM per_s),
            lt AS (
                SELECT (smax - smin) // 1000000 AS dur,
                       (smax <= gmax - 1800 * 1000000)::INT AS e,
                       (((((smin // 1000000) // 86400) + 4) % 7) IN (0, 6))::INT AS g
                FROM per_s, h
            ), pt AS (
                SELECT dur AS t, sum(e)::BIGINT AS d, sum(e * g)::BIGINT AS d1,
                       count(*)::BIGINT AS leave, sum(g)::BIGINT AS leave1
                FROM lt GROUP BY 1
            ), tot AS (
                SELECT sum(leave)::BIGINT AS n, sum(leave1)::BIGINT AS n1 FROM pt
            ), r AS (
                SELECT t, d, d1,
                       (n - (sum(leave) OVER w - leave))::BIGINT AS nr,
                       (n1 - (sum(leave1) OVER w - leave1))::BIGINT AS nr1
                FROM pt, tot
                WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
            ), terms AS (
                SELECT d1,
                       round(d::DOUBLE * nr1::DOUBLE / nr::DOUBLE * 1000000.0)::BIGINT AS et,
                       CASE WHEN nr >= 2
                            THEN round(d::DOUBLE * (nr1::DOUBLE / nr::DOUBLE)
                                       * (1.0 - nr1::DOUBLE / nr::DOUBLE)
                                       * (nr::DOUBLE - d::DOUBLE)
                                       / (nr::DOUBLE - 1.0) * 1000000.0)::BIGINT
                            ELSE 0 END AS vt
                FROM r WHERE d > 0
            ), fold AS (
                SELECT sum(d1)::BIGINT AS o1, sum(et)::BIGINT AS e1u,
                       sum(vt)::BIGINT AS vu
                FROM terms
            )
            SELECT n, n1, o1,
                   round(e1u::DOUBLE / 1000000.0, 6) AS e1,
                   round(vu::DOUBLE / 1000000.0, 6) AS v,
                   CASE WHEN vu > 0
                        THEN round((o1::DOUBLE - e1u::DOUBLE / 1000000.0)
                                   / sqrt(vu::DOUBLE / 1000000.0), 6) END AS z,
                   CASE WHEN vu > 0
                        THEN round(((o1::DOUBLE - e1u::DOUBLE / 1000000.0)
                                    / sqrt(vu::DOUBLE / 1000000.0))
                                   * ((o1::DOUBLE - e1u::DOUBLE / 1000000.0)
                                      / sqrt(vu::DOUBLE / 1000000.0)), 6) END AS chi2
            FROM fold, tot
        """,
        "eval_auc_roc": """
            -- exact rank-based AUC (Mann-Whitney identity) on the distinct
            -- stored-double grid: doubled midranks, wide-int numerator,
            -- ONE division (eval_metrics.auc_roc)
            WITH q AS (
                SELECT value AS s, (event_type = 'purchase')::INT AS y
                FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL
            ), ps AS (
                SELECT s, count(*)::BIGINT AS t, sum(y)::BIGINT AS p
                FROM q GROUP BY 1
            ), r AS (
                SELECT p, t,
                       (2 * (sum(t) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) - t)
                        + t + 1)::BIGINT AS r2
                FROM ps
            ), tot AS (
                SELECT sum(p)::BIGINT AS n_pos, sum(t - p)::BIGINT AS n_neg,
                       sum(p::HUGEINT * r2) AS r2_pos
                FROM r
            )
            SELECT n_pos, n_neg,
                   CASE WHEN n_pos > 0 AND n_neg > 0
                        THEN round((r2_pos - n_pos::HUGEINT * (n_pos + 1))::DOUBLE
                                   / (2::HUGEINT * n_pos * n_neg)::DOUBLE, 6)
                   END AS auc,
                   CASE WHEN n_pos > 0 AND n_neg > 0
                        THEN round(2.0 * ((r2_pos - n_pos::HUGEINT * (n_pos + 1))::DOUBLE
                                   / (2::HUGEINT * n_pos * n_neg)::DOUBLE) - 1.0, 6)
                   END AS gini
            FROM tot
        """,
        "eval_calibration": """
            -- reliability bins of the classifier prob vs lang='en':
            -- micro-quantized confidence sums (exact longs), exact
            -- accuracy, exact-integer ECE contribution per bin
            -- (eval_metrics.calibration_bins)
            WITH f AS (
                SELECT doc_id,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
                       len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                               'that','for','on','with','as','was','at','by','be'],
                                              lower(t))))::DOUBLE
                           / len(string_split_regex(trim(text), '\\s+')) AS stopword_ratio,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
                FROM documents
            ), z AS (
                SELECT doc_id,
                       round(-2.0 + 3.0 * alpha_ratio + 2.5 * stopword_ratio
                             + (-4.0) * punct_ratio
                             + 1.5 * least(1.0, n_tokens / 200.0), 6) AS logit
                FROM f
            ), sc AS (
                SELECT z.doc_id, round(1.0 / (1.0 + exp(-logit)), 6) AS prob,
                       (d.lang = 'en') AS y
                FROM z JOIN documents d USING (doc_id)
            ), q AS (
                SELECT round(prob * 1000000.0)::BIGINT AS pm, y::INT AS y
                FROM sc WHERE prob IS NOT NULL AND y IS NOT NULL
            ), agg AS (
                SELECT least(floor(pm * 10 / 1000000), 9)::BIGINT AS bin,
                       count(*)::BIGINT AS n, sum(pm)::BIGINT AS pms,
                       sum(y)::BIGINT AS pos
                FROM q GROUP BY 1
            )
            SELECT bin, n,
                   round(pms::DOUBLE / (n::DOUBLE * 1000000.0), 6) AS confidence,
                   round(pos::DOUBLE / n::DOUBLE, 6) AS accuracy,
                   -- difference of the ROUNDED columns: tie-free by
                   -- construction (see eval_metrics.calibration_bins)
                   round(round(pms::DOUBLE / (n::DOUBLE * 1000000.0), 6)
                         - round(pos::DOUBLE / n::DOUBLE, 6), 6) AS gap,
                   abs(pms - pos * 1000000)::BIGINT AS weighted_gap_micro
            FROM agg
        """,
        "evt_kaplan_meier": """
            -- Kaplan-Meier product limit on right-censored session
            -- durations (30-min gap sessions): exact at-risk prefix sums
            -- on the duration grid, nano-rounded ln(1 - d/n) terms summed
            -- exactly, one exp (survival.kaplan_meier)
            WITH marked AS (
                SELECT user_id, epoch_us(ts) AS us,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                            THEN 1 ELSE 0 END AS _new
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
            ), sess AS (
                SELECT user_id, us,
                       sum(_new) OVER (PARTITION BY user_id ORDER BY us
                                       ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            ), per_s AS (
                SELECT user_id, sid, min(us) AS smin, max(us) AS smax
                FROM sess GROUP BY 1, 2
            ), h AS (SELECT max(smax) AS gmax FROM per_s),
            lt AS (
                SELECT (smax - smin) // 1000000 AS dur,
                       (smax <= gmax - 1800 * 1000000)::INT AS e
                FROM per_s, h
            ), g AS (
                SELECT dur AS t, sum(e)::BIGINT AS d, sum(1 - e)::BIGINT AS c
                FROM lt GROUP BY 1
            ), tot AS (SELECT sum(d + c)::BIGINT AS nn FROM g),
            r AS (
                SELECT t, d, c AS censored,
                       (nn - (sum(d + c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                              - (d + c)))::BIGINT AS n_risk
                FROM g, tot
            ), ev AS (
                SELECT t, n_risk, d, censored,
                       CASE WHEN d < n_risk
                            THEN round(ln(1.0 - d::DOUBLE / n_risk::DOUBLE)
                                       * 1000000000.0)::BIGINT END AS lnn,
                       (d = n_risk)::INT AS dead
                FROM r WHERE d > 0
            ), st AS (
                SELECT t, n_risk, d, censored,
                       sum(lnn) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lns,
                       max(dead) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS deadc
                FROM ev
            )
            SELECT t, n_risk, d, censored,
                   CASE WHEN deadc = 1 THEN 0.0
                        ELSE round(exp(lns::DOUBLE / 1000000000.0), 6)
                   END AS survival
            FROM st
        """,
        "evt_nelson_aalen": """
            -- Nelson-Aalen cumulative hazard on the censored session
            -- durations: exact at-risk prefix sums, nano-rounded d/n
            -- increments summed exactly, Fleming-Harrington exp(-H)
            -- (survival.nelson_aalen)
            WITH marked AS (
                SELECT user_id, epoch_us(ts) AS us,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                            THEN 1 ELSE 0 END AS _new
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
            ), sess AS (
                SELECT user_id, us,
                       sum(_new) OVER (PARTITION BY user_id ORDER BY us
                                       ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            ), per_s AS (
                SELECT user_id, sid, min(us) AS smin, max(us) AS smax
                FROM sess GROUP BY 1, 2
            ), h AS (SELECT max(smax) AS gmax FROM per_s),
            lt AS (
                SELECT (smax - smin) // 1000000 AS dur,
                       (smax <= gmax - 1800 * 1000000)::INT AS e
                FROM per_s, h
            ), g AS (
                SELECT dur AS t, sum(e)::BIGINT AS d, sum(1 - e)::BIGINT AS c
                FROM lt GROUP BY 1
            ), tot AS (SELECT sum(d + c)::BIGINT AS nn FROM g),
            r AS (
                SELECT t, d, c AS censored,
                       (nn - (sum(d + c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                              - (d + c)))::BIGINT AS n_risk
                FROM g, tot
            ), ev AS (
                SELECT t, n_risk, d, censored,
                       round(d::DOUBLE / n_risk::DOUBLE * 1000000000.0)::BIGINT AS inc
                FROM r WHERE d > 0
            ), st AS (
                SELECT t, n_risk, d, censored,
                       sum(inc) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS hn
                FROM ev
            )
            SELECT t, n_risk, d, censored,
                   round(hn::DOUBLE / 1000000000.0, 6) AS cumhaz,
                   round(exp(-(hn::DOUBLE / 1000000000.0)), 6) AS survival_fh
            FROM st
        """,
        "stat_jsd": """
            -- JSD between weekend/weekday event-type mixes: per-category
            -- 0.5·p·ln(p/m) + 0.5·q·ln(q/m) terms nano-rounded once and
            -- summed exactly (stats.jensen_shannon)
            WITH q AS (
                SELECT event_type AS key,
                       (date_part('dow', ts) IN (0, 6))::INT AS s
                FROM events
                WHERE event_type IS NOT NULL AND ts IS NOT NULL
            ), pk AS (
                SELECT key, sum(1 - s)::BIGINT AS a, sum(s)::BIGINT AS b
                FROM q GROUP BY 1
            ), tot AS (
                SELECT count(*)::BIGINT AS k, sum(a)::BIGINT AS n_a,
                       sum(b)::BIGINT AS n_b
                FROM pk
            ), terms AS (
                SELECT k, n_a, n_b,
                       round((CASE WHEN a > 0
                                   THEN 0.5 * (a::DOUBLE / n_a::DOUBLE)
                                        * ln((a::DOUBLE / n_a::DOUBLE)
                                             / ((a::DOUBLE / n_a::DOUBLE
                                                 + b::DOUBLE / n_b::DOUBLE) / 2.0))
                                   ELSE 0.0 END
                              + CASE WHEN b > 0
                                     THEN 0.5 * (b::DOUBLE / n_b::DOUBLE)
                                          * ln((b::DOUBLE / n_b::DOUBLE)
                                               / ((a::DOUBLE / n_a::DOUBLE
                                                   + b::DOUBLE / n_b::DOUBLE) / 2.0))
                                     ELSE 0.0 END) * 1000000000.0)::BIGINT AS tn
                FROM pk, tot
            ), s AS (
                SELECT k, n_a, n_b, sum(tn)::BIGINT AS tns
                FROM terms GROUP BY 1, 2, 3
            )
            SELECT k, n_a, n_b,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round(tns::DOUBLE / 1000000000.0, 6) END AS jsd_nats,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round(tns::DOUBLE / 1000000000.0 / ln(2.0), 6)
                   END AS jsd_bits
            FROM s
        """,
        "stat_friedman": """
            -- Friedman within-block rank test: user×type micro-grid mean
            -- cells, complete blocks only, doubled midranks per block,
            -- Q = 3·ΣR2² / (n·k·(k+1)) − 3·n·(k+1) (stats.friedman)
            WITH cells AS (
                SELECT user_id AS blk, event_type AS trt,
                       sum(round(value * 1000000)::BIGINT)::HUGEINT::DOUBLE
                           / count(*)::DOUBLE AS v
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                      AND value IS NOT NULL
                GROUP BY 1, 2
            ), kr AS (SELECT count(DISTINCT trt)::BIGINT AS k FROM cells),
            complete AS (
                SELECT blk FROM cells, kr GROUP BY blk, k
                HAVING count(*) = any_value(k)
            ), cc AS (
                SELECT cells.* FROM cells JOIN complete USING (blk)
            ), per_bv AS (
                SELECT blk, v, count(*)::BIGINT AS t FROM cc GROUP BY 1, 2
            ), ranked AS (
                SELECT blk, v, t,
                       (2 * (sum(t) OVER (PARTITION BY blk ORDER BY v
                                          ROWS UNBOUNDED PRECEDING) - t)
                        + t + 1)::BIGINT AS r2
                FROM per_bv
            ), per_trt AS (
                SELECT trt, sum(r2::HUGEINT) AS r2_j
                FROM cc JOIN ranked USING (blk, v) GROUP BY 1
            ), ties AS (
                SELECT sum(t::HUGEINT * t * t - t) AS ties_t FROM per_bv
            ), nr AS (SELECT count(*)::BIGINT AS n_blocks FROM complete),
            folded AS (
                SELECT sum(r2_j * r2_j) AS sr2 FROM per_trt
            )
            SELECT n_blocks, k, (k - 1)::BIGINT AS dof,
                   CASE WHEN n_blocks > 0 AND k >= 2
                        THEN round(3.0 * sr2::DOUBLE
                                   / (n_blocks::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0))
                                   - 3.0 * n_blocks::DOUBLE * (k::DOUBLE + 1.0), 6)
                   END AS q,
                   CASE WHEN n_blocks > 0 AND k >= 2
                             AND (1.0 - ties_t::DOUBLE
                                  / (n_blocks::DOUBLE * k::DOUBLE
                                     * (k::DOUBLE * k::DOUBLE - 1.0))) > 0
                        THEN round((3.0 * sr2::DOUBLE
                                    / (n_blocks::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0))
                                    - 3.0 * n_blocks::DOUBLE * (k::DOUBLE + 1.0))
                                   / (1.0 - ties_t::DOUBLE
                                      / (n_blocks::DOUBLE * k::DOUBLE
                                         * (k::DOUBLE * k::DOUBLE - 1.0))), 6)
                   END AS q_tie_corrected
            FROM folded, kr, nr, ties
        """,
        "stat_jt": """
            -- Jonckheere-Terpstra: exact 2J on the dense (cents grid ×
            -- band) frame, Hollander-Wolfe tie-corrected moments, one
            -- sqrt (stats.jonckheere_terpstra)
            WITH q AS (
                SELECT left(o_orderpriority, 1)::BIGINT AS g,
                       round(o_totalprice * 100)::BIGINT AS qv
                FROM orders
                WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
            ), pvg AS (
                SELECT qv, g, count(*)::BIGINT AS t FROM q GROUP BY 1, 2
            ), grid AS (SELECT DISTINCT qv FROM pvg),
            grp AS (SELECT DISTINCT g FROM pvg),
            dense AS (
                SELECT grid.qv, grp.g, coalesce(pvg.t, 0)::BIGINT AS t
                FROM grid CROSS JOIN grp
                LEFT JOIN pvg ON pvg.qv = grid.qv AND pvg.g = grp.g
            ), cum AS (
                SELECT qv, g, t,
                       (sum(t) OVER (PARTITION BY g ORDER BY qv
                                     ROWS UNBOUNDED PRECEDING) - t)::BIGINT AS cum_lt
                FROM dense
            ), pairs AS (
                SELECT h.t AS t_h, c.cum_lt, c.t AS t_g
                FROM pvg h JOIN cum c ON c.qv = h.qv AND c.g < h.g
            ), s2j AS (
                SELECT sum(t_h::HUGEINT * (2::HUGEINT * cum_lt + t_g)) AS s2
                FROM pairs
            ), per_g AS (
                SELECT g, sum(t)::BIGINT AS n_g FROM pvg GROUP BY 1
            ), g_tot AS (
                SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
                       sum(n_g::HUGEINT * n_g) AS sn2,
                       sum(n_g::HUGEINT * (n_g - 1) * (2 * n_g + 5)) AS g1,
                       sum(n_g::HUGEINT * (n_g - 1) * (n_g - 2)) AS g2,
                       sum(n_g::HUGEINT * (n_g - 1)) AS g3
                FROM per_g
            ), per_v AS (
                SELECT qv, sum(t)::BIGINT AS tv FROM pvg GROUP BY 1
            ), t_tot AS (
                SELECT sum(tv::HUGEINT * (tv - 1) * (2 * tv + 5)) AS t1,
                       sum(tv::HUGEINT * (tv - 1) * (tv - 2)) AS t2,
                       sum(tv::HUGEINT * (tv - 1)) AS t3
                FROM per_v
            )
            SELECT n, k,
                   round(s2::DOUBLE / 2.0, 6) AS j,
                   round((n::HUGEINT * n - sn2)::DOUBLE / 4.0, 6) AS e_j,
                   CASE WHEN k >= 2 AND n >= 3
                             AND ((n::HUGEINT * (n - 1) * (2 * n + 5) - g1 - t1)::DOUBLE / 72.0
                                  + (g2 * t2)::DOUBLE
                                    / (36.0 * n::DOUBLE * (n::DOUBLE - 1.0) * (n::DOUBLE - 2.0))
                                  + (g3 * t3)::DOUBLE
                                    / (8.0 * n::DOUBLE * (n::DOUBLE - 1.0))) > 0
                        THEN round((s2::DOUBLE / 2.0
                                    - (n::HUGEINT * n - sn2)::DOUBLE / 4.0)
                                   / sqrt((n::HUGEINT * (n - 1) * (2 * n + 5) - g1 - t1)::DOUBLE / 72.0
                                          + (g2 * t2)::DOUBLE
                                            / (36.0 * n::DOUBLE * (n::DOUBLE - 1.0) * (n::DOUBLE - 2.0))
                                          + (g3 * t3)::DOUBLE
                                            / (8.0 * n::DOUBLE * (n::DOUBLE - 1.0))), 6)
                   END AS z
            FROM s2j, g_tot, t_tot
        """,
        "evt_rmst": """
            -- RMST: exact step integral of the Kaplan-Meier curve over
            -- the first 600 s — micro-rounded segment areas summed
            -- exactly (survival.restricted_mean_survival)
            WITH marked AS (
                SELECT user_id, epoch_us(ts) AS us,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                            THEN 1 ELSE 0 END AS _new
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
            ), sess AS (
                SELECT user_id, us,
                       sum(_new) OVER (PARTITION BY user_id ORDER BY us
                                       ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            ), per_s AS (
                SELECT user_id, sid, min(us) AS smin, max(us) AS smax
                FROM sess GROUP BY 1, 2
            ), h AS (SELECT max(smax) AS gmax FROM per_s),
            lt AS (
                SELECT (smax - smin) // 1000000 AS dur,
                       (smax <= gmax - 1800 * 1000000)::INT AS e
                FROM per_s, h
            ), g AS (
                SELECT dur AS t, sum(e)::BIGINT AS d, sum(1 - e)::BIGINT AS c
                FROM lt GROUP BY 1
            ), tot AS (SELECT sum(d + c)::BIGINT AS nn FROM g),
            r AS (
                SELECT t, d,
                       (nn - (sum(d + c) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                              - (d + c)))::BIGINT AS n_risk
                FROM g, tot
            ), ev AS (
                SELECT t, n_risk, d,
                       CASE WHEN d < n_risk
                            THEN round(ln(1.0 - d::DOUBLE / n_risk::DOUBLE)
                                       * 1000000000.0)::BIGINT END AS lnn,
                       (d = n_risk)::INT AS dead
                FROM r WHERE d > 0
            ), st AS (
                SELECT t, d,
                       sum(lnn) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lns,
                       max(dead) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS deadc
                FROM ev
            ), km AS (
                SELECT t, d,
                       CASE WHEN deadc = 1 THEN 0.0
                            ELSE round(exp(lns::DOUBLE / 1000000000.0), 6)
                       END AS survival
                FROM st WHERE t <= 600
            ), seg AS (
                SELECT t, d, survival,
                       lag(t, 1, 0) OVER (ORDER BY t) AS pt,
                       lag(survival, 1, 1.0) OVER (ORDER BY t) AS ps
                FROM km
            ), folded AS (
                SELECT sum(round(ps * (t - pt)::DOUBLE * 1000000.0)::BIGINT)::BIGINT AS amid,
                       sum(d)::BIGINT AS d_events,
                       max_by(survival, t) AS last_s, max(t) AS last_t
                FROM seg
            ), nrow AS (SELECT sum(d + c)::BIGINT AS n FROM g)
            SELECT 600::BIGINT AS tau, n,
                   coalesce(d_events, 0)::BIGINT AS d_events,
                   round((coalesce(amid, 0)
                          + round(coalesce(last_s, 1.0)
                                  * (600 - coalesce(last_t, 0))::DOUBLE
                                  * 1000000.0)::BIGINT)::DOUBLE / 1000000.0, 6)
                       AS rmst_sec
            FROM folded, nrow
        """,
        "text_chao1": """
            -- Chao1 bias-corrected richness + Good-Turing unseen mass
            -- from exact singleton/doubleton counts on the lowercased
            -- whitespace token grid (text_analysis.chao1_richness)
            WITH tok AS (
                SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
                FROM documents WHERE text IS NOT NULL
            ), per_w AS (
                SELECT w, count(*)::BIGINT AS n FROM tok GROUP BY 1
            ), agg AS (
                SELECT sum(n)::BIGINT AS n_tokens,
                       count(*)::BIGINT AS n_types,
                       sum((n = 1)::INT)::BIGINT AS f1,
                       sum((n = 2)::INT)::BIGINT AS f2
                FROM per_w
            )
            SELECT n_tokens, n_types, f1, f2,
                   round(n_types::DOUBLE
                         + f1::DOUBLE * (f1::DOUBLE - 1.0)
                           / (2.0 * (f2::DOUBLE + 1.0)), 6) AS chao1,
                   CASE WHEN n_tokens > 0
                        THEN round(f1::DOUBLE / n_tokens::DOUBLE, 6)
                   END AS unseen_mass
            FROM agg
        """,
        "stat_capture_recapture": """
            -- Chapman capture-recapture of the distinct-part population
            -- from two 10-percent-of-orders captures: exact estimator
            -- and SE, one division + one sqrt (stats.capture_recapture)
            WITH q AS (
                SELECT l_partkey AS key,
                       (l_orderkey % 10 = 1)::INT AS s
                FROM lineitem
                WHERE l_partkey IS NOT NULL AND l_orderkey % 10 IN (0, 1)
            ), per_k AS (
                SELECT key, max(1 - s)::INT AS in1, max(s)::INT AS in2
                FROM q GROUP BY 1
            ), t AS (
                SELECT sum(in1)::BIGINT AS n1, sum(in2)::BIGINT AS n2,
                       sum(in1 * in2)::BIGINT AS m,
                       count(*)::BIGINT AS n_seen
                FROM per_k
            )
            SELECT n1, n2, m, n_seen,
                   round(((n1 + 1)::HUGEINT * (n2 + 1))::DOUBLE
                         / (m::DOUBLE + 1.0) - 1.0, 6) AS chapman,
                   CASE WHEN ((n1 + 1)::HUGEINT * (n2 + 1) * (n1 - m) * (n2 - m))::DOUBLE
                             / ((m::DOUBLE + 1.0) * (m::DOUBLE + 1.0)
                                * (m::DOUBLE + 2.0)) > 0
                        THEN round(sqrt(((n1 + 1)::HUGEINT * (n2 + 1) * (n1 - m)
                                         * (n2 - m))::DOUBLE
                                        / ((m::DOUBLE + 1.0) * (m::DOUBLE + 1.0)
                                           * (m::DOUBLE + 2.0))), 6)
                   END AS se
            FROM t
        """,
        "evt_sprt": """
            -- Wald SPRT daily monitor: per-day exact (x, n), nano-rounded
            -- LLR increments prefix-summed exactly, literal-double
            -- boundaries (event_analytics.sprt_monitor)
            WITH per_d AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
                       count(*)::BIGINT AS n,
                       sum((event_type = 'purchase')::INT)::BIGINT AS x
                FROM events
                WHERE ts IS NOT NULL AND event_type IS NOT NULL
                GROUP BY 1
            ), cum AS (
                SELECT day, n, x,
                       sum(n) OVER w::BIGINT AS n_cum,
                       sum(x) OVER w::BIGINT AS x_cum,
                       sum(round((x::DOUBLE * ln(0.25 / 0.1875)
                                  + (n - x)::DOUBLE * ln((1.0 - 0.25) / (1.0 - 0.1875)))
                                 * 1000000000.0)::BIGINT) OVER w AS lln
                FROM per_d
                WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
            )
            SELECT day, n, x, n_cum, x_cum,
                   round(lln::DOUBLE / 1000000000.0, 6) AS llr,
                   CASE WHEN lln::DOUBLE / 1000000000.0 >= ln((1.0 - 0.05) / 0.05)
                            THEN 'accept_h1'
                        WHEN lln::DOUBLE / 1000000000.0 <= ln(0.05 / (1.0 - 0.05))
                            THEN 'accept_h0'
                        ELSE 'continue' END AS decision
            FROM cum
        """,
        "evt_pettitt": """
            -- Pettitt rank changepoint on the daily mean series: exact
            -- doubled-midrank U_t, earliest max |U|, one exp
            -- (event_analytics.pettitt_test)
            WITH per_d AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       sum(round(value * 1000000)::BIGINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS v
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), pv AS (
                SELECT v, count(*)::BIGINT AS tc FROM per_d GROUP BY 1
            ), rk AS (
                SELECT v,
                       (2 * (sum(tc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - tc)
                        + tc + 1)::BIGINT AS r2
                FROM pv
            ), tot AS (SELECT count(*)::BIGINT AS n FROM per_d),
            cum AS (
                SELECT t, n,
                       (sum(r2) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                        - row_number() OVER (ORDER BY t) * (n + 1))::BIGINT AS u,
                       row_number() OVER (ORDER BY t) AS i
                FROM per_d JOIN rk USING (v), tot
            )
            SELECT n, t AS t_star, u AS u_star, abs(u)::BIGINT AS k_u,
                   round(least(1.0,
                               2.0 * exp(-6.0 * (abs(u)::DOUBLE * abs(u)::DOUBLE)
                                         / (n::DOUBLE * n::DOUBLE * n::DOUBLE
                                            + n::DOUBLE * n::DOUBLE))), 6) AS p_approx
            FROM cum WHERE i < n
            ORDER BY abs(u) DESC, t ASC LIMIT 1
        """,
        "evt_ewma": """
            -- EWMA control chart on the daily mean series: k=8 truncated
            -- EMA (exact shifted longs) + steady-state 3sigma/sqrt(3)
            -- limits from exact micro moments (event_analytics.ewma_chart)
            WITH per_d AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       sum(round(value * 1000000)::BIGINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS v
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), q AS (
                SELECT t, v, round(v * 1000000)::BIGINT AS qv FROM per_d
            ), lagged AS (
                SELECT t, v, qv,
                       lag(qv, 1) OVER w AS l1, lag(qv, 2) OVER w AS l2,
                       lag(qv, 3) OVER w AS l3, lag(qv, 4) OVER w AS l4,
                       lag(qv, 5) OVER w AS l5, lag(qv, 6) OVER w AS l6,
                       lag(qv, 7) OVER w AS l7
                FROM q
                WINDOW w AS (ORDER BY t)
            ), e AS (
                SELECT t, v,
                       round((qv * 128 + coalesce(l1, 0) * 64
                              + coalesce(l2, 0) * 32 + coalesce(l3, 0) * 16
                              + coalesce(l4, 0) * 8 + coalesce(l5, 0) * 4
                              + coalesce(l6, 0) * 2 + coalesce(l7, 0))::DOUBLE
                             / ((128
                                 + CASE WHEN l1 IS NOT NULL THEN 64 ELSE 0 END
                                 + CASE WHEN l2 IS NOT NULL THEN 32 ELSE 0 END
                                 + CASE WHEN l3 IS NOT NULL THEN 16 ELSE 0 END
                                 + CASE WHEN l4 IS NOT NULL THEN 8 ELSE 0 END
                                 + CASE WHEN l5 IS NOT NULL THEN 4 ELSE 0 END
                                 + CASE WHEN l6 IS NOT NULL THEN 2 ELSE 0 END
                                 + CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
                                * 1000000)::DOUBLE, 6) AS ema
                FROM lagged
            ), mom AS (
                SELECT count(*)::BIGINT AS n,
                       sum(qv::HUGEINT) AS s1,
                       sum(qv::HUGEINT * qv) AS s2
                FROM q
            )
            SELECT t, v, ema,
                   round(s1::DOUBLE / (n::DOUBLE * 1000000.0), 6) AS center,
                   round(s1::DOUBLE / (n::DOUBLE * 1000000.0)
                         + 3.0 * sqrt((n::HUGEINT * s2 - s1 * s1)::DOUBLE
                                      / (n::DOUBLE * n::DOUBLE) / 1e12 / 3.0), 6)
                       AS ucl,
                   round(s1::DOUBLE / (n::DOUBLE * 1000000.0)
                         - 3.0 * sqrt((n::HUGEINT * s2 - s1 * s1)::DOUBLE
                                      / (n::DOUBLE * n::DOUBLE) / 1e12 / 3.0), 6)
                       AS lcl,
                   (ema > round(s1::DOUBLE / (n::DOUBLE * 1000000.0)
                                + 3.0 * sqrt((n::HUGEINT * s2 - s1 * s1)::DOUBLE
                                             / (n::DOUBLE * n::DOUBLE) / 1e12 / 3.0), 6)
                    OR ema < round(s1::DOUBLE / (n::DOUBLE * 1000000.0)
                                   - 3.0 * sqrt((n::HUGEINT * s2 - s1 * s1)::DOUBLE
                                                / (n::DOUBLE * n::DOUBLE) / 1e12 / 3.0), 6))
                       AS out_of_control
            FROM e, mom
        """,
        "stat_cochran_q": """
            -- Cochran's Q: binary within-block k-treatment test over the
            -- user x event_type grid (did the type produce a >=100 event
            -- for the SAME user); complete blocks only, exact integer
            -- arithmetic, one division (stats.cochran_q)
            WITH cells AS (
                SELECT user_id AS blk, event_type AS trt,
                       max(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)::BIGINT AS x
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                      AND value IS NOT NULL
                GROUP BY 1, 2
            ), kr AS (SELECT count(DISTINCT trt)::BIGINT AS k FROM cells),
            per_blk AS (
                SELECT blk, count(*)::BIGINT AS kb, sum(x)::BIGINT AS r
                FROM cells GROUP BY 1
            ), complete AS (
                SELECT blk, r FROM per_blk, kr WHERE kb = k
            ), blk_tot AS (
                SELECT count(*)::BIGINT AS n_blocks,
                       sum(r)::BIGINT AS nn,
                       sum(r::HUGEINT * r) AS sr2
                FROM complete
            ), per_trt AS (
                SELECT trt, sum(x)::BIGINT AS c
                FROM cells JOIN complete USING (blk) GROUP BY 1
            ), trt_tot AS (SELECT sum(c::HUGEINT * c) AS sc2 FROM per_trt)
            SELECT n_blocks, k, (k - 1)::BIGINT AS dof,
                   CASE WHEN (k::HUGEINT * nn - sr2)::DOUBLE > 0
                        THEN round(((k - 1)::HUGEINT
                                    * (k::HUGEINT * sc2 - nn::HUGEINT * nn))::DOUBLE
                                   / (k::HUGEINT * nn - sr2)::DOUBLE, 6)
                   END AS q
            FROM blk_tot, trt_tot, kr
        """,
        "stat_bowker": """
            -- Bowker symmetry on the per-user event-type transition
            -- matrix: per unordered off-diagonal pair, micro-rounded
            -- (fwd-rev)^2/(fwd+rev) summed exactly (stats.bowker_symmetry)
            WITH trans AS (
                SELECT lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS a,
                       event_type AS b
                FROM events
            ), q AS (
                SELECT a::VARCHAR AS a, b::VARCHAR AS b FROM trans
                WHERE a IS NOT NULL AND b IS NOT NULL
            ), cells AS (
                SELECT a, b, count(*)::BIGINT AS c FROM q GROUP BY 1, 2
            ), canon AS (
                SELECT least(a, b) AS lo, greatest(a, b) AS hi,
                       sum(CASE WHEN a < b THEN c ELSE 0 END)::BIGINT AS fwd,
                       sum(CASE WHEN a > b THEN c ELSE 0 END)::BIGINT AS rev
                FROM cells WHERE a <> b GROUP BY 1, 2
            ), folded AS (
                SELECT count(*)::BIGINT AS k_pairs,
                       sum(round((fwd::DOUBLE - rev::DOUBLE)
                                 * (fwd::DOUBLE - rev::DOUBLE)
                                 / (fwd::DOUBLE + rev::DOUBLE)
                                 * 1000000.0, 0)::BIGINT) AS qm
                FROM canon
            ), tot AS (SELECT count(*)::BIGINT AS n FROM q)
            SELECT n,
                   coalesce(k_pairs, 0)::BIGINT AS k_pairs,
                   coalesce(k_pairs, 0)::BIGINT AS dof,
                   CASE WHEN k_pairs > 0
                        THEN round(qm::DOUBLE / 1000000.0, 6)
                   END AS q
            FROM folded, tot
        """,
        "stat_mood_median": """
            -- Mood's median test: exact lower grand median on the micro
            -- grid, per-group above/<= splits, micro-rounded chi2 terms
            -- summed exactly (stats.mood_median)
            WITH q AS (
                SELECT event_type AS g, round(value * 1000000)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL
            ), cells AS (
                SELECT g, qv, count(*)::BIGINT AS t FROM q GROUP BY 1, 2
            ), per_v AS (
                SELECT qv, sum(t)::BIGINT AS tv FROM cells GROUP BY 1
            ), cum AS (
                SELECT qv,
                       sum(tv) OVER (ORDER BY qv
                                     ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
                       sum(tv) OVER ()::BIGINT AS n
                FROM per_v
            ), med AS (
                SELECT n, min(qv)::BIGINT AS med FROM cum
                WHERE cum * 2 >= n GROUP BY n
            ), per_g AS (
                SELECT g, n, med,
                       sum(CASE WHEN qv > med THEN t ELSE 0 END)::BIGINT AS a,
                       sum(CASE WHEN qv <= med THEN t ELSE 0 END)::BIGINT AS l
                FROM cells, med GROUP BY 1, 2, 3
            ), col_tot AS (
                SELECT n, med, count(*)::BIGINT AS k,
                       sum(a)::BIGINT AS ca, sum(l)::BIGINT AS cl
                FROM per_g GROUP BY 1, 2
            ), terms AS (
                SELECT n, med, k, ca, cl,
                       sum(CASE WHEN ca > 0 AND cl > 0 THEN
                           round((n::DOUBLE * a::DOUBLE
                                  - (a + l)::DOUBLE * ca::DOUBLE)
                                 * (n::DOUBLE * a::DOUBLE
                                    - (a + l)::DOUBLE * ca::DOUBLE)
                                 / (n::DOUBLE * (a + l)::DOUBLE * ca::DOUBLE)
                                 * 1000000.0, 0)::BIGINT
                         + round((n::DOUBLE * l::DOUBLE
                                  - (a + l)::DOUBLE * cl::DOUBLE)
                                 * (n::DOUBLE * l::DOUBLE
                                    - (a + l)::DOUBLE * cl::DOUBLE)
                                 / (n::DOUBLE * (a + l)::DOUBLE * cl::DOUBLE)
                                 * 1000000.0, 0)::BIGINT
                       END) AS cm
                FROM per_g JOIN col_tot USING (n, med)
                GROUP BY 1, 2, 3, 4, 5
            )
            SELECT n, k,
                   round(med::DOUBLE / 1000000.0, 6) AS grand_median,
                   ca AS n_above, (k - 1)::BIGINT AS dof,
                   CASE WHEN ca > 0 AND cl > 0 AND k >= 2
                        THEN round(cm::DOUBLE / 1000000.0, 6) END AS chi2
            FROM terms
        """,
        "stat_fleiss_kappa": """
            -- Fleiss' kappa among three deterministic quality raters
            -- (len / words / avg-word-length bands): complete items only,
            -- exact HUGEINT kappa identity, one division
            -- (stats.fleiss_kappa)
            WITH d AS (
                SELECT doc_id, n_chars,
                       length(text) - length(replace(text, ' ', '')) + 1 AS wc
                FROM documents
                WHERE text IS NOT NULL AND doc_id IS NOT NULL
            ), ratings AS (
                SELECT doc_id AS item, 'len' AS rater,
                       CASE WHEN n_chars < 220 THEN 'low'
                            WHEN n_chars < 380 THEN 'mid'
                            ELSE 'high' END AS cat
                FROM d
                UNION ALL
                SELECT doc_id, 'words',
                       CASE WHEN wc < 40 THEN 'low'
                            WHEN wc < 70 THEN 'mid'
                            ELSE 'high' END
                FROM d
                UNION ALL
                SELECT doc_id, 'awl',
                       CASE WHEN n_chars * 100 < wc * 545 THEN 'low'
                            WHEN n_chars * 100 < wc * 560 THEN 'mid'
                            ELSE 'high' END
                FROM d
            ), r_row AS (
                SELECT count(DISTINCT rater)::BIGINT AS r FROM ratings
            ), ij AS (
                SELECT item, cat, count(*)::BIGINT AS c
                FROM ratings GROUP BY 1, 2
            ), per_item AS (
                SELECT item, sum(c)::BIGINT AS m, sum(c::HUGEINT * c) AS s2
                FROM ij GROUP BY 1
            ), complete AS (
                SELECT item, s2 FROM per_item, r_row WHERE m = r
            ), items_tot AS (
                SELECT count(*)::BIGINT AS n_items, sum(s2) AS s FROM complete
            ), per_cat AS (
                SELECT cat, sum(c)::BIGINT AS cj
                FROM ij JOIN complete USING (item) GROUP BY 1
            ), cat_tot AS (
                SELECT count(*)::BIGINT AS k, sum(cj::HUGEINT * cj) AS cc
                FROM per_cat
            )
            SELECT n_items, r, k,
                   CASE WHEN n_items > 0 AND r >= 2
                        THEN round((s - n_items::HUGEINT * r)::DOUBLE
                                   / (n_items::HUGEINT * r * (r - 1))::DOUBLE, 6)
                   END AS p_bar,
                   CASE WHEN n_items > 0
                        THEN round(cc::DOUBLE
                                   / ((n_items::HUGEINT * r)
                                      * (n_items::HUGEINT * r))::DOUBLE, 6)
                   END AS p_e,
                   CASE WHEN (n_items::HUGEINT * r * (r - 1)
                              * ((n_items::HUGEINT * r) * (n_items::HUGEINT * r)
                                 - cc))::DOUBLE > 0
                        THEN round(((s - n_items::HUGEINT * r)
                                    * (n_items::HUGEINT * r)
                                    * (n_items::HUGEINT * r)
                                    - n_items::HUGEINT * r * (r - 1) * cc)::DOUBLE
                                   / (n_items::HUGEINT * r * (r - 1)
                                      * ((n_items::HUGEINT * r)
                                         * (n_items::HUGEINT * r) - cc))::DOUBLE,
                                   6)
                   END AS kappa
            FROM items_tot, cat_tot, r_row
        """,
        "stat_hellinger": """
            -- Hellinger distance between even- and odd-user event-type
            -- distributions: nano-rounded per-category sqrt(p*q) terms
            -- summed exactly, H = sqrt(max(0, 1 - BC))
            -- (stats.hellinger_distance)
            WITH q AS (
                SELECT event_type AS key,
                       CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS s
                FROM events
                WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            ), per_k AS (
                SELECT key, sum(1 - s)::BIGINT AS a, sum(s)::BIGINT AS b
                FROM q GROUP BY 1
            ), tot AS (
                SELECT count(*)::BIGINT AS k, sum(a)::BIGINT AS n_a,
                       sum(b)::BIGINT AS n_b
                FROM per_k
            ), terms AS (
                SELECT k, n_a, n_b,
                       sum(round(CASE WHEN n_a > 0 AND n_b > 0
                                 THEN sqrt(a::DOUBLE * b::DOUBLE)
                                      / sqrt(n_a::DOUBLE * n_b::DOUBLE)
                                 ELSE 0.0 END * 1000000000.0, 0)::BIGINT) AS bn
                FROM per_k, tot GROUP BY 1, 2, 3
            )
            SELECT k, n_a, n_b,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round(bn::DOUBLE / 1000000000.0, 6) END AS bc,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round(sqrt(greatest(0.0,
                                        1.0 - bn::DOUBLE / 1000000000.0)), 6)
                   END AS hellinger
            FROM terms
        """,
        "stat_cliffs_delta": """
            -- Cliff's delta + Vargha-Delaney A for purchase vs view
            -- values: doubled midranks on the distinct quantized grid,
            -- exact-integer U, one division each (stats.cliffs_delta)
            WITH pooled AS (
                SELECT round(value * 1000000)::BIGINT AS qv,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS is_a
                FROM events
                WHERE value IS NOT NULL
                  AND event_type IN ('purchase', 'view')
            ), per_v AS (
                SELECT qv, count(*)::BIGINT AS t, sum(is_a)::BIGINT AS t_a
                FROM pooled GROUP BY 1
            ), ranked AS (
                SELECT t, t_a,
                       (2 * (sum(t) OVER (ORDER BY qv
                                          ROWS UNBOUNDED PRECEDING) - t)
                        + t + 1)::BIGINT AS r2
                FROM per_v
            ), agg AS (
                SELECT sum(t_a)::HUGEINT AS n_a,
                       (sum(t) - sum(t_a))::HUGEINT AS n_b,
                       sum(t_a::HUGEINT * r2::HUGEINT) AS r2_a
                FROM ranked
            ), s AS (
                SELECT n_a, n_b,
                       (r2_a - n_a * (n_a + 1)) AS u_a2,
                       n_a * n_b AS prod
                FROM agg
            ), o AS (
                SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
                       u_a2::DOUBLE / 2.0 AS u_a,
                       round((u_a2 - prod)::DOUBLE / prod::DOUBLE, 6)
                           AS delta,
                       round(u_a2::DOUBLE / (2.0 * prod::DOUBLE), 6)
                           AS vda_a
                FROM s
            )
            SELECT n_a, n_b, u_a, delta, vda_a,
                   CASE WHEN abs(delta) < 0.147 THEN 'negligible'
                        WHEN abs(delta) < 0.33 THEN 'small'
                        WHEN abs(delta) < 0.474 THEN 'medium'
                        ELSE 'large' END AS magnitude
            FROM o
        """,
        "stat_cohen_kappa": """
            -- Cohen's kappa between the len-band and wc-band raters:
            -- exact crosstab identity (n*agree - Sum r*c)/(n^2 - Sum r*c),
            -- wide integers, one division (stats.cohen_kappa)
            WITH d AS (
                SELECT n_chars,
                       length(text) - length(replace(text, ' ', '')) + 1 AS wc
                FROM documents
                WHERE text IS NOT NULL AND doc_id IS NOT NULL
            ), rated AS (
                SELECT CASE WHEN n_chars < 220 THEN 'low'
                            WHEN n_chars < 380 THEN 'mid'
                            ELSE 'high' END AS a,
                       CASE WHEN wc < 40 THEN 'low'
                            WHEN wc < 70 THEN 'mid'
                            ELSE 'high' END AS b
                FROM d
            ), ra AS (
                SELECT a, count(*)::BIGINT AS rk FROM rated GROUP BY 1
            ), cb AS (
                SELECT b, count(*)::BIGINT AS ck FROM rated GROUP BY 1
            ), rc AS (
                SELECT sum(rk::HUGEINT * ck::HUGEINT) AS src
                FROM ra JOIN cb ON ra.a = cb.b
            ), tot AS (
                SELECT count(*)::BIGINT AS n,
                       sum(CASE WHEN a = b THEN 1 ELSE 0 END)::BIGINT
                           AS agree,
                       count(DISTINCT a)::BIGINT AS k_a,
                       count(DISTINCT b)::BIGINT AS k_b
                FROM rated
            )
            SELECT n, greatest(k_a, k_b) AS k_cats, agree,
                   round(agree::DOUBLE / n::DOUBLE, 6) AS po,
                   round(coalesce(src, 0)::DOUBLE
                         / (n::DOUBLE * n::DOUBLE), 6) AS pe,
                   CASE WHEN (n::HUGEINT * n::HUGEINT
                              - coalesce(src, 0))::DOUBLE > 0
                        THEN round((n::HUGEINT * agree::HUGEINT
                                    - coalesce(src, 0))::DOUBLE
                                   / (n::HUGEINT * n::HUGEINT
                                      - coalesce(src, 0))::DOUBLE, 6)
                   END AS kappa
            FROM tot, rc
        """,
        "stat_gamma_somers": """
            -- Goodman-Kruskal gamma + Somers' D between ordinal
            -- len/wc bands: concordant/discordant pairs from the
            -- crosstab self-join, doubled tie counts, exact integers,
            -- one division each (stats.ordinal_concordance)
            WITH d AS (
                SELECT n_chars,
                       length(text) - length(replace(text, ' ', '')) + 1 AS wc
                FROM documents
                WHERE text IS NOT NULL AND doc_id IS NOT NULL
            ), rated AS (
                SELECT (CASE WHEN n_chars < 220 THEN 0
                             WHEN n_chars < 380 THEN 1
                             ELSE 2 END)::BIGINT AS a,
                       (CASE WHEN wc < 40 THEN 0
                             WHEN wc < 70 THEN 1
                             ELSE 2 END)::BIGINT AS b
                FROM d
            ), cells AS (
                SELECT a, b, count(*)::BIGINT AS o FROM rated GROUP BY 1, 2
            ), cd AS (
                SELECT sum(CASE WHEN c2.b > c1.b
                                THEN c1.o::HUGEINT * c2.o::HUGEINT
                                ELSE 0::HUGEINT END) AS c_pairs,
                       sum(CASE WHEN c2.b < c1.b
                                THEN c1.o::HUGEINT * c2.o::HUGEINT
                                ELSE 0::HUGEINT END) AS d_pairs
                FROM cells c1 JOIN cells c2 ON c2.a > c1.a
            ), ta AS (
                SELECT sum(rk::HUGEINT * (rk - 1)::HUGEINT) AS ta2
                FROM (SELECT count(*)::BIGINT AS rk FROM rated GROUP BY a)
            ), tb AS (
                SELECT sum(ck::HUGEINT * (ck - 1)::HUGEINT) AS tb2
                FROM (SELECT count(*)::BIGINT AS ck FROM rated GROUP BY b)
            ), tot AS (
                SELECT count(*)::BIGINT AS n FROM rated
            )
            SELECT n,
                   c_pairs::BIGINT AS concordant,
                   d_pairs::BIGINT AS discordant,
                   CASE WHEN (c_pairs + d_pairs)::DOUBLE > 0
                        THEN round((c_pairs - d_pairs)::DOUBLE
                                   / (c_pairs + d_pairs)::DOUBLE, 6)
                   END AS gamma,
                   CASE WHEN (n::HUGEINT * (n::HUGEINT - 1) - ta2)::DOUBLE > 0
                        THEN round(2.0 * (c_pairs - d_pairs)::DOUBLE
                                   / (n::HUGEINT * (n::HUGEINT - 1)
                                      - ta2)::DOUBLE, 6)
                   END AS somers_ba,
                   CASE WHEN (n::HUGEINT * (n::HUGEINT - 1) - tb2)::DOUBLE > 0
                        THEN round(2.0 * (c_pairs - d_pairs)::DOUBLE
                                   / (n::HUGEINT * (n::HUGEINT - 1)
                                      - tb2)::DOUBLE, 6)
                   END AS somers_ab
            FROM cd, ta, tb, tot
        """,
        "evt_hurst": """
            -- R/S Hurst exponent of the gap-filled hourly count series:
            -- per-size blocks, exact-integer range and radicand,
            -- nano-rounded ln(R)-ln(D)/2 terms, OLS slope = H
            -- (event_analytics.hurst_rs)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 3600000000)::BIGINT AS h,
                       count(*)::BIGINT AS c
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), rng AS (
                SELECT min(h) AS lo, max(h) AS hi FROM cnt
            ), grid AS (
                SELECT unnest(generate_series(lo, hi)) AS t FROM rng
            ), series AS (
                SELECT g.t, coalesce(c.c, 0)::BIGINT AS x
                FROM grid g LEFT JOIN cnt c ON g.t = c.h
            ), idx AS (
                SELECT x, (row_number() OVER (ORDER BY t) - 1)::BIGINT AS i
                FROM series
            ), e AS (
                SELECT m, x, i // m AS blk, i % m + 1 AS r
                FROM idx, (SELECT unnest([8, 16, 32, 64]) AS m)
            ), z AS (
                SELECT m, blk, x, r,
                       m::HUGEINT * (sum(x) OVER (PARTITION BY m, blk
                                                  ORDER BY r
                                                  ROWS UNBOUNDED PRECEDING))
                       - r::HUGEINT * (sum(x) OVER (PARTITION BY m, blk))
                           AS zz
                FROM e
            ), blocks AS (
                SELECT m, blk, count(*)::BIGINT AS cnt,
                       max(zz) - min(zz) AS r_scaled,
                       any_value(m)::HUGEINT
                           * sum(x::HUGEINT * x::HUGEINT)
                       - sum(x::HUGEINT) * sum(x::HUGEINT) AS d
                FROM z GROUP BY 1, 2
            ), ok AS (
                SELECT * FROM blocks
                WHERE cnt = m AND d::DOUBLE > 0 AND r_scaled::DOUBLE > 0
            ), per_m AS (
                SELECT m, count(*)::BIGINT AS n_blocks,
                       sum(round((ln(r_scaled::DOUBLE)
                                  - ln(d::DOUBLE) / 2.0)
                                 * 1000000000.0)::BIGINT)::BIGINT AS sum_nano
                FROM ok GROUP BY 1
            ), pm AS (
                SELECT m, n_blocks,
                       sum_nano::DOUBLE / (n_blocks::DOUBLE * 1000000000.0)
                           AS y,
                       ln(m::DOUBLE) AS lx
                FROM per_m
            ), slope AS (
                SELECT CASE WHEN count(*) >= 2
                            AND count(*)::DOUBLE * sum(lx * lx)
                                - sum(lx) * sum(lx) > 0
                       THEN round((count(*)::DOUBLE * sum(lx * y)
                                   - sum(lx) * sum(y))
                                  / (count(*)::DOUBLE * sum(lx * lx)
                                     - sum(lx) * sum(lx)), 6)
                       END AS hurst
                FROM pm
            )
            SELECT m, n_blocks, round(y, 6) AS mean_log_rs, hurst
            FROM pm, slope
        """,
        "evt_entropy_rate": """
            -- Markov entropy rate of per-user event-type transitions:
            -- nano-rounded n_ij*(ln n_i - ln n_ij)/ln2 terms summed
            -- exactly, one shared 1/N division
            -- (event_analytics.entropy_rate)
            WITH p AS (
                SELECT lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev,
                       event_type AS cur
                FROM events
            ), base AS (
                SELECT prev AS p, cur AS c FROM p
                WHERE prev IS NOT NULL AND cur IS NOT NULL
            ), cells AS (
                SELECT p, c, count(*)::BIGINT AS nij FROM base GROUP BY 1, 2
            ), marg AS (
                SELECT p, count(*)::BIGINT AS ni FROM base GROUP BY 1
            ), agg AS (
                SELECT sum(nij)::BIGINT AS n_transitions,
                       count(DISTINCT cells.p)::BIGINT AS k_states,
                       sum(round(nij::DOUBLE
                                 * (ln(ni::DOUBLE) - ln(nij::DOUBLE))
                                 / 0.6931471805599453
                                 * 1000000000.0)::BIGINT)::BIGINT AS t_nano
                FROM cells JOIN marg ON cells.p = marg.p
            )
            SELECT n_transitions, k_states,
                   round(t_nano::DOUBLE
                         / (n_transitions::DOUBLE * 1000000000.0), 6)
                       AS h_rate_bits,
                   round(ln(k_states::DOUBLE) / 0.6931471805599453, 6)
                       AS h_max_bits,
                   CASE WHEN k_states >= 2
                        THEN round((t_nano::DOUBLE
                                    / (n_transitions::DOUBLE * 1000000000.0))
                                   / (ln(k_states::DOUBLE)
                                      / 0.6931471805599453), 6)
                   END AS normalized
            FROM agg
        """,
        "evt_bollinger": """
            -- Bollinger +-2sigma chart on the daily mean series: breach
            -- by the exact integer inequality (n*x-Sx)^2 > 4(n*Sxx-Sx^2);
            -- pct_b one sqrt + one division
            -- (event_analytics.bollinger_bands)
            WITH per_d AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       sum(round(value * 1000000)::BIGINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS v
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), q AS (
                SELECT t, round(v * 1000000)::BIGINT AS qv FROM per_d
            ), s AS (
                SELECT t, qv,
                       count(*) OVER w::BIGINT AS nw,
                       sum(qv) OVER w::HUGEINT AS sx,
                       sum(qv::HUGEINT * qv::HUGEINT) OVER w AS sxx
                FROM q
                WINDOW w AS (ORDER BY t ROWS BETWEEN 6 PRECEDING
                             AND CURRENT ROW)
            ), d AS (
                SELECT t, qv, nw, sx,
                       nw::HUGEINT * qv::HUGEINT - sx AS dev,
                       nw::HUGEINT * sxx - sx * sx AS dd
                FROM s
            )
            SELECT t,
                   round(qv::DOUBLE / 1000000.0, 6) AS v,
                   CASE WHEN nw >= 3
                        THEN round(sx::DOUBLE
                                   / (nw::DOUBLE * 1000000.0), 6)
                   END AS roll_mean,
                   CASE WHEN nw >= 3
                        THEN round(sqrt(dd::DOUBLE)
                                   / (nw::DOUBLE * 1000000.0), 6)
                   END AS roll_std,
                   CASE WHEN nw >= 3 AND dd::DOUBLE > 0
                        THEN round((dev::DOUBLE + 2.0 * sqrt(dd::DOUBLE))
                                   / (4.0 * sqrt(dd::DOUBLE)), 6)
                   END AS pct_b,
                   CASE WHEN nw >= 3
                        THEN dev * dev > 4::HUGEINT * dd
                        ELSE FALSE END AS breach
            FROM d
        """,
        "text_richness": """
            -- Corpus richness profile: Yule's K, Honore's R, Herdan's C
            -- from one exact token-frequency aggregate
            -- (text_analysis.corpus_richness)
            WITH tok AS (
                SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
                    AS w
                FROM documents WHERE text IS NOT NULL
            ), per_w AS (
                SELECT w, count(*)::BIGINT AS n FROM tok GROUP BY 1
            ), agg AS (
                SELECT sum(n)::BIGINT AS n_tokens,
                       count(*)::BIGINT AS n_types,
                       sum((n = 1)::INT)::BIGINT AS hapax,
                       sum(n::HUGEINT * n::HUGEINT) AS s2
                FROM per_w
            )
            SELECT n_tokens, n_types, hapax,
                   CASE WHEN n_tokens > 0
                        THEN round(10000.0 * (s2::DOUBLE - n_tokens::DOUBLE)
                                   / (n_tokens::DOUBLE * n_tokens::DOUBLE), 6)
                   END AS yule_k,
                   CASE WHEN hapax < n_types
                        THEN round(100.0 * ln(n_tokens::DOUBLE)
                                   * n_types::DOUBLE
                                   / (n_types::DOUBLE - hapax::DOUBLE), 6)
                   END AS honore_r,
                   CASE WHEN n_tokens > 1
                        THEN round(ln(n_types::DOUBLE)
                                   / ln(n_tokens::DOUBLE), 6)
                   END AS herdan_c
            FROM agg
        """,
        "text_collocations": """
            -- Dunning G^2 top-20 bigram collocations: 2x2 cells from
            -- bigram marginals, fixed ln chain, min_count=5 pre-join
            -- prune, (g2 desc, w1, w2) order
            -- (text_analysis.collocations_g2)
            WITH arr AS (
                SELECT doc_id, list_filter(
                    string_split_regex(lower(trim(text)), '\\s+'),
                    t -> length(t) > 0) AS t
                FROM documents WHERE text IS NOT NULL
            ), big AS (
                SELECT t[i] AS w1, t[i + 1] AS w2
                FROM arr,
                     LATERAL (SELECT unnest(generate_series(
                         1, greatest(len(t) - 1, 0))) AS i)
            ), n12t AS (
                SELECT w1, w2, count(*)::BIGINT AS n12
                FROM big GROUP BY 1, 2
            ), m1 AS (
                SELECT w1, count(*)::BIGINT AS n1 FROM big GROUP BY 1
            ), m2 AS (
                SELECT w2, count(*)::BIGINT AS n2 FROM big GROUP BY 1
            ), tot AS (
                SELECT count(*)::BIGINT AS nn FROM big
            ), cand AS (
                SELECT w1, w2, n12, n1, n2, nn
                FROM n12t JOIN m1 USING (w1) JOIN m2 USING (w2), tot
                WHERE n12 >= 5
            ), scored AS (
                SELECT w1, w2, n12, n1, n2,
                       round(2.0 * (
                           CASE WHEN n12 > 0 THEN n12::DOUBLE *
                               (ln(n12::DOUBLE) + ln(nn::DOUBLE)
                                - ln(n1::DOUBLE) - ln(n2::DOUBLE))
                               ELSE 0.0 END
                         + CASE WHEN n1 - n12 > 0 THEN (n1 - n12)::DOUBLE *
                               (ln((n1 - n12)::DOUBLE) + ln(nn::DOUBLE)
                                - ln(n1::DOUBLE) - ln((nn - n2)::DOUBLE))
                               ELSE 0.0 END
                         + CASE WHEN n2 - n12 > 0 THEN (n2 - n12)::DOUBLE *
                               (ln((n2 - n12)::DOUBLE) + ln(nn::DOUBLE)
                                - ln((nn - n1)::DOUBLE) - ln(n2::DOUBLE))
                               ELSE 0.0 END
                         + CASE WHEN nn - n1 - n2 + n12 > 0
                               THEN (nn - n1 - n2 + n12)::DOUBLE *
                               (ln((nn - n1 - n2 + n12)::DOUBLE)
                                + ln(nn::DOUBLE)
                                - ln((nn - n1)::DOUBLE)
                                - ln((nn - n2)::DOUBLE))
                               ELSE 0.0 END), 6) AS g2
                FROM cand
            )
            SELECT w1, w2, n12, n1, n2, g2
            FROM scored
            ORDER BY g2 DESC, w1, w2
            LIMIT 20
        """,
        "text_kl_sources": """
            -- Per-source KL divergence (bits) from the corpus unigram
            -- mixture: nano-rounded n*(ln n + ln Nc - ln Ns - ln c)/ln2
            -- terms summed exactly, one shared division per source
            -- (text_analysis.source_kl_divergence)
            WITH tok AS (
                SELECT source AS g,
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                           AS w
                FROM documents
                WHERE text IS NOT NULL AND source IS NOT NULL
            ), sw AS (
                SELECT g, w, count(*)::BIGINT AS n FROM tok GROUP BY 1, 2
            ), cw AS (
                SELECT w, sum(n)::BIGINT AS c FROM sw GROUP BY 1
            ), ns AS (
                SELECT g, sum(n)::BIGINT AS ns FROM sw GROUP BY 1
            ), nc AS (
                SELECT sum(c)::BIGINT AS nc FROM cw
            ), per_g AS (
                SELECT g, any_value(ns) AS n_tokens,
                       sum(round(n::DOUBLE
                                 * (ln(n::DOUBLE) + ln(nc::DOUBLE)
                                    - ln(ns::DOUBLE) - ln(c::DOUBLE))
                                 / 0.6931471805599453
                                 * 1000000000.0)::BIGINT)::BIGINT AS t_nano
                FROM sw JOIN cw USING (w) JOIN ns USING (g), nc
                GROUP BY 1
            )
            SELECT g AS source, n_tokens,
                   round(t_nano::DOUBLE
                         / (n_tokens::DOUBLE * 1000000000.0), 6) AS kl_bits
            FROM per_g
            ORDER BY source
        """,
        "stat_ad2": """
            -- Two-sample Anderson-Darling (tie-weighted discrete form)
            -- for purchase vs view: exact integer numerators, micro-
            -- rounded terms, one 1/(mn) division
            -- (stats.anderson_darling_2s)
            WITH pooled AS (
                SELECT round(value * 1000000)::BIGINT AS qv,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS is_a
                FROM events
                WHERE value IS NOT NULL
                  AND event_type IN ('purchase', 'view')
            ), per_v AS (
                SELECT qv, count(*)::BIGINT AS t, sum(is_a)::BIGINT AS t_a
                FROM pooled GROUP BY 1
            ), cum AS (
                SELECT t,
                       sum(t) OVER w::BIGINT AS b,
                       sum(t_a) OVER w::BIGINT AS mcum
                FROM per_v
                WINDOW w AS (ORDER BY qv ROWS UNBOUNDED PRECEDING)
            ), tot AS (
                SELECT sum(t_a)::BIGINT AS n_a,
                       (sum(t) - sum(t_a))::BIGINT AS n_b,
                       sum(t)::BIGINT AS nn
                FROM per_v
            ), devs AS (
                SELECT t, b, n_a, n_b, nn,
                       nn::HUGEINT * mcum::HUGEINT
                       - b::HUGEINT * n_a::HUGEINT AS dev
                FROM cum, tot WHERE b < nn
            ), s AS (
                SELECT n_a, n_b,
                       sum(round((t::HUGEINT * dev * dev)::DOUBLE
                                 / (b::HUGEINT * (nn::HUGEINT
                                                  - b::HUGEINT))::DOUBLE
                                 * 1000000.0)::BIGINT)::BIGINT AS s_micro
                FROM devs GROUP BY 1, 2
            )
            SELECT n_a, n_b,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round(s_micro::DOUBLE
                                   / (n_a::DOUBLE * n_b::DOUBLE
                                      * 1000000.0), 6)
                   END AS a2
            FROM s
        """,
        "stat_dunn": """
            -- Dunn's post-hoc pairwise z over event-type values:
            -- doubled-midrank grid, tie-corrected pooled variance,
            -- k-row pair self-join (stats.dunn_posthoc)
            WITH q AS (
                SELECT event_type AS g, round(value * 1000000)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL
            ), per_vg AS (
                SELECT qv, g, count(*)::BIGINT AS t_g FROM q GROUP BY 1, 2
            ), per_v AS (
                SELECT qv, sum(t_g)::BIGINT AS t FROM per_vg GROUP BY 1
            ), ranked AS (
                SELECT qv, t,
                       (2 * (sum(t) OVER (ORDER BY qv
                                          ROWS UNBOUNDED PRECEDING) - t)
                        + t + 1)::BIGINT AS r2
                FROM per_v
            ), per_g AS (
                SELECT g, sum(t_g)::BIGINT AS n_g,
                       sum(t_g::HUGEINT * r2::HUGEINT) AS r2_g
                FROM per_vg JOIN ranked USING (qv) GROUP BY 1
            ), tot AS (
                SELECT sum(t)::BIGINT AS n,
                       sum(t::HUGEINT * t::HUGEINT * t::HUGEINT
                           - t::HUGEINT) AS ties_t
                FROM ranked
            )
            SELECT a.g AS g1, b.g AS g2, a.n_g AS n1, b.n_g AS n2,
                   round(a.r2_g::DOUBLE / (2.0 * a.n_g::DOUBLE), 6)
                       AS mean_rank_1,
                   round(b.r2_g::DOUBLE / (2.0 * b.n_g::DOUBLE), 6)
                       AS mean_rank_2,
                   CASE WHEN n >= 2
                        AND (n::DOUBLE * (n::DOUBLE + 1.0)
                             - ties_t::DOUBLE / (n::DOUBLE - 1.0)) / 12.0 > 0
                        THEN round(
                            (a.r2_g::DOUBLE / (2.0 * a.n_g::DOUBLE)
                             - b.r2_g::DOUBLE / (2.0 * b.n_g::DOUBLE))
                            / sqrt((n::DOUBLE * (n::DOUBLE + 1.0)
                                    - ties_t::DOUBLE / (n::DOUBLE - 1.0))
                                   / 12.0
                                   * (1.0 / a.n_g::DOUBLE
                                      + 1.0 / b.n_g::DOUBLE)), 6)
                   END AS z
            FROM per_g a JOIN per_g b ON a.g < b.g, tot
            ORDER BY g1, g2
        """,
        "stat_page": """
            -- Page's L ordered-trend test over per-user mean values by
            -- event type: complete blocks only, within-block doubled
            -- midranks, exact L, normal z (stats.page_trend)
            WITH mv AS (
                SELECT user_id AS b, event_type AS tr,
                       round(sum(round(value * 1000000)::BIGINT)::DOUBLE
                             / count(*)::DOUBLE)::BIGINT AS qv
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                  AND value IS NOT NULL
                GROUP BY 1, 2
            ), k_tot AS (
                SELECT count(DISTINCT tr)::BIGINT AS k FROM mv
            ), complete AS (
                SELECT b FROM mv GROUP BY b
                HAVING count(DISTINCT tr) = (SELECT k FROM k_tot)
                   AND count(*) = (SELECT k FROM k_tot)
            ), qc AS (
                SELECT mv.* FROM mv JOIN complete USING (b)
            ), ranked AS (
                SELECT b, tr,
                       (2 * (rank() OVER (PARTITION BY b ORDER BY qv) - 1)
                        + count(*) OVER (PARTITION BY b, qv)
                        + 1)::BIGINT AS r2
                FROM qc
            ), order_idx AS (
                SELECT tr, row_number() OVER (ORDER BY tr)::BIGINT AS c
                FROM (SELECT DISTINCT tr FROM mv)
            ), l2t AS (
                SELECT sum(c::HUGEINT * r2::HUGEINT) AS l2,
                       count(DISTINCT b)::BIGINT AS n_blocks
                FROM ranked JOIN order_idx USING (tr)
            )
            SELECT n_blocks, k,
                   l2::DOUBLE / 2.0 AS l_stat,
                   CASE WHEN n_blocks > 0
                        AND n_blocks::DOUBLE * k::DOUBLE * k::DOUBLE
                            * (k::DOUBLE + 1.0)
                            * (k::DOUBLE * k::DOUBLE - 1.0) / 144.0 > 0
                        THEN round(
                            (l2::DOUBLE
                             - n_blocks::DOUBLE * k::DOUBLE
                               * (k::DOUBLE + 1.0) * (k::DOUBLE + 1.0)
                               / 2.0)
                            / (2.0 * sqrt(n_blocks::DOUBLE * k::DOUBLE
                                          * k::DOUBLE * (k::DOUBLE + 1.0)
                                          * (k::DOUBLE * k::DOUBLE - 1.0)
                                          / 144.0)), 6)
                   END AS z
            FROM l2t, k_tot
        """,
        "stat_odds_ratio": """
            -- 2x2 odds/risk ratio with Wald CIs: odd users vs error
            -- events; exact integer cells, one division per ratio
            -- (stats.two_by_two)
            WITH base AS (
                SELECT (user_id % 2 = 1) AS e, (event_type = 'error') AS o
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), agg AS (
                SELECT count(*)::BIGINT AS n,
                       sum((e AND o)::INT)::BIGINT AS a,
                       sum((e AND NOT o)::INT)::BIGINT AS b,
                       sum((NOT e AND o)::INT)::BIGINT AS c,
                       sum((NOT e AND NOT o)::INT)::BIGINT AS d
                FROM base
            )
            SELECT n, a, b, c, d,
                   CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                        THEN round((a::HUGEINT * d::HUGEINT)::DOUBLE
                                   / (b::HUGEINT * c::HUGEINT)::DOUBLE, 6)
                   END AS odds_ratio,
                   CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                        THEN round((a::HUGEINT * (c + d)::HUGEINT)::DOUBLE
                                   / (c::HUGEINT * (a + b)::HUGEINT)::DOUBLE,
                                   6)
                   END AS risk_ratio,
                   CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                        THEN round(exp(
                            ln((a::HUGEINT * d::HUGEINT)::DOUBLE
                               / (b::HUGEINT * c::HUGEINT)::DOUBLE)
                            - 1.959963985
                              * sqrt(1 / a::DOUBLE + 1 / b::DOUBLE
                                     + 1 / c::DOUBLE + 1 / d::DOUBLE)), 6)
                   END AS or_ci_lo,
                   CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                        THEN round(exp(
                            ln((a::HUGEINT * d::HUGEINT)::DOUBLE
                               / (b::HUGEINT * c::HUGEINT)::DOUBLE)
                            + 1.959963985
                              * sqrt(1 / a::DOUBLE + 1 / b::DOUBLE
                                     + 1 / c::DOUBLE + 1 / d::DOUBLE)), 6)
                   END AS or_ci_hi
            FROM agg
        """,
        "stat_grubbs": """
            -- Grubbs max-studentized outlier: argmax on exact
            -- |n*q - Sx| (ties to smallest value), one sqrt
            -- (stats.grubbs_test)
            WITH q AS (
                SELECT round(value * 1000000)::BIGINT AS qv
                FROM events WHERE value IS NOT NULL
            ), cells AS (
                SELECT qv, count(*)::BIGINT AS t FROM q GROUP BY 1
            ), mom AS (
                SELECT sum(t)::BIGINT AS n,
                       sum(qv::HUGEINT * t::HUGEINT) AS sx,
                       sum(qv::HUGEINT * qv::HUGEINT * t::HUGEINT) AS sxx
                FROM cells
            ), devs AS (
                SELECT qv, n, sx, sxx,
                       abs(n::HUGEINT * qv::HUGEINT - sx) AS adev
                FROM cells, mom
            ), amax AS (
                SELECT n, sx, sxx, max(adev) AS amax
                FROM devs GROUP BY 1, 2, 3
            ), winner AS (
                SELECT d.n, d.sx, d.sxx, a.amax, min(d.qv) AS q_out
                FROM devs d JOIN amax a ON d.adev = a.amax
                GROUP BY 1, 2, 3, 4
            )
            SELECT n,
                   round(q_out::DOUBLE / 1000000.0, 6) AS outlier,
                   CASE WHEN n >= 3
                        AND (n::HUGEINT * sxx - sx * sx)::DOUBLE > 0
                        THEN round(amax::DOUBLE
                                   / sqrt(n::DOUBLE
                                          * (n::HUGEINT * sxx
                                             - sx * sx)::DOUBLE
                                          / (n::DOUBLE - 1.0)), 6)
                   END AS g_stat
            FROM winner
        """,
        "evt_peaks": """
            -- Strict local peaks/troughs on the daily mean series:
            -- integer-only comparisons, endpoints neither
            -- (event_analytics.series_peaks)
            WITH per_d AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       sum(round(value * 1000000)::BIGINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS v
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), q AS (
                SELECT t, round(v * 1000000)::BIGINT AS qv FROM per_d
            ), s AS (
                SELECT t, qv,
                       lag(qv) OVER (ORDER BY t) AS pq,
                       lead(qv) OVER (ORDER BY t) AS nq
                FROM q
            )
            SELECT t,
                   round(qv::DOUBLE / 1000000.0, 6) AS v,
                   CASE WHEN pq IS NOT NULL
                        THEN round((qv - pq)::DOUBLE / 1000000.0, 6)
                   END AS rise,
                   CASE WHEN nq IS NOT NULL
                        THEN round((nq - qv)::DOUBLE / 1000000.0, 6)
                   END AS fall,
                   coalesce(pq IS NOT NULL AND nq IS NOT NULL
                            AND qv > pq AND qv > nq, FALSE) AS is_peak,
                   coalesce(pq IS NOT NULL AND nq IS NOT NULL
                            AND qv < pq AND qv < nq, FALSE) AS is_trough
            FROM s
        """,
        "kg_transe_score": """
            -- TransE-style plausibility with sha256-derived embeddings:
            -- per-dim ascii(hex)%16 components, exact integer squared
            -- distance, one sqrt, (score desc, s, p, o) top-50
            -- (relationships.transe_plausibility)
            WITH t AS (
                SELECT 'O' || l_orderkey::VARCHAR AS s,
                       'contains' AS p,
                       'P' || l_partkey::VARCHAR AS o
                FROM lineitem WHERE l_partkey % 5 = 0
                UNION ALL
                SELECT 'P' || l_partkey::VARCHAR,
                       'from',
                       'S' || l_suppkey::VARCHAR
                FROM lineitem WHERE l_partkey % 5 = 0
            ), h AS (
                SELECT s, p, o,
                       sha256(s) AS hs, sha256(p) AS hr, sha256(o) AS ht
                FROM t
            ), scored AS (
                SELECT s AS subject_id, p AS predicate, o AS object_id,
                       round(sqrt((
                           {transe_terms}
                       )::DOUBLE), 6) AS implausibility
                FROM h
            )
            SELECT * FROM scored
            ORDER BY implausibility DESC, subject_id, predicate, object_id
            LIMIT 50
        """.format(transe_terms=" + ".join(
            "((ascii(substr(hs, {j}, 1)) % 16 + ascii(substr(hr, {j}, 1)) % 16"
            " - ascii(substr(ht, {j}, 1)) % 16)"
            " * (ascii(substr(hs, {j}, 1)) % 16 + ascii(substr(hr, {j}, 1)) % 16"
            " - ascii(substr(ht, {j}, 1)) % 16))".format(j=j)
            for j in range(1, 9)
        )),
        "evt_records": """
            -- Running-record audit on the daily mean series: integer
            -- record decisions vs the nano-exact H_n expectation
            -- (event_analytics.record_audit)
            WITH per_d AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       sum(round(value * 1000000)::BIGINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS v
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), q AS (
                SELECT t, round(v * 1000000)::BIGINT AS qv FROM per_d
            ), s AS (
                SELECT qv,
                       max(qv) OVER (ORDER BY t
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS pm,
                       row_number() OVER (ORDER BY t)::BIGINT AS i
                FROM q
            ), agg AS (
                SELECT count(*)::BIGINT AS n,
                       sum((pm IS NULL OR qv > pm)::INT)::BIGINT AS n_records,
                       sum(round(1000000000.0 / i::DOUBLE)::BIGINT)::BIGINT
                           AS h_nano
                FROM s
            )
            SELECT n, n_records,
                   round(h_nano::DOUBLE / 1000000000.0, 6)
                       AS expected_records,
                   CASE WHEN n > 0
                        THEN round(n_records::DOUBLE
                                   / (h_nano::DOUBLE / 1000000000.0), 6)
                   END AS record_ratio
            FROM agg
        """,
        "stat_mood_scale": """
            -- Mood's scale test purchase vs view: squared central
            -- midranks (x4 exact), no-tie null moments, one sqrt
            -- (stats.mood_scale_test)
            WITH pooled AS (
                SELECT round(value * 1000000)::BIGINT AS qv,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS is_a
                FROM events
                WHERE value IS NOT NULL
                  AND event_type IN ('purchase', 'view')
            ), per_v AS (
                SELECT qv, count(*)::BIGINT AS t, sum(is_a)::BIGINT AS t_a
                FROM pooled GROUP BY 1
            ), ranked AS (
                SELECT t, t_a,
                       (2 * (sum(t) OVER (ORDER BY qv
                                          ROWS UNBOUNDED PRECEDING) - t)
                        + t + 1)::BIGINT AS r2
                FROM per_v
            ), tot AS (
                SELECT sum(t_a)::BIGINT AS n_a,
                       (sum(t) - sum(t_a))::BIGINT AS n_b,
                       sum(t)::BIGINT AS nn
                FROM per_v
            ), m AS (
                SELECT n_a, n_b, nn,
                       sum(t_a::HUGEINT
                           * (r2::HUGEINT - (nn + 1)::HUGEINT)
                           * (r2::HUGEINT - (nn + 1)::HUGEINT)) AS m4
                FROM ranked, tot GROUP BY 1, 2, 3
            )
            SELECT n_a, n_b,
                   m4::DOUBLE / 4.0 AS m_stat,
                   CASE WHEN n_a > 0 AND n_b > 0
                        AND n_a::DOUBLE * n_b::DOUBLE
                            * (nn::DOUBLE + 1.0)
                            * (nn::DOUBLE * nn::DOUBLE - 4.0) / 180.0 > 0
                        THEN round(
                            (m4::DOUBLE / 4.0
                             - n_a::DOUBLE
                               * (nn::DOUBLE * nn::DOUBLE - 1.0) / 12.0)
                            / sqrt(n_a::DOUBLE * n_b::DOUBLE
                                   * (nn::DOUBLE + 1.0)
                                   * (nn::DOUBLE * nn::DOUBLE - 4.0)
                                   / 180.0), 6)
                   END AS z
            FROM m
        """,
        "evt_hill_tail": """
            -- Hill tail-index over the top-100 event values: bounded
            -- top-(k+1), nano-exact log-sum, one division
            -- (stats.hill_tail_index)
            WITH q AS (
                SELECT round(value * 1000000)::BIGINT AS qv
                FROM events WHERE value IS NOT NULL
            ), pos AS (
                SELECT qv FROM q WHERE qv > 0
            ), idx AS (
                SELECT qv, row_number() OVER (ORDER BY qv DESC)::BIGINT AS i
                FROM pos
            ), top AS (
                SELECT qv, i FROM idx WHERE i <= 101
            ), ref AS (
                SELECT qv AS q_ref FROM top WHERE i = 101
            ), agg AS (
                -- global aggregate: ONE row even with no ref order
                -- statistic (k=0, NULL alpha), mirroring the operator
                SELECT max(q_ref) AS q_ref, count(*)::BIGINT AS kk,
                       sum(round((ln(qv::DOUBLE) - ln(q_ref::DOUBLE))
                                 * 1000000000.0)::BIGINT)::BIGINT AS s_nano
                FROM top, ref WHERE i <= 100
            )
            SELECT kk AS k,
                   round(q_ref::DOUBLE / 1000000.0, 6) AS x_ref,
                   CASE WHEN kk > 0 AND s_nano > 0
                        THEN round(kk::DOUBLE * 1000000000.0
                                   / s_nano::DOUBLE, 6)
                   END AS hill_alpha,
                   CASE WHEN kk > 0 AND s_nano > 0
                        THEN round(kk::DOUBLE * 1000000000.0
                                   / s_nano::DOUBLE / sqrt(kk::DOUBLE), 6)
                   END AS se
            FROM agg
        """,
        "graph_degree_gini": """
            -- Gini of part degrees in the thinned order-part graph:
            -- exact sorted-rank identity (stats.gini_coefficient)
            WITH deg AS (
                SELECT l_partkey, count(*)::BIGINT AS x
                FROM lineitem WHERE l_partkey % 3 = 0 GROUP BY 1
            ), r AS (
                SELECT x, row_number() OVER (ORDER BY x) AS i FROM deg
            )
            SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS total,
                   CASE WHEN count(*)::HUGEINT * sum(x)::HUGEINT > 0 THEN
                       round((2::HUGEINT * sum(i::HUGEINT * x)
                              - (count(*)::HUGEINT + 1)
                                * sum(x)::HUGEINT)::DOUBLE
                             / (count(*)::HUGEINT
                                * sum(x)::HUGEINT)::DOUBLE, 6)
                   END AS gini
            FROM r
        """,
        "stat_krippendorff": """
            -- Krippendorff's alpha over the ragged 3-rater table (awl
            -- rater only rates doc_id % 3 = 0): nano-exact D_o terms,
            -- exact-integer D_e (stats.krippendorff_alpha)
            WITH d AS (
                SELECT doc_id, n_chars,
                       length(text) - length(replace(text, ' ', '')) + 1 AS wc
                FROM documents
                WHERE text IS NOT NULL AND doc_id IS NOT NULL
            ), ratings AS (
                SELECT doc_id AS u,
                       CASE WHEN n_chars < 220 THEN 'low'
                            WHEN n_chars < 380 THEN 'mid'
                            ELSE 'high' END AS c
                FROM d
                UNION ALL
                SELECT doc_id,
                       CASE WHEN wc < 40 THEN 'low'
                            WHEN wc < 70 THEN 'mid'
                            ELSE 'high' END
                FROM d
                UNION ALL
                SELECT doc_id,
                       CASE WHEN n_chars * 100 < wc * 545 THEN 'low'
                            WHEN n_chars * 100 < wc * 560 THEN 'mid'
                            ELSE 'high' END
                FROM d WHERE doc_id % 3 = 0
            ), uc AS (
                SELECT u, c, count(*)::BIGINT AS n_uc
                FROM ratings GROUP BY 1, 2
            ), mu AS (
                SELECT u, sum(n_uc)::BIGINT AS m_u FROM uc GROUP BY 1
            ), n_items AS (
                SELECT count(DISTINCT u)::BIGINT AS n_items FROM uc
            ), pair AS (
                SELECT uc.u, uc.c, uc.n_uc, mu.m_u
                FROM uc JOIN mu ON uc.u = mu.u
                WHERE mu.m_u >= 2
            ), do_s AS (
                SELECT sum(round(n_uc::DOUBLE
                                 * (m_u - n_uc)::DOUBLE
                                 / (m_u - 1)::DOUBLE
                                 * 1000000000.0)::BIGINT)::BIGINT AS s_nano,
                       sum(n_uc)::BIGINT AS n_pairable
                FROM pair
            ), nc AS (
                SELECT c, sum(n_uc)::BIGINT AS n_c FROM pair GROUP BY 1
            ), de_s AS (
                SELECT sum(n_c::HUGEINT
                           * (n_pairable - n_c)::HUGEINT) AS de_num,
                       count(DISTINCT c)::BIGINT AS k_cats
                FROM nc, do_s
            )
            SELECT n_items, n_pairable, k_cats,
                   CASE WHEN n_pairable >= 2
                        THEN round(s_nano::DOUBLE
                                   / (n_pairable::DOUBLE
                                      * 1000000000.0), 6)
                   END AS d_o,
                   CASE WHEN n_pairable >= 2
                        THEN round(de_num::DOUBLE
                                   / (n_pairable::DOUBLE
                                      * (n_pairable::DOUBLE - 1.0)), 6)
                   END AS d_e,
                   CASE WHEN n_pairable >= 2
                        AND de_num::DOUBLE
                            / (n_pairable::DOUBLE
                               * (n_pairable::DOUBLE - 1.0)) > 0
                        THEN round(1.0
                            - (s_nano::DOUBLE
                               / (n_pairable::DOUBLE * 1000000000.0))
                              / (de_num::DOUBLE
                                 / (n_pairable::DOUBLE
                                    * (n_pairable::DOUBLE - 1.0))), 6)
                   END AS alpha
            FROM do_s, de_s, n_items
        """,
        "curation_hhi": """
            -- Herfindahl concentration of the source mix: exact
            -- squared-share integers, one division
            -- (profiling.herfindahl_index)
            WITH per_k AS (
                SELECT source AS k, count(*)::BIGINT AS n_k
                FROM documents WHERE source IS NOT NULL GROUP BY 1
            ), agg AS (
                SELECT count(*)::BIGINT AS n_keys,
                       sum(n_k)::BIGINT AS n_rows,
                       sum(n_k::HUGEINT * n_k::HUGEINT) AS s2
                FROM per_k
            )
            SELECT n_keys, n_rows,
                   CASE WHEN n_rows > 0
                        THEN round(s2::DOUBLE
                                   / (n_rows::DOUBLE * n_rows::DOUBLE), 6)
                   END AS hhi,
                   CASE WHEN n_rows > 0 AND n_keys > 1
                        THEN round((s2::DOUBLE
                                    / (n_rows::DOUBLE * n_rows::DOUBLE)
                                    - 1 / n_keys::DOUBLE)
                                   / (1 - 1 / n_keys::DOUBLE), 6)
                   END AS hhi_normalized,
                   CASE WHEN n_rows > 0
                        THEN round(1.0 / (s2::DOUBLE
                                          / (n_rows::DOUBLE
                                             * n_rows::DOUBLE)), 6)
                   END AS effective_n
            FROM agg
        """,
        "evt_turning_points": """
            -- Turning-point randomness test on the daily mean series:
            -- strict integer extremum decisions vs 2(n-2)/3
            -- (event_analytics.turning_points_test)
            WITH per_d AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       sum(round(value * 1000000)::BIGINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS v
                FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), q AS (
                SELECT t, round(v * 1000000)::BIGINT AS qv FROM per_d
            ), s AS (
                SELECT qv,
                       lag(qv) OVER (ORDER BY t) AS pq,
                       lead(qv) OVER (ORDER BY t) AS nq
                FROM q
            ), agg AS (
                SELECT count(*)::BIGINT AS n,
                       sum((pq IS NOT NULL AND nq IS NOT NULL
                            AND ((qv > pq AND qv > nq)
                                 OR (qv < pq AND qv < nq)))::INT)::BIGINT
                           AS n_turning
                FROM s
            )
            SELECT n, n_turning,
                   CASE WHEN n >= 3
                        THEN round(2.0 * (n::DOUBLE - 2) / 3.0, 6)
                   END AS expected,
                   CASE WHEN n >= 3
                        AND (16.0 * n::DOUBLE - 29) / 90.0 > 0
                        THEN round((n_turning::DOUBLE
                                    - 2.0 * (n::DOUBLE - 2) / 3.0)
                                   / sqrt((16.0 * n::DOUBLE - 29) / 90.0),
                                   6)
                   END AS z
            FROM agg
        """,
        "stat_trimmed_mean": """
            -- 10% trimmed + winsorized mean: exact order statistics and
            -- in-window copy counts from grid cumulative counts
            -- (stats.trimmed_mean)
            WITH q AS (
                SELECT round(value * 1000000)::BIGINT AS qv
                FROM events WHERE value IS NOT NULL
            ), cells AS (
                SELECT qv, count(*)::BIGINT AS t FROM q GROUP BY 1
            ), cum AS (
                SELECT qv, t,
                       sum(t) OVER (ORDER BY qv
                                    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
                FROM cells
            ), tot AS (
                SELECT sum(t)::BIGINT AS n,
                       floor(sum(t) * 0.1)::BIGINT AS k
                FROM cells
            ), lo AS (
                SELECT n, k, min(qv)::BIGINT AS lo_cut_q
                FROM cum, tot WHERE cum >= k + 1 GROUP BY 1, 2
            ), hi AS (
                SELECT n, k, min(qv)::BIGINT AS hi_cut_q
                FROM cum, tot WHERE cum >= n - k GROUP BY 1, 2
            ), tsum AS (
                SELECT n, k,
                       sum(qv::HUGEINT
                           * greatest(0::HUGEINT,
                                      least(cum, n - k)::HUGEINT
                                      - greatest(cum - t, k)::HUGEINT))
                           AS tsum
                FROM cum, tot GROUP BY 1, 2
            )
            SELECT n, k AS k_trim,
                   round(lo_cut_q::DOUBLE / 1000000.0, 6) AS lo_cut,
                   round(hi_cut_q::DOUBLE / 1000000.0, 6) AS hi_cut,
                   CASE WHEN n - 2 * k > 0
                        THEN round(tsum::DOUBLE
                                   / ((n::DOUBLE - 2 * k::DOUBLE)
                                      * 1000000.0), 6)
                   END AS trimmed_mean,
                   CASE WHEN n > 0
                        THEN round((tsum
                                    + k::HUGEINT * lo_cut_q::HUGEINT
                                    + k::HUGEINT * hi_cut_q::HUGEINT)::DOUBLE
                                   / (n::DOUBLE * 1000000.0), 6)
                   END AS winsorized_mean
            FROM tsum JOIN lo USING (n, k) JOIN hi USING (n, k)
        """,
        "stat_sign_test": """
            -- paired sign test: per-user first- vs second-half mean,
            -- quantized-integer signs, ties dropped (stats.sign_test)
            WITH half AS (
                SELECT user_id,
                       (epoch_us(ts) // 86400000000)::BIGINT >= 19738 AS h2,
                       round(value * 1000000)::BIGINT AS qv
                FROM events
                WHERE ts IS NOT NULL AND user_id IS NOT NULL
                  AND value IS NOT NULL
            ), per AS (
                SELECT user_id, h2,
                       sum(qv)::DOUBLE / (count(*)::DOUBLE * 1000000.0) AS v
                FROM half GROUP BY 1, 2
            ), pairs AS (
                SELECT round(a.v * 1000000)::BIGINT AS qa,
                       round(b.v * 1000000)::BIGINT AS qb
                FROM (SELECT user_id, v FROM per WHERE NOT h2) a
                JOIN (SELECT user_id, v FROM per WHERE h2) b
                  USING (user_id)
            ), agg AS (
                SELECT count(*)::BIGINT AS n_pairs,
                       sum((qb > qa)::INT)::BIGINT AS n_pos,
                       sum((qb < qa)::INT)::BIGINT AS n_neg
                FROM pairs
            )
            SELECT n_pairs, n_pos, n_neg,
                   CASE WHEN n_pos + n_neg > 0
                        THEN round((n_pos - n_neg)::DOUBLE
                                   / sqrt((n_pos + n_neg)::DOUBLE), 6)
                   END AS z
            FROM agg
        """,
        "stat_wilcoxon_signed": """
            -- Wilcoxon signed-rank: per-user half-month means, doubled
            -- midranks on the distinct |diff| grid, tie-corrected
            -- variance (stats.wilcoxon_signed_rank)
            WITH half AS (
                SELECT user_id,
                       (epoch_us(ts) // 86400000000)::BIGINT >= 19738 AS h2,
                       round(value * 1000000)::BIGINT AS qv
                FROM events
                WHERE ts IS NOT NULL AND user_id IS NOT NULL
                  AND value IS NOT NULL
            ), per AS (
                SELECT user_id, h2,
                       sum(qv)::DOUBLE / (count(*)::DOUBLE * 1000000.0) AS v
                FROM half GROUP BY 1, 2
            ), pairs AS (
                SELECT round(b.v * 1000000)::BIGINT
                       - round(a.v * 1000000)::BIGINT AS d
                FROM (SELECT user_id, v FROM per WHERE NOT h2) a
                JOIN (SELECT user_id, v FROM per WHERE h2) b
                  USING (user_id)
                WHERE round(b.v * 1000000)::BIGINT
                      <> round(a.v * 1000000)::BIGINT
            ), cells AS (
                SELECT abs(d)::BIGINT AS ad, count(*)::BIGINT AS t,
                       sum((d > 0)::INT)::BIGINT AS p
                FROM pairs GROUP BY 1
            ), ranked AS (
                SELECT t, p,
                       (2 * sum(t) OVER (ORDER BY ad
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - t + 1)::BIGINT AS r2
                FROM cells
            ), agg AS (
                SELECT sum(t)::BIGINT AS n,
                       sum(p::HUGEINT * r2::HUGEINT) AS w2,
                       sum(t::HUGEINT * t * t - t::HUGEINT) AS tie3
                FROM ranked
            )
            SELECT n,
                   w2::DOUBLE / 2.0 AS w_plus,
                   CASE WHEN (2::HUGEINT * n * (n + 1) * (2 * n + 1)
                              - tie3)::DOUBLE > 0
                        THEN round(
                            (w2::DOUBLE / 2.0
                             - n::DOUBLE * (n::DOUBLE + 1) / 4.0)
                            / sqrt((2::HUGEINT * n * (n + 1) * (2 * n + 1)
                                    - tie3)::DOUBLE / 48.0), 6)
                   END AS z
            FROM agg
        """,
        "stat_jarque_bera": """
            -- Jarque-Bera normality: pivot-centered exact integer
            -- moments at scale=100, central-moment shift identities on
            -- final scalars (stats.jarque_bera)
            WITH q AS (
                SELECT round(value * 100)::BIGINT AS qv
                FROM events WHERE value IS NOT NULL
            ), piv AS (
                -- exact integer floor division (all-positive grid)
                SELECT (sum(qv::HUGEINT) // count(*)::HUGEINT)::BIGINT AS c
                FROM q
            ), dev AS (
                SELECT (qv - c)::HUGEINT AS dv FROM q CROSS JOIN piv
            ), s AS (
                SELECT count(*)::BIGINT AS n, sum(dv) AS d1,
                       sum(dv * dv) AS d2, sum(dv * dv * dv) AS d3,
                       sum(dv * dv * dv * dv) AS d4
                FROM dev
            ), m AS (
                SELECT n,
                       (d2::DOUBLE - (d1::DOUBLE / n::DOUBLE) * d1::DOUBLE)
                           / n::DOUBLE AS m2,
                       (d3::DOUBLE
                        - 3 * (d1::DOUBLE / n::DOUBLE) * d2::DOUBLE
                        + 2 * (d1::DOUBLE / n::DOUBLE)
                            * (d1::DOUBLE / n::DOUBLE) * d1::DOUBLE)
                           / n::DOUBLE AS m3,
                       (d4::DOUBLE
                        - 4 * (d1::DOUBLE / n::DOUBLE) * d3::DOUBLE
                        + 6 * (d1::DOUBLE / n::DOUBLE)
                            * (d1::DOUBLE / n::DOUBLE) * d2::DOUBLE
                        - 3 * (d1::DOUBLE / n::DOUBLE)
                            * (d1::DOUBLE / n::DOUBLE)
                            * (d1::DOUBLE / n::DOUBLE) * d1::DOUBLE)
                           / n::DOUBLE AS m4
                FROM s
            )
            SELECT n,
                   CASE WHEN m2 > 0
                        THEN round(m3 / sqrt(m2 * m2 * m2), 6)
                   END AS skewness,
                   CASE WHEN m2 > 0
                        THEN round(m4 / (m2 * m2) - 3, 6)
                   END AS ex_kurtosis,
                   CASE WHEN m2 > 0
                        THEN round(n::DOUBLE / 6
                             * ((m3 / sqrt(m2 * m2 * m2))
                                * (m3 / sqrt(m2 * m2 * m2))
                                + (m4 / (m2 * m2) - 3)
                                  * (m4 / (m2 * m2) - 3) / 4), 6)
                   END AS jb
            FROM m
        """,
        "stat_cmh": """
            -- Cochran-Mantel-Haenszel over event_type strata: exposure
            -- = even user_id, outcome = value > 100; nano-rounded
            -- per-stratum E/V/odds terms exact-summed (stats.cmh_test)
            WITH cells AS (
                SELECT event_type AS s,
                       sum((user_id % 2 = 0 AND value > 100.0)::INT)
                           ::BIGINT AS a,
                       sum((user_id % 2 = 0 AND NOT value > 100.0)::INT)
                           ::BIGINT AS b,
                       sum((NOT user_id % 2 = 0 AND value > 100.0)::INT)
                           ::BIGINT AS c,
                       sum((NOT user_id % 2 = 0 AND NOT value > 100.0)::INT)
                           ::BIGINT AS d
                FROM events
                WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                  AND value IS NOT NULL
                GROUP BY 1
            ), terms AS (
                SELECT a,
                       round((a + b)::DOUBLE * (a + c)::DOUBLE
                             / (a + b + c + d)::DOUBLE
                             * 1000000000000.0)::HUGEINT AS e12,
                       CASE WHEN (a + b + c + d) > 1
                            THEN round((a + b)::DOUBLE * (c + d)::DOUBLE
                                 * (a + c)::DOUBLE * (b + d)::DOUBLE
                                 / ((a + b + c + d)::DOUBLE
                                    * (a + b + c + d)::DOUBLE
                                    * ((a + b + c + d)::DOUBLE - 1))
                                 * 1000000000000.0)::HUGEINT
                            ELSE 0::HUGEINT END AS v12,
                       round(a::DOUBLE * d::DOUBLE
                             / (a + b + c + d)::DOUBLE
                             * 1000000000000.0)::HUGEINT AS ad12,
                       round(b::DOUBLE * c::DOUBLE
                             / (a + b + c + d)::DOUBLE
                             * 1000000000000.0)::HUGEINT AS bc12
                FROM cells
            ), agg AS (
                SELECT count(*)::BIGINT AS k_strata, sum(a)::BIGINT AS sum_a,
                       sum(e12) AS e12, sum(v12) AS v12,
                       sum(ad12) AS ad12, sum(bc12) AS bc12
                FROM terms
            )
            SELECT k_strata, sum_a,
                   round(e12::DOUBLE / 1000000000000.0, 6) AS e_sum,
                   round(v12::DOUBLE / 1000000000000.0, 6) AS v_sum,
                   CASE WHEN v12::DOUBLE / 1000000000000.0 > 0
                        THEN round(
                            (abs(sum_a::DOUBLE
                                 - e12::DOUBLE / 1000000000000.0) - 0.5)
                            * (abs(sum_a::DOUBLE
                                   - e12::DOUBLE / 1000000000000.0) - 0.5)
                            / (v12::DOUBLE / 1000000000000.0), 6)
                   END AS cmh,
                   CASE WHEN bc12::DOUBLE > 0
                        THEN round(ad12::DOUBLE / bc12::DOUBLE, 6)
                   END AS or_mh
            FROM agg
        """,
        "stat_durbin_watson": """
            -- Durbin-Watson on daily-count OLS residuals: micro-rounded
            -- e^2 / diff^2 terms exact-summed (stats.durbin_watson)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS x,
                       count(*)::BIGINT AS qy
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), q AS (
                SELECT (x - (SELECT min(x) FROM cnt))::BIGINT AS qx, qy
                FROM cnt
            ), m AS (
                SELECT count(*)::BIGINT AS n, sum(qx::HUGEINT) AS sx,
                       sum(qy::HUGEINT) AS sy, sum(qx::HUGEINT * qx) AS sxx,
                       sum(qx::HUGEINT * qy) AS sxy
                FROM q
            ), fit AS (
                SELECT n,
                       (n::HUGEINT * sxy - sx * sy)::DOUBLE
                           / (n::HUGEINT * sxx - sx * sx)::DOUBLE AS beta,
                       (sy * sxx - sx * sxy)::DOUBLE
                           / (n::HUGEINT * sxx - sx * sx)::DOUBLE AS alpha
                FROM m
            ), e AS (
                SELECT qx, qy, qy::DOUBLE - alpha - beta * qx::DOUBLE AS e, n
                FROM q CROSS JOIN fit
            ), terms AS (
                SELECT n,
                       round(e * e * 1000000.0)::HUGEINT AS e2,
                       CASE WHEN lag(e) OVER (ORDER BY qx, qy) IS NOT NULL
                            THEN round((e - lag(e) OVER (ORDER BY qx, qy))
                                 * (e - lag(e) OVER (ORDER BY qx, qy))
                                 * 1000000.0)::HUGEINT
                       END AS d2
                FROM e
            ), agg AS (
                SELECT n, sum(e2) AS se2, sum(d2) AS sd2
                FROM terms GROUP BY n
            )
            SELECT n,
                   CASE WHEN n >= 3 AND se2 > 0
                        THEN round(sd2::DOUBLE / se2::DOUBLE, 6)
                   END AS dw,
                   CASE WHEN n >= 3 AND se2 > 0
                        THEN round(1 - (sd2::DOUBLE / se2::DOUBLE) / 2, 6)
                   END AS rho
            FROM agg
        """,
        "stat_breusch_pagan": """
            -- Breusch-Pagan (Koenker n*R^2) on daily total cents vs
            -- day: e^2 micro-grid + second exact moment pass
            -- (stats.breusch_pagan)
            WITH daily AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS x,
                       sum(round(value * 100)::BIGINT)::BIGINT AS qy
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), q AS (
                SELECT (x - (SELECT min(x) FROM daily))::BIGINT AS qx, qy
                FROM daily
            ), m AS (
                SELECT count(*)::BIGINT AS n, sum(qx::HUGEINT) AS sx,
                       sum(qy::HUGEINT) AS sy, sum(qx::HUGEINT * qx) AS sxx,
                       sum(qx::HUGEINT * qy) AS sxy
                FROM q
            ), fit AS (
                SELECT (n::HUGEINT * sxy - sx * sy)::DOUBLE
                           / (n::HUGEINT * sxx - sx * sx)::DOUBLE AS beta,
                       (sy * sxx - sx * sxy)::DOUBLE
                           / (n::HUGEINT * sxx - sx * sx)::DOUBLE AS alpha
                FROM m
            ), aux AS (
                SELECT qx,
                       round((qy::DOUBLE - alpha - beta * qx::DOUBLE)
                             * (qy::DOUBLE - alpha - beta * qx::DOUBLE)
                             * 1000000.0)::BIGINT AS qu
                FROM q CROSS JOIN fit
            ), m2 AS (
                SELECT count(*)::BIGINT AS n, sum(qx::HUGEINT) AS sx,
                       sum(qu::HUGEINT) AS su, sum(qx::HUGEINT * qx) AS sxx,
                       sum(qu::HUGEINT * qu) AS suu,
                       sum(qx::HUGEINT * qu) AS sxu
                FROM aux
            ), c AS (
                SELECT n,
                       (n::HUGEINT * sxx - sx * sx)::DOUBLE AS cxx,
                       (n::HUGEINT * suu - su * su)::DOUBLE AS cuu,
                       (n::HUGEINT * sxu - sx * su)::DOUBLE AS cxu
                FROM m2
            )
            SELECT n,
                   CASE WHEN cxx > 0 AND cuu > 0
                        THEN round(cxu * cxu / (cxx * cuu), 6)
                   END AS r2_aux,
                   CASE WHEN cxx > 0 AND cuu > 0
                        THEN round(n::DOUBLE * (cxu * cxu / (cxx * cuu)), 6)
                   END AS lm
            FROM c
        """,
        "stat_chow": """
            -- Chow break F-test on daily counts at epoch-day 19738:
            -- closed-form segment SSRs from exact integer moments
            -- (stats.chow_test)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS x,
                       count(*)::BIGINT AS qy
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), q AS (
                SELECT (x - (SELECT min(x) FROM cnt))::BIGINT AS qx, qy,
                       x < 19738 AS seg1
                FROM cnt
            ), m AS (
                SELECT seg1, count(*)::BIGINT AS n, sum(qx::HUGEINT) AS sx,
                       sum(qy::HUGEINT) AS sy, sum(qx::HUGEINT * qx) AS sxx,
                       sum(qy::HUGEINT * qy) AS syy,
                       sum(qx::HUGEINT * qy) AS sxy
                FROM q GROUP BY seg1
            ), seg AS (
                SELECT seg1, n, sx, sy, sxx, syy, sxy,
                       CASE WHEN (n::HUGEINT * sxx - sx * sx)::DOUBLE > 0
                            THEN ((n::HUGEINT * syy - sy * sy)::DOUBLE
                                  - (n::HUGEINT * sxy - sx * sy)::DOUBLE
                                    * (n::HUGEINT * sxy - sx * sy)::DOUBLE
                                    / (n::HUGEINT * sxx - sx * sx)::DOUBLE)
                                 / n::DOUBLE
                            WHEN n > 0 THEN 0.0 END AS ssr_seg
                FROM m
            ), pooled AS (
                SELECT sum(CASE WHEN seg1 THEN n END)::BIGINT AS n1,
                       sum(CASE WHEN NOT seg1 THEN n END)::BIGINT AS n2,
                       sum(n)::BIGINT AS n, sum(sx) AS sx, sum(sy) AS sy,
                       sum(sxx) AS sxx, sum(syy) AS syy, sum(sxy) AS sxy,
                       sum(CASE WHEN seg1 THEN ssr_seg END) AS ssr1,
                       sum(CASE WHEN NOT seg1 THEN ssr_seg END) AS ssr2
                FROM seg
            ), fin AS (
                SELECT n1, n2, ssr1, ssr2,
                       CASE WHEN (n::HUGEINT * sxx - sx * sx)::DOUBLE > 0
                            THEN ((n::HUGEINT * syy - sy * sy)::DOUBLE
                                  - (n::HUGEINT * sxy - sx * sy)::DOUBLE
                                    * (n::HUGEINT * sxy - sx * sy)::DOUBLE
                                    / (n::HUGEINT * sxx - sx * sx)::DOUBLE)
                                 / n::DOUBLE
                            WHEN n > 0 THEN 0.0 END AS ssr_p
                FROM pooled
            )
            SELECT n1, n2,
                   round(ssr_p, 6) AS ssr_pooled,
                   round(ssr1, 6) AS ssr1, round(ssr2, 6) AS ssr2,
                   CASE WHEN n1 >= 2 AND n2 >= 2 AND n1 + n2 - 4 > 0
                             AND ssr1 + ssr2 > 0
                        THEN round(((ssr_p - (ssr1 + ssr2)) / 2.0)
                             / ((ssr1 + ssr2) / (n1 + n2 - 4)::DOUBLE), 6)
                   END AS f_stat
            FROM fin
        """,
        "evt_ljung_box": """
            -- Ljung-Box lags 1..7 on daily counts: exact integer
            -- centered products, one division per r_k, cumulative Q in
            -- lag order (event_analytics.ljung_box)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       count(*)::BIGINT AS qv
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), tot AS (
                SELECT count(*)::BIGINT AS n, sum(qv::HUGEINT) AS s FROM cnt
            ), d AS (
                SELECT t, n, (n::HUGEINT * qv - s) AS dv
                FROM cnt CROSS JOIN tot
            ), den AS (
                SELECT sum(dv * dv) AS den FROM d
            ), lags AS (
                SELECT unnest(range(1, 8))::BIGINT AS k
            ), pairs AS (
                SELECT l.k, a.n, a.dv AS dv, b.dv AS dvb
                FROM d a CROSS JOIN lags l
                JOIN d b ON a.t - l.k = b.t
            ), num AS (
                SELECT k, max(n)::BIGINT AS n, sum(dv * dvb) AS num
                FROM pairs GROUP BY k
            ), staged AS (
                SELECT k AS lag, n,
                       CASE WHEN den > 0
                            THEN round(num::DOUBLE / den::DOUBLE, 6)
                       END AS r,
                       CASE WHEN den > 0
                            THEN (num::DOUBLE / den::DOUBLE)
                                 * (num::DOUBLE / den::DOUBLE)
                                 / (n::DOUBLE - k::DOUBLE)
                       END AS term
                FROM num CROSS JOIN den
            )
            SELECT lag, r,
                   round(n::DOUBLE * (n::DOUBLE + 2)
                         * sum(term) OVER (ORDER BY lag
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW), 6) AS q_lb
            FROM staged
        """,
        "evt_forecast_eval": """
            -- naive vs weekly seasonal-naive backtest on daily counts:
            -- integer errors, micro-rounded sMAPE terms
            -- (event_analytics.forecast_eval)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       count(*)::BIGINT AS qv
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), l AS (
                SELECT qv, lag(qv, 1) OVER (ORDER BY t) AS p1,
                       lag(qv, 7) OVER (ORDER BY t) AS ps
                FROM cnt
            ), agg AS (
                SELECT count(p1)::BIGINT AS n_1,
                       sum(abs(qv - p1))::BIGINT AS sae_1,
                       sum(CASE WHEN p1 IS NOT NULL
                            THEN (qv - p1)::HUGEINT * (qv - p1) END) AS sse_1,
                       sum(CASE WHEN p1 IS NOT NULL
                                     AND abs(qv) + abs(p1) > 0
                            THEN round(2 * abs(qv - p1)::DOUBLE
                                 / (abs(qv) + abs(p1))::DOUBLE
                                 * 1000000.0)::BIGINT END)::BIGINT AS ssm_1,
                       count(ps)::BIGINT AS n_s,
                       sum(abs(qv - ps))::BIGINT AS sae_s,
                       sum(CASE WHEN ps IS NOT NULL
                            THEN (qv - ps)::HUGEINT * (qv - ps) END) AS sse_s,
                       sum(CASE WHEN ps IS NOT NULL
                                     AND abs(qv) + abs(ps) > 0
                            THEN round(2 * abs(qv - ps)::DOUBLE
                                 / (abs(qv) + abs(ps))::DOUBLE
                                 * 1000000.0)::BIGINT END)::BIGINT AS ssm_s
                FROM l
            )
            SELECT 'naive' AS method, n_1 AS n_eval,
                   CASE WHEN n_1 > 0
                        THEN round(sae_1::DOUBLE / n_1::DOUBLE, 6) END AS mae,
                   CASE WHEN n_1 > 0
                        THEN round(sqrt(sse_1::DOUBLE / n_1::DOUBLE), 6)
                   END AS rmse,
                   CASE WHEN n_1 > 0
                        THEN round(ssm_1::DOUBLE
                             / (n_1::DOUBLE * 1000000.0), 6) END AS smape,
                   CASE WHEN n_1 > 0 AND sae_1::DOUBLE / n_1::DOUBLE > 0
                        THEN round((sae_1::DOUBLE / n_1::DOUBLE)
                             / (sae_1::DOUBLE / n_1::DOUBLE), 6) END AS mase
            FROM agg
            UNION ALL
            SELECT 'seasonal_naive' AS method, n_s AS n_eval,
                   CASE WHEN n_s > 0
                        THEN round(sae_s::DOUBLE / n_s::DOUBLE, 6) END AS mae,
                   CASE WHEN n_s > 0
                        THEN round(sqrt(sse_s::DOUBLE / n_s::DOUBLE), 6)
                   END AS rmse,
                   CASE WHEN n_s > 0
                        THEN round(ssm_s::DOUBLE
                             / (n_s::DOUBLE * 1000000.0), 6) END AS smape,
                   CASE WHEN n_s > 0 AND sae_1::DOUBLE / n_1::DOUBLE > 0
                        THEN round((sae_s::DOUBLE / n_s::DOUBLE)
                             / (sae_1::DOUBLE / n_1::DOUBLE), 6) END AS mase
            FROM agg
        """,
        "stat_theil_u": """
            -- Theil's uncertainty coefficient lang|source: nano-rounded
            -- integer-count log terms exact-summed, one shared 1/N
            -- division (stats.theil_u)
            WITH base AS (
                SELECT lang AS a, source AS b FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL
            ), cells AS (
                SELECT a, b, count(*)::BIGINT AS nij FROM base GROUP BY 1, 2
            ), ma AS (
                SELECT a, count(*)::BIGINT AS na FROM base GROUP BY 1
            ), mb AS (
                SELECT b, count(*)::BIGINT AS nb FROM base GROUP BY 1
            ), tot AS (
                SELECT count(*)::BIGINT AS nn FROM base
            ), mi AS (
                SELECT max(nn)::BIGINT AS n,
                       sum(round(nij::DOUBLE
                            * (ln(nn::DOUBLE) + ln(nij::DOUBLE)
                               - ln(na::DOUBLE) - ln(nb::DOUBLE))
                            / 0.6931471805599453
                            * 1000000000.0)::BIGINT)::BIGINT AS mi_nano
                FROM cells JOIN ma USING (a) JOIN mb USING (b)
                CROSS JOIN tot
            ), ha AS (
                SELECT count(*)::BIGINT AS k_a,
                       sum(round(na::DOUBLE
                            * (ln(nn::DOUBLE) - ln(na::DOUBLE))
                            / 0.6931471805599453
                            * 1000000000.0)::BIGINT)::BIGINT AS h_a_nano
                FROM ma CROSS JOIN tot
            ), hb AS (
                SELECT count(*)::BIGINT AS k_b,
                       sum(round(nb::DOUBLE
                            * (ln(nn::DOUBLE) - ln(nb::DOUBLE))
                            / 0.6931471805599453
                            * 1000000000.0)::BIGINT)::BIGINT AS h_b_nano
                FROM mb CROSS JOIN tot
            )
            SELECT n, k_a, k_b,
                   round(mi_nano::DOUBLE
                         / (n::DOUBLE * 1000000000.0), 6) AS mi_bits,
                   round(h_a_nano::DOUBLE
                         / (n::DOUBLE * 1000000000.0), 6) AS h_a_bits,
                   round(h_b_nano::DOUBLE
                         / (n::DOUBLE * 1000000000.0), 6) AS h_b_bits,
                   CASE WHEN h_a_nano > 0
                        THEN round((mi_nano::DOUBLE
                                    / (n::DOUBLE * 1000000000.0))
                             / (h_a_nano::DOUBLE
                                / (n::DOUBLE * 1000000000.0)), 6)
                   END AS u_a_given_b,
                   CASE WHEN h_b_nano > 0
                        THEN round((mi_nano::DOUBLE
                                    / (n::DOUBLE * 1000000000.0))
                             / (h_b_nano::DOUBLE
                                / (n::DOUBLE * 1000000000.0)), 6)
                   END AS u_b_given_a
            FROM mi CROSS JOIN ha CROSS JOIN hb
        """,
        "eval_avg_precision": """
            -- exact average precision over the distinct value grid:
            -- nano-rounded p_i * precision_i terms, one 1/n_pos
            -- division (eval_metrics.average_precision)
            WITH q AS (
                SELECT value AS s, (event_type = 'purchase')::INT AS y
                FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL
            ), per_s AS (
                SELECT s, count(*)::BIGINT AS t, sum(y)::BIGINT AS p
                FROM q GROUP BY s
            ), cum AS (
                SELECT t, p,
                       sum(t) OVER (ORDER BY s DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)::BIGINT AS cum_t,
                       sum(p) OVER (ORDER BY s DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)::BIGINT AS cum_p
                FROM per_s
            ), agg AS (
                SELECT sum(p)::BIGINT AS n_pos,
                       sum(t - p)::BIGINT AS n_neg,
                       sum(round(p::DOUBLE
                            * (cum_p::DOUBLE / cum_t::DOUBLE)
                            * 1000000000.0)::BIGINT)::BIGINT AS ap_nano
                FROM cum
            )
            SELECT n_pos, n_neg,
                   CASE WHEN n_pos > 0
                        THEN round(ap_nano::DOUBLE
                             / (n_pos::DOUBLE * 1000000000.0), 6)
                   END AS ap,
                   CASE WHEN n_pos + n_neg > 0
                        THEN round(n_pos::DOUBLE
                             / (n_pos + n_neg)::DOUBLE, 6)
                   END AS prevalence
            FROM agg
        """,
        "eval_brier_decomp": """
            -- Brier + Murphy decomposition of the classifier prob vs
            -- lang='en', binned by distinct forecast value (exact
            -- identity) (eval_metrics.brier_decomposition)
            WITH f AS (
                SELECT doc_id,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
                       len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                               'that','for','on','with','as','was','at','by','be'],
                                              lower(t))))::DOUBLE
                           / len(string_split_regex(trim(text), '\\s+')) AS stopword_ratio,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
                FROM documents
            ), z AS (
                SELECT doc_id,
                       round(-2.0 + 3.0 * alpha_ratio + 2.5 * stopword_ratio
                             + (-4.0) * punct_ratio
                             + 1.5 * least(1.0, n_tokens / 200.0), 6) AS logit
                FROM f
            ), sc AS (
                SELECT z.doc_id, round(1.0 / (1.0 + exp(-logit)), 6) AS prob,
                       (d.lang = 'en') AS y
                FROM z JOIN documents d USING (doc_id)
            ), q AS (
                SELECT round(prob * 1000000)::BIGINT AS qp, y::INT AS y
                FROM sc WHERE prob IS NOT NULL AND y IS NOT NULL
            ), tot AS (
                SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS pos,
                       sum((qp - 1000000 * y)::HUGEINT
                           * (qp - 1000000 * y)::HUGEINT) AS bsum
                FROM q
            ), cells AS (
                SELECT qp, count(*)::BIGINT AS nk, sum(y)::BIGINT AS posk
                FROM q GROUP BY qp
            ), j AS (
                SELECT n, pos, bsum,
                       count(*)::BIGINT AS k_probs,
                       sum(round(nk::DOUBLE
                            * (qp::DOUBLE / 1000000.0
                               - posk::DOUBLE / nk::DOUBLE)
                            * (qp::DOUBLE / 1000000.0
                               - posk::DOUBLE / nk::DOUBLE)
                            * 1000000000000.0)::HUGEINT) AS rel_p,
                       sum(round(nk::DOUBLE
                            * (posk::DOUBLE / nk::DOUBLE
                               - pos::DOUBLE / n::DOUBLE)
                            * (posk::DOUBLE / nk::DOUBLE
                               - pos::DOUBLE / n::DOUBLE)
                            * 1000000000000.0)::HUGEINT) AS res_p
                FROM cells CROSS JOIN tot
                GROUP BY n, pos, bsum
            )
            SELECT n, k_probs,
                   round(bsum::DOUBLE
                         / (n::DOUBLE * 1000000000000.0), 6) AS brier,
                   round(rel_p::DOUBLE
                         / (n::DOUBLE * 1000000000000.0), 6) AS reliability,
                   round(res_p::DOUBLE
                         / (n::DOUBLE * 1000000000000.0), 6) AS resolution,
                   round((pos::DOUBLE / n::DOUBLE)
                         * (1 - pos::DOUBLE / n::DOUBLE), 6) AS uncertainty
            FROM j
        """,
        "eval_lift_gains": """
            -- decile lift/gains of value vs purchase: tie-deterministic
            -- start-offset buckets, exact integer counts
            -- (eval_metrics.lift_gains)
            WITH q AS (
                SELECT value AS s, (event_type = 'purchase')::INT AS y
                FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL
            ), per_s AS (
                SELECT s, count(*)::BIGINT AS t, sum(y)::BIGINT AS p
                FROM q GROUP BY s
            ), tot AS (
                SELECT sum(t)::BIGINT AS n_all, sum(p)::BIGINT AS pos_all
                FROM per_s
            ), staged AS (
                SELECT t, p,
                       (sum(t) OVER (ORDER BY s DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - t)::BIGINT AS start
                FROM per_s
            ), bucketed AS (
                SELECT floor((start * 10)::DOUBLE
                             / n_all::DOUBLE)::BIGINT AS bucket,
                       sum(t)::BIGINT AS n, sum(p)::BIGINT AS n_pos,
                       max(n_all)::BIGINT AS n_all,
                       max(pos_all)::BIGINT AS pos_all
                FROM staged CROSS JOIN tot
                GROUP BY 1
            ), cum AS (
                SELECT bucket, n, n_pos, n_all, pos_all,
                       sum(n) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)::BIGINT AS cum_n,
                       sum(n_pos) OVER (ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)::BIGINT AS cum_pos
                FROM bucketed
            )
            SELECT bucket, n, n_pos,
                   round(cum_n::DOUBLE / n_all::DOUBLE, 6) AS cum_pct_rows,
                   CASE WHEN pos_all > 0
                        THEN round(cum_pos::DOUBLE / pos_all::DOUBLE, 6)
                   END AS cum_gain,
                   CASE WHEN pos_all > 0
                        THEN round((n_pos::DOUBLE / n::DOUBLE)
                             / (pos_all::DOUBLE / n_all::DOUBLE), 6)
                   END AS lift
            FROM cum
        """,
        "stat_cronbach": """
            -- Cronbach alpha over user x event_type mean-spend cells:
            -- complete users, exact integer variance numerators, one
            -- division (stats.cronbach_alpha)
            WITH cells AS (
                SELECT user_id AS subj, event_type AS item,
                       round(sum(round(value * 1000000)::BIGINT)
                                 ::HUGEINT::DOUBLE
                             / count(*)::DOUBLE)::BIGINT AS qv
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                      AND value IS NOT NULL
                GROUP BY 1, 2
            ), kr AS (SELECT count(DISTINCT item)::BIGINT AS k FROM cells),
            complete AS (
                SELECT subj FROM cells, kr GROUP BY subj, k
                HAVING count(*) = any_value(k)
            ), cc AS (
                SELECT cells.* FROM cells JOIN complete USING (subj)
            ), per_item AS (
                SELECT item, count(*)::BIGINT AS n,
                       sum(qv::HUGEINT) AS sy,
                       sum(qv::HUGEINT * qv) AS syy
                FROM cc GROUP BY 1
            ), iv AS (
                SELECT max(n)::BIGINT AS n, count(*)::BIGINT AS k,
                       sum(n::HUGEINT * syy - sy * sy) AS cyy_items
                FROM per_item
            ), totals AS (
                SELECT subj, sum(qv::HUGEINT) AS tq FROM cc GROUP BY 1
            ), tv AS (
                SELECT count(*)::BIGINT AS n_t, sum(tq) AS st,
                       sum(tq * tq) AS stt
                FROM totals
            )
            SELECT n AS n_subjects, k AS k_items,
                   CASE WHEN k >= 2
                             AND (n_t::HUGEINT * stt - st * st)::DOUBLE > 0
                        THEN round(k::DOUBLE / (k::DOUBLE - 1)
                             * (1 - cyy_items::DOUBLE
                                / (n_t::HUGEINT * stt - st * st)::DOUBLE),
                             6)
                   END AS alpha
            FROM iv CROSS JOIN tv
        """,
        "stat_icc": """
            -- ICC(1) of event values within users: exact moments,
            -- micro-rounded S_i^2/n_i terms, Searle's k0
            -- (stats.icc_oneway)
            WITH q AS (
                SELECT user_id AS g, round(value * 100)::BIGINT AS qv
                FROM events
                WHERE user_id IS NOT NULL AND value IS NOT NULL
            ), per_g AS (
                SELECT g, count(*)::BIGINT AS ni, sum(qv::HUGEINT) AS si,
                       sum(qv::HUGEINT * qv) AS ssi
                FROM q GROUP BY 1
            ), agg AS (
                SELECT sum(ni)::BIGINT AS n, count(*)::BIGINT AS i,
                       sum(si) AS s, sum(ssi) AS ss,
                       sum(round((si::DOUBLE * si::DOUBLE) / ni::DOUBLE
                                 * 1000000.0)::HUGEINT) AS a_micro,
                       sum(ni::HUGEINT * ni) AS sn2
                FROM per_g
            ), fin AS (
                SELECT n, i,
                       ((a_micro::DOUBLE / 1000000.0)
                        - (s::DOUBLE * s::DOUBLE) / n::DOUBLE)
                           / (i::DOUBLE - 1) / 10000.0 AS msb,
                       (ss::DOUBLE - a_micro::DOUBLE / 1000000.0)
                           / (n::DOUBLE - i::DOUBLE) / 10000.0 AS msw,
                       (n::DOUBLE - sn2::DOUBLE / n::DOUBLE)
                           / (i::DOUBLE - 1) AS k0
                FROM agg
            )
            SELECT n AS n_ratings, i AS n_subjects,
                   CASE WHEN i >= 2 AND n > i THEN round(k0, 6) END AS k0,
                   CASE WHEN i >= 2 AND n > i THEN round(msb, 6) END AS msb,
                   CASE WHEN i >= 2 AND n > i THEN round(msw, 6) END AS msw,
                   CASE WHEN i >= 2 AND n > i
                             AND msb + (k0 - 1) * msw > 0
                        THEN round((msb - msw)
                             / (msb + (k0 - 1) * msw), 6)
                   END AS icc1
            FROM fin
        """,
        "stat_quade": """
            -- Quade range-weighted within-block rank test: doubled
            -- midranks for within-block values AND block ranges,
            -- F = (n-1)*B16n/(n*A16 - B16n) exact (stats.quade)
            WITH cells AS (
                SELECT user_id AS blk, event_type AS trt,
                       round(sum(round(value * 1000000)::BIGINT)
                                 ::HUGEINT::DOUBLE
                             / count(*)::DOUBLE)::BIGINT AS qv
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                      AND value IS NOT NULL
                GROUP BY 1, 2
            ), kr AS (SELECT count(DISTINCT trt)::BIGINT AS k FROM cells),
            complete AS (
                SELECT blk FROM cells, kr GROUP BY blk, k
                HAVING count(*) = any_value(k)
            ), cc AS (
                SELECT cells.* FROM cells JOIN complete USING (blk)
            ), per_bv AS (
                SELECT blk, qv, count(*)::BIGINT AS t FROM cc GROUP BY 1, 2
            ), ranked AS (
                SELECT blk, qv,
                       (2 * (sum(t) OVER (PARTITION BY blk ORDER BY qv
                                          ROWS UNBOUNDED PRECEDING) - t)
                        + t + 1)::BIGINT AS r2
                FROM per_bv
            ), ranges AS (
                SELECT blk, (max(qv) - min(qv))::BIGINT AS rng
                FROM cc GROUP BY 1
            ), per_rng AS (
                SELECT rng, count(*)::BIGINT AS tr FROM ranges GROUP BY 1
            ), rng_ranked AS (
                SELECT rng,
                       (2 * (sum(tr) OVER (ORDER BY rng
                                           ROWS UNBOUNDED PRECEDING) - tr)
                        + tr + 1)::BIGINT AS q2
                FROM per_rng
            ), s4 AS (
                SELECT cc.trt,
                       q2::HUGEINT * (r2 - (k + 1))::HUGEINT AS s4, k
                FROM cc
                JOIN ranked USING (blk, qv)
                JOIN ranges USING (blk)
                JOIN rng_ranked USING (rng)
                CROSS JOIN kr
            ), per_trt AS (
                SELECT trt, max(k)::BIGINT AS k, sum(s4) AS s4_j,
                       sum(s4 * s4) AS a16_j,
                       count(*)::BIGINT AS n_j
                FROM s4 GROUP BY 1
            ), agg AS (
                SELECT max(n_j)::BIGINT AS n, max(k)::BIGINT AS k,
                       sum(a16_j) AS a16, sum(s4_j * s4_j) AS b16n
                FROM per_trt
            )
            SELECT n AS n_blocks, k, (k - 1)::BIGINT AS dof1,
                   ((n - 1) * (k - 1))::BIGINT AS dof2,
                   CASE WHEN n >= 2 AND k >= 2
                             AND n::DOUBLE * a16::DOUBLE - b16n::DOUBLE > 0
                        THEN round((n::DOUBLE - 1) * b16n::DOUBLE
                             / (n::DOUBLE * a16::DOUBLE - b16n::DOUBLE), 6)
                   END AS f_stat
            FROM agg
        """,
        "graph_robustness": """
            -- hub-removal robustness: before/after counts + wedge mass
            -- with the top-10 hubs deterministically removed
            -- (graph_analytics.hub_removal_robustness)
            WITH li AS (
                SELECT * FROM lineitem WHERE l_partkey % 3 = 0
            ), e0 AS (
                SELECT 'O' || l_orderkey::VARCHAR AS s,
                       'P' || l_partkey::VARCHAR AS o FROM li
                UNION ALL
                SELECT 'O' || l_orderkey::VARCHAR,
                       'S' || l_suppkey::VARCHAR FROM li
                UNION ALL
                SELECT 'P' || l_partkey::VARCHAR,
                       'S' || l_suppkey::VARCHAR FROM li
            ), und AS (
                SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
                FROM e0 WHERE s <> o
            ), deg AS (
                SELECT node, count(*)::BIGINT AS d
                FROM (SELECT a AS node FROM und
                      UNION ALL SELECT b AS node FROM und)
                GROUP BY 1
            ), hubs AS (
                SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT 10
            ), kept AS (
                SELECT * FROM und
                WHERE a NOT IN (SELECT node FROM hubs)
                  AND b NOT IN (SELECT node FROM hubs)
            ), degk AS (
                SELECT node, count(*)::BIGINT AS d
                FROM (SELECT a AS node FROM kept
                      UNION ALL SELECT b AS node FROM kept)
                GROUP BY 1
            )
            SELECT 'before' AS phase, 0::BIGINT AS hubs_removed,
                   count(*)::BIGINT AS n_nodes,
                   (sum(d) // 2)::BIGINT AS n_edges,
                   max(d)::BIGINT AS max_degree,
                   (sum(d * (d - 1)) // 2)::BIGINT AS wedges
            FROM deg
            UNION ALL
            SELECT 'after', 10::BIGINT, count(*)::BIGINT,
                   (sum(d) // 2)::BIGINT, max(d)::BIGINT,
                   (sum(d * (d - 1)) // 2)::BIGINT
            FROM degk
        """,
        "stat_kuiper": """
            -- Kuiper V = D+ + D- between click and purchase values:
            -- integer cumulative cross-products on the merged grid
            -- (stats.kuiper_2sample)
            WITH qa AS (
                SELECT round(value * 1000000)::BIGINT AS qv FROM events
                WHERE event_type = 'click' AND value IS NOT NULL
            ), qb AS (
                SELECT round(value * 1000000)::BIGINT AS qv FROM events
                WHERE event_type = 'purchase' AND value IS NOT NULL
            ), ca AS (
                SELECT qv, count(*)::BIGINT AS ca FROM qa GROUP BY 1
            ), cb AS (
                SELECT qv, count(*)::BIGINT AS cb FROM qb GROUP BY 1
            ), merged AS (
                SELECT coalesce(ca.qv, cb.qv) AS qv,
                       coalesce(ca.ca, 0)::BIGINT AS ca,
                       coalesce(cb.cb, 0)::BIGINT AS cb
                FROM ca FULL OUTER JOIN cb USING (qv)
            ), cum AS (
                SELECT sum(ca) OVER (ORDER BY qv
                           ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_a,
                       sum(cb) OVER (ORDER BY qv
                           ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_b
                FROM merged
            ), totals AS (
                SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
                FROM merged
            ), agg AS (
                SELECT n_a, n_b,
                       max(cum_a::HUGEINT * n_b - cum_b::HUGEINT * n_a)
                           AS dp_num,
                       max(cum_b::HUGEINT * n_a - cum_a::HUGEINT * n_b)
                           AS dm_num
                FROM cum CROSS JOIN totals
                GROUP BY n_a, n_b
            )
            SELECT n_a, n_b,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round(dp_num::DOUBLE
                             / (n_a::DOUBLE * n_b::DOUBLE), 6)
                   END AS d_plus,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round(dm_num::DOUBLE
                             / (n_a::DOUBLE * n_b::DOUBLE), 6)
                   END AS d_minus,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round(dp_num::DOUBLE
                             / (n_a::DOUBLE * n_b::DOUBLE)
                             + dm_num::DOUBLE
                               / (n_a::DOUBLE * n_b::DOUBLE), 6)
                   END AS v,
                   CASE WHEN n_a > 0 AND n_b > 0
                        THEN round((dp_num::DOUBLE
                                    / (n_a::DOUBLE * n_b::DOUBLE)
                                    + dm_num::DOUBLE
                                      / (n_a::DOUBLE * n_b::DOUBLE))
                             * sqrt(n_a::DOUBLE * n_b::DOUBLE
                                    / (n_a::DOUBLE + n_b::DOUBLE)), 6)
                   END AS v_scaled
            FROM agg
        """,
        "evt_sax": """
            -- SAX symbols of daily counts: exact moments, 3-day PAA,
            -- N(0,1) quartile breakpoint literals
            -- (event_analytics.sax_symbolize)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       count(*)::BIGINT AS qv
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), mom AS (
                SELECT count(*)::BIGINT AS n, sum(qv::HUGEINT) AS s,
                       sum(qv::HUGEINT * qv) AS ss, min(t)::BIGINT AS t0
                FROM cnt
            ), wins AS (
                SELECT floor((t - t0) / 3)::BIGINT AS win,
                       count(*)::BIGINT AS n_buckets,
                       sum(qv::HUGEINT) AS ws,
                       max(n)::BIGINT AS n, max(s::DOUBLE) AS sd,
                       max(ss::DOUBLE) AS ssd
                FROM cnt CROSS JOIN mom GROUP BY 1
            ), z AS (
                SELECT win, n_buckets,
                       ws::DOUBLE / n_buckets::DOUBLE AS paa,
                       (n::DOUBLE * ssd - sd * sd)
                           / (n::DOUBLE * n::DOUBLE) AS var,
                       (ws::DOUBLE / n_buckets::DOUBLE - sd / n::DOUBLE)
                           / sqrt((n::DOUBLE * ssd - sd * sd)
                                  / (n::DOUBLE * n::DOUBLE)) AS zz
                FROM wins
            )
            SELECT win, n_buckets, round(paa, 6) AS paa,
                   CASE WHEN var > 0 THEN round(zz, 6) END AS z,
                   CASE WHEN var > 0 THEN
                        CASE WHEN zz < -0.6745 THEN 'a'
                             WHEN zz < 0.0 THEN 'b'
                             WHEN zz < 0.6745 THEN 'c'
                             ELSE 'd' END
                   END AS symbol
            FROM z
        """,
        "evt_adf": """
            -- Dickey-Fuller unit-root t on daily counts: exact integer
            -- moments of (lag y, delta y), closed-form SSR
            -- (event_analytics.dickey_fuller)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       count(*)::BIGINT AS qv
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), pairs AS (
                SELECT * FROM (
                    SELECT (qv - lag(qv) OVER (ORDER BY t))::BIGINT AS dy,
                           lag(qv) OVER (ORDER BY t)::BIGINT AS yl
                    FROM cnt
                ) WHERE yl IS NOT NULL
            ), m AS (
                SELECT count(*)::BIGINT AS n, sum(yl::HUGEINT) AS sx,
                       sum(dy::HUGEINT) AS sy,
                       sum(yl::HUGEINT * yl) AS sxx,
                       sum(dy::HUGEINT * dy) AS syy,
                       sum(yl::HUGEINT * dy) AS sxy
                FROM pairs
            ), c AS (
                SELECT n,
                       (n::HUGEINT * sxx - sx * sx)::DOUBLE AS cxx,
                       (n::HUGEINT * syy - sy * sy)::DOUBLE AS cyy,
                       (n::HUGEINT * sxy - sx * sy)::DOUBLE AS cxy
                FROM m
            )
            SELECT n,
                   CASE WHEN n >= 3 AND cxx > 0
                        THEN round(cxy / cxx, 6) END AS rho,
                   CASE WHEN n >= 3 AND cxx > 0
                             AND (cyy - cxy * cxy / cxx) / n::DOUBLE > 0
                        THEN round((cxy / cxx)
                             * sqrt((cxx / n::DOUBLE)
                                    / (((cyy - cxy * cxy / cxx)
                                        / n::DOUBLE)
                                       / (n::DOUBLE - 2))), 6)
                   END AS t_stat
            FROM c
        """,
        "stat_bartlett": """
            -- Bartlett k-group variance homogeneity: exact CYY per
            -- group, nano-rounded ln terms, one final chi2/C
            -- (stats.bartlett)
            WITH q AS (
                SELECT event_type AS g, round(value * 100)::BIGINT AS qv
                FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
            ), per_g AS (
                SELECT g, count(*)::BIGINT AS ni, sum(qv::HUGEINT) AS si,
                       sum(qv::HUGEINT * qv) AS ssi
                FROM q GROUP BY 1
            ), kept AS (
                SELECT ni,
                       (ni::HUGEINT * ssi - si * si)::DOUBLE AS cyy
                FROM per_g
                WHERE ni >= 2 AND (ni::HUGEINT * ssi - si * si)::DOUBLE > 0
            ), agg AS (
                SELECT count(*)::BIGINT AS k, sum(ni)::BIGINT AS n,
                       sum(round((ni::DOUBLE - 1)
                            * ln(cyy / (ni::DOUBLE * (ni::DOUBLE - 1)))
                            * 1000000000.0)::HUGEINT) AS lns_nano,
                       sum(round(cyy / ni::DOUBLE
                            * 1000000.0)::HUGEINT) AS cyy_n_micro,
                       sum(round(1.0 / (ni::DOUBLE - 1)
                            * 1000000000.0)::HUGEINT) AS inv_nano
                FROM kept
            )
            SELECT k, n,
                   CASE WHEN k >= 2 AND n > k
                        THEN round(((n::DOUBLE - k::DOUBLE)
                              * ln((cyy_n_micro::DOUBLE / 1000000.0)
                                   / (n::DOUBLE - k::DOUBLE))
                              - lns_nano::DOUBLE / 1000000000.0)
                             / (1 + (inv_nano::DOUBLE / 1000000000.0
                                     - 1 / (n::DOUBLE - k::DOUBLE))
                                / (3 * (k::DOUBLE - 1))), 6)
                   END AS chi2,
                   CASE WHEN k >= 2 AND n > k
                        THEN round(1 + (inv_nano::DOUBLE / 1000000000.0
                                        - 1 / (n::DOUBLE - k::DOUBLE))
                             / (3 * (k::DOUBLE - 1)), 6)
                   END AS c_factor
            FROM agg
        """,
        "text_code_detect": """
            -- code-likeness gate: symbol/indent/semicolon structural
            -- features through a deterministic logistic, logit
            -- round-6'd before exp (text_analysis.code_likeness)
            WITH base AS (
                SELECT doc_id, length(text)::BIGINT AS n_chars,
                       (length(text) - length(regexp_replace(text,
                            '[{}();=<>\\[\\]]', '', 'g')))::BIGINT AS sym,
                       len(string_split(text, chr(10)))::BIGINT AS n_lines,
                       len(list_filter(string_split(text, chr(10)),
                           l -> l LIKE '  %'
                                OR l LIKE chr(9) || '%'))::BIGINT AS ind,
                       len(list_filter(string_split(text, chr(10)),
                           l -> l LIKE '%;'))::BIGINT AS semic
                FROM documents
                WHERE text IS NOT NULL AND doc_id IS NOT NULL
            ), f AS (
                SELECT * FROM base WHERE n_chars > 0 AND n_lines > 0
            ), staged AS (
                SELECT doc_id, n_chars, n_lines,
                       round(sym::DOUBLE / n_chars::DOUBLE, 6)
                           AS sym_ratio,
                       round(ind::DOUBLE / n_lines::DOUBLE, 6)
                           AS indent_ratio,
                       round(semic::DOUBLE / n_lines::DOUBLE, 6)
                           AS semi_ratio,
                       round(-4.0
                             + 14.0 * (sym::DOUBLE / n_chars::DOUBLE)
                             + 3.0 * (ind::DOUBLE / n_lines::DOUBLE)
                             + 4.0 * (semic::DOUBLE / n_lines::DOUBLE),
                             6) AS logit
                FROM f
            )
            SELECT doc_id, n_chars, n_lines, sym_ratio, indent_ratio,
                   semi_ratio,
                   round(1.0 / (1.0 + exp(-logit)), 6) AS prob,
                   round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS is_code
            FROM staged
        """,
        "stat_tost": """
            -- TOST equivalence (Welch variances, +-5.0 margin, 1.645
            -- normal bounds): weekend vs weekday mean value
            -- (stats.tost_equivalence)
            WITH q AS (
                SELECT (date_part('dow', ts) IN (0, 6)) AS side,
                       round(value * 100)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND ts IS NOT NULL
            ), per AS (
                SELECT side, count(*)::BIGINT AS n,
                       sum(qv::HUGEINT) AS s,
                       sum(qv::HUGEINT * qv) AS ss
                FROM q GROUP BY 1
            ), wide AS (
                SELECT max(CASE WHEN side THEN n END) AS n_a,
                       max(CASE WHEN side THEN s END) AS s_a,
                       max(CASE WHEN side THEN ss END) AS ss_a,
                       max(CASE WHEN NOT side THEN n END) AS n_b,
                       max(CASE WHEN NOT side THEN s END) AS s_b,
                       max(CASE WHEN NOT side THEN ss END) AS ss_b
                FROM per
            ), c AS (
                SELECT n_a, n_b,
                       s_a::DOUBLE / (n_a::DOUBLE * 100.0) AS mean_a,
                       s_b::DOUBLE / (n_b::DOUBLE * 100.0) AS mean_b,
                       sqrt((n_a::HUGEINT * ss_a - s_a * s_a)::DOUBLE
                            / (n_a::DOUBLE * n_a::DOUBLE
                               * (n_a::DOUBLE - 1) * 100.0 * 100.0)
                            + (n_b::HUGEINT * ss_b - s_b * s_b)::DOUBLE
                              / (n_b::DOUBLE * n_b::DOUBLE
                                 * (n_b::DOUBLE - 1) * 100.0 * 100.0))
                           AS se
                FROM wide
            )
            SELECT n_a, n_b,
                   round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
                   round(mean_a - mean_b, 6) AS diff,
                   CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
                        THEN round((mean_a - mean_b + 5.0) / se, 6)
                   END AS t_lower,
                   CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
                        THEN round((mean_a - mean_b - 5.0) / se, 6)
                   END AS t_upper,
                   CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
                        THEN (mean_a - mean_b + 5.0) / se >= 1.645
                             AND (mean_a - mean_b - 5.0) / se <= -1.645
                   END AS equivalent
            FROM c
        """,
        "evt_fano": """
            -- Fano factor of hourly counts + interarrival CV^2: exact
            -- integer moments, one division per statistic
            -- (event_analytics.fano_burstiness)
            WITH us AS (
                SELECT epoch_us(ts)::BIGINT AS us FROM events
                WHERE ts IS NOT NULL
            ), per_b AS (
                SELECT floor(us / 3600000000)::BIGINT AS b,
                       count(*)::BIGINT AS c
                FROM us GROUP BY 1
            ), bm AS (
                SELECT count(*)::BIGINT AS n_buckets,
                       sum(c::HUGEINT) AS s,
                       sum(c::HUGEINT * c) AS ss
                FROM per_b
            ), gaps AS (
                SELECT * FROM (
                    SELECT (us - lag(us) OVER (ORDER BY us))::BIGINT AS g
                    FROM us
                ) WHERE g IS NOT NULL
            ), gm AS (
                SELECT count(*)::BIGINT AS n_intervals,
                       sum(g::HUGEINT) AS gs,
                       sum(g::HUGEINT * g) AS gss
                FROM gaps
            )
            SELECT n_buckets,
                   CASE WHEN n_buckets >= 2 AND s > 0
                        THEN round(((n_buckets::DOUBLE * ss::DOUBLE
                                     - s::DOUBLE * s::DOUBLE)
                                    / (n_buckets::DOUBLE
                                       * n_buckets::DOUBLE))
                             / (s::DOUBLE / n_buckets::DOUBLE), 6)
                   END AS fano,
                   n_intervals,
                   CASE WHEN n_intervals >= 2 AND gs > 0
                        THEN round(((n_intervals::DOUBLE * gss::DOUBLE
                                     - gs::DOUBLE * gs::DOUBLE)
                                    / (n_intervals::DOUBLE
                                       * n_intervals::DOUBLE))
                             / ((gs::DOUBLE / n_intervals::DOUBLE)
                                * (gs::DOUBLE / n_intervals::DOUBLE)),
                             6)
                   END AS cv2
            FROM bm CROSS JOIN gm
        """,
        "evt_skyline": """
            -- 2-D Pareto front of users over (spend cents, events):
            -- strict-greater RANGE frame + same-x group max, pure
            -- integer dominance (event_analytics.skyline_2d)
            WITH per_user AS (
                SELECT user_id,
                       sum(round(value * 100)::BIGINT)::BIGINT AS cents,
                       count(*)::BIGINT AS n_events
                FROM events
                WHERE user_id IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), staged AS (
                SELECT user_id AS id, cents AS x, n_events AS y,
                       max(n_events) OVER (ORDER BY cents
                            RANGE BETWEEN 1 FOLLOWING
                            AND UNBOUNDED FOLLOWING) AS m1,
                       max(n_events) OVER (PARTITION BY cents) AS gmax
                FROM per_user
            )
            SELECT id, x, y FROM staged
            WHERE (m1 IS NULL OR m1 < y) AND y = gmax
        """,
        "evt_gehan": """
            -- Gehan-Breslow-Wilcoxon: n-at-risk-weighted log-rank on
            -- weekend/weekday session cohorts; W = sum(nr*d1 - d*nr1)
            -- pure integer, variance micro-rounded
            -- (survival.gehan_wilcoxon)
            WITH marked AS (
                SELECT user_id, epoch_us(ts) AS us,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                            THEN 1 ELSE 0 END AS _new
                FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
            ), sess AS (
                SELECT user_id, us,
                       sum(_new) OVER (PARTITION BY user_id ORDER BY us
                                       ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            ), per_s AS (
                SELECT user_id, sid, min(us) AS smin, max(us) AS smax
                FROM sess GROUP BY 1, 2
            ), h AS (SELECT max(smax) AS gmax FROM per_s),
            lt AS (
                SELECT (smax - smin) // 1000000 AS dur,
                       (smax <= gmax - 1800 * 1000000)::INT AS e,
                       (((((smin // 1000000) // 86400) + 4) % 7) IN (0, 6))::INT AS g
                FROM per_s, h
            ), pt AS (
                SELECT dur AS t, sum(e)::BIGINT AS d, sum(e * g)::BIGINT AS d1,
                       count(*)::BIGINT AS leave, sum(g)::BIGINT AS leave1
                FROM lt GROUP BY 1
            ), tot AS (
                SELECT sum(leave)::BIGINT AS n, sum(leave1)::BIGINT AS n1 FROM pt
            ), r AS (
                SELECT t, d, d1,
                       (n - (sum(leave) OVER w - leave))::BIGINT AS nr,
                       (n1 - (sum(leave1) OVER w - leave1))::BIGINT AS nr1
                FROM pt, tot
                WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
            ), terms AS (
                SELECT (nr::HUGEINT * d1 - d::HUGEINT * nr1) AS wt,
                       CASE WHEN nr >= 2
                            THEN round(d::DOUBLE * nr1::DOUBLE
                                       * (nr - nr1)::DOUBLE
                                       * (nr::DOUBLE - d::DOUBLE)
                                       / (nr::DOUBLE - 1.0)
                                       * 1000000.0)::HUGEINT
                            ELSE 0 END AS vt
                FROM r WHERE d > 0
            ), fold AS (
                SELECT sum(wt) AS w_sum, sum(vt) AS vu FROM terms
            )
            SELECT n, n1, w_sum::DOUBLE AS w_sum,
                   round(vu::DOUBLE / 1000000.0, 6) AS v,
                   CASE WHEN vu::DOUBLE / 1000000.0 > 0
                        THEN round(w_sum::DOUBLE
                             / sqrt(vu::DOUBLE / 1000000.0), 6) END AS z,
                   CASE WHEN vu::DOUBLE / 1000000.0 > 0
                        THEN round((w_sum::DOUBLE
                                    / sqrt(vu::DOUBLE / 1000000.0))
                             * (w_sum::DOUBLE
                                / sqrt(vu::DOUBLE / 1000000.0)), 6)
                   END AS chi2
            FROM fold, tot
        """,
        "eval_mcc": """
            -- MCC/F1/balanced accuracy of the classifier keep decision
            -- vs lang='en': four exact cells, one sqrt
            -- (eval_metrics.binary_confusion_stats)
            WITH f AS (
                SELECT doc_id,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
                       len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                               'that','for','on','with','as','was','at','by','be'],
                                              lower(t))))::DOUBLE
                           / len(string_split_regex(trim(text), '\\s+')) AS stopword_ratio,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
                FROM documents
            ), z AS (
                SELECT doc_id,
                       round(-2.0 + 3.0 * alpha_ratio + 2.5 * stopword_ratio
                             + (-4.0) * punct_ratio
                             + 1.5 * least(1.0, n_tokens / 200.0), 6) AS logit
                FROM f
            ), sc AS (
                SELECT z.doc_id,
                       round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS p,
                       (d.lang = 'en') AS y
                FROM z JOIN documents d USING (doc_id)
            ), q AS (
                SELECT p, y FROM sc WHERE p IS NOT NULL AND y IS NOT NULL
            ), agg AS (
                SELECT sum((p AND y)::INT)::BIGINT AS tp,
                       sum((p AND NOT y)::INT)::BIGINT AS fp,
                       sum((NOT p AND y)::INT)::BIGINT AS fn,
                       sum((NOT p AND NOT y)::INT)::BIGINT AS tn
                FROM q
            )
            SELECT tp, fp, fn, tn,
                   CASE WHEN tp + fp > 0
                        THEN round(tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE), 6)
                   END AS precision,
                   CASE WHEN tp + fn > 0
                        THEN round(tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE), 6)
                   END AS recall,
                   CASE WHEN 2 * tp + fp + fn > 0
                        THEN round(2 * tp::DOUBLE
                             / (2 * tp::DOUBLE + fp::DOUBLE + fn::DOUBLE), 6)
                   END AS f1,
                   CASE WHEN tp + fn > 0 AND tn + fp > 0
                        THEN round((tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE)
                                    + tn::DOUBLE / (tn::DOUBLE + fp::DOUBLE))
                             / 2, 6)
                   END AS balanced_acc,
                   CASE WHEN sqrt((tp::DOUBLE + fp::DOUBLE)
                                  * (tp::DOUBLE + fn::DOUBLE)
                                  * (tn::DOUBLE + fp::DOUBLE)
                                  * (tn::DOUBLE + fn::DOUBLE)) > 0
                        THEN round((tp::DOUBLE * tn::DOUBLE
                                    - fp::DOUBLE * fn::DOUBLE)
                             / sqrt((tp::DOUBLE + fp::DOUBLE)
                                    * (tp::DOUBLE + fn::DOUBLE)
                                    * (tn::DOUBLE + fp::DOUBLE)
                                    * (tn::DOUBLE + fn::DOUBLE)), 6)
                   END AS mcc
            FROM agg
        """,
        "curation_source_overlap": """
            -- pairwise source md5-content overlap with per-(hash,
            -- source) dedup first (corpus_curation.source_overlap_matrix)
            WITH hs AS (
                SELECT DISTINCT md5(lower(left(text, 40))) AS h, source AS s
                FROM documents
                WHERE text IS NOT NULL AND source IS NOT NULL
            ), per_src AS (
                SELECT s, count(*)::BIGINT AS n FROM hs GROUP BY 1
            ), pairs AS (
                SELECT a.s AS src_a, b.s AS src_b,
                       count(*)::BIGINT AS n_shared
                FROM hs a JOIN hs b USING (h)
                WHERE a.s < b.s
                GROUP BY 1, 2
            )
            SELECT src_a, src_b, pa.n AS n_a, pb.n AS n_b, n_shared,
                   round(n_shared::DOUBLE
                         / (pa.n + pb.n - n_shared)::DOUBLE, 6) AS jaccard
            FROM pairs
            JOIN per_src pa ON pairs.src_a = pa.s
            JOIN per_src pb ON pairs.src_b = pb.s
        """,
        "evt_decompose": """
            -- STL-lite additive decomposition of daily counts: 7-day
            -- centered trend, zero-centered weekday seasonal
            -- (event_analytics.seasonal_decompose_additive)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       count(*)::BIGINT AS qv
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), trended AS (
                SELECT t, qv,
                       CASE WHEN count(*) OVER wt = 7
                                 AND max(t) OVER wt - min(t) OVER wt = 6
                            THEN sum(qv) OVER wt::DOUBLE / 7.0 END AS trend_q
                FROM cnt
                WINDOW wt AS (ORDER BY t
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            ), detr AS (
                SELECT t, qv, trend_q, (t % 7)::BIGINT AS phase,
                       qv::DOUBLE - trend_q AS dt_q
                FROM trended
            ), pm AS (
                SELECT phase,
                       sum(round(dt_q * 1000000.0)::HUGEINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS raw_seasonal
                FROM detr WHERE dt_q IS NOT NULL GROUP BY 1
            ), ctr AS (
                SELECT sum(round(raw_seasonal * 1000000.0)::HUGEINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS mean_seasonal
                FROM pm
            ), seas AS (
                SELECT phase, raw_seasonal - mean_seasonal AS seasonal_q
                FROM pm CROSS JOIN ctr
            )
            SELECT t, round(qv::DOUBLE / 1.0, 6) AS value,
                   round(trend_q / 1.0, 6) AS trend,
                   round(seasonal_q / 1.0, 6) AS seasonal,
                   round((qv::DOUBLE - trend_q - seasonal_q) / 1.0, 6)
                       AS resid
            FROM detr JOIN seas USING (phase)
        """,
        "eval_regression": """
            -- regression report of the per-type mean predictor,
            -- first-half fit / second-half eval; integer micro-grid
            -- errors (eval_metrics.regression_metrics)
            WITH ev AS (
                SELECT event_type,
                       (epoch_us(ts) // 86400000000)::BIGINT >= 19738 AS h2,
                       round(value * 1000000)::BIGINT AS qv
                FROM events
                WHERE ts IS NOT NULL AND event_type IS NOT NULL
                      AND value IS NOT NULL
            ), train AS (
                SELECT event_type,
                       sum(qv)::DOUBLE / (count(*)::DOUBLE * 1000000.0)
                           AS pred
                FROM ev WHERE NOT h2 GROUP BY 1
            ), test AS (
                SELECT e.qv::DOUBLE / 1000000.0 AS actual, t.pred
                FROM ev e JOIN train t USING (event_type)
                WHERE e.h2
            ), q AS (
                SELECT round(pred * 1000000)::BIGINT AS qp,
                       round(actual * 1000000)::BIGINT AS qy
                FROM test
            ), agg AS (
                SELECT count(*)::BIGINT AS n,
                       sum(abs(qp - qy)::HUGEINT) AS sae,
                       sum((qp - qy)::HUGEINT * (qp - qy)) AS sse,
                       sum(qy::HUGEINT) AS sy,
                       sum(qy::HUGEINT * qy) AS syy,
                       count(CASE WHEN qy <> 0 THEN 1 END)::BIGINT AS n_mape,
                       sum(CASE WHEN qy <> 0
                            THEN round(abs(qp - qy)::DOUBLE
                                 / abs(qy)::DOUBLE
                                 * 1000000.0)::BIGINT END)::BIGINT AS smape_t
                FROM q
            )
            SELECT n,
                   CASE WHEN n > 0
                        THEN round(sae::DOUBLE
                             / (n::DOUBLE * 1000000.0), 6) END AS mae,
                   CASE WHEN n > 0
                        THEN round(sqrt(sse::DOUBLE / n::DOUBLE)
                             / 1000000.0, 6) END AS rmse,
                   CASE WHEN (n::HUGEINT * syy - sy * sy)::DOUBLE
                             / n::DOUBLE > 0
                        THEN round(1 - sse::DOUBLE
                             / ((n::HUGEINT * syy - sy * sy)::DOUBLE
                                / n::DOUBLE), 6) END AS r2,
                   CASE WHEN n_mape > 0
                        THEN round(smape_t::DOUBLE
                             / (n_mape::DOUBLE * 1000000.0), 6)
                   END AS mape
            FROM agg
        """,
        "evt_hour_uniform": """
            -- one-sample KS vs the uniform hour-of-day law: exact
            -- integer CDF cross-products over ALL 24 cells (zero-event
            -- hours join in via the 24-row frame)
            -- (event_analytics.hour_uniformity_ks)
            WITH hrs AS (
                SELECT ((epoch_us(ts) // 3600000000) % 24)::BIGINT AS h
                FROM events WHERE ts IS NOT NULL
            ), obs AS (
                SELECT h, count(*)::BIGINT AS c FROM hrs GROUP BY 1
            ), per_h AS (
                SELECT g.h, coalesce(obs.c, 0)::BIGINT AS c
                FROM (SELECT range::BIGINT AS h FROM range(0, 24)) g
                LEFT JOIN obs ON g.h = obs.h
            ), tot AS (
                SELECT sum(c)::BIGINT AS n FROM per_h
            ), cum AS (
                SELECT h, n,
                       sum(c) OVER (ORDER BY h
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
                FROM per_h CROSS JOIN tot
            ), staged AS (
                SELECT h, n,
                       abs(24::HUGEINT * cum - (h + 1)::HUGEINT * n) AS num
                FROM cum
            ), best AS (
                SELECT n, dnum, min(h)::BIGINT AS at_hour
                FROM (SELECT h, n, num, max(num) OVER () AS dnum
                      FROM staged)
                WHERE num = dnum GROUP BY n, dnum
            )
            SELECT n,
                   round(dnum::DOUBLE / (24.0 * n::DOUBLE), 6) AS d,
                   at_hour,
                   round((dnum::DOUBLE / (24.0 * n::DOUBLE))
                         * sqrt(n::DOUBLE), 6) AS d_scaled
            FROM best
        """,
        "evt_pot": """
            -- GPD method-of-moments over the fixed 250.0 threshold:
            -- exact integer excess moments
            -- (event_analytics.pot_tail_fit)
            WITH q AS (
                SELECT round(value * 100)::BIGINT AS qv FROM events
                WHERE value IS NOT NULL
            ), agg AS (
                SELECT count(*)::BIGINT AS n,
                       sum((qv > 25000)::INT)::BIGINT AS n_exceed,
                       sum(CASE WHEN qv > 25000
                            THEN (qv - 25000)::HUGEINT END) AS s,
                       sum(CASE WHEN qv > 25000
                            THEN (qv - 25000)::HUGEINT * (qv - 25000) END)
                           AS ss
                FROM q
            ), c AS (
                SELECT n, n_exceed, s,
                       s::DOUBLE / (n_exceed::DOUBLE * 100.0) AS m,
                       (n_exceed::HUGEINT * ss - s * s)::DOUBLE
                           / (n_exceed::DOUBLE * n_exceed::DOUBLE
                              * 100.0 * 100.0) AS s2
                FROM agg
            )
            SELECT 250.0 AS u, n, n_exceed,
                   CASE WHEN n > 0
                        THEN round(n_exceed::DOUBLE / n::DOUBLE, 6)
                   END AS exceed_rate,
                   CASE WHEN n_exceed > 0 THEN round(m, 6)
                   END AS mean_excess,
                   CASE WHEN n_exceed >= 2 AND s2 > 0
                        THEN round((1 - m * m / s2) / 2, 6) END AS xi,
                   CASE WHEN n_exceed >= 2 AND s2 > 0
                        THEN round(m / 2 * (1 + m * m / s2), 6)
                   END AS sigma
            FROM c
        """,
        "stat_yuen": """
            -- Yuen 10%-trimmed t, weekend vs weekday value: per-side
            -- grid cut statistics, exact winsorized moments
            -- (stats.yuen_t)
            WITH q AS (
                SELECT (date_part('dow', ts) IN (0, 6)) AS g,
                       round(value * 100)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND ts IS NOT NULL
            ), cells AS (
                SELECT g, qv, count(*)::BIGINT AS t FROM q GROUP BY 1, 2
            ), cum AS (
                SELECT g, qv, t,
                       sum(t) OVER (PARTITION BY g ORDER BY qv
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
                FROM cells
            ), tot AS (
                SELECT g, sum(t)::BIGINT AS n,
                       floor(sum(t) * 0.1)::BIGINT AS k
                FROM cells GROUP BY 1
            ), j AS (
                SELECT cum.*, tot.n, tot.k FROM cum JOIN tot USING (g)
            ), lo AS (
                SELECT g, min(qv) AS lo_q FROM j WHERE cum >= k + 1
                GROUP BY 1
            ), hi AS (
                SELECT g, min(qv) AS hi_q FROM j WHERE cum >= n - k
                GROUP BY 1
            ), sums AS (
                SELECT g, n, k,
                       sum(qv::HUGEINT
                           * greatest(0, least(cum, n - k)
                                      - greatest(cum - t, k))::HUGEINT)
                           AS tsum,
                       sum(qv::HUGEINT * qv
                           * greatest(0, least(cum, n - k)
                                      - greatest(cum - t, k))::HUGEINT)
                           AS tss
                FROM j GROUP BY 1, 2, 3
            ), side AS (
                SELECT g, n, k, (n - 2 * k)::BIGINT AS h,
                       (tsum + k::HUGEINT * lo_q + k::HUGEINT * hi_q)
                           AS wsum,
                       (tss + k::HUGEINT * lo_q * lo_q
                        + k::HUGEINT * hi_q * hi_q) AS wss,
                       tsum
                FROM sums JOIN lo USING (g) JOIN hi USING (g)
            ), wide AS (
                SELECT max(CASE WHEN g THEN n END) AS n_a,
                       max(CASE WHEN g THEN h END) AS h_a,
                       max(CASE WHEN g THEN tsum END) AS tsum_a,
                       max(CASE WHEN g THEN wsum END) AS wsum_a,
                       max(CASE WHEN g THEN wss END) AS wss_a,
                       max(CASE WHEN NOT g THEN n END) AS n_b,
                       max(CASE WHEN NOT g THEN h END) AS h_b,
                       max(CASE WHEN NOT g THEN tsum END) AS tsum_b,
                       max(CASE WHEN NOT g THEN wsum END) AS wsum_b,
                       max(CASE WHEN NOT g THEN wss END) AS wss_b
                FROM side
            ), c AS (
                SELECT n_a, n_b, h_a, h_b,
                       tsum_a::DOUBLE / (h_a::DOUBLE * 100.0) AS tma,
                       tsum_b::DOUBLE / (h_b::DOUBLE * 100.0) AS tmb,
                       (n_a::HUGEINT * wss_a - wsum_a * wsum_a)::DOUBLE
                           / (n_a::DOUBLE * h_a::DOUBLE
                              * (h_a::DOUBLE - 1) * 100.0 * 100.0) AS da,
                       (n_b::HUGEINT * wss_b - wsum_b * wsum_b)::DOUBLE
                           / (n_b::DOUBLE * h_b::DOUBLE
                              * (h_b::DOUBLE - 1) * 100.0 * 100.0) AS db
                FROM wide
            )
            SELECT n_a, n_b, h_a, h_b,
                   round(tma, 6) AS tmean_a, round(tmb, 6) AS tmean_b,
                   CASE WHEN h_a >= 2 AND h_b >= 2 AND da + db > 0
                        THEN round((tma - tmb) / sqrt(da + db), 6)
                   END AS t_stat,
                   CASE WHEN h_a >= 2 AND h_b >= 2 AND da > 0 AND db > 0
                        THEN round((da + db) * (da + db)
                             / (da * da / (h_a::DOUBLE - 1)
                                + db * db / (h_b::DOUBLE - 1)), 6)
                   END AS df
            FROM c
        """,
        "eval_rbo": """
            -- truncated RBO@20 (p=0.9) between spend- and activity-
            -- ranked users: joint-depth grid counts, nano-rounded
            -- p-power terms (eval_metrics.rank_biased_overlap)
            WITH per_user AS (
                SELECT user_id,
                       sum(round(value * 100)::BIGINT)::BIGINT AS cents,
                       count(*)::BIGINT AS n_events
                FROM events
                WHERE user_id IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), ra AS (
                SELECT user_id AS id,
                       row_number() OVER (ORDER BY cents DESC,
                                          user_id ASC)::BIGINT AS ra
                FROM per_user
            ), rb AS (
                SELECT user_id AS id,
                       row_number() OVER (ORDER BY n_events DESC,
                                          user_id ASC)::BIGINT AS rb
                FROM per_user
            ), joint AS (
                SELECT greatest(ra, rb)::BIGINT AS m
                FROM ra JOIN rb USING (id)
                WHERE ra <= 20 AND rb <= 20
            ), mcells AS (
                SELECT m, count(*)::BIGINT AS c FROM joint GROUP BY 1
            ), depths AS (
                SELECT unnest(range(1, 21))::BIGINT AS d
            ), xd AS (
                SELECT d, coalesce(sum(c), 0)::BIGINT AS x
                FROM depths LEFT JOIN mcells ON m <= d
                GROUP BY d
            ), nb AS (
                SELECT count(*)::BIGINT AS n_both FROM joint
            ), agg AS (
                SELECT sum(round(pow(0.9, (d - 1)::DOUBLE) * x::DOUBLE
                            / d::DOUBLE
                            * 1000000000.0)::BIGINT)::BIGINT AS t_nano,
                       max(CASE WHEN d = 20 THEN x END)::BIGINT
                           AS overlap_at_k
                FROM xd
            )
            SELECT 20::BIGINT AS k, n_both, overlap_at_k,
                   round((1.0 - 0.9) * t_nano::DOUBLE / 1000000000.0, 6)
                       AS rbo
            FROM agg CROSS JOIN nb
        """,
        "stat_weighted_kappa": """
            -- quadratic-weighted kappa over ordinal 0/1/2 bands:
            -- kappa_w = 1 - n*sum(w*O)/sum(w*r*c), one division
            -- (stats.weighted_kappa)
            WITH d AS (
                SELECT n_chars,
                       (length(text) - length(replace(text, ' ', ''))
                        + 1)::BIGINT AS wc
                FROM documents
                WHERE text IS NOT NULL AND doc_id IS NOT NULL
            ), q AS (
                SELECT (CASE WHEN n_chars < 220 THEN 0
                             WHEN n_chars < 380 THEN 1 ELSE 2 END)::BIGINT
                           AS a,
                       (CASE WHEN wc < 40 THEN 0
                             WHEN wc < 70 THEN 1 ELSE 2 END)::BIGINT AS b
                FROM d
            ), cells AS (
                SELECT a, b, count(*)::BIGINT AS o FROM q GROUP BY 1, 2
            ), ra AS (
                SELECT a, count(*)::BIGINT AS r FROM q GROUP BY 1
            ), cb AS (
                SELECT b, count(*)::BIGINT AS c FROM q GROUP BY 1
            ), tot AS (
                SELECT count(*)::BIGINT AS n,
                       count(DISTINCT a)::BIGINT AS ka,
                       count(DISTINCT b)::BIGINT AS kb
                FROM q
            ), num AS (
                SELECT sum(abs(a - b)::HUGEINT * abs(a - b)::HUGEINT
                           * o::HUGEINT) AS wo
                FROM cells
            ), den AS (
                SELECT sum(abs(ra.a - cb.b)::HUGEINT
                           * abs(ra.a - cb.b)::HUGEINT
                           * r::HUGEINT * c::HUGEINT) AS wrc
                FROM ra CROSS JOIN cb
            )
            SELECT n, greatest(ka, kb)::BIGINT AS k_cats,
                   CASE WHEN wrc > 0
                        THEN round(1 - (n::HUGEINT * wo)::DOUBLE
                             / wrc::DOUBLE, 6)
                   END AS kappa_weighted
            FROM tot CROSS JOIN num CROSS JOIN den
        """,
        "evt_drawdown": """
            -- max drawdown of the daily net flow (purchase - error):
            -- exact integer prefix sums and running peaks
            -- (event_analytics.max_drawdown)
            WITH daily AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       sum(CASE WHEN event_type = 'purchase'
                                THEN round(value * 100)::BIGINT
                                WHEN event_type = 'error'
                                THEN -round(value * 100)::BIGINT
                                ELSE 0 END)::BIGINT AS qv
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), staged AS (
                SELECT t, cum, max(cum) OVER (ORDER BY t
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS peak
                FROM (SELECT t, sum(qv) OVER (ORDER BY t
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
                      FROM daily)
            ), dd AS (
                SELECT t, cum, peak, (peak - cum)::BIGINT AS dd FROM staged
            ), best AS (
                SELECT mdd, min(t)::BIGINT AS trough_t,
                       arg_min(peak, t)::BIGINT AS pk_at
                FROM (SELECT t, peak, dd, max(dd) OVER ()::BIGINT AS mdd
                      FROM dd)
                WHERE dd = mdd GROUP BY mdd
            ), tails AS (
                SELECT count(*)::BIGINT AS n, max(cum)::BIGINT AS gpeak
                FROM dd
            ), fin AS (
                SELECT cum AS final_cum_q FROM dd
                ORDER BY t DESC LIMIT 1
            )
            SELECT n,
                   round(final_cum_q::DOUBLE / 1.0, 6) AS final_cum,
                   round(gpeak::DOUBLE / 1.0, 6) AS peak,
                   round(mdd::DOUBLE / 1.0, 6) AS max_drawdown,
                   CASE WHEN pk_at > 0
                        THEN round(mdd::DOUBLE / pk_at::DOUBLE, 6)
                   END AS max_drawdown_pct,
                   trough_t
            FROM best CROSS JOIN tails CROSS JOIN fin
        """,
        "er_otsu": """
            -- Otsu threshold on the classifier probability grid: one
            -- pass maximizing between-class variance, smallest-
            -- threshold tie-break (profiling.otsu_threshold)
            WITH f AS (
                SELECT doc_id,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
                       length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
                       len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> list_contains(['the','a','an','and','or','of','to','in','is','it',
                                               'that','for','on','with','as','was','at','by','be'],
                                              lower(t))))::DOUBLE
                           / len(string_split_regex(trim(text), '\\s+')) AS stopword_ratio,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
                FROM documents
            ), z AS (
                SELECT doc_id,
                       round(-2.0 + 3.0 * alpha_ratio + 2.5 * stopword_ratio
                             + (-4.0) * punct_ratio
                             + 1.5 * least(1.0, n_tokens / 200.0), 6) AS logit
                FROM f
            ), sc AS (
                SELECT round(1.0 / (1.0 + exp(-logit)), 6) AS prob FROM z
            ), q AS (
                SELECT round(prob * 1000000)::BIGINT AS qv FROM sc
                WHERE prob IS NOT NULL
            ), cells AS (
                SELECT qv, count(*)::BIGINT AS c FROM q GROUP BY 1
            ), tot AS (
                SELECT sum(c)::BIGINT AS nn,
                       sum(qv::HUGEINT * c::HUGEINT) AS ss,
                       count(*)::BIGINT AS k_values
                FROM cells
            ), cum AS (
                SELECT qv,
                       sum(c) OVER w::BIGINT AS cn,
                       sum(qv::HUGEINT * c::HUGEINT) OVER w AS cs,
                       nn, ss, k_values
                FROM cells CROSS JOIN tot
                WINDOW w AS (ORDER BY qv ROWS UNBOUNDED PRECEDING)
            ), staged AS (
                SELECT qv, cn, cs, nn, ss, k_values,
                       (cs::DOUBLE * nn::DOUBLE - cn::DOUBLE * ss::DOUBLE)
                       * (cs::DOUBLE * nn::DOUBLE - cn::DOUBLE * ss::DOUBLE)
                       / (cn::DOUBLE * (nn - cn)::DOUBLE) AS obj
                FROM cum WHERE cn > 0 AND cn < nn
            ), best AS (
                SELECT omax, min(qv)::BIGINT AS t_q,
                       arg_min(cn, qv)::BIGINT AS cn,
                       arg_min(cs, qv) AS cs,
                       max(nn)::BIGINT AS nn, max(ss) AS ss,
                       max(k_values)::BIGINT AS k_values
                FROM (SELECT *, max(obj) OVER () AS omax FROM staged)
                WHERE obj = omax GROUP BY omax
            )
            SELECT nn AS n, k_values,
                   round(t_q::DOUBLE / 1000000.0, 6) AS threshold,
                   round(omax / (nn::DOUBLE * nn::DOUBLE
                                 * 1000000.0 * 1000000.0), 6)
                       AS between_var,
                   round(cn::DOUBLE / nn::DOUBLE, 6) AS w0,
                   round(cs::DOUBLE / (cn::DOUBLE * 1000000.0), 6)
                       AS mean0,
                   round((ss - cs)::DOUBLE
                         / ((nn::DOUBLE - cn::DOUBLE) * 1000000.0), 6)
                       AS mean1
            FROM best
        """,
        "evt_active_users": """
            -- DAU / trailing-7-day WAU / stickiness: (user, day) dedup
            -- first, day-grid range join, exact distincts
            -- (event_analytics.active_users)
            WITH du AS (
                SELECT DISTINCT user_id AS u,
                       (epoch_us(ts) // 86400000000)::BIGINT AS day
                FROM events
                WHERE ts IS NOT NULL AND user_id IS NOT NULL
            ), days AS (
                SELECT DISTINCT day AS d FROM du
            ), wau AS (
                SELECT d, count(DISTINCT u)::BIGINT AS wau
                FROM du JOIN days ON day <= d AND day >= d - 6
                GROUP BY d
            ), dau AS (
                SELECT day AS d, count(DISTINCT u)::BIGINT AS dau
                FROM du GROUP BY 1
            )
            SELECT d AS day, dau, wau,
                   CASE WHEN wau > 0
                        THEN round(dau::DOUBLE / wau::DOUBLE, 6)
                   END AS stickiness
            FROM dau JOIN wau USING (d)
        """,
        "text_license_scan": """
            -- license/copyright marker scan: substring tells only,
            -- length-difference counts (text_analysis.license_markers)
            SELECT doc_id,
                   ((length(lower(text))
                     - length(replace(lower(text), 'copyright', '')))
                    // 9)::BIGINT AS n_copyright,
                   (position('creative commons' IN lower(text)) > 0
                    OR position('cc-by' IN lower(text)) > 0) AS has_cc,
                   (position('gnu general public license'
                             IN lower(text)) > 0
                    OR position('gpl' IN lower(text)) > 0) AS has_gpl,
                   (position('mit license' IN lower(text)) > 0)
                       AS has_mit,
                   (((length(lower(text))
                      - length(replace(lower(text), 'copyright', '')))
                     // 9) > 0
                    OR position('creative commons' IN lower(text)) > 0
                    OR position('cc-by' IN lower(text)) > 0
                    OR position('gnu general public license'
                                IN lower(text)) > 0
                    OR position('gpl' IN lower(text)) > 0
                    OR position('mit license' IN lower(text)) > 0)
                       AS license_flagged
            FROM documents
            WHERE text IS NOT NULL AND doc_id IS NOT NULL
        """,
        "curation_dedup_savings": """
            -- dedup savings per method (exact md5 vs lowercased
            -- 40-char prefix): canonical = smallest doc_id
            -- (corpus_curation.dedup_savings)
            WITH base AS (
                SELECT doc_id AS id, md5(text) AS k_exact,
                       md5(lower(left(text, 40))) AS k_prefix,
                       len(string_split_regex(trim(text), '\\s+'))::BIGINT
                           AS tok
                FROM documents
                WHERE text IS NOT NULL AND doc_id IS NOT NULL
            ), pe AS (
                SELECT k_exact, count(*)::BIGINT AS c,
                       sum(tok)::BIGINT AS tk,
                       arg_min(tok, id)::BIGINT AS tk_keep
                FROM base GROUP BY 1
            ), pp AS (
                SELECT k_prefix, count(*)::BIGINT AS c,
                       sum(tok)::BIGINT AS tk,
                       arg_min(tok, id)::BIGINT AS tk_keep
                FROM base GROUP BY 1
            )
            SELECT 'exact' AS method, sum(c)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_groups,
                   (sum(c) - count(*))::BIGINT AS docs_removed,
                   round((sum(c) - count(*))::DOUBLE / sum(c)::DOUBLE, 6)
                       AS pct_docs_removed,
                   sum(tk)::BIGINT AS tokens_total,
                   (sum(tk) - sum(tk_keep))::BIGINT AS tokens_removed,
                   round((sum(tk) - sum(tk_keep))::DOUBLE
                         / sum(tk)::DOUBLE, 6) AS pct_tokens_removed
            FROM pe
            UNION ALL
            SELECT 'prefix', sum(c)::BIGINT, count(*)::BIGINT,
                   (sum(c) - count(*))::BIGINT,
                   round((sum(c) - count(*))::DOUBLE / sum(c)::DOUBLE, 6),
                   sum(tk)::BIGINT,
                   (sum(tk) - sum(tk_keep))::BIGINT,
                   round((sum(tk) - sum(tk_keep))::DOUBLE
                         / sum(tk)::DOUBLE, 6)
            FROM pp
        """,
        "evt_slo_burn": """
            -- daily SLO burn: trailing-7-day error rate over the 0.05
            -- objective (event_analytics.slo_burn)
            WITH d AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
                       (event_type = 'error')::INT AS e
                FROM events
                WHERE ts IS NOT NULL AND event_type IS NOT NULL
            ), per_d AS (
                SELECT day, count(*)::BIGINT AS n, sum(e)::BIGINT AS n_err
                FROM d GROUP BY 1
            ), roll AS (
                SELECT day, n, n_err,
                       sum(n) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING
                            AND CURRENT ROW)::BIGINT AS wn,
                       sum(n_err) OVER (ORDER BY day
                            RANGE BETWEEN 6 PRECEDING
                            AND CURRENT ROW)::BIGINT AS we
                FROM per_d
            )
            SELECT day, n, n_err,
                   round(n_err::DOUBLE / n::DOUBLE, 6) AS rate,
                   round(we::DOUBLE / wn::DOUBLE, 6) AS window_rate,
                   round((we::DOUBLE / wn::DOUBLE) / 0.05, 6) AS burn
            FROM roll
        """,
        "evt_ses": """
            -- SES alpha=0.3, recursion unrolled into geometric
            -- weights; nano-rounded weight*value terms
            -- (event_analytics.ses_forecast)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       count(*)::BIGINT AS qv
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), idx AS (
                SELECT t, qv,
                       (row_number() OVER (ORDER BY t) - 1)::BIGINT AS i
                FROM cnt
            ), pairs AS (
                SELECT a.t, a.i, a.qv, b.i AS j, b.qv AS qy
                FROM idx a JOIN idx b ON b.i <= a.i
            ), sm AS (
                SELECT t, i, qv,
                       sum(round((CASE WHEN j = 0
                                   THEN pow(0.7, i::DOUBLE)
                                   ELSE 0.3 * pow(0.7, (i - j)::DOUBLE)
                                  END) * qy::DOUBLE
                                 * 1000000000.0)::HUGEINT) AS s_nano
                FROM pairs GROUP BY 1, 2, 3
            ), staged AS (
                SELECT t, round(qv::DOUBLE / 1.0, 6) AS value,
                       round(s_nano::DOUBLE / (1000000000.0 * 1.0), 6)
                           AS smoothed,
                       s_nano::DOUBLE / (1000000000.0 * 1.0) AS sm_raw
                FROM sm
            )
            SELECT t, value, smoothed,
                   round(value - lag(sm_raw) OVER (ORDER BY t), 6)
                       AS forecast_err
            FROM staged
        """,
        "kg_neighbor_entropy": """
            -- per-node neighbor-type entropy (O/P/S prefixes) over the
            -- thinned lineitem graph; nano-rounded log terms
            -- (graph_analytics.neighbor_type_entropy)
            WITH li AS (
                SELECT * FROM lineitem WHERE l_partkey % 3 = 0
            ), e0 AS (
                SELECT 'O' || l_orderkey::VARCHAR AS s,
                       'P' || l_partkey::VARCHAR AS o FROM li
                UNION ALL
                SELECT 'O' || l_orderkey::VARCHAR,
                       'S' || l_suppkey::VARCHAR FROM li
                UNION ALL
                SELECT 'P' || l_partkey::VARCHAR,
                       'S' || l_suppkey::VARCHAR FROM li
            ), und AS (
                SELECT DISTINCT a, b FROM (
                    SELECT s AS a, o AS b FROM e0
                    UNION ALL
                    SELECT o AS a, s AS b FROM e0
                ) WHERE a <> b
            ), cells AS (
                SELECT a, left(b, 1) AS ty, count(*)::BIGINT AS c
                FROM und GROUP BY 1, 2
            ), deg AS (
                SELECT a, sum(c)::BIGINT AS degree,
                       count(*)::BIGINT AS k_types
                FROM cells GROUP BY 1
            ), agg AS (
                SELECT cells.a, degree, k_types,
                       sum(round(c::DOUBLE
                            * (ln(degree::DOUBLE) - ln(c::DOUBLE))
                            / 0.6931471805599453
                            * 1000000000.0)::BIGINT)::BIGINT AS h_nano
                FROM cells JOIN deg ON cells.a = deg.a
                GROUP BY 1, 2, 3
            )
            SELECT a AS node, degree, k_types,
                   round(h_nano::DOUBLE
                         / (degree::DOUBLE * 1000000000.0), 6) AS h_bits,
                   CASE WHEN k_types >= 2
                        THEN round((h_nano::DOUBLE
                                    / (degree::DOUBLE * 1000000000.0))
                             / (ln(k_types::DOUBLE)
                                / 0.6931471805599453), 6)
                   END AS h_norm
            FROM agg
        """,
        "evt_wow": """
            -- week-over-week daily deltas with the Poisson two-rate z
            -- (event_analytics.week_over_week)
            WITH d AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
                       count(*)::BIGINT AS n
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), j AS (
                SELECT a.day, a.n, b.n AS n_prev
                FROM d a JOIN d b ON a.day = b.day + 7
            )
            SELECT day, n, n_prev,
                   CASE WHEN n_prev > 0
                        THEN round(n::DOUBLE / n_prev::DOUBLE, 6)
                   END AS ratio,
                   CASE WHEN (n + n_prev)::DOUBLE > 0
                        THEN round((n - n_prev)::DOUBLE
                             / sqrt((n + n_prev)::DOUBLE), 6)
                   END AS z
            FROM j
        """,
        "stat_did": """
            -- difference-in-differences: even-user cohort x half-month
            -- period, four exact moment cells, welch-style SE
            -- (stats.diff_in_diff)
            WITH q AS (
                SELECT (user_id % 2 = 0) AS g,
                       (epoch_us(ts) // 86400000000)::BIGINT >= 19738 AS p,
                       round(value * 100)::BIGINT AS qv
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL
                      AND ts IS NOT NULL
            ), per AS (
                SELECT g, p, count(*)::BIGINT AS n,
                       sum(qv::HUGEINT) AS s,
                       sum(qv::HUGEINT * qv) AS ss
                FROM q GROUP BY 1, 2
            ), wide AS (
                SELECT max(CASE WHEN g AND NOT p THEN n END) AS n_t0,
                       max(CASE WHEN g AND NOT p THEN s END) AS s_t0,
                       max(CASE WHEN g AND NOT p THEN ss END) AS ss_t0,
                       max(CASE WHEN g AND p THEN n END) AS n_t1,
                       max(CASE WHEN g AND p THEN s END) AS s_t1,
                       max(CASE WHEN g AND p THEN ss END) AS ss_t1,
                       max(CASE WHEN NOT g AND NOT p THEN n END) AS n_c0,
                       max(CASE WHEN NOT g AND NOT p THEN s END) AS s_c0,
                       max(CASE WHEN NOT g AND NOT p THEN ss END) AS ss_c0,
                       max(CASE WHEN NOT g AND p THEN n END) AS n_c1,
                       max(CASE WHEN NOT g AND p THEN s END) AS s_c1,
                       max(CASE WHEN NOT g AND p THEN ss END) AS ss_c1
                FROM per
            ), c AS (
                SELECT n_t0, n_t1, n_c0, n_c1,
                       s_t0::DOUBLE / (n_t0::DOUBLE * 100.0) AS m_t0,
                       s_t1::DOUBLE / (n_t1::DOUBLE * 100.0) AS m_t1,
                       s_c0::DOUBLE / (n_c0::DOUBLE * 100.0) AS m_c0,
                       s_c1::DOUBLE / (n_c1::DOUBLE * 100.0) AS m_c1,
                       sqrt((n_t0::HUGEINT * ss_t0 - s_t0 * s_t0)::DOUBLE
                            / (n_t0::DOUBLE * n_t0::DOUBLE
                               * (n_t0::DOUBLE - 1) * 100.0 * 100.0)
                            + (n_t1::HUGEINT * ss_t1 - s_t1 * s_t1)::DOUBLE
                              / (n_t1::DOUBLE * n_t1::DOUBLE
                                 * (n_t1::DOUBLE - 1) * 100.0 * 100.0)
                            + (n_c0::HUGEINT * ss_c0 - s_c0 * s_c0)::DOUBLE
                              / (n_c0::DOUBLE * n_c0::DOUBLE
                                 * (n_c0::DOUBLE - 1) * 100.0 * 100.0)
                            + (n_c1::HUGEINT * ss_c1 - s_c1 * s_c1)::DOUBLE
                              / (n_c1::DOUBLE * n_c1::DOUBLE
                                 * (n_c1::DOUBLE - 1) * 100.0 * 100.0))
                           AS se
                FROM wide
            )
            SELECT (n_t0 + n_t1 + n_c0 + n_c1)::BIGINT AS n,
                   round(m_t0, 6) AS mean_treat_pre,
                   round(m_t1, 6) AS mean_treat_post,
                   round(m_c0, 6) AS mean_ctrl_pre,
                   round(m_c1, 6) AS mean_ctrl_post,
                   round((m_t1 - m_t0) - (m_c1 - m_c0), 6) AS did,
                   CASE WHEN n_t0 >= 2 AND n_t1 >= 2 AND n_c0 >= 2
                             AND n_c1 >= 2
                        THEN round(se, 6) END AS se,
                   CASE WHEN n_t0 >= 2 AND n_t1 >= 2 AND n_c0 >= 2
                             AND n_c1 >= 2 AND se > 0
                        THEN round(((m_t1 - m_t0) - (m_c1 - m_c0))
                             / se, 6) END AS z
            FROM c
        """,
        "stat_fisher_ci": """
            -- Pearson r (chars vs words) + Fisher-z 95% CI: exact
            -- moments, exp-based tanh mapping (stats.fisher_corr_ci)
            WITH d AS (
                SELECT n_chars::BIGINT AS qx,
                       (length(text) - length(replace(text, ' ', ''))
                        + 1)::BIGINT AS qy
                FROM documents
                WHERE n_chars IS NOT NULL AND text IS NOT NULL
            ), m AS (
                SELECT count(*)::BIGINT AS n, sum(qx::HUGEINT) AS sx,
                       sum(qy::HUGEINT) AS sy,
                       sum(qx::HUGEINT * qx) AS sxx,
                       sum(qy::HUGEINT * qy) AS syy,
                       sum(qx::HUGEINT * qy) AS sxy
                FROM d
            ), c AS (
                SELECT n,
                       (n::HUGEINT * sxy - sx * sy)::DOUBLE
                           / (sqrt((n::HUGEINT * sxx - sx * sx)::DOUBLE)
                              * sqrt((n::HUGEINT * syy - sy * sy)::DOUBLE))
                           AS r,
                       (n::HUGEINT * sxx - sx * sx)::DOUBLE AS dx,
                       (n::HUGEINT * syy - sy * sy)::DOUBLE AS dy
                FROM m
            ), z AS (
                SELECT n, r, dx, dy,
                       0.5 * ln((1 + r) / (1 - r)) AS zf,
                       1.96 / sqrt(n::DOUBLE - 3) AS hw
                FROM c
            )
            SELECT n,
                   CASE WHEN n >= 4 AND dx > 0 AND dy > 0
                        THEN round(r, 6) END AS r,
                   CASE WHEN n >= 4 AND dx > 0 AND dy > 0
                             AND r < 1 AND r > -1
                        THEN round(zf, 6) END AS z_fisher,
                   CASE WHEN n >= 4 AND dx > 0 AND dy > 0
                             AND r < 1 AND r > -1
                        THEN round((exp(2 * (zf - hw)) - 1)
                             / (exp(2 * (zf - hw)) + 1), 6) END AS ci_lo,
                   CASE WHEN n >= 4 AND dx > 0 AND dy > 0
                             AND r < 1 AND r > -1
                        THEN round((exp(2 * (zf + hw)) - 1)
                             / (exp(2 * (zf + hw)) + 1), 6) END AS ci_hi
            FROM z
        """,
        "evt_seasonal_strength": """
            -- Hyndman seasonal/trend strength on the weekly additive
            -- decomposition (event_analytics.seasonal_strength)
            WITH cnt AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS t,
                       count(*)::BIGINT AS qv
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), trended AS (
                SELECT t, qv,
                       CASE WHEN count(*) OVER wt = 7
                                 AND max(t) OVER wt - min(t) OVER wt = 6
                            THEN sum(qv) OVER wt::DOUBLE / 7.0 END AS trend_q
                FROM cnt
                WINDOW wt AS (ORDER BY t
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            ), detr AS (
                SELECT t, qv, trend_q, (t % 7)::BIGINT AS phase,
                       qv::DOUBLE - trend_q AS dt_q
                FROM trended
            ), pm AS (
                SELECT phase,
                       sum(round(dt_q * 1000000.0)::HUGEINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS raw_seasonal
                FROM detr WHERE dt_q IS NOT NULL GROUP BY 1
            ), ctr AS (
                SELECT sum(round(raw_seasonal * 1000000.0)::HUGEINT)::DOUBLE
                           / (count(*)::DOUBLE * 1000000.0) AS mean_seasonal
                FROM pm
            ), seas AS (
                SELECT phase, raw_seasonal - mean_seasonal AS seasonal_q
                FROM pm CROSS JOIN ctr
            ), dec AS (
                SELECT t, round(qv::DOUBLE / 1.0, 6) AS value,
                       round(trend_q / 1.0, 6) AS trend,
                       round(seasonal_q / 1.0, 6) AS seasonal,
                       round((qv::DOUBLE - trend_q - seasonal_q) / 1.0, 6)
                           AS resid
                FROM detr JOIN seas USING (phase)
            ), used AS (
                SELECT round(resid * 1000000.0)::BIGINT AS qr,
                       round((seasonal + resid) * 1000000.0)::BIGINT AS qsr,
                       round((trend + resid) * 1000000.0)::BIGINT AS qtr
                FROM dec WHERE resid IS NOT NULL
            ), agg AS (
                SELECT count(*)::BIGINT AS n,
                       sum(qr::HUGEINT) AS s_qr,
                       sum(qr::HUGEINT * qr) AS ss_qr,
                       sum(qsr::HUGEINT) AS s_qsr,
                       sum(qsr::HUGEINT * qsr) AS ss_qsr,
                       sum(qtr::HUGEINT) AS s_qtr,
                       sum(qtr::HUGEINT * qtr) AS ss_qtr
                FROM used
            ), v AS (
                SELECT n,
                       (n::HUGEINT * ss_qr - s_qr * s_qr)::DOUBLE
                           / (n::DOUBLE * n::DOUBLE
                              * 1000000000000.0) AS vr,
                       (n::HUGEINT * ss_qsr - s_qsr * s_qsr)::DOUBLE
                           / (n::DOUBLE * n::DOUBLE
                              * 1000000000000.0) AS vsr,
                       (n::HUGEINT * ss_qtr - s_qtr * s_qtr)::DOUBLE
                           / (n::DOUBLE * n::DOUBLE
                              * 1000000000000.0) AS vtr
                FROM agg
            )
            SELECT n AS n_used,
                   CASE WHEN n >= 3 THEN round(vr, 6) END AS var_resid,
                   CASE WHEN n >= 3 THEN round(vsr, 6)
                   END AS var_detrended,
                   CASE WHEN n >= 3 THEN round(vtr, 6)
                   END AS var_deseasoned,
                   CASE WHEN n >= 3 AND vsr > 0
                        THEN round(greatest(0.0, 1 - vr / vsr), 6)
                   END AS strength_seasonal,
                   CASE WHEN n >= 3 AND vtr > 0
                        THEN round(greatest(0.0, 1 - vr / vtr), 6)
                   END AS strength_trend
            FROM v
        """,
        "evt_type_mix": """
            -- daily event-type mix entropy + delta: nano-rounded
            -- count-log terms, grid lag
            -- (event_analytics.type_mix_entropy_daily)
            WITH cells AS (
                SELECT (epoch_us(ts) // 86400000000)::BIGINT AS day,
                       event_type AS ty, count(*)::BIGINT AS c
                FROM events
                WHERE ts IS NOT NULL AND event_type IS NOT NULL
                GROUP BY 1, 2
            ), deg AS (
                SELECT day, sum(c)::BIGINT AS n,
                       count(*)::BIGINT AS k_types
                FROM cells GROUP BY 1
            ), agg AS (
                SELECT cells.day, n, k_types,
                       sum(round(c::DOUBLE
                            * (ln(n::DOUBLE) - ln(c::DOUBLE))
                            / 0.6931471805599453
                            * 1000000000.0)::BIGINT)::BIGINT AS h_nano
                FROM cells JOIN deg ON cells.day = deg.day
                GROUP BY 1, 2, 3
            ), staged AS (
                SELECT day, n, k_types,
                       h_nano::DOUBLE
                           / (n::DOUBLE * 1000000000.0) AS h
                FROM agg
            )
            SELECT day, n, k_types, round(h, 6) AS h_bits,
                   round(h - lag(h) OVER (ORDER BY day), 6) AS h_delta
            FROM staged
        """,
        "curation_mix_gap": """
            -- source-mix gap vs the prescribed recipe + exact KL over
            -- covered sources (corpus_curation.mix_gap_to_target)
            WITH per_g AS (
                SELECT source AS g, count(*)::BIGINT AS n FROM documents
                WHERE source IS NOT NULL GROUP BY 1
            ), tot AS (
                SELECT sum(n)::BIGINT AS nn FROM per_g
            ), wt AS (
                SELECT * FROM (VALUES ('src0', 0.25), ('src1', 0.25),
                    ('src2', 0.125), ('src3', 0.125), ('src4', 0.25))
                    t(g, w)
            ), covered AS (
                SELECT per_g.g, n, wt.w FROM per_g LEFT JOIN wt USING (g)
            ), cov_tot AS (
                SELECT sum(n)::BIGINT AS n_cov FROM covered
                WHERE w IS NOT NULL
            ), staged AS (
                SELECT g, n, w, nn, n_cov,
                       CASE WHEN w IS NOT NULL AND w > 0
                            THEN round(n::DOUBLE
                                 * (ln(n::DOUBLE * 1.0)
                                    - ln(n_cov::DOUBLE * w))
                                 / 0.6931471805599453
                                 * 1000000000.0)::BIGINT END AS t_nano
                FROM covered CROSS JOIN tot CROSS JOIN cov_tot
            ), kl AS (
                SELECT sum(t_nano)::BIGINT AS kl_nano,
                       max(n_cov)::BIGINT AS n_cov2
                FROM staged
            )
            SELECT g AS "group", n,
                   round(n::DOUBLE / nn::DOUBLE, 6) AS share,
                   round(w / 1.0, 6) AS target_share,
                   round(n::DOUBLE / nn::DOUBLE - w / 1.0, 6) AS gap,
                   round(kl_nano::DOUBLE
                         / (n_cov2::DOUBLE * 1000000000.0), 6) AS kl_bits
            FROM staged CROSS JOIN kl
        """,
        "stat_cochran_c": """
            -- Cochran's C: max group variance over the micro-rounded
            -- variance pool, deterministic worst-group
            -- (stats.cochran_c)
            WITH q AS (
                SELECT event_type AS g, round(value * 100)::BIGINT AS qv
                FROM events
                WHERE event_type IS NOT NULL AND value IS NOT NULL
            ), per_g AS (
                SELECT g, count(*)::BIGINT AS ni, sum(qv::HUGEINT) AS si,
                       sum(qv::HUGEINT * qv) AS ssi
                FROM q GROUP BY 1 HAVING count(*) >= 2
            ), staged AS (
                SELECT g, ni,
                       (ni::HUGEINT * ssi - si * si)::DOUBLE
                           / (ni::DOUBLE * (ni::DOUBLE - 1)) AS s2
                FROM per_g
            ), agg AS (
                SELECT count(*)::BIGINT AS k, sum(ni)::BIGINT AS n,
                       sum(round(s2 * 1000000.0)::HUGEINT) AS ssum_micro,
                       max(smax) AS smax,
                       min(CASE WHEN s2 = smax THEN g END) AS worst_group
                FROM (SELECT *, max(s2) OVER () AS smax FROM staged)
            )
            SELECT k, n,
                   CASE WHEN ssum_micro::DOUBLE / 1000000.0 > 0
                        THEN round(smax
                             / (ssum_micro::DOUBLE / 1000000.0), 6)
                   END AS c_stat,
                   worst_group,
                   round(smax / 10000.0, 6) AS worst_var,
                   CASE WHEN k > 0
                        THEN round(1.0 / k::DOUBLE, 6) END AS c_uniform
            FROM agg
        """,
        "stat_mde": """
            -- A/B minimum detectable effect at the observed traffic
            -- split (1.96 + 0.8416 literals)
            -- (stats.min_detectable_effect)
            WITH q AS (
                SELECT (user_id % 2 = 0) AS a,
                       (event_type = 'purchase')::INT AS y
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ), agg AS (
                SELECT sum(a::INT)::BIGINT AS n_a,
                       sum((NOT a)::INT)::BIGINT AS n_b,
                       sum(y)::BIGINT AS pos, count(*)::BIGINT AS n
                FROM q
            )
            SELECT n_a, n_b,
                   round(pos::DOUBLE / n::DOUBLE, 6) AS p_base,
                   CASE WHEN n_a > 0 AND n_b > 0 AND pos > 0
                        THEN round((1.96 + 0.8416)
                             * sqrt((pos::DOUBLE / n::DOUBLE)
                                    * (1 - pos::DOUBLE / n::DOUBLE)
                                    * (1 / n_a::DOUBLE
                                       + 1 / n_b::DOUBLE)), 6)
                   END AS mde_abs,
                   CASE WHEN n_a > 0 AND n_b > 0 AND pos > 0
                        THEN round(((1.96 + 0.8416)
                             * sqrt((pos::DOUBLE / n::DOUBLE)
                                    * (1 - pos::DOUBLE / n::DOUBLE)
                                    * (1 / n_a::DOUBLE
                                       + 1 / n_b::DOUBLE)))
                             / (pos::DOUBLE / n::DOUBLE), 6)
                   END AS mde_rel
            FROM agg
        """,
        "evt_day_envelope": """
            -- typical-day envelope: exact p10/p50/p90 hourly counts
            -- per hour-of-day (event_analytics.day_envelope)
            WITH hours AS (
                SELECT (epoch_us(ts) // 3600000000)::BIGINT AS h,
                       count(*)::BIGINT AS c
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), per AS (
                SELECT (h % 24)::BIGINT AS hod, c FROM hours
            ), cells AS (
                SELECT hod, c, count(*)::BIGINT AS t FROM per GROUP BY 1, 2
            ), cum AS (
                SELECT hod, c,
                       sum(t) OVER (PARTITION BY hod ORDER BY c
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
                FROM cells
            ), tot AS (
                SELECT hod, sum(t)::BIGINT AS n_days FROM cells GROUP BY 1
            ), j AS (
                SELECT cum.*, n_days FROM cum JOIN tot USING (hod)
            )
            SELECT hod, n_days,
                   min(CASE WHEN cum >= ceil(n_days * 10 / 100)
                        THEN c END)::BIGINT AS p10,
                   min(CASE WHEN cum >= ceil(n_days * 50 / 100)
                        THEN c END)::BIGINT AS p50,
                   min(CASE WHEN cum >= ceil(n_days * 90 / 100)
                        THEN c END)::BIGINT AS p90
            FROM j GROUP BY hod, n_days
        """,
        "evt_peak_conc": """
            -- daily top-3-hour traffic share: 24-row per-day ranks,
            -- one division (event_analytics.peak_concentration)
            WITH hours AS (
                SELECT (epoch_us(ts) // 3600000000)::BIGINT AS h,
                       count(*)::BIGINT AS c
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), cells AS (
                SELECT (h // 24)::BIGINT AS day, (h % 24)::BIGINT AS hod, c
                FROM hours
            ), ranked AS (
                SELECT day, c,
                       row_number() OVER (PARTITION BY day
                            ORDER BY c DESC, hod ASC)::BIGINT AS rk
                FROM cells
            )
            SELECT day, sum(c)::BIGINT AS n,
                   round(sum(CASE WHEN rk <= 3 THEN c END)::DOUBLE
                         / sum(c)::DOUBLE, 6) AS top_share
            FROM ranked GROUP BY day
        """,
        "evt_peak_load": """
            -- busiest trailing 5-minute stretch: integer minute-grid
            -- RANGE window, earliest-end tie-break
            -- (event_analytics.peak_load)
            WITH per_min AS (
                SELECT (epoch_us(ts) // 60000000)::BIGINT AS m,
                       count(*)::BIGINT AS c
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), roll AS (
                SELECT m, sum(c) OVER (ORDER BY m
                            RANGE BETWEEN 4 PRECEDING
                            AND CURRENT ROW)::BIGINT AS wc
                FROM per_min
            ), best AS (
                SELECT peak, min(m)::BIGINT AS peak_window_end
                FROM (SELECT m, wc, max(wc) OVER ()::BIGINT AS peak
                      FROM roll)
                WHERE wc = peak GROUP BY peak
            ), tot AS (
                SELECT count(*)::BIGINT AS n_minutes FROM per_min
            )
            SELECT n_minutes, peak_window_end, peak AS peak_count,
                   round(peak::DOUBLE / 5.0, 6) AS peak_per_min
            FROM best CROSS JOIN tot
        """,
        "stat_lorenz": """
            -- Lorenz deciles of per-user spend: exact grid order
            -- statistics, proportional tie-block splits
            -- (stats.lorenz_curve)
            WITH per_user AS (
                SELECT user_id,
                       sum(round(value * 100)::BIGINT)::BIGINT AS cents
                FROM events
                WHERE user_id IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), q AS (
                SELECT cents::BIGINT AS qv FROM per_user
            ), cells AS (
                SELECT qv, count(*)::BIGINT AS t FROM q GROUP BY 1
            ), cum AS (
                SELECT qv, t,
                       sum(t) OVER w::BIGINT AS cum,
                       sum(qv::HUGEINT * t::HUGEINT) OVER w AS mass
                FROM cells
                WINDOW w AS (ORDER BY qv ROWS UNBOUNDED PRECEDING)
            ), tot AS (
                SELECT sum(t)::BIGINT AS n,
                       sum(qv::HUGEINT * t::HUGEINT) AS total
                FROM cells
            ), pts AS (
                SELECT unnest(range(1, 11))::BIGINT AS k
            ), f AS (
                SELECT k, n, total,
                       ceil(n * k / 10)::BIGINT AS thr,
                       qv, t, cum, mass
                FROM cum CROSS JOIN tot CROSS JOIN pts
            )
            SELECT round(k::DOUBLE / 10.0, 6) AS pct_population,
                   CASE WHEN total > 0
                        THEN round((mass - qv::HUGEINT
                                    * (cum - thr)::HUGEINT)::DOUBLE
                             / total::DOUBLE, 6)
                   END AS pct_mass
            FROM f WHERE cum >= thr AND cum - t < thr
        """,
        "evt_hour_anova": """
            -- hour-of-day one-way ANOVA of hourly event counts (scale=1
            -- grid; observed hours only) — stats.anova_f over the
            -- seasonal factor
            WITH cnt AS (
                SELECT (epoch_us(ts) // 3600000000)::BIGINT AS h,
                       count(*)::BIGINT AS c
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), q AS (
                SELECT (h % 24)::BIGINT AS g, c::BIGINT AS qv FROM cnt
            ), pg AS (
                SELECT g, count(*)::BIGINT AS ng,
                       sum(qv::HUGEINT) AS sg, sum(qv::HUGEINT * qv) AS ssg
                FROM q GROUP BY g
            ), tm AS (
                SELECT ng, sg, ssg,
                       (sg::DOUBLE / 1.0) * (sg::DOUBLE / 1.0)
                           / ng::DOUBLE AS tg
                FROM pg
            ), tot AS (
                SELECT sum(ng)::BIGINT AS n, count(*)::BIGINT AS k,
                       sum(sg) AS s, sum(ssg) AS ss, sum(tg) AS a
                FROM tm
            ), parts AS (
                SELECT n, k,
                       a - (s::DOUBLE / 1.0) * (s::DOUBLE / 1.0)
                           / n::DOUBLE AS ssb,
                       ss::DOUBLE / (1.0 * 1.0) - a AS ssw
                FROM tot
            )
            SELECT n, k,
                   round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
                   CASE WHEN k > 1 AND n > k AND ssw > 0
                        THEN round((ssb / (k - 1)::DOUBLE)
                                   / (ssw / (n - k)::DOUBLE), 6)
                   END AS f_stat,
                   CASE WHEN ssb + ssw > 0
                        THEN round(ssb / (ssb + ssw), 6)
                   END AS eta_sq
            FROM parts
        """,
    }
    # Kendall's W is the exact Friedman transform W = Q/(n(k-1)) — reuse
    # the friedman oracle verbatim so the two can never drift apart
    d["stat_kendall_w"] = (
        "WITH _f AS (" + d["stat_friedman"] + ")\n"
        "SELECT n_blocks, k,\n"
        "       CASE WHEN n_blocks > 0 AND k >= 2 THEN\n"
        "            round(q / (n_blocks::DOUBLE * (k::DOUBLE - 1.0)), 6)\n"
        "       END AS w,\n"
        "       CASE WHEN n_blocks > 0 AND k >= 2\n"
        "            AND q_tie_corrected IS NOT NULL THEN\n"
        "            round(q_tie_corrected\n"
        "                  / (n_blocks::DOUBLE * (k::DOUBLE - 1.0)), 6)\n"
        "       END AS w_tie_corrected\n"
        "FROM _f"
    )

    # --- real-corpus medlit oracles: DuckDB read_json over the reference's
    # own 39 committed Pass-1 bundles (absolute path, same box as Spark).
    # AUTH(x) mirrors canonicalize.is_authoritative_col EXACTLY.
    def _auth(x: str) -> str:
        t = f"trim({x})"
        return (
            f"({x} IS NOT NULL AND {t} <> '' AND NOT starts_with({t}, 'prov-')"
            f" AND NOT starts_with({t}, 'DOC:') AND ("
            f"starts_with({t}, 'MeSH:') OR starts_with({t}, 'HGNC:')"
            f" OR starts_with({t}, 'RxNorm:') OR starts_with({t}, 'UniProt:')"
            f" OR starts_with({t}, 'DBPedia:') OR starts_with({t}, 'ROR:')"
            f" OR starts_with({t}, 'ORCID:')"
            f" OR regexp_matches({t}, '^[DC][0-9]+$')"
            f" OR regexp_matches({t}, '^[0-9]+$')"
            f" OR regexp_matches({t}, '^[PQ][A-Za-z0-9]{{5,}}$')"
            f" OR regexp_matches({t}, '^PMC[0-9]+$')))"
        )

    _elect = f"""
        CASE WHEN e."class" = 'Gene' THEN
            CASE WHEN {_auth('e.hgnc_id')} THEN
                     CASE WHEN regexp_matches(trim(e.hgnc_id), '^[0-9]+$')
                          THEN 'HGNC:' || trim(e.hgnc_id)
                          ELSE trim(e.hgnc_id) END
                 WHEN {_auth('e.umls_id')} THEN trim(e.umls_id)
                 WHEN {_auth('e.canonical_id')} THEN trim(e.canonical_id)
            END
        ELSE
            CASE WHEN {_auth('e.canonical_id')} THEN trim(e.canonical_id)
                 WHEN {_auth('e.umls_id')} THEN trim(e.umls_id)
                 WHEN {_auth('e.hgnc_id')} THEN trim(e.hgnc_id)
                 WHEN {_auth('e.rxnorm_id')} THEN trim(e.rxnorm_id)
                 WHEN {_auth('e.uniprot_id')} THEN trim(e.uniprot_id)
            END
        END"""

    _bundle_src = """
        SELECT regexp_extract(filename, 'paper_([A-Za-z0-9]+)\\.json', 1) AS paper_id,
               entities, relationships, evidence_entities
        FROM read_json('/root/reference/pass1_bundles/paper_*.json', filename=true,
             columns={'entities': 'STRUCT(id VARCHAR, "class" VARCHAR,
                                   canonical_id VARCHAR, umls_id VARCHAR,
                                   hgnc_id VARCHAR, rxnorm_id VARCHAR,
                                   uniprot_id VARCHAR)[]',
                      'relationships': 'STRUCT(predicate VARCHAR, confidence DOUBLE)[]',
                      'evidence_entities': 'JSON[]'})"""

    d["medlit_bundle_stats"] = f"""
        -- per-paper profile of the REAL reference bundles; auth election
        -- restates dedup.py:100-121 (sources/medlit_bundles.py,
        -- medlit_pass2.with_authoritative_id)
        WITH b AS ({_bundle_src}
        ), ee AS (
            SELECT paper_id, unnest(entities) AS e FROM b
        ), ec AS (
            SELECT paper_id, count(*)::BIGINT AS n_entities,
                   count(CASE WHEN ({_elect}) IS NOT NULL THEN 1 END)::BIGINT AS n_auth
            FROM ee GROUP BY 1
        ), rr AS (
            SELECT paper_id, unnest(relationships) AS r FROM b
        ), rc AS (
            SELECT paper_id, count(*)::BIGINT AS n_relationships,
                   sum(CASE WHEN r.predicate = 'SAME_AS'
                                 AND coalesce(r.confidence, 0.5) >= 0.85
                            THEN 1 ELSE 0 END)::BIGINT AS n_same_as_merged
            FROM rr GROUP BY 1
        )
        SELECT b.paper_id,
               coalesce(ec.n_entities, 0)::BIGINT AS n_entities,
               coalesce(rc.n_relationships, 0)::BIGINT AS n_relationships,
               coalesce(len(b.evidence_entities), 0)::BIGINT AS n_evidence,
               coalesce(rc.n_same_as_merged, 0)::BIGINT AS n_same_as_merged,
               coalesce(ec.n_auth, 0)::BIGINT AS n_auth
        FROM b LEFT JOIN ec USING (paper_id) LEFT JOIN rc USING (paper_id)
        ORDER BY paper_id"""

    d["curation_unimax"] = """
        -- UniMax greedy in closed form: ascending-cap prefix sums decide
        -- the capped set; the rest share the leftover equally
        -- (corpus_curation.unimax_allocation; budget 300000, E=2)
        WITH per AS (
            SELECT lang AS stratum, sum(n_chars)::BIGINT AS mass,
                   (sum(n_chars) * 2)::BIGINT AS cap
            FROM documents GROUP BY 1
        ), ranked AS (
            SELECT stratum, mass, cap,
                   row_number() OVER (ORDER BY cap, stratum)::BIGINT AS i,
                   count(*) OVER ()::BIGINT AS n,
                   (sum(cap) OVER (ORDER BY cap, stratum
                        ROWS UNBOUNDED PRECEDING) - cap)::BIGINT AS pfx
            FROM per
        ), staged AS (
            SELECT *,
                   (cap::DOUBLE * (n - i + 1)::DOUBLE + pfx::DOUBLE)
                       <= 300000.0 AS _c
            FROM ranked
        ), g AS (
            SELECT *,
                   max(CASE WHEN _c THEN i ELSE 0 END) OVER ()::BIGINT AS kstar,
                   max(CASE WHEN _c THEN pfx + cap END) OVER () AS pk
            FROM staged
        )
        SELECT stratum, mass, cap,
               round(CASE WHEN i <= kstar THEN cap::DOUBLE
                          ELSE (300000.0 - coalesce(pk, 0)::DOUBLE)
                               / (n - kstar)::DOUBLE END, 6) AS allocation,
               round(CASE WHEN i <= kstar THEN cap::DOUBLE
                          ELSE (300000.0 - coalesce(pk, 0)::DOUBLE)
                               / (n - kstar)::DOUBLE END
                     / mass::DOUBLE, 6) AS epochs,
               round(CASE WHEN i <= kstar THEN cap::DOUBLE
                          ELSE (300000.0 - coalesce(pk, 0)::DOUBLE)
                               / (n - kstar)::DOUBLE END
                     / 300000.0, 6) AS sampling_weight
        FROM g
    """

    d["media_aspect_buckets"] = """
        -- exact-integer aspect assignment: min_i |w*bh_i - h*bw_i|,
        -- ties -> lowest ladder index (multimodal.aspect_bucket_plan)
        WITH img AS (
            SELECT doc_id,
                   384 + (('0x' || substr(md5(text), 1, 4))::BIGINT % 1280) AS w,
                   384 + (('0x' || substr(md5(text), 5, 4))::BIGINT % 1280) AS h
            FROM documents
        ), ladder(i, bw, bh) AS (
            VALUES (0, 1024, 1024), (1, 1152, 896), (2, 896, 1152),
                   (3, 1216, 832), (4, 832, 1216), (5, 1344, 768),
                   (6, 768, 1344), (7, 1536, 640), (8, 640, 1536)
        ), pick AS (
            SELECT doc_id, bw, bh
            FROM img CROSS JOIN ladder
            QUALIFY row_number() OVER (
                PARTITION BY doc_id
                ORDER BY abs(w * bh - h * bw), i) = 1
        )
        SELECT bw AS bucket_w, bh AS bucket_h,
               count(*)::BIGINT AS n_images,
               (count(*) // 64)::BIGINT AS n_full_batches,
               (count(*) % 64)::BIGINT AS remainder
        FROM pick GROUP BY 1, 2 ORDER BY 1, 2
    """

    d["medlit_auth_ids"] = f"""
        -- the authoritative-id election row-for-row on the real corpus
        -- (medlit_pass2.with_authoritative_id vs dedup.py:100-121)
        WITH b AS ({_bundle_src}
        ), ee AS (
            SELECT paper_id, unnest(entities) AS e FROM b
        )
        SELECT paper_id, e.id AS local_id, e."class" AS entity_class,
               ({_elect}) AS auth_id
        FROM ee
        WHERE ({_elect}) IS NOT NULL
        ORDER BY paper_id, local_id"""

    return d
