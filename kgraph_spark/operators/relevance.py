"""Corpus relevance and importance scoring: BM25 keyword search and
DSIR-style hashed-n-gram importance weights.

Neither exists in the reference (its search surface is substring entity
lookup, kgserver/query/routers/rest_api.py; H3 parity in graph.py) — these
are the ranking/selection operators a training-data pipeline runs over the
same documents table: BM25 for query-relevance retrieval, and importance
resampling weights (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling" — public method) for steering a raw corpus
toward a target distribution.

Cross-engine determinism (the repo's float playbook):
* tokenizer shared with the unigram LM (lower + \\s+ split) so oracles
  reuse the proven restatement;
* every model scalar (idf, avgdl, per-bucket log-ratio) is rounded to 6
  decimals before any downstream arithmetic — both engines then compute
  over identical doubles;
* per-document sums over hashed-bucket log-ratios are ordered folds
  (position order) == DuckDB list_sum(list(x ORDER BY pos));
* bucket assignment is md5-prefix arithmetic (bit-identical everywhere),
  never engine hash functions.

Scale: BM25's model side (df per query term, N, avgdl) is a handful of
scalars plus a ≤|terms| broadcast; the corpus side is one explode filtered
to the query terms BEFORE the shuffle (tf groupBy touches only matching
tokens). DSIR's model is two B-row bucket tables (B=4096 default) built by
partial-aggregated groupBys and broadcast back; the per-doc pass is one
explode + one groupBy(doc_id)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT).alias("toks"),
    ).select("doc_id", F.filter("toks", lambda t: F.length(t) > 0).alias("toks"))


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by BM25 score for a bag of query terms:
    (doc_id, n_matched, score). Standard Robertson/Sparck-Jones BM25 with
    the +1 idf floor: idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5));
    score = Σ_t idf·tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).

    Ranking ties break on doc_id ASC so the k-th slot is deterministic.
    Per-term scores are rounded to 6 (identical doubles across engines);
    the final sum over ≤|terms| values is rounded to 4."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    # pinned: the tokenization feeds the N/avgdl action AND the scoring
    # plan — unpinned, the corpus would tokenize twice
    toks = _tokens(docs, id_col, text_col).localCheckpoint(eager=False)
    # doc lengths BEFORE the term filter (BM25 normalizes by full length)
    lens = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("dl"), 6).alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = stats["n"], stats["avgdl"]
    matched = (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .filter(F.col("token").isin(terms))
    )
    tf = matched.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = df_.select(
        "token",
        F.round(
            F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)), 6
        ).alias("idf"),
    )
    per_term = (
        tf.join(F.broadcast(idf), "token")
        .join(lens, "doc_id")
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))),
                6,
            ).alias("s"),
        )
    )
    scored = per_term.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.round(F.sum("s"), 4).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(topk)


def tfidf_keywords(
    docs: DataFrame,
    topn: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-n keywords per document by smoothed TF-IDF: (doc_id, token,
    tfidf, rank). idf = ln((1+N)/(1+df)) + 1 (the sklearn smoothing — no
    zero idf for corpus-wide terms), score = tf·idf, rank by (score DESC,
    token ASC) — fully deterministic.

    Scale: one tf groupBy (doc, token), one vocab-sized df groupBy, one
    token-keyed join (auto-broadcast when the vocab fits), and a per-doc
    row_number window partitioned on doc_id — no global sort; idf and
    scores pre-rounded to 6 so the rank comparison orders identical
    doubles in any engine."""
    # pinned: feeds the N count and the tf plan (one tokenization pass)
    toks = _tokens(docs, id_col, text_col).localCheckpoint(eager=False)
    n_docs = toks.count()
    tf = (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "token",
            F.round(
                F.log((F.lit(1.0) + F.lit(float(n_docs))) / (F.lit(1.0) + F.col("df")))
                + F.lit(1.0),
                6,
            ).alias("idf"),
        )
    )
    scored = tf.join(idf, "token").select(
        "doc_id", "token", F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topn)
        .select("doc_id", "token", "tfidf", "rank")
    )


def _bigram_buckets(toks: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, pos, bucket) for every adjacent token bigram (pos = the
    0-based index of the bigram's SECOND token — equivalently the 1-based
    index of its first), bucketed by md5-prefix arithmetic: bucket =
    int(md5(w1||' '||w2)[:6], 16) % B — bit-identical in any engine with
    md5 (the det_shuffle idiom).

    Built as posexplode + lag window instead of a transform() lambda with
    toks[i] indexing: Spark re-evaluates a higher-order function's
    argument subtree per element, and even a staged projection got
    inlined here, re-running the regex tokenizer ~2n times per document
    (measured 17s → 2s for a 265k-bigram corpus). The window partitions
    on a per-ROW id so duplicate doc_id rows bigram independently instead
    of interleaving their tokens (the fold replay additionally assumes
    unique doc_ids downstream — duplicate ids collide on pos in ANY
    formulation, including the SQL oracle's)."""
    # row id assigned BEFORE the explode (own projection — inside the
    # generator select it would evaluate per exploded row)
    base = toks.select(
        "doc_id", F.monotonically_increasing_id().alias("_rid"), "toks"
    )
    ex = base.select("doc_id", "_rid", F.posexplode("toks").alias("pos0", "tok"))
    w = Window.partitionBy("_rid").orderBy("pos0")
    bg = (
        ex.withColumn("prev", F.lag("tok").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "doc_id",
            F.col("pos0").cast("int").alias("pos"),
            F.concat(F.col("prev"), F.lit(" "), F.col("tok")).alias("bg"),
        )
    )
    return bg.select(
        "doc_id",
        "pos",
        (F.conv(F.substring(F.md5("bg"), 1, 6), 16, 10).cast("long") % n_buckets).alias("bucket"),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights: (doc_id, n_bigrams, log_weight) where
    log_weight = Σ_i λ(bucket_i) over the document's bigrams in order and
    λ(b) = ln p_target(b) − ln p_raw(b) under add-½ smoothed hashed-bigram
    models (p(b) = (c_b + 0.5)/(T + 0.5·B)). Positive = more target-like;
    resampling keeps docs ∝ exp(log_weight). `docs` is the raw corpus
    being scored; `target` the (usually much smaller) exemplar corpus.

    λ is rounded to 6 before broadcast; the per-doc sum is a position-
    ordered fold, so DuckDB's list_sum(list(λ ORDER BY pos)) replays it
    bit-for-bit. Docs with <2 tokens get log_weight 0.0 (no evidence)."""
    # pin ONLY the two ≤B-row bucket aggregates, not the corpus-sized
    # raw_b: they feed the totals collect AND the lam model, so an
    # unpinned plan would re-run the whole-corpus bigram explode per
    # consumer. A corpus-sized localCheckpoint would pin one row per
    # bigram occurrence into non-replicated executor-local blocks (no
    # recompute path on executor loss at the 100-TB design point); the
    # B-row pins cap corpus scans at two — one to build the model, one
    # to score — without that exposure
    raw_b = _bigram_buckets(_tokens(docs, id_col, text_col), n_buckets)
    tgt_b = _bigram_buckets(_tokens(target, id_col, text_col), n_buckets)
    rc = raw_b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr")).localCheckpoint(eager=False)
    tc = tgt_b.groupBy("bucket").agg(F.count(F.lit(1)).alias("ct")).localCheckpoint(eager=False)
    tot_r = rc.agg(F.sum("cr")).collect()[0][0] or 0
    tot_t = tc.agg(F.sum("ct")).collect()[0][0] or 0
    denom_r = float(tot_r) + 0.5 * n_buckets
    denom_t = float(tot_t) + 0.5 * n_buckets
    lam = (
        rc.join(tc, "bucket", "outer")
        .select(
            "bucket",
            F.round(
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 0.5) / F.lit(denom_t))
                - F.log((F.coalesce(F.col("cr"), F.lit(0)) + 0.5) / F.lit(denom_r)),
                6,
            ).alias("lam"),
        )
    )
    contrib = raw_b.join(F.broadcast(lam), "bucket").select("doc_id", "pos", "lam")
    folded = (
        contrib.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "lam"))).alias("xs"))
        .select(
            "doc_id",
            F.size("xs").cast("long").alias("n_bigrams"),
            F.round(
                F.aggregate(F.col("xs"), F.lit(0.0), lambda acc, x: acc + x["lam"]), 4
            ).alias("log_weight"),
        )
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    return ids.join(folded, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
    )


def inverted_index(
    docs: DataFrame,
    max_postings: int = 5,
    min_df: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Capped inverted index: one flat row per KEPT posting —
    (term, df, cf, doc_id, tf, rank) where df counts documents containing
    the term, cf total occurrences, and rank orders a term's postings by
    (tf DESC, doc_id ASC) with only the top `max_postings` kept — the
    impact-ordered index head that query-time scoring actually reads.

    The posting cap is the heavy-hitter guard (the same lesson as
    accumulate_triples' source-document cap): a stopword appearing in
    every document would otherwise materialize a corpus-length posting
    list on one reducer. Flat rows, not array columns, so downstream
    consumers and the oracle compare exactly.

    Shape: one groupBy (doc, term) for tf (shuffle carries tokens once),
    one term-keyed window for the rank — Spark's WindowGroupLimit prunes
    to top-k per term map-side before the exchange — and a term-keyed
    aggregate for df/cf joined back onto the kept postings."""
    tf = (
        _tokens(docs, id_col, text_col)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    if min_df > 1:
        stats = stats.filter(F.col("df") >= min_df)
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id").asc())
    kept = (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max_postings)
        .withColumn("rank", F.col("rank").cast("long"))
    )
    return kept.join(stats, "term").select("term", "df", "cf", "doc_id", "tf", "rank")


def pmi_collocations(
    docs: DataFrame,
    vocab: list[str],
    min_pairs: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-level PMI / NPMI word association over a fixed vocabulary:
    for vocab pairs (a < b), pmi = ln(n_ab·N / (n_a·n_b)) and
    npmi = pmi / -ln(n_ab/N), round 6 — the association score that
    separates real collocations from frequency artifacts (co-occurrence
    COUNTS alone rank stopword pairs first; F1's count accumulation has
    the same blind spot, which is why the reference ranks relationships
    by evidence count AND this op exists for the corpus side).

    The vocabulary filter runs BEFORE the distinct and the self-join, so
    the pair join is |vocab-presence| rows keyed on doc — bounded by
    |vocab| per doc, never the token stream. All counts are integers;
    ln() on round-6-stable ratios, no ordered float folds needed."""
    pres = (
        _tokens(docs, id_col, text_col)
        .select("doc_id", F.explode("toks").alias("w"))
        .filter(F.col("w").isin(vocab))
        .distinct()
    )
    n_docs = docs.count()
    marg = pres.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = pres.select("doc_id", F.col("w").alias("wa"))
    b = pres.select("doc_id", F.col("w").alias("wb"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("wa") < F.col("wb"))
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    ma = marg.select(F.col("w").alias("wa"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("w").alias("wb"), F.col("n").alias("n_b"))
    p_ab = F.col("n_ab") / F.lit(float(n_docs))
    pmi = F.log(F.col("n_ab") * F.lit(float(n_docs)) / (F.col("n_a") * F.col("n_b")))
    return (
        pairs.join(ma, "wa")
        .join(mb, "wb")
        .select(
            F.col("wa").alias("word_a"),
            F.col("wb").alias("word_b"),
            "n_ab",
            "n_a",
            "n_b",
            F.round(pmi, 6).alias("pmi"),
            # -ln(p_ab) = 0 when the pair is in EVERY doc: npmi undefined
            F.when(
                F.col("n_ab") < F.lit(n_docs), F.round(pmi / (-F.log(p_ab)), 6)
            ).alias("npmi"),
        )
    )


def normalize_scores(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """Per-group score normalization — the step that makes quality/
    relevance scores COMPARABLE across domains before corpus-wide
    selection (a 0.7 from a lenient domain ≠ a 0.7 from a strict one):
    min-max to [0,1] plus the outlier-robust (x − median)/IQR form.
    Degenerate groups are defined, not accidental: a constant group
    min-max-normalizes to 0.5, and a zero-IQR group's robust score is
    NULL (undefined, surfaced as such). All decided on round-6 numbers.

    One group-cardinality stats aggregate (exact percentiles) broadcast
    back onto the rows — the scored table never shuffles."""
    stats = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.round(F.min(value_col), 6).alias("_lo"),
        F.round(F.max(value_col), 6).alias("_hi"),
        F.round(F.expr(f"percentile({value_col}, 0.25)"), 6).alias("_q1"),
        F.round(F.expr(f"percentile({value_col}, 0.5)"), 6).alias("_med"),
        F.round(F.expr(f"percentile({value_col}, 0.75)"), 6).alias("_q3"),
    )
    v = F.round(F.col(value_col), 6)
    minmax = F.when(F.col("_hi") == F.col("_lo"), F.lit(0.5)).otherwise(
        F.round((v - F.col("_lo")) / (F.col("_hi") - F.col("_lo")), 6)
    )
    robust = F.when(
        F.col("_q3") != F.col("_q1"),
        F.round((v - F.col("_med")) / (F.col("_q3") - F.col("_q1")), 6),
    )
    cols = ([F.col(id_col)] if id_col else []) + [
        F.col(group_col),
        v.alias(value_col),
        minmax.alias("minmax_norm"),
        robust.alias("robust_norm"),
    ]
    return df.join(stats, df[group_col] == stats["_g"]).select(*cols)


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    group_col: str = "probe_id",
    item_col: str = "vec_id",
    rank_col: str = "rank",
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N rankings of the
    same items: score(item) = Σ_i 1/(k0 + rank_i), items missing from a
    list contribute 0 for it. The standard way a retrieval pipeline
    combines BM25 with ANN (or any scorer mix) without calibrating scores
    — only RANKS enter, so the fusion is immune to score-scale drift.

    Float discipline: the per-list ranks fold into per-list COLUMNS via
    conditional-min aggregation (one shuffle on (group, item)), and the
    score is a FIXED left-to-right expression sum of N terms — never a
    float SUM aggregate whose association order varies by partitioning.
    Each 1/(k0+rank) divides exact integers, so any engine replays the
    score bit-for-bit. Output: (group, item, per-list ranks, rrf_score
    round-6, fused_rank); ties break on item id."""
    from pyspark.sql import Window

    if not rankings:
        raise ValueError("need at least one ranking")
    tagged = None
    for i, r in enumerate(rankings):
        t = r.select(
            F.col(group_col).alias("_g"),
            F.col(item_col).alias("_i"),
            F.col(rank_col).cast("long").alias("_r"),
            F.lit(i).alias("_src"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    per_list = tagged.groupBy("_g", "_i").agg(
        *[
            F.min(F.when(F.col("_src") == i, F.col("_r"))).alias(f"rank_{i}")
            for i in range(len(rankings))
        ]
    )
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k0)) + F.col(f"rank_{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    w = Window.partitionBy("_g").orderBy(F.col("_score").desc(), F.col("_i").asc())
    out = (
        per_list.withColumn("_score", score)
        .withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .select(
            F.col("_g").alias(group_col),
            F.col("_i").alias(item_col),
            *[f"rank_{i}" for i in range(len(rankings))],
            F.round("_score", 6).alias("rrf_score"),
            "fused_rank",
        )
    )
    if top_k is not None:
        out = out.filter(F.col("fused_rank") <= top_k)
    return out


def mmr_topk(
    items: DataFrame,
    probes: DataFrame,
    k: int = 3,
    lam_num: int = 7,
    lam_denom: int = 10,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Maximal Marginal Relevance top-k per group (Carbonell & Goldstein
    1998): greedily pick the item maximizing λ·relevance − (1−λ)·max
    similarity to anything already picked — the diversity-aware re-rank a
    retrieval/curation pipeline runs so the k exemplars aren't k copies
    (the selection-side complement of semantic_dedup, which DROPS
    near-dups; MMR keeps them but never picks two).

    Determinism/oracle discipline: relevance and pairwise cosines quantize
    to round-6 FIXED-POINT longs, λ is the rational lam_num/lam_denom so
    the marginal score lam_num·rel − (lam_denom−lam_num)·maxsim is EXACT
    integer arithmetic (scale-invariant argmax — never divided), and every
    argmax is the least (−score, id) — the repo's replayable-election
    trick. Relevance = cosine(item, the group's probe vector from `probes`
    (group, vec)); the first pick is pure relevance.

    k is a fixed unroll over ONE per-candidate state (rank if picked, max
    similarity to the picks so far): each round is one group window that
    elects the best open candidate and hands its vector to every row of
    the group, which folds its similarity into the running max. A round
    reads the previous state once, so the plan grows linearly in k, pure
    lineage and SQL-replayable round by round. At scale: probes broadcast;
    candidate rows shuffle once on group and stay partitioned for every
    round."""
    if k < 1 or not 0 < lam_num <= lam_denom:
        raise ValueError("need k >= 1 and 0 < lam_num <= lam_denom")
    from kgraph_spark.operators.similarity import cosine_fixed

    cand = (
        items.select(
            F.col(group_col).alias("_g"),
            F.col(id_col).alias("_i"),
            F.col(vec_col).alias("_v"),
        )
        .join(
            F.broadcast(
                probes.select(F.col(group_col).alias("_g"), F.col(vec_col).alias("_pv"))
            ),
            "_g",
        )
        .select(
            "_g",
            "_i",
            "_v",
            F.round(cosine_fixed(F.col("_v"), F.col("_pv")) * scale)
            .cast("long")
            .alias("_rel"),
        )
    )
    state = cand.select(
        "_g",
        "_i",
        "_v",
        "_rel",
        F.lit(None).cast("int").alias("rank"),
        F.lit(None).cast("long").alias("_maxsim"),
    )
    lam_rest = lam_denom - lam_num
    for r in range(1, k + 1):
        score = (
            F.col("_rel")
            if r == 1
            else F.lit(lam_num) * F.col("_rel") - F.lit(lam_rest) * F.col("_maxsim")
        )
        # open candidates first, then the least (−score, id): the first row
        # of the window is the round's pick unless the group has no open row
        w = Window.partitionBy("_g").orderBy(
            F.col("rank").isNotNull(),
            F.struct((-score).alias("s"), F.col("_i").alias("i")),
        ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        best = F.first(
            F.struct(
                F.col("rank").isNull().alias("open"),
                F.col("_i").alias("i"),
                F.col("_v").alias("v"),
            )
        ).over(w)
        sim = F.round(cosine_fixed(F.col("_v"), F.col("_best.v")) * scale).cast("long")
        state = state.withColumn("_best", best).select(
            "_g",
            "_i",
            "_v",
            "_rel",
            F.when(F.col("_best.open") & (F.col("_i") == F.col("_best.i")), F.lit(r))
            .otherwise(F.col("rank"))
            .alias("rank"),
            F.when(F.col("_best.open"), F.greatest(F.col("_maxsim"), sim))
            .otherwise(F.col("_maxsim"))
            .alias("_maxsim"),
        )
    selected = state.filter(F.col("rank").isNotNull())
    return selected.select(
        F.col("_g").alias(group_col),
        F.col("rank").cast("long").alias("rank"),
        F.col("_i").alias(id_col),
        F.round(F.col("_rel") / F.lit(float(scale)), 6).alias("relevance"),
    )
