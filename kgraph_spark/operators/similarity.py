"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline, and an LSH-bucketed
(random hyperplane sign) variant as the scale path — mirrors the reference's
embedding matchers (find_by_embedding, kgraph/storage/memory.py:123-151;
find_merge_candidates ingest.py:864-925) which are brute force with an
explicit "use ANN at scale" caveat (ingest.py:877-880). The blocked variant
is the answer to that caveat.

Dot products use built-in higher-order functions (zip_with + aggregate) —
JVM-side, no Python in the hot path."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgraph_spark.session import local_frame


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    items: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """(probe_id, vec_id, cosine, rank) — probes broadcast against the item
    table (probe set is small; items scan once, no shuffle of items)."""
    p = F.broadcast(
        probes.select(F.col(probe_id_col), F.col(vec_col).alias("_pvec"))
    )
    scored = items.crossJoin(p).select(
        probe_id_col,
        id_col,
        cosine_col(F.col(vec_col), F.col("_pvec")).alias("cosine"),
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _bucket_expr(dim: int, n_planes: int, seed: int, vec_col: str):
    """Sign-random-projection bucket id as a pure column expression
    (deterministic seeded hyperplanes computed driver-side, shipped as
    literals)."""
    import random

    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = _dot(F.col(vec_col), F.array(*[F.lit(x) for x in plane]))
        bucket = bucket + F.when(proj >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return bucket


def hyperplane_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection LSH bucket id per vector."""
    return df.withColumn("bucket", _bucket_expr(dim, n_planes, seed, vec_col))


def banded_hyperplane_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 4,
    n_bands: int = 6,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """OR-amplified LSH: n_bands independent sign-random-projection tables
    (the cosine analogue of MinHash banding). Each input row explodes into
    n_bands (band, bucket) rows; a candidate pair only needs to agree in ONE
    band, so pair recall is 1-(1-p^n_planes)^n_bands where p = 1-θ/π —
    ≥0.98 at cosine 0.88 with the defaults, vs ~0.36 for a single 6-plane
    table. Row blowup is exactly n_bands (a constant), never quadratic."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _bucket_expr(dim, n_planes, seed + 7919 * (b + 1), vec_col).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        df.withColumn("_bb", F.explode(bands))
        .withColumn("band", F.col("_bb.band"))
        .withColumn("bucket", F.col("_bb.bucket"))
        .drop("_bb")
    )


def _infer_dim(df: DataFrame, vec_col: str) -> int | None:
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return None if row is None else len(row[0])


def lsh_topk(
    items: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Approximate top-k: only score items in the probe's LSH bucket —
    the 1000-executor path where brute force would scan everything.
    Recall/latency trades via n_planes (fewer planes → bigger buckets)."""
    bi = hyperplane_buckets(items, dim, n_planes, vec_col=vec_col)
    bp = hyperplane_buckets(probes, dim, n_planes, vec_col=vec_col).select(
        probe_id_col, F.col(vec_col).alias("_pvec"), "bucket"
    )
    scored = bi.join(F.broadcast(bp), "bucket").select(
        probe_id_col, id_col, cosine_col(F.col(vec_col), F.col("_pvec")).alias("cosine")
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer cells + nprobe search
# ---------------------------------------------------------------------------

def deterministic_centroids(
    items: DataFrame, n_centroids: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Coarse-quantizer init: the n_centroids items with the smallest ids
    (deterministic and SQL-restatable — the DuckDB oracle recomputes the
    same quantizer). Production seam: swap in kmeans_refine output or an
    offline-trained codebook; everything downstream only sees (cid, vector).
    The collect is k rows × dim floats — quantizer-sized, never corpus-sized."""
    rows = (
        items.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(n_centroids).collect()
    )
    return [(i, [float(x) for x in r[1]]) for i, r in enumerate(rows)]


def _centroid_score_arr(centroids: list[tuple[int, list[float]]], vec_col: str):
    """array<struct<ns: -cosine, cid>> for every centroid — array_min picks
    the best cell (max cosine, ties to the smallest cid), sort_array yields
    the nprobe-nearest cells. Pure JVM expression; right for nlist ≲ 256
    (literal size grows k×dim). Larger codebooks go through assign_cells_np."""
    v = F.col(vec_col)
    return F.array(
        *[
            F.struct(
                (-cosine_col(v, F.array(*[F.lit(x) for x in cvec]))).alias("ns"),
                F.lit(cid).alias("cid"),
            )
            for cid, cvec in centroids
        ]
    )


def assign_cells(
    df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid cell id per row (cosine metric; ties → smallest cid).
    No shuffle: the codebook rides inside the expression, items never move."""
    return df.withColumn("cell", F.array_min(_centroid_score_arr(centroids, vec_col))["cid"])


def assign_cells_np(
    df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str = "embedding"
) -> DataFrame:
    """Same contract as assign_cells via one Arrow-batched numpy matmul —
    the large-nlist path (IVF codebooks of 1k-64k cells at 100-TB scale,
    where a per-centroid JVM expression would not codegen). Batches of rows
    × the whole codebook in one BLAS call; ties → smallest cid (argmax
    returns the first maximum, and the codebook matrix is ordered by cid)."""
    import numpy as np
    import pandas as pd

    cids = np.array([c for c, _ in centroids])
    cmat = np.array([v for _, v in centroids], dtype="float64")
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    from pyspark.sql.types import IntegerType, StructField, StructType

    in_fields = list(df.schema.fields)
    out_schema = StructType(in_fields + [StructField("cell", IntegerType())])
    cols = [f.name for f in in_fields]

    def run(batches):
        for pdf in batches:
            if len(pdf):
                v = np.array(pdf[vec_col].tolist(), dtype="float64")
                v = v / np.clip(np.linalg.norm(v, axis=1, keepdims=True), 1e-12, None)
                pdf = pdf.assign(cell=cids[np.argmax(v @ cmat.T, axis=1)])
            else:
                pdf = pdf.assign(cell=pd.Series([], dtype="int64"))
            yield pdf[cols + ["cell"]]

    return df.mapInPandas(run, schema=out_schema)


def probe_cells_np(
    probes: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-nprobe nearest cells per probe via one Arrow-batched numpy matmul
    + argsort — the large-nlist twin of the JVM `_centroid_score_arr` probe
    ranking (1k-64k-cell codebooks would not codegen as literals). Adds a
    `_cells` array<int> column; ties break to the smallest cid (stable
    argsort over (-cosine, cid))."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    cids = np.array([c for c, _ in centroids])
    cmat = np.array([v for _, v in centroids], dtype="float64")
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    order_by_cid = np.argsort(cids, kind="stable")
    in_fields = list(probes.schema.fields)
    out_schema = StructType(in_fields + [StructField("_cells", ArrayType(IntegerType()))])
    cols = [f.name for f in in_fields]

    def run(batches):
        for pdf in batches:
            if len(pdf):
                v = np.array(pdf[vec_col].tolist(), dtype="float64")
                v = v / np.clip(np.linalg.norm(v, axis=1, keepdims=True), 1e-12, None)
                # rows ordered by cid, then stable argsort on -cosine:
                # equal-cosine ties resolve to the smallest cid
                sims = (v @ cmat.T)[:, order_by_cid]
                top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
                cells = cids[order_by_cid][top]
                pdf = pdf.assign(_cells=[[int(c) for c in row] for row in cells])
            else:
                pdf = pdf.assign(_cells=pd.Series([], dtype="object"))
            yield pdf[cols + ["_cells"]]

    return probes.mapInPandas(run, schema=out_schema)


def kmeans_refine(
    items: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 5,
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the coarse quantizer, each iteration two narrow
    shuffles: assign (map-only) → posexplode(dim) → groupBy(cell, pos) mean.
    Only the k×dim codebook ever reaches the driver; empty cells keep their
    previous centroid. Cosine-metric assignment (scale of a centroid does
    not change any argmax, so plain means are fine).

    round_to: round each centroid coordinate to this many decimals JVM-side
    (F.round, before collect) — pins the codebook against last-ulp
    summation-order drift so an external engine recomputing the same means
    (the driver's DuckDB oracle) lands on bit-identical centroids."""
    cents = list(centroids)
    for _ in range(iters):
        assigned = assign_cells(items, cents, vec_col)
        mean_expr = F.avg("x") if round_to is None else F.round(F.avg("x"), round_to)
        means = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(mean_expr.alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("mean"))
            .collect()
        )
        new = {r["cell"]: [float(x) for x in r["mean"]] for r in means}
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    return cents


def pq_codebooks(
    items: DataFrame,
    m: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic product-quantization codebooks: the full dimension is
    split into `m` equal subspaces; subspace s's `k` centroids are the
    s-th subvectors of the k smallest-id items (the same SQL-restatable
    init rule as deterministic_centroids — run each subspace through
    kmeans_refine on a sliced frame for a trained codebook). Returns
    codebooks[s] = [(centroid_idx, subvector), ...]; only m×k×(dim/m)
    floats ever reach the driver."""
    rows = (
        items.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(k).collect()
    )
    dim = len(rows[0][1])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    w = dim // m
    return [
        [(ci, [float(x) for x in r[1][s * w : (s + 1) * w]]) for ci, r in enumerate(rows)]
        for s in range(m)
    ]


def _l2_expr(vec_col: str, offset: int, cvec: list[float]):
    """Squared L2 between vec[offset:offset+len(cvec)] and a literal
    subvector, as zip_with + aggregate — a LOOP in generated code, not an
    unrolled term chain (m×k×w unrolled terms blew janino's 64 KB method
    limit and dropped the whole stage to interpreted eval). aggregate is a
    left fold seeded with 0.0, the exact association order the Python LUT
    builder and the SQL oracle use, so all three engines produce
    bit-identical doubles (0.0 + d0 == d0 in IEEE)."""
    sub = F.slice(F.col(vec_col), offset + 1, len(cvec))
    lits = F.array(*[F.lit(float(c)) for c in cvec])
    sq = F.zip_with(sub, lits, lambda x, c: (x - c) * (x - c))
    return F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)


def _l2_py(a: list[float], b: list[float]) -> float:
    d = 0.0
    for x, y in zip(a, b):
        diff = x - y
        d = d + diff * diff
    return d


def pq_encode(
    items: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code: array<int>) — code[s] = index of the nearest subspace
    centroid by squared L2 (ties → smallest index, via min-of-struct).
    Pure JVM literal expressions, map-only, zero shuffle: a 100-TB vector
    corpus compresses to m small ints per row in one scan pass (m bytes
    conceptually — the 64-dim float vector becomes an 8-byte code at
    m=8/k≤256, a 32× compression the ADC scan then reads instead of the
    raw vectors)."""
    m = len(codebooks)
    w = len(codebooks[0][0][1])
    codes = []
    for s, cb in enumerate(codebooks):
        scored = F.array_min(
            F.array(
                *[
                    F.struct(_l2_expr(vec_col, s * w, cvec).alias("d"), F.lit(ci).alias("c"))
                    for ci, cvec in cb
                ]
            )
        )
        codes.append(scored["c"])
    return items.select(F.col(id_col), F.array(*codes).alias("code"))


def pq_topk(
    codes: DataFrame,
    probes: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: each probe precomputes a
    per-subspace lookup table of exact squared L2 distances probe↔centroid
    driver-side (m×k floats, plain left-to-right Python arithmetic — IEEE-
    deterministic, so the SQL oracle reproduces it bit-for-bit), then one
    map-only scan over the CODES table scores every item as
    sum_s lut[s][code[s]] via element_at on literal arrays. Items' raw
    vectors are never read at query time; the only shuffle is the per-probe
    top-k. Probes are collected by contract (the handful of query vectors —
    same stance as brute_force_topk's broadcast). All probe LUTs ride ONE
    broadcast table joined onto a SINGLE codes scan — the previous per-probe
    union of scan branches re-evaluated the whole encode expression tree
    once per probe, making pq_topk P× the cost of the scan it reads.
    Compose with IVF cells to prune the scan at scale (IVF-PQ)."""
    m = len(codebooks)
    w_sub = len(codebooks[0][0][1])
    rows = probes.select(probe_id_col, vec_col).collect()
    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    lut_rows = [
        (
            prow[0],
            [
                [_l2_py([float(x) for x in prow[1]][s * w_sub : (s + 1) * w_sub], cvec) for _, cvec in cb]
                for s, cb in enumerate(codebooks)
            ],
        )
        for prow in rows
    ]
    lut_schema = StructType(
        [
            StructField(probe_id_col, probes.schema[probe_id_col].dataType, False),
            StructField("_lut", ArrayType(ArrayType(DoubleType(), False), False), False),
        ]
    )
    lut_df = local_frame(codes.sparkSession, lut_rows, lut_schema)
    # left-to-right term sum: identical IEEE association order to the LUT
    # builder and the SQL oracle's ordered list_sum
    dist = None
    for s in range(m):
        term = F.element_at(F.element_at(F.col("_lut"), s + 1), F.col("code")[s] + 1)
        dist = term if dist is None else dist + term
    scored = codes.crossJoin(F.broadcast(lut_df)).select(
        probe_id_col, F.col(id_col), dist.alias("adist")
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("adist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, "adist", "rank")
    )


def ivf_topk(
    items: DataFrame,
    probes: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    use_numpy_assign: bool = False,
) -> DataFrame:
    """IVF approximate top-k: items live in exactly one quantizer cell, each
    probe scans its nprobe nearest cells — the classic inverted-file ANN
    layout (alternative scale path to lsh_topk; recall trades via nprobe).
    At cluster scale the items table is written bucketed/partitioned BY cell
    so a probe touches only its nprobe partitions (partition pruning); here
    the cell join expresses the same pruning.

    Mirrors the reference's find_by_embedding contract
    (kgraph/storage/memory.py:123-151) behind its "use ANN at scale" caveat
    (kgraph/ingest.py:877-880)."""
    if use_numpy_assign:
        # large-nlist path end-to-end: items AND probes rank cells via the
        # numpy codebook matmul (a per-centroid literal expression would not
        # codegen at 1k-64k cells)
        bi = assign_cells_np(items, centroids, vec_col)
        pcells = probe_cells_np(probes, centroids, nprobe, vec_col)
    else:
        bi = assign_cells(items, centroids, vec_col)
        pcells = probes.withColumn(
            "_cells",
            F.slice(
                F.transform(
                    F.sort_array(_centroid_score_arr(centroids, vec_col)), lambda s: s["cid"]
                ),
                1,
                nprobe,
            ),
        )
    bp = pcells.select(
        probe_id_col, F.col(vec_col).alias("_pvec"), F.explode("_cells").alias("cell")
    )
    scored = bi.join(F.broadcast(bp), "cell").select(
        probe_id_col, id_col, cosine_col(F.col(vec_col), F.col("_pvec")).alias("cosine")
    )
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup(
    items: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): items are
    k-means-clustered (assign_cells — codebook rides the expression, items
    never shuffle for assignment), pairwise cosine runs ONLY within a cell,
    and an item is dropped when a LOWER-id cell-mate sits at rounded cosine
    ≥ threshold. Returns one row per item: (id, dup_of, keep) where dup_of
    is the smallest such lower-id neighbor (NULL ⇒ kept).

    Determinism discipline: the keep decision is made on the ROUND(cos,
    round_to) value, so engines differing by summation-order ulps agree;
    min-id winner election needs no float at all. The cell equi-join bounds
    pair work to Σ|cell|² — the same blast-radius contract as the LSH
    bucket joins (dedup_text.py); at 100 TB you size the codebook so cells
    stay ~10⁴-10⁵ rows and write the corpus bucketed by cell so the self-
    join is shuffle-free. Unlike the paper (keeps the point farthest from
    the centroid), winner = smallest id — replayable and SQL-restatable;
    the keep-rule seam is the one-line struct in the min aggregate."""
    a = assign_cells(items, centroids, vec_col).select(
        "cell", F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    left = a.select("cell", F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    right = a.select("cell", F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    close = (
        left.join(right, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("_va"), F.col("_vb")), round_to).alias("_cos"),
        )
        .filter(F.col("_cos") >= threshold)
    )
    dups = close.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        items.select(id_col)
        .join(dups, id_col, "left")
        .select(id_col, "dup_of", F.col("dup_of").isNull().alias("keep"))
    )


def blocked_pair_similarity(
    entities: DataFrame,
    threshold: float,
    block_col: str = "entity_type",
    id_col: str = "entity_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_bands: int = 6,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """D10/D11 blocked similarity self-join: same-block pairs with cosine ≥
    threshold (block by class — the reference's same-class provisional merge
    at ≥0.88, dedup.py:640-761).

    The self-join key is (block, band, LSH bucket), never the block alone:
    blocks grow with the corpus (a web-scale corpus is dominated by one
    class), so a class-only join is the O(n²) anti-pattern the reference
    itself warns about (kgraph/ingest.py:877-880). Banded sign-random-
    projection keeps recall ≥0.98 at the 0.88 merge threshold (see
    banded_hyperplane_buckets); pair cardinality is bounded by similarity
    structure. Candidate pairs are deduped across bands BEFORE the cosine
    is computed, so each survivor pays for exactly one dot product."""
    if dim is None:
        dim = _infer_dim(entities, vec_col)
        if dim is None:
            return local_frame(
                entities.sparkSession, [], "blk string, id_a string, id_b string, cosine double"
            )
    # null embeddings would all hash to bucket 0 in every band (a null
    # projection falls through every sign test) — one mega-bucket and an
    # O(n_null²) candidate set; they can never pass the cosine filter
    # anyway, so drop them before bucketing
    src = (
        entities.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"), F.col(block_col).alias("blk"), F.col(vec_col).alias("_v")
        )
        # the ids-only exchange below re-attaches vectors by (blk, id), so
        # that key must be unique on the build side — duplicate input rows
        # (an upstream union, an id carried under the same type twice)
        # would otherwise multiply every surviving pair through the
        # re-joins. One n-row dedup enforces the contract instead of
        # assuming it.
        .dropDuplicates(["blk", "_id"])
    )
    bucketed = banded_hyperplane_buckets(src, dim, n_planes, n_bands, seed, vec_col="_v")
    # ids-only candidate exchange (same slimming as the MinHash band join):
    # the bucket self-join and the cross-band pair dedup move (blk, id, id)
    # rows, never the vectors — at n_bands=6 the fat variant shuffled 6n
    # embedding copies into the join plus two more per surviving pair.
    # Vectors re-enter via two (blk, id)-keyed joins against the n-row
    # source — blk stays in the key so an id appearing in two blocks gets
    # each block's own vector, never the other's.
    ids = bucketed.select("blk", "band", "bucket", "_id")
    pairs = (
        ids.select("blk", "band", "bucket", F.col("_id").alias("id_a"))
        .join(ids.select("blk", "band", "bucket", F.col("_id").alias("id_b")),
              ["blk", "band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("blk", "id_a", "id_b")
        .dropDuplicates(["blk", "id_a", "id_b"])
    )
    va = src.select("blk", F.col("_id").alias("id_a"), F.col("_v").alias("va"))
    vb = src.select("blk", F.col("_id").alias("id_b"), F.col("_v").alias("vb"))
    return (
        pairs.join(va, ["blk", "id_a"])
        .join(vb, ["blk", "id_b"])
        .withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("blk", "id_a", "id_b", "cosine")
    )


def embedding_centroids(
    items: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-class centroid of an embedding column as FLAT rows (label, pos,
    mean, n_vectors) — the class-prototype table embedding-quality checks
    and nearest-centroid classifiers start from. Per-dimension sums use
    round-6 FIXED-POINT longs (round(x·10⁶) — float32→double promotion is
    exact, integer sums are order-free), so the centroid is bit-identical
    across engines and partitionings; means are round-6 doubles.

    One posexplode + one (label, pos) hash aggregate: the shuffle carries
    |labels|·dim running sums, not vectors. NULL labels form their own
    group (profile them; filter upstream to drop)."""
    ex = items.select(
        F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("x") * 1000000, 0).cast("long")).alias("_s"),
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
        )
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            F.round(F.col("_s") / F.col("n_vectors") / 1000000.0, 6).alias("mean"),
            "n_vectors",
        )
    )


def embedding_dispersion(
    items: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-class cohesion of the embedding space: each vector's cosine to
    its OWN class centroid, aggregated to (label, n_vectors, mean_cosine,
    min_cosine). Low mean = diffuse class; a low min pinpoints mislabeled
    or outlier vectors (re-join the scored frame for the row level). The
    drift check a recurring embedding job runs against last week's run.

    Centroids come from embedding_centroids' fixed-point sums; per-item
    cosines quantize to round-6 fixed-point longs BEFORE the class
    aggregate, so mean/min are order-free and engine-identical. The
    centroid table is |labels|×dim — broadcast; vectors never shuffle for
    the scoring join, only for the final per-label aggregate."""
    su = embedding_centroids(items, label_col, vec_col)
    cents = (
        su.select("label", "pos", F.col("mean").alias("_m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "_m"))).alias("_pm"))
        .select("label", F.transform("_pm", lambda s: s["_m"]).alias("_c"))
    )
    scored = items.select(
        F.col(label_col).alias("label"), F.col(vec_col).alias("_v")
    ).join(F.broadcast(cents), "label")
    u = F.round(cosine_col(F.col("_v"), F.col("_c")) * 1000000, 0).cast("long")
    return (
        scored.select("label", u.alias("_u"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.sum("_u") / F.count(F.lit(1)) / 1000000.0, 6).alias("mean_cosine"),
            F.round(F.min("_u") / 1000000.0, 6).alias("min_cosine"),
        )
    )


def cosine_fixed(a, b, q: int = 1_000_000):
    """Cross-engine BIT-IDENTICAL cosine: quantize both vectors to integer
    grids (round(x·q) — a binary float times 10^6 can never sit exactly on
    a .5 boundary, the denominator would need a 5^6 factor no binary float
    has, so the quantization itself is unambiguous), then dot and squared
    norms are EXACT integer folds; the only float ops are two correctly-
    rounded sqrts and one divide of exactly-representable integers —
    identical IEEE doubles in any engine, so ANY later rounding of the
    result is safe. Use where a round-6 of a float cosine must match an
    oracle bit-for-bit (plain cosine_col folds can differ from another
    engine's kernel in the last ulp and flip a rounding boundary)."""
    qa = F.transform(a, lambda x: F.round(x * q).cast("long"))
    qb = F.transform(b, lambda x: F.round(x * q).cast("long"))
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    na2 = F.aggregate(
        F.transform(qa, lambda x: x * x), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    nb2 = F.aggregate(
        F.transform(qb, lambda x: x * x), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    return dot.cast("double") / (
        F.sqrt(na2.cast("double")) * F.sqrt(nb2.cast("double"))
    )


def quantized_with_norm(
    df: DataFrame,
    vec_col: str = "embedding",
    q: int = 1_000_000,
    qv_col: str = "_qv",
    n2_col: str = "_n2",
) -> DataFrame:
    """Per-ROW integer-grid quantization + exact squared norm — the
    pre-pass for pairwise fixed-point cosine work. cosine_fixed re-derives
    quantization and both norms per CALL, which is fine for one pair
    column but O(pairs)·7-HOF interpreted work under a pair join;
    computing them once per row makes the per-pair residual a single
    fold (fixed_dot) or a batched matmul (fixed_dot_pairs)."""
    out = df.withColumn(
        qv_col, F.transform(F.col(vec_col), lambda x: F.round(x * q).cast("long"))
    )
    return out.withColumn(
        n2_col,
        F.aggregate(
            F.transform(F.col(qv_col), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )


def fixed_dot(qa, qb):
    """EXACT integer dot of two pre-quantized long vectors — ONE fold."""
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def fixed_micro_cosine(dot, n2a, n2b):
    """round(cosine·10⁶) as long from exact integer parts — the identical
    float tail cosine_fixed ends with (one divide of exact integers, two
    correctly-rounded sqrts), so results are bit-equal to
    round(cosine_fixed(a, b)·10⁶)."""
    return (
        F.round(
            dot.cast("double")
            / (F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double")))
            * 1_000_000
        )
        .cast("long")
    )


def fixed_dot_pairs(
    items: DataFrame,
    probes: DataFrame,
    item_id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    vec_col: str = "embedding",
    q: int = 1_000_000,
    item_extra: tuple[str, ...] = (),
    probe_extra: tuple[str, ...] = (),
) -> DataFrame:
    """ALL (probe, item) EXACT integer-grid dot products via ONE
    Arrow-batched int64 matmul per item batch — the bulk twin of
    cosine_fixed for probe×corpus scoring (nDCG evaluation, alignment):
    int64 matmul is exact for micro-grid vectors (|dot| ≤ dim·q² ≪ 2^63),
    so the emitted integers equal the JVM fold's bit-for-bit; finish with
    fixed_micro_cosine for the identical float tail.

    Scale shape: probes quantize in the JVM and collect driver-side
    (bounded probe-set contract — the IVF codebook-pull precedent), then
    broadcast in the closure; items stream through once and never
    shuffle. Output: (probe_id, item_id, dot, n2_probe, n2_item,
    *item_extra, *probe_extra)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    pq = quantized_with_norm(
        probes.filter(F.col(vec_col).isNotNull()), vec_col, q
    ).select(probe_id_col, "_qv", "_n2", *probe_extra)
    prows = pq.collect()
    pmat = np.array([r["_qv"] for r in prows], dtype="int64")
    pids = np.array([r[probe_id_col] for r in prows])
    pn2 = np.array([r["_n2"] for r in prows], dtype="int64")
    pext = {c: np.array([r[c] for r in prows]) for c in probe_extra}

    iq = quantized_with_norm(
        items.filter(F.col(vec_col).isNotNull()), vec_col, q
    ).select(item_id_col, "_qv", "_n2", *item_extra)
    it_types = {f.name: f.dataType for f in iq.schema.fields}
    pr_types = {f.name: f.dataType for f in pq.schema.fields}
    out_schema = StructType(
        [StructField(probe_id_col, pr_types[probe_id_col])]
        + [StructField(item_id_col, it_types[item_id_col])]
        + [
            StructField("dot", LongType()),
            StructField("n2_probe", LongType()),
            StructField("n2_item", LongType()),
        ]
        + [StructField(c, it_types[c]) for c in item_extra]
        + [StructField(c, pr_types[c]) for c in probe_extra]
    )
    n_p = len(prows)

    def run(batches):
        for pdf in batches:
            if not len(pdf) or not n_p:
                continue
            m = np.array(pdf["_qv"].tolist(), dtype="int64")
            dots = m @ pmat.T  # exact: int64 micro-grid magnitudes
            b = len(pdf)
            out = {
                probe_id_col: np.tile(pids, b),
                item_id_col: np.repeat(pdf[item_id_col].to_numpy(), n_p),
                "dot": dots.reshape(-1),
                "n2_probe": np.tile(pn2, b),
                "n2_item": np.repeat(pdf["_n2"].to_numpy(), n_p),
            }
            for c in item_extra:
                out[c] = np.repeat(pdf[c].to_numpy(), n_p)
            for c in probe_extra:
                out[c] = np.tile(pext[c], b)
            yield pd.DataFrame(out)

    return iq.mapInPandas(run, schema=out_schema)


def _rp_signs(out_dim: int, in_dim: int) -> list[list[int]]:
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{j}#{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    items: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q: int = 1_000_000,
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection to `out_dim`
    dimensions, FLAT output (id, pos, value) — the dimensionality-reduce
    step before ANN/clustering when 64-4096-dim embeddings make distance
    arithmetic the bottleneck (pairwise cost drops by in_dim/out_dim with
    JL-bounded distortion; Achlioptas 2003 shows ±1 signs suffice).

    Determinism discipline: the sign matrix is a PURE FUNCTION of
    (row j, position i) — md5 parity, materialized once driver-side
    (out_dim×in_dim ints, a literal in the plan; never per-row hashing)
    and reproducible in SQL from the same md5. Inputs quantize to the
    integer grid (the cosine_fixed argument: float·10^6 can't sit on a
    rounding boundary), each output coordinate is an EXACT integer dot
    Σ v_i·s_ji, and the single float op is one division by q·√out_dim —
    identical IEEE everywhere, so the oracle matches bit-for-bit. One
    map-only projection per row; no shuffle, no UDF."""
    if out_dim < 1:
        raise ValueError("need out_dim >= 1")
    first = items.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("empty input")
    in_dim = int(first["d"])
    signs = _rp_signs(out_dim, in_dim)
    qv = F.transform(F.col(vec_col), lambda x: F.round(x * q).cast("long"))
    comps = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    qv,
                    F.array(*[F.lit(s).cast("long") for s in signs[j]]),
                    lambda x, s: x * s,
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            for j in range(out_dim)
        ]
    )
    denom = F.lit(float(q)) * F.sqrt(F.lit(float(out_dim)))
    return items.select(
        F.col(id_col), F.posexplode(comps).alias("pos", "_s")
    ).select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        F.round(F.col("_s") / denom, 6).alias("value"),
    )


def sample_diversity(
    items: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group diversity audit of a SELECTED set (group, n_items,
    n_pairs, mean_pairwise_cosine, max_pairwise_cosine): the acceptance
    check after any sampling/selection stage — MMR, semantic_cluster_
    sample, PPS — answering "did the selection actually spread out, or
    did k near-copies get through". mean high → redundant sample; max
    near 1.0 → an outright duplicate pair slipped in.

    Built for SMALL selected sets (k items per group → C(k,2) pairs; the
    self-join is group-keyed, so cost is Σ k_g², never corpus-scale — by
    contract this runs on selection OUTPUT, not the corpus; for corpus-
    scale pairing use the banded-LSH blocked operators). Cosines are
    cosine_fixed (bit-identical cross-engine), aggregated as exact
    fixed-point longs, mean = one division of exact longs."""
    a = items.select(
        F.col(group_col).alias("_g"), F.col(id_col).alias("_i"), F.col(vec_col).alias("_v")
    )
    b = a.select(F.col("_g"), F.col("_i").alias("_j"), F.col("_v").alias("_w"))
    pairs = a.join(b, "_g").filter(F.col("_i") < F.col("_j")).select(
        "_g",
        F.round(cosine_fixed(F.col("_v"), F.col("_w")) * F.lit(1_000_000.0))
        .cast("long")
        .alias("_c"),
    )
    sizes = a.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    agg = pairs.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("_c").cast("long").alias("_s"),
        F.max("_c").alias("_m"),
    )
    return (
        sizes.join(agg, "_g", "left")
        .select(
            F.col("_g").alias(group_col),
            "n_items",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.when(
                F.col("n_pairs").isNotNull(),
                F.round(F.col("_s") / F.col("n_pairs") / F.lit(1_000_000.0), 6),
            ).alias("mean_pairwise_cosine"),
            F.when(
                F.col("n_pairs").isNotNull(),
                F.round(F.col("_m") / F.lit(1_000_000.0), 6),
            ).alias("max_pairwise_cosine"),
        )
    )


def reciprocal_best_match(
    left: DataFrame,
    right: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float | None = None,
) -> DataFrame:
    """Cross-KB entity ALIGNMENT by reciprocal best match: a (left, right)
    pair survives iff right is left's single best match AND left is
    right's — the mutual-argmax rule that kills the asymmetric hub
    problem (one generic entity being everyone's best match) without any
    tuned threshold. The D3/D4 cross-ontology analogue: align two
    embedding-keyed KBs before SAME_AS merging.

    Pairing is BLOCKED on `block_col` (never a cartesian across blocks;
    at corpus scale feed the banded-LSH bucket key, exactly like
    embedding near-dup pairing). Scores are integer micro-cosines
    (round(cosine_fixed·10⁶) — exact longs), so both argmax elections and
    any later rounding replay bit-for-bit in SQL; ties break to the
    smaller id. Each side's best table is one groupBy over the scored
    pairs (ids + one long), and the mutual check is an equi-join of the
    two best tables on the pair key.

    Returns (left_id, right_id, cosine) with cosine = micro/10⁶ (round-6
    exact)."""
    l = quantized_with_norm(
        left.select(
            F.col(block_col).alias("_blk"),
            F.col(id_col).alias("left_id"),
            F.col(vec_col).alias("_lv"),
        ),
        "_lv",
        qv_col="_lqv",
        n2_col="_ln2",
    ).drop("_lv")
    r = quantized_with_norm(
        right.select(
            F.col(block_col).alias("_blk"),
            F.col(id_col).alias("right_id"),
            F.col(vec_col).alias("_rv"),
        ),
        "_rv",
        qv_col="_rqv",
        n2_col="_rn2",
    ).drop("_rv")
    # quantize + norm once per ROW; the per-pair residual is one fold —
    # bit-equal to round(cosine_fixed(lv, rv)·10⁶) at O(pairs)/7 the
    # interpreted-HOF work
    scored = l.join(r, "_blk").select(
        "left_id",
        "right_id",
        fixed_micro_cosine(
            fixed_dot(F.col("_lqv"), F.col("_rqv")), F.col("_ln2"), F.col("_rn2")
        ).alias("_c"),
    )
    if min_cosine is not None:
        scored = scored.filter(F.col("_c") >= int(round(min_cosine * 1_000_000)))
    best_l = scored.groupBy("left_id").agg(
        F.min(F.struct((-F.col("_c")).alias("nc"), F.col("right_id").alias("rid"))).alias("_b")
    )
    best_r = scored.groupBy("right_id").agg(
        F.min(F.struct((-F.col("_c")).alias("nc"), F.col("left_id").alias("lid"))).alias("_b")
    )
    m1 = best_l.select(
        "left_id", F.col("_b.rid").alias("right_id"), (-F.col("_b.nc")).alias("_c")
    )
    m2 = best_r.select(F.col("_b.lid").alias("left_id"), "right_id")
    return m1.join(m2, ["left_id", "right_id"]).select(
        "left_id",
        "right_id",
        F.round(F.col("_c") / 1_000_000.0, 6).alias("cosine"),
    )


def weighted_token_overlap(
    names: DataFrame,
    id_col: str = "id",
    text_col: str = "name",
    block_col: str = "block",
    min_overlap_micro: int = 0,
) -> DataFrame:
    """ER name matching with IDF-LIKE weights that stay EXACT integers:
    token weight = N div df(token) (total records integer-divided by the
    token's document frequency), so rare discriminative tokens dominate
    the way tf-idf intends, but every weight, intersection and union sum
    is a long — weighted-overlap_micro = 10⁶·Σ_shared w ÷ (Σ_A w + Σ_B w
    − Σ_shared w) needs ONE integer division (the cosine_fixed recipe,
    no sqrt anywhere).

    Pairs are generated ONLY within `block_col` (Soundex / brand / LSH
    bucket — caller's choice), the blocked-pair discipline every 100-TB
    ER pass needs; within a block the token inverted index joins ids, not
    names.

    Emits (id_a, id_b, shared_w, union_w, overlap_micro)."""
    toks = (
        names.select(
            F.col(id_col).alias("_id"),
            F.col(block_col).alias("_blk"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("_tok"),
        )
        .filter(F.length("_tok") > 0)
        .distinct()
    )
    n_total = names.select(F.countDistinct(id_col).alias("_n"))
    df_w = (
        toks.groupBy("_tok")
        .agg(F.countDistinct("_id").alias("_df"))
        .crossJoin(F.broadcast(n_total))
        .select("_tok", F.expr("_n div _df").cast("long").alias("_w"))
    )
    wt = toks.join(df_w, "_tok")
    totals = wt.groupBy("_id").agg(F.sum("_w").cast("long").alias("_tw"))
    shared = (
        wt.alias("a")
        .join(
            wt.alias("b"),
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._tok") == F.col("b._tok"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.sum("a._w").cast("long").alias("shared_w"))
    )
    out = (
        shared.join(totals.withColumnRenamed("_id", "id_a").withColumnRenamed("_tw", "_ta"), "id_a")
        .join(totals.withColumnRenamed("_id", "id_b").withColumnRenamed("_tw", "_tb"), "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_w",
            (F.col("_ta") + F.col("_tb") - F.col("shared_w")).cast("long").alias("union_w"),
            F.expr("1000000 * shared_w div (_ta + _tb - shared_w)").alias("overlap_micro"),
        )
    )
    return out.filter(F.col("overlap_micro") >= min_overlap_micro)


def sq8_error_profile(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization audit: quantize every embedding to
    per-dimension affine uint8 codes (the 4× memory cut an ANN index
    takes at 100 TB) and report what it costs — (vec_id, n_dims, sse,
    max_abs_err_micro, rmse) with sse/max in integer micro² / micro
    units and rmse back in embedding units. Vectors with large rmse
    are the ones a quantized index will mis-rank — the acceptance gate
    before swapping ann_ivf_topk's codebook to int8.

    Exact discipline: coordinates land on the integer-micro grid;
    per-dim [min, max] are exact longs; code = round((q−min)·255/range)
    and dequant = min + round(code·range/255) are each ONE fixed double
    op on exactly-representable integers, so per-dim errors are EXACT
    LONGS that sum without order sensitivity; the single sqrt happens
    on the final scalar. Constant dimensions (range 0) encode to 0 with
    zero error.

    Scale: one narrow posexplode (dim× rows of 3 ints), a 64-row
    per-dim aggregate broadcast back, one vec_id hash aggregate — no
    window, no pairwise work."""
    ex = emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    ).select(
        "vid", "pos",
        F.round(F.col("x").cast("double") * F.lit(1_000_000.0), 0)
        .cast("long").alias("q"),
    )
    dims = ex.groupBy("pos").agg(
        F.min("q").alias("mn"), F.max("q").alias("mx")
    )
    rng = (F.col("mx") - F.col("mn")).cast("double")
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.round((F.col("q") - F.col("mn")).cast("double") * F.lit(255.0) / rng, 0),
    ).otherwise(F.lit(0.0)).cast("long")
    j = ex.join(F.broadcast(dims), "pos").select(
        "vid", "q", "mn", "mx", code.alias("code")
    )
    deq = F.col("mn") + F.when(
        F.col("mx") > F.col("mn"),
        F.round(F.col("code").cast("double") * (F.col("mx") - F.col("mn")).cast("double")
                / F.lit(255.0), 0),
    ).otherwise(F.lit(0.0)).cast("long")
    err = (F.col("q") - deq).alias("e")
    per = j.select("vid", err).groupBy("vid").agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.sum(F.col("e") * F.col("e")).cast("long").alias("sse"),
        F.max(F.abs("e")).cast("long").alias("max_abs_err_micro"),
    )
    return per.select(
        F.col("vid").alias(id_col),
        "n_dims",
        "sse",
        "max_abs_err_micro",
        F.round(
            F.sqrt(F.col("sse").cast("double") / F.col("n_dims").cast("double"))
            / F.lit(1_000_000.0),
            6,
        ).alias("rmse"),
    )


def centroid_drift(
    items_a: DataFrame,
    items_b: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid movement between two embedding snapshots:
    (label, n_a, n_b, centroid_cosine) — the embedding-space
    distribution-shift monitor a recurring encoder job runs against
    last week's table (a re-trained encoder that silently rotated a
    class shows up here before it poisons ANN recall). Labels present
    in only one snapshot are absent (no drift to measure).

    Exactness: both centroids come from embedding_centroids' fixed-
    point means (round-6), then the cosine is the cosine_fixed recipe
    — both centroid lists quantize to the 10⁻⁶ grid, dot and norms
    fold as EXACT integers, two sqrts + one division finish it. No
    engine ever sums raw floats.

    Scale: two |labels|×dim centroid aggregates, one |labels|-row
    join; item vectors never pair."""

    def _cents(items, na):
        su = embedding_centroids(items, label_col, vec_col)
        return (
            su.select("label", "pos", F.col("mean").alias("_m"),
                      F.col("n_vectors").alias("_n"))
            .groupBy("label")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "_m"))).alias("_pm"),
                F.max("_n").cast("long").alias(na),
            )
            .select("label", F.transform("_pm", lambda s: s["_m"]).alias(f"_c{na}"), na)
        )
    a = _cents(items_a, "n_a")
    b = _cents(items_b, "n_b")
    return a.join(b, "label").select(
        "label",
        "n_a",
        "n_b",
        F.round(cosine_col(F.col("_cn_a"), F.col("_cn_b")), 6)
        .alias("centroid_cosine"),
    )
