"""Count-min sketch heavy hitters — deterministic, hence oracle-able.

The classic fixed-memory frequency structure (Cormode & Muthukrishnan
2005): d hash rows × w buckets of counters; an item's estimate is the MIN
of its d bucket counters, which never undercounts and overcounts only by
colliding keys' mass. At 100 TB the d×w sketch is the whole point — it
builds with ONE bounded-size aggregation (the shuffle carries ≤ d·w
running counters regardless of corpus size), merges across
batches/streams by cell-wise addition, and answers "is this key hot?"
without per-key state. Hash rows use md5-prefix arithmetic (the repo's
engine-portable hash), so the sketch — and every estimate — is
bit-identical across engines, runs, and partitionings: the oracle
recomputes the exact same sketch in SQL.

This module keeps the batch form; an incremental update is the same
groupBy((row, bucket)).sum over a new batch unioned cell-wise onto the
persisted sketch."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket(key, i: int, w: int):
    return F.conv(
        F.substring(F.md5(F.concat(key, F.lit(f"#cms{i}"))), 1, 8), 16, 10
    ).cast("long") % w


def cms_sketch(df: DataFrame, key_col: str, d: int = 3, w: int = 512) -> DataFrame:
    """(row, bucket, cnt) — the d×w counter table. One posexplode (d rows
    per input row, ids only) into one partial/final hash aggregate whose
    result is ≤ d·w rows — bounded memory at ANY input size."""
    if d < 1 or w < 2:
        raise ValueError("need d >= 1 and w >= 2")
    key = F.col(key_col)
    cells = F.array(
        *[F.struct(F.lit(i).alias("row"), _bucket(key, i, w).alias("bucket")) for i in range(d)]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_count: int,
    d: int = 3,
    w: int = 512,
) -> DataFrame:
    """Keys whose CMS estimate reaches min_count, with the exact count
    alongside: (key, exact, estimate, overcount). estimate >= exact always
    (one-sided error) — the sketch SHORTLISTS, never misses, and the exact
    pass runs only to expose the collision overcount (at scale you keep
    the shortlist and drop the exact join, or verify just the shortlist).
    The estimate join probes the ≤ d·w sketch — broadcast-sized by
    construction."""
    sk = cms_sketch(df, key_col, d, w)
    keys = df.select(F.col(key_col).alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("exact")
    )
    probes = keys.select(
        "key",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row"), _bucket(F.col("key"), i, w).alias("bucket"))
                    for i in range(d)
                ]
            )
        ).alias("c"),
    ).select("key", "exact", F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(sk), ["row", "bucket"])
        .groupBy("key", "exact")
        .agg(F.min("cnt").cast("long").alias("estimate"))
    )
    return (
        est.filter(F.col("estimate") >= min_count)
        .select("key", "exact", "estimate", (F.col("estimate") - F.col("exact")).cast("long").alias("overcount"))
    )


def hll_sketch(df: DataFrame, key_col: str, p: int = 8) -> DataFrame:
    """HyperLogLog register table (Flajolet et al. 2007): (register,
    max_rho), one row per OBSERVED register (≤ m = 2^p rows regardless of
    input size — like cms_sketch, the shuffle carries a bounded counter
    table, never per-key state).

    Determinism discipline: the 60-bit hash is the md5-prefix integer the
    repo uses everywhere (15 hex chars → always-positive long, identical
    in Spark via conv() and DuckDB via ('0x'||…)::BIGINT); register = low
    p bits, rho = leading-zero rank of the remaining (60−p)-bit word,
    computed as width+1 − digits(bin(w)) with TRIM(LEADING '0') so both
    engines agree on w = 0 (rho = width+1). The whole sketch — hence every
    estimate and every merge — is bit-identical across engines and
    partitionings; the oracle rebuilds it exactly in SQL.

    Merging (cross-batch, cross-stream, cross-partition) is register-wise
    MAX — see merge_hll; this is what makes HLL the right distinct-count
    structure at 100 TB: count once per partition, merge m integers."""
    if not 4 <= p <= 14:
        raise ValueError("p must be in [4, 14]")
    m = 1 << p
    width = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    staged = df.select(
        h.bitwiseAND(m - 1).cast("long").alias("register"),
        F.shiftright(h, p).alias("_w"),
    )
    rho = F.lit(width + 1) - F.length(F.expr("TRIM(LEADING '0' FROM bin(_w))"))
    return (
        staged.select("register", rho.cast("int").alias("_rho"))
        .groupBy("register")
        .agg(F.max("_rho").alias("max_rho"))
    )


def merge_hll(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Register-wise MAX union of two HLL sketches built with the same p —
    the incremental form: fold each new batch's sketch onto the persisted
    one; the result is bit-equal to the one-shot sketch over the unioned
    input."""
    return (
        base.unionByName(delta)
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> DataFrame:
    """One-row cardinality estimate from an hll_sketch register table:
    (m, n_registers, estimate). The harmonic-mean denominator accumulates
    as EXACT integers — each 2^-rho term scales to the long 1 << (s−rho)
    with s = 61−p (max rho is s, so terms ∈ [1, 2^(s−1)] and the sum is
    ≤ 2^61 — no overflow, no float-summation order dependence); empty
    registers contribute 2^s each. The only float ops are one fixed-shape
    multiply/divide chain (and the standard small-range ln correction when
    it applies) on exact integers — engine-identical, so the estimate is
    oracle-able to the last bit before the final round(…, 2)."""
    m = 1 << p
    s = 61 - p
    if m >= 128:
        alpha = 0.7213 / (1 + 1.079 / m)
    else:
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}[m]
    agg = registers.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {s} - max_rho)")).alias("_obs"),
        F.count(F.lit(1)).cast("long").alias("n_registers"),
    )
    z_scaled = (
        F.col("_obs")
        + (F.lit(m) - F.col("n_registers")) * F.lit(1 << s).cast("long")
    ).cast("double")
    raw = F.lit(alpha) * F.lit(float(m * m)) * F.lit(float(1 << s)) / z_scaled
    empty = F.lit(m) - F.col("n_registers")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / empty.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.lit(m).cast("long").alias("m"),
        "n_registers",
        F.round(est, 2).alias("estimate"),
    )


def _bloom_positions(key, m: int, k: int):
    """k md5-derived bit positions in [0, m) — engine-portable arithmetic
    (same md5-prefix trick as the CMS buckets)."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(key, F.lit(f"#bf{i}"))), 1, 8), 16, 10
        ).cast("long") % m
        for i in range(k)
    ]


def bloom_build(df: DataFrame, key_col: str, m: int = 4096, k: int = 3) -> DataFrame:
    """ONE-row Bloom filter over df[key_col]: (m, k, words map<int,bigint>)
    — bit i of words[i div 64] set iff some key hashed to position i. The
    whole filter is ≤ m/64 map entries regardless of input size: one
    explode (ids only) + one bounded hash aggregate + one 1-row map
    assembly. Built for JOIN PRUNING at scale: broadcast this row onto a
    100-TB fact table and drop non-members MAP-SIDE — the shuffle (or the
    whole semi-join) happens only for keys that pass. Classic one-sided
    error: members ALWAYS pass; non-members pass with the standard
    (1−e^{−kn/m})^k false-positive rate, so downstream must tolerate (or
    exactly re-check) the survivors — bloom_prune exposes both modes.
    Sibling: corpus_curation.build_bloom is the DRIVER-side bytes variant
    the incremental-dedup stream ships to executors as one broadcast blob;
    this one stays a 1-row DataFrame so the whole build-and-probe is plan
    lineage (oracle-able, resumable) with no driver materialization."""
    if m < 64 or m % 64 != 0 or k < 1:
        raise ValueError("need m >= 64 and divisible by 64, k >= 1")
    key = F.col(key_col).cast("string")
    pos = F.array(*_bloom_positions(key, m, k))
    words = (
        df.select(F.explode(pos).alias("_pos"))
        .select(
            (F.col("_pos") / 64).cast("int").alias("word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("_pos") % 64).cast("int")
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    return words.agg(
        F.lit(m).alias("m"),
        F.lit(k).alias("k"),
        F.map_from_arrays(F.collect_list("word"), F.collect_list("bits")).alias("words"),
    )


def bloom_prune(
    big: DataFrame,
    key_col: str,
    bloom: DataFrame,
    verify_against: DataFrame | None = None,
) -> DataFrame:
    """Rows of `big` whose key PASSES the Bloom filter (a 1-row frame from
    bloom_build, broadcast onto every partition) — the map-side semi-join:
    no shuffle of `big`, no per-key state, just k md5 probes + bit tests
    riding the scan as JVM expressions. With `verify_against` (the exact
    membership source) the survivors get an `is_member` flag from a real
    semi-ish join — the false-positive audit, which at scale you run on
    the pruned (tiny) side only; that is the entire point."""
    mrow = bloom.head()
    if mrow is None:
        raise ValueError("empty bloom frame")
    m, k = int(mrow["m"]), int(mrow["k"])
    key = F.col(key_col).cast("string")
    checks = [
        (
            F.coalesce(
                F.element_at(F.col("_bf.words"), (p / 64).cast("int")), F.lit(0)
            ).bitwiseAND(
                F.call_function("shiftleft", F.lit(1).cast("long"), (p % 64).cast("int"))
            )
            != 0
        )
        for p in _bloom_positions(key, m, k)
    ]
    passed = (
        big.crossJoin(F.broadcast(bloom.select(F.struct("m", "k", "words").alias("_bf"))))
        .filter(reduce(lambda a, b: a & b, checks))
        .drop("_bf")
    )
    if verify_against is None:
        return passed
    members = verify_against.select(F.col(key_col).alias("_mk")).distinct()
    return passed.join(
        F.broadcast(members), passed[key_col] == F.col("_mk"), "left"
    ).select(*big.columns, F.col("_mk").isNotNull().alias("is_member"))


def hll_sketch_grouped(
    df: DataFrame, key_col: str, group_col: str, p: int = 8
) -> DataFrame:
    """Per-GROUP HyperLogLog register table (group, register, max_rho) —
    the daily-uniques / per-domain-cardinality shape: ≤ 2^p rows per group
    regardless of group size, mergeable register-wise across batches and
    streams exactly like the global hll_sketch (same md5-prefix hash, same
    rho convention — see hll_sketch's determinism note). At 100 TB this
    replaces count_distinct(user) per group — whose state is the distinct
    set — with a bounded counter table per group."""
    if not 4 <= p <= 14:
        raise ValueError("p must be in [4, 14]")
    m = 1 << p
    width = 60 - p
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    staged = df.select(
        F.col(group_col).alias("group"),
        h.bitwiseAND(m - 1).cast("long").alias("register"),
        F.shiftright(h, p).alias("_w"),
    )
    rho = F.lit(width + 1) - F.length(F.expr("TRIM(LEADING '0' FROM bin(_w))"))
    return (
        staged.select("group", "register", rho.cast("int").alias("_rho"))
        .groupBy("group", "register")
        .agg(F.max("_rho").alias("max_rho"))
    )


def hll_estimate_grouped(registers: DataFrame, p: int = 8) -> DataFrame:
    """(group, n_registers, estimate) from a grouped register table — the
    same exact-integer harmonic denominator and small-range correction as
    hll_estimate, per group (see that docstring for the float discipline)."""
    m = 1 << p
    s = 61 - p
    if m >= 128:
        alpha = 0.7213 / (1 + 1.079 / m)
    else:
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}[m]
    agg = registers.groupBy("group").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {s} - max_rho)")).alias("_obs"),
        F.count(F.lit(1)).cast("long").alias("n_registers"),
    )
    z_scaled = (
        F.col("_obs")
        + (F.lit(m) - F.col("n_registers")) * F.lit(1 << s).cast("long")
    ).cast("double")
    raw = F.lit(alpha) * F.lit(float(m * m)) * F.lit(float(1 << s)) / z_scaled
    empty = F.lit(m) - F.col("n_registers")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / empty.cast("double")),
    ).otherwise(raw)
    return agg.select(
        "group",
        "n_registers",
        F.round(est, 2).alias("estimate"),
    )


def kmv_jaccard(
    a: DataFrame,
    b: DataFrame,
    element_col: str,
    k: int = 256,
) -> DataFrame:
    """ONE-row KMV (k-minimum-values) set-overlap sketch: estimate the
    Jaccard similarity of two element sets from the k smallest hashes of
    their union — the corpus-planning question ("how much does this new
    crawl overlap what we already have", "how much vocabulary do these
    two language slices share") answered WITHOUT joining the full sets
    (Beyer et al. 2007). Jaccard ≈ |{h ∈ sketch : h in A AND h in B}| /
    |sketch| — an unbiased estimate with σ ≈ 1/√k.

    Hash = md5 hex of the element compared as STRINGS — the proven
    cross-engine recipe (same as the MinHash signatures); fully
    deterministic, so the estimate is reproducible and oracle-able. Plan:
    per-side distinct on the hash (map-side combined), a hash-keyed
    merge aggregate for membership flags, then TakeOrdered — each
    partition contributes a k-element heap and the driver merges k·P
    rows, so the full union never sorts globally and never lands on one
    reducer. Exact integer counts; one round-6 division.

    Returns (k, k_used, n_common, jaccard_est, theta): k_used < k means
    the union had fewer than k distinct elements (the estimate is then
    exact); theta is the sketch boundary hash for sketch composition."""
    if k < 1:
        raise ValueError("k must be >= 1")
    ha = (
        a.select(F.md5(F.col(element_col).cast("string")).alias("_h"))
        .filter(F.col("_h").isNotNull())
        .distinct()
        .withColumn("_ina", F.lit(1))
    )
    hb = (
        b.select(F.md5(F.col(element_col).cast("string")).alias("_h"))
        .filter(F.col("_h").isNotNull())
        .distinct()
        .withColumn("_inb", F.lit(1))
    )
    merged = (
        ha.join(hb, "_h", "full_outer")
        .select(
            "_h",
            F.coalesce("_ina", F.lit(0)).alias("_ina"),
            F.coalesce("_inb", F.lit(0)).alias("_inb"),
        )
        .orderBy("_h")
        .limit(k)
    )
    return merged.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.coalesce(F.sum(F.col("_ina") * F.col("_inb")), F.lit(0))
        .cast("long")
        .alias("n_common"),
        F.max("_h").alias("theta"),
    ).select(
        "k",
        "k_used",
        "n_common",
        F.when(
            F.col("k_used") > 0, F.round(F.col("n_common") / F.col("k_used"), 6)
        ).alias("jaccard_est"),
        "theta",
    )
