"""SparkSession factory tuned for the KG-construction workload.

At 100 TB / 1000-executor scale the same settings matter: AQE for runtime
shuffle coalescing + skew-join splitting (hot entities like the planted
skew key dominate groupBy(norm_name)), Arrow for every pandas-UDF batch
boundary, and shuffle partitions sized to the cluster rather than the
default 200. Locally we test on local[N]."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "kgraph_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: local[] thread count; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to parallelism (local mode: one shuffle
    partition per core avoids tiny-task overhead; AQE coalesces further).
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sp = shuffle_partitions or cpus
    # Python workers unpickle UDF closures that reference this package; make
    # it importable regardless of the driver's cwd (the spark-submit
    # equivalent of shipping the package via --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # broadcast threshold: KB dict / constraint dims are ≤ few MB
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def local_frame(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """Driver-built rows → DataFrame backed by a JVM LocalRelation.

    `spark.createDataFrame(list, schema)` parallelizes pickled rows into a
    Python RDD (plan node `Scan ExistingRDD`), so every job that reads the
    frame — each broadcast of a dimension table, for one — forks Python
    workers to unpickle it. Handing Spark a pyarrow Table instead yields a
    `LocalTableScan`: the rows live in the plan and no Python worker ever
    touches them. `schema` is a DDL string or a StructType (its nullability
    is kept); rows are tuples in schema order, and zero rows is valid."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema=schema)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        # allow a fresh master (local[8] vs local[32]) in the same process
        SparkSession._instantiatedSession = None  # noqa: SLF001
        SparkSession._activeSession = None  # noqa: SLF001


def _parse_bytes(v: str) -> int:
    """Spark size-string → bytes ('2097152', '134217728b', '128m', '1g')."""
    s = v.strip().lower()
    mult = 1
    for suffix, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                      ("tb", 1024**4), ("pb", 1024**5),
                      ("k", 1024), ("m", 1024**2), ("g", 1024**3),
                      ("t", 1024**4), ("p", 1024**5), ("b", 1)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s)) * mult


def estimated_scan_bytes(df) -> int | None:
    """Total on-disk bytes behind a file-backed DataFrame (None for
    in-memory frames; a large sentinel for remote stores we cannot stat —
    at real scale a remote corpus is always big). Unlike
    estimated_scan_partitions this does NOT depend on the session's
    maxPartitionBytes, so size thresholds keep their documented meaning
    under bench/test configs that shrink the split size."""
    import urllib.parse

    files = df.inputFiles()
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return 1 << 50  # remote store: assume scale-adequate input
        # inputFiles() percent-encodes (file:/data/my%20corpus/x.parquet);
        # stat the decoded path, and treat a transiently unreadable LOCAL
        # file as 0 bytes rather than as "remote" — the sentinel would
        # silently force-enable salting on a small local input
        p = urllib.parse.unquote(parsed.path) or uri
        try:
            total += os.path.getsize(p)
        except OSError:
            continue
    return total


def scan_partitions_or_slices(df) -> int:
    """estimated_scan_partitions with the in-memory fallback: the slice
    count the RDD already knows (cheap — plan translation, no job). One
    helper so the repartition guard and the auto-salt decision cannot
    drift (they used to duplicate this two-step probe)."""
    est = estimated_scan_partitions(df)
    if est is None:
        est = df.rdd.getNumPartitions()
    return est


def estimated_scan_partitions(df) -> int | None:
    """Estimate how many scan partitions a file-backed DataFrame yields,
    mirroring Spark's bin-packing: ceil(Σ (size + openCost) / maxPartitionBytes)
    — openCost makes many small files count as FEWER effective partitions
    (they pack together), which a naive per-file split count overstates.

    Replaces `df.rdd.getNumPartitions()` as the input-parallelism probe —
    the RDD conversion forces plan translation (and at scale an extra
    analysis pass) per call, while file sizes come straight from the
    filesystem.

    Returns None for non-file inputs (in-memory test frames), where the
    caller should assume the default-parallelism slice count and
    repartition. Files on a remote store (not stat-able locally) return a
    large sentinel instead: the repartition guard exists for tiny LOCAL
    test inputs, and a corpus on a remote store at real scale always has
    ≥ cores splits — forcing a corpus-sized shuffle because we could not
    stat it would be the exact regression the guard avoids."""
    import urllib.parse

    files = df.inputFiles()
    if not files:
        return None
    conf = df.sparkSession.conf
    maxpb = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4194304b"))
    total_cost = 0
    for uri in files:
        p = urllib.parse.urlparse(uri).path or uri
        try:
            size = os.path.getsize(p)
        except OSError:
            return 1 << 30  # remote store: assume scale-adequate splits
        total_cost += size + open_cost
    return max(1, -(-total_cost // maxpb))
