"""KG-construction benchmark: one workload, one process, closed loop.

    python3 perfbench/run.py --workload graph_refresh --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up: start a local Spark session, generate
the seeded synthetic corpus and its reference outputs (the benchmark's own
set-up, not timed), then make a warm-up run (timed as the program's set-up).
After that it runs the workload back to back, MEASURED_RUNS times and for at
least --seconds, each run into a fresh output directory,
checks every run's committed output against the reference, and prints a
metric table followed by one JSON line (the last line of stdout).

--trace 0 reports the end-to-end metrics; --trace 1 alternates untraced runs
with a traced composition of the same layers (traced.py) and reports the
per-layer metrics. Everything the run writes stays under .perfbench_work/."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None

# Corpus size per workload: one run takes 3-14 s on a 4-core host, and a whole
# benchmark pass fits its time budget (see DESIGN.md).
DOCS = {"extract_shards": 2000, "graph_refresh": 500}
# Warm-up runs in the program's set-up: the first run of a JVM is about twice
# as slow as the next; the runs after the second show no further trend, only
# noise (see DESIGN.md).
WARMUPS = 1
# Measured runs per invocation, whatever --seconds says: a time window made
# the number of runs, and with it the median, follow the host's speed. Two is
# what the time budget of a whole benchmark pass leaves room for.
MEASURED_RUNS = 2
# local[2]: multi-task stages and shuffles run in parallel, and on a 4-core
# box the JVM's compiler and GC threads and the Python workers keep cores of
# their own.
MAX_CORES = 2


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_shards", "graph_refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--docs", type=int, help="override the corpus size (self-test)")
    return ap.parse_args(argv)


def driver_memory() -> str:
    """A quarter of MemAvailable, at most 1 GB: session.get_spark's own
    default (48g) exceeds the RAM of a small box, and these corpora need
    far less."""
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    mb = min(1024, avail_kb // 1024 // 4)
    return f"{max(512, mb // 256 * 256)}m"


def session_conf(work: Path) -> dict[str, str]:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return {
        # bench.py's local-mode settings: AQE re-planning costs more than it
        # saves at these shuffle sizes
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        # keep every file Spark writes inside the checkout
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the whole heap from the start: growing it over the first runs
        # added GC work that made run times drift
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']} -Djava.io.tmpdir={tmp}",
        # the status REST API serves the traced run's stage metrics; it is on
        # in both modes so both run under the same configuration, and bound
        # to loopback so it is reachable without name resolution
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: Path, cores: int):
    from kgraph_spark.session import get_spark

    return get_spark("perfbench", parallelism=cores, shuffle_partitions=cores,
                     extra_conf=session_conf(work))


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    from kgraph_spark.session import stop_spark

    gateway = SparkContext._gateway  # noqa: SLF001
    if spark is not None:
        stop_spark()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path) -> None:
        from perfbench import workloads as W

        self.W = W
        self.args = args
        self.work = work
        self.workload = args.workload
        self.n_docs = args.docs or DOCS[args.workload]
        self.cores = min(MAX_CORES, os.cpu_count() or 1)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.gate_selfcheck = None
        self._outs = 0

    def fresh_out(self) -> Path:
        self._outs += 1
        return self.work / "runs" / f"out{self._outs}"

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> float:
        """Program set-up, timed as one: session start plus the warm-up runs.
        The benchmark's own set-up (corpus, reference, the graph_refresh
        input table) runs in between and is not counted."""
        from perfbench.procs import SparkTree

        W = self.W
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.cores)
        setup_s = time.perf_counter() - t0
        self.tree = SparkTree.of_current_gateway()
        log(f"session started in {setup_s:.1f}s")
        self.corpus = W.make_corpus(self.spark, self.work / "input", self.n_docs, self.args.seed,
                                    with_extracted=self.workload == "graph_refresh")
        self.ref = W.cached_reference(ROOT / ".perfbench_work" / "cache", self.workload,
                                      self.spark, self.corpus)
        log(f"corpus of {self.n_docs} docs and its reference ready")
        for i in range(WARMUPS):
            out = self.fresh_out()
            t0 = time.perf_counter()
            cleanup = W.RUNNERS[self.workload](self.spark, self.corpus, out)
            setup_s += time.perf_counter() - t0
            log(f"warm-up run {i + 1}: {time.perf_counter() - t0:.1f}s")
            got = self.check(out)
            if self.gate_selfcheck is None and got is not None:
                self.gate_selfcheck = W.gate_rejects_perturbation(
                    self.spark, self.workload, out, got, self.ref)
            self.release(cleanup, out)
        return setup_s

    # -- one measured run -----------------------------------------------------

    def check(self, out: Path):
        """Read back what a run committed; count it attempted, and failed
        unless it matches the reference."""
        self.attempted += 1
        try:
            got = self.W.read_output(self.spark, self.workload, out)
            ok = self.W.passes(self.workload, got, self.ref)
        except Exception as e:  # a run whose output cannot be read failed
            print(f"perfbench: reading {out} failed: {e!r}", file=sys.stderr)
            got, ok = None, False
        if not ok:
            self.failed += 1
        return got

    def release(self, cleanup, out: Path) -> None:
        if cleanup is not None:
            cleanup()
        self.spark.catalog.clearCache()
        self.W.remove(out)

    def run_once(self) -> dict:
        from perfbench.procs import PeakRss, steal_s

        W = self.W
        out = self.fresh_out()
        before, steal0 = self.tree.sample(), steal_s()
        try:
            with PeakRss(self.tree) as peak:
                t0 = time.perf_counter()
                cleanup = W.RUNNERS[self.workload](self.spark, self.corpus, out)
                wall = time.perf_counter() - t0
        except Exception as e:
            print(f"perfbench: run raised {e!r}", file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            W.remove(out)
            return {}
        after, steal1 = self.tree.sample(), steal_s()
        size = W.output_mb(out)
        got = self.check(out)
        self.release(cleanup, out)
        if got is None:
            return {}
        return {
            "wall_s": wall,
            "docs_per_s": self.n_docs / wall,
            "triples_per_s": got.triples / wall,
            "cpu_s": (after.jvm_cpu_s - before.jvm_cpu_s)
            + (after.python_cpu_s - before.python_cpu_s),
            "peak_rss_mb": peak.peak_mb,
            "output_mb": size,
            "output": got,
            "steal_s": steal1 - steal0,
        }


def context(bench: Bench) -> dict:
    conf = dict(bench.spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.default.parallelism", "spark.sql.adaptive.enabled",
            "spark.sql.files.maxPartitionBytes", "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    return {
        "workload": bench.workload, "seed": bench.args.seed, "docs": bench.n_docs,
        "nproc": os.cpu_count(), "cores": bench.cores, "warmups": WARMUPS,
        "measured_runs": MEASURED_RUNS,
        "spark_conf": {k: conf.get(k) for k in keep},
    }


def median_metrics(runs: list[dict], names: list[str]) -> dict:
    return {n: statistics.median(r[n] for r in runs) for n in names}


def emit(bench: Bench, metrics: dict, units: dict, extra: dict) -> dict:
    correct = bench.failed == 0 and bench.gate_selfcheck is True and extra.get("traced_match", True)
    record = {**context(bench), **extra, "gate_rejects_perturbation": bench.gate_selfcheck,
              "failed_share": bench.failed / max(1, bench.attempted)}
    print(json.dumps({"context": record}, sort_keys=True))
    width = max(len(n) for n in metrics)
    for name, value in metrics.items():
        print(f"  {name:<{width}}  {value:>14.6g}  {units[name]}")
    print(f"  correct={correct} attempted={bench.attempted} failed={bench.failed} "
          f"failed_share={record['failed_share']:.3f} "
          f"gate_rejects_perturbation={bench.gate_selfcheck}")
    return {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if SPEC is None or not (ROOT / "kgraph_spark").is_dir():
        print("perfbench: run from a checkout that holds kgraph_spark/ and BENCHMARK.json",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # takes precedence over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    (work / "tmp").mkdir()
    os.environ.setdefault("SPARK_DRIVER_MEM", driver_memory())
    bench = Bench(args, work)
    try:
        setup_s = bench.setup()
        runs, extra = [], {}
        if args.trace:
            from perfbench.traced import measure_traced

            metrics, extra = measure_traced(bench, args.seconds)
            units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        else:
            t_end = time.perf_counter() + args.seconds
            n = 0
            while n < MEASURED_RUNS or time.perf_counter() < t_end:
                n += 1
                r = bench.run_once()
                log(f"run {n}: {r.get('wall_s', float('nan')):.2f}s")
                if r:
                    runs.append(r)
            if not runs:
                raise RuntimeError("no run completed")
            names = [m["name"] for m in SPEC["end_to_end"] if m["name"] != "setup_s"]
            metrics = median_metrics(runs, names)
            metrics["setup_s"] = setup_s
            units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
            # hypervisor steal during each run: context for a slow sample
            extra = {"runs": len(runs), "wall_s_all": [r["wall_s"] for r in runs],
                     "steal_s_all": [r["steal_s"] for r in runs]}
        result = emit(bench, metrics, units, extra)
    finally:
        shutdown(bench.spark)
        bench.W.remove(work)
        log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
