"""Print every benchmark metric by name, with its unit, and the correctness
verdict, for each workload in BENCHMARK.json, untraced and traced.

    python3 perfbench/report.py [--seed 1] [--seconds N] [--workloads a,b]
    python3 perfbench/report.py --selftest

--selftest runs every workload on a tiny corpus and checks the output format
against BENCHMARK.json: the last stdout line is one JSON object with exactly
the keys correct/attempted/failed/metrics, and the metrics are exactly the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1), each a
finite number with the declared unit. Exits 1 if any check fails."""

from __future__ import annotations

import argparse
import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, seed: int, seconds: float, trace: int, extra: list[str]) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def format_errors(result: dict, declared: list[dict]) -> list[str]:
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"top-level keys {sorted(result)}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errors.append(f"attempted={result.get('attempted')!r}")
    if not isinstance(result.get("failed"), int):
        errors.append(f"failed={result.get('failed')!r}")
    metrics = result.get("metrics", {})
    want = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(want):
        errors.append(f"metric names differ: missing {sorted(set(want) - set(metrics))}, "
                      f"extra {sorted(set(metrics) - set(want))}")
    for name, m in metrics.items():
        if set(m) != {"value", "unit"} or m.get("unit") != want.get(name):
            errors.append(f"{name}: {m}")
        elif not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            errors.append(f"{name}: value {m['value']!r}")
    return errors


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    extra = ["--docs", "40"] if args.selftest else []
    seconds = 1 if args.selftest else args.seconds
    ok = True
    for workload in args.workloads.split(","):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            result = run(workload, args.seed, seconds, trace, extra)
            errors = format_errors(result, declared)
            ok &= result["correct"] and not errors
            print(f"== {workload} --trace {trace}: correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}")
            for name, m in result["metrics"].items():
                print(f"   {name:<44} {m['value']:>14.6g} {m['unit']}")
            for e in errors:
                print(f"   FORMAT: {e}")
    print("selftest " + ("passed" if ok else "FAILED") if args.selftest else f"all correct: {ok}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
