"""Per-workload layer table and tracing overhead.

    python3 perfbench/summarize.py [--seed N] [--seconds S] [workload ...]

Runs each workload once untraced and once traced with the same seed and
prints, per workload, the self time of the Python-side layers (query
build, operators, ingestion layers), Catalyst's phases, Spark's job
execution, and the tracing overhead: traced ``wall_s`` minus untraced.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
INGEST_LAYERS = ("sources.read_s", "framework.run_source_s",
                 "framework.quarantine_s", "writer.write_raw_s",
                 "writer.write_hub_s", "writer.read_hub_s",
                 "staging.recover_s", "staging.commit_swap_s")


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[float, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    wall = next(float(m.group(1)) for line in out
                if (m := re.match(r"# wall_s=([0-9.]+)", line)))
    result = json.loads(out[-1])
    return wall, {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    default=json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("workloads", nargs="*",
                    default=["ingest_upsert", "curation_llm"])
    args = ap.parse_args()
    print("| workload | wall_s | traced wall_s | overhead | query build s | "
          "operators s | ingest layers s | Catalyst ms (analysis, optimization, planning) | "
          "spark exec s | jobs | busy |")
    print("|---" * 11 + "|")
    for w in args.workloads:
        plain, _ = _run(w, args.seed, args.seconds, 0)
        traced, m = _run(w, args.seed, args.seconds, 1)
        ops = sum(v for k, v in m.items()
                  if k.startswith("operators.") and k.endswith(".self_s"))
        ingest = sum(m[k] for k in INGEST_LAYERS)
        print(
            f"| {w} | {plain:.2f} | {traced:.2f} | {traced - plain:+.2f} | "
            f"{m['queries.build_s']:.2f} | {ops:.2f} | {ingest:.2f} | "
            f"{m['spark.analysis_ms']:.0f}/{m['spark.optimization_ms']:.0f}/"
            f"{m['spark.planning_ms']:.0f} | {m['spark.exec_s']:.2f} | "
            f"{m['spark.jobs']:.0f} | {m['spark.busy_ratio']:.2f} |",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
