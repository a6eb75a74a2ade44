"""Record the expected output digest of every pinned query.

    python3 perfbench/record_digests.py [--seed N] [--out PATH]

Runs each query of the query workloads once, in the order the seed
gives, and writes ``{workload: {query: {"rows", "hash"}}}``. Record twice
with different seeds and compare: a query whose hash differs is
nondeterministic and belongs in ``workloads.ROWS_ONLY``. Confirm the
oracle-bearing ones with ``python tools/check.py <sf_dir> <names>``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.run import ROOT, _confine, _session, _stop  # noqa: E402
from perfbench.verify import digest  # noqa: E402
from perfbench.workloads import DIGESTS, SF_ROOT, WORKLOADS, QueryWorkload  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--out", default=str(DIGESTS))
    args = ap.parse_args()
    work = ROOT / ".perfbench_work" / f"record-{os.getpid()}"
    _confine(work)
    spark = _session(len(os.sched_getaffinity(0)), work)
    try:
        from metadata_ingestion_poc_spark.queries import QUERIES

        out: dict[str, dict] = {}
        for w in WORKLOADS.values():
            if not isinstance(w, QueryWorkload):
                continue
            names = list(w.queries)
            random.Random(args.seed).shuffle(names)
            out[w.name] = {}
            for name in names:
                df = QUERIES[name](spark, f"{SF_ROOT}/{w.sf}")
                out[w.name][name] = digest(df.columns, [tuple(r) for r in df.collect()])
                print(name, out[w.name][name], flush=True)
                spark.catalog.clearCache()
        Path(args.out).write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
