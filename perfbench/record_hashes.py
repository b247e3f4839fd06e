#!/usr/bin/env python3
"""Record the operator_curation output hash for a range of seeds.

    python3 perfbench/record_hashes.py FIRST LAST

Runs the workload's pipeline once per seed in one Spark session and
writes ``expected_hashes.json``, which the benchmark then holds every
run to.  Record at the commit that defines the expected output; a seed
with no recorded hash is held to the hash of its own first run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    first, last = (int(x) for x in sys.argv[1:3])
    work = run.WORK / f"record-{os.getpid()}"
    work.mkdir(parents=True)
    path = workloads.EXPECTED_HASHES
    hashes = json.loads(path.read_text()) if path.exists() else {}
    spark, _ = run.start_spark(work)
    try:
        for seed in range(first, last + 1):
            wl = workloads.OperatorCuration(spark, work / str(seed), seed, None)
            wl.prepare()
            wl.expected_hash = None
            wl.step(traced=False, timed=False)
            if wl.failed:
                print(f"seed {seed}: run failed", file=sys.stderr)
                return 1
            hashes[str(seed)] = wl.hashes[0]
            print(f"seed {seed}: {wl.hashes[0]}", flush=True)
            shutil.rmtree(work / str(seed))
            path.write_text(json.dumps(
                dict(sorted(hashes.items(), key=lambda kv: int(kv[0]))), indent=1) + "\n")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
