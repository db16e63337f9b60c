#!/usr/bin/env python3
"""Record each workload's output digest per seed in ``expected_digests.json``.

    python3 perfbench/record_digests.py --seeds 1-12

Run from the repository root, in one session: for every seed and workload
it writes the inputs, runs the workload's checks and one pass, and keeps
the digest only if the pass passed its check. ``run.py`` then holds every
run on a recorded seed to that digest. Re-record when a change is meant to
alter the output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-12", help="first-last, inclusive")
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))
    run.preflight()
    run.checkout_env()
    work = run.WORK
    shutil.rmtree(work, ignore_errors=True)

    from layers import Tracer
    from workloads import WORKLOADS

    spark = run.start_session(work, event_log=False)
    digests: dict[str, dict[str, str]] = {name: {} for name in WORKLOADS}
    failed = []
    try:
        for seed in range(first, last + 1):
            for name, cls in WORKLOADS.items():
                w = cls(os.path.join(work, f"{name}-{seed}"))
                w.prepare(seed)
                problems = [v for v in w.check(spark).values() if v]
                result = w.run_pass(spark, Tracer(spark, False), 0)
                problems += w.verify(spark, result)
                if problems:
                    failed.append((name, seed, problems))
                else:
                    digests[name][str(seed)] = w.digest(result)
                w.cleanup(result)
                shutil.rmtree(w.work, ignore_errors=True)
                print(name, seed, problems or digests[name][str(seed)], flush=True)
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if failed:
        print(f"not recorded, checks failed: {failed}", file=sys.stderr)
        return 1
    with open(os.path.join(run.HERE, "expected_digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
