#!/usr/bin/env python3
"""Self-test of the benchmark's own checks, on a small corpus.

    python3 perfbench/selftest.py

1. The per-birthdate-block oracle labels every record exactly as one
   global ``sequential_linkage`` pass does (same linked set, same
   clusters), with an empty spine and with a given one.
2. A traced run gives the same output digest as an untraced run, on
   ``incremental`` and on ``stream``.

Exits 0 when both hold.
"""

import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import bench, check, workloads  # noqa: E402

ENTITIES = 300
SEED = 7


def clusters(labels: dict) -> set:
    by: dict = {}
    for item, label in labels.items():
        by.setdefault(label, set()).add(item)
    return {frozenset(v) for v in by.values()}


def main() -> int:
    from perfbench.runners import make_runner
    from perfbench.trace import run_traced

    run_dir = bench.WORK / "selftest"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    ok = True
    try:
        bench.pin_env(run_dir)
        spark = bench.start_session(run_dir, trace=False)
        for family in ("bootstrap", "steady"):
            out = run_dir / family
            out.mkdir()
            workloads.generate(spark, family, SEED, ENTITIES, out)
            records, spine = workloads.load(family, out).oracle_records()
            same = clusters(check.global_oracle(records, spine)) == clusters(
                check.block_oracle(records, spine)
            )
            print(f"oracle per block == global ({family}, {len(records)} records): {same}")
            ok &= same

        for workload in ("incremental", "stream"):
            runner = make_runner(workloads.load(workload, run_dir / "steady"))
            runner.run(spark, run_dir / f"{workload}-untraced")
            plain, _ = runner.outputs(spark, run_dir / f"{workload}-untraced")
            run_traced(spark, runner, run_dir / f"{workload}-traced")
            traced, _ = runner.outputs(spark, run_dir / f"{workload}-traced")
            print(f"traced digest == untraced ({workload}): {traced == plain} ({plain})")
            ok &= traced == plain
    finally:
        bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
