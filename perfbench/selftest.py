"""Self-test of the benchmark at toy sizes. Run from the root of a checkout:

    python3 perfbench/selftest.py

It checks that:
1. every metric BENCHMARK.json names is printed with its unit, for every
   workload, untraced (end-to-end) and traced (per-layer), and that the
   seed-commit program passes every output check;
2. an injected wrong expected output counts every op as failed;
3. the traced loop starts no more Spark jobs per op than the untraced
   loop (job ids from the DAG scheduler's counter).
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import harness
import run

TOY_SCALE = 0.02


def _check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def main() -> int:
    spec = run._spec()
    workdir = os.path.join(harness.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    harness.fresh_dir(workdir)
    settings = harness.host_settings(workdir)
    sys.path.insert(0, harness.ROOT)
    spark = harness.start_spark(workdir, int(settings["SPARK_GRAFT_CPUS"]))
    try:
        for w in spec["workloads"]:
            name = w["name"]
            for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
                res = run.measure(spark, workdir, name, seed=7, seconds=1, trace=trace,
                                  scale=TOY_SCALE)
                want = {m["name"]: m["unit"] for m in spec[kind]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                _check(got == want, f"{name} trace={int(trace)}: every {kind} metric, with its unit")
                _check(all(isinstance(v["value"], float) for v in res["metrics"].values()),
                       f"{name} trace={int(trace)}: every value is a number")
                _check(res["correct"] and res["failed"] == 0,
                       f"{name} trace={int(trace)}: outputs pass their checks")
                if trace:
                    d = res["detail"]
                    _check(max(d["traced_jobs_per_op"]) <= max(d["jobs_per_op"]),
                           f"{name}: traced ops start no extra Spark job "
                           f"({d['traced_jobs_per_op']} vs {d['jobs_per_op']})")
            res = run.measure(spark, workdir, name, seed=7, seconds=1, trace=False,
                              scale=TOY_SCALE, corrupt_expected=True)
            _check(not res["correct"] and res["failed"] == res["attempted"] >= 1,
                   f"{name}: an injected wrong digest fails every op "
                   f"({res['failed']}/{res['attempted']})")
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"selftest": "passed"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
