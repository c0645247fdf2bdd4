"""The repository benchmark. Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run starts one Spark driver at local[nproc], stages the workload's
inputs from the seed (several times where that is cheap), then runs ops
closed-loop with one client (each op starts when the previous one
returns) for --seconds, checking every op's output. The last line of
standard output is the result; the line before it is a detail record
(sample counts, percentiles, set-up times, host settings, digests).

--trace 0 reports the end-to-end metrics. --trace 1 first runs the same
untraced loop, then a traced loop of the same length, and reports the
per-layer metrics of the traced ops plus the tracing overhead. See
perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()

import harness  # noqa: E402
from harness import median, percentile, tail_percentile  # noqa: E402

BENCHMARK_JSON = os.path.join(harness.ROOT, "BENCHMARK.json")
VINCENTY_PAIRS = 1_000_000


def _spec() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def _jobs_started(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _loop(wl, seconds: float, tracer=None) -> dict:
    """Closed loop: ops back to back until `seconds` have passed."""
    times, layers, jobs, spans = [], [], [], []
    rows = failed = 0
    deadline = time.perf_counter() + seconds
    while not times or time.perf_counter() < deadline:
        wl.prepare()
        if tracer is not None:
            tracer.begin(f"{wl.name}-op{len(times)}")
            wl.storage_before()
        jobs0 = _jobs_started(wl.spark)
        t0 = time.perf_counter()
        try:
            n, ok = wl.op()
        except Exception:  # noqa: BLE001 - a raising op is a failed op
            traceback.print_exc(file=sys.stderr)
            n, ok = 0, False
        dt = time.perf_counter() - t0
        jobs.append(_jobs_started(wl.spark) - jobs0)
        times.append(dt)
        spans.append(dict(wl.spans))
        rows += n if ok else 0
        failed += 0 if ok else 1
        if tracer is not None:
            layer = tracer.end(dt)
            wl.storage_after()
            layer.update(wl.spans)
            layers.append(layer)
    return {"times": times, "rows": rows, "failed": failed, "layers": layers, "jobs": jobs,
            "spans": spans}


def _vincenty_rows_per_s(seed: int) -> float:
    import numpy as np

    from gtfs_osm_sync_spark.functions.geo import vincenty_m_np

    rng = np.random.default_rng(seed)
    lat = rng.uniform(-58.0, 58.0, VINCENTY_PAIRS)
    lon = rng.uniform(-170.0, 170.0, VINCENTY_PAIRS)
    # pairs a few hundred metres apart, the compare's shell distances
    dlat = rng.uniform(-0.004, 0.004, VINCENTY_PAIRS)
    dlon = rng.uniform(-0.004, 0.004, VINCENTY_PAIRS)
    t0 = time.perf_counter()
    vincenty_m_np(lat, lon, lat + dlat, lon + dlon)
    return VINCENTY_PAIRS / (time.perf_counter() - t0)


def measure(spark, workdir: str, name: str, seed: int, seconds: float, trace: bool,
            scale: float = 1.0, corrupt_expected: bool = False) -> dict:
    """Set up, verify, run the timed loop(s) and the end check. Returns
    the result object (last output line) with a 'detail' entry."""
    from tracing import Tracer
    from workloads import WORKLOADS

    sampler = harness.RssSampler(harness.jvm_pid(spark)).start()
    wl = WORKLOADS[name](spark, workdir, seed, scale)
    setup_times = []
    for k in range(wl.setups):
        t0 = time.perf_counter()
        wl.setup(k)
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    problems = wl.verify()
    verify_s = time.perf_counter() - t0
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    if corrupt_expected:
        wl.corrupt_expected()
    gc_before = harness.jvm_gc(spark)
    plain = _loop(wl, seconds)
    gc_loop = harness.jvm_gc(spark)
    traced = None
    if trace:
        tracer = Tracer(spark, feed_dir=getattr(wl, "feed_dir", None))
        wl.trace_storage(True)
        try:
            traced = _loop(wl, seconds, tracer)
        finally:
            wl.trace_storage(False)
            tracer.close()
    runs = [plain] + ([traced] if traced else [])
    attempted = sum(len(r["times"]) for r in runs)
    failed = sum(r["failed"] for r in runs)
    t0 = time.perf_counter()
    final_ok = wl.final_check()
    final_check_s = time.perf_counter() - t0
    if not final_ok:
        print("check failed: end-of-run check", file=sys.stderr)
        failed = attempted
    peak_mb = sampler.stop()

    times = plain["times"]
    tail_p = tail_percentile(len(times))
    e2e = {
        "op_s_p50": median(times),
        "op_s_tail": percentile(times, tail_p),
        "rows_per_s": plain["rows"] / sum(times),
        "setup_s": median(setup_times),
    }
    detail = {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "closed_loop_clients": 1,
        "ops": len(times),
        "op_s_tail_percentile": round(100 * tail_p, 1),
        "op_s": times,
        "jobs_per_op": plain["jobs"],
        "spans_per_op": plain["spans"],
        "setup_s_each": setup_times,
        "end_to_end": e2e,
        "peak_rss_mb": peak_mb,
        "inputs": wl.describe(),
        "expected_digest": None if wl.expected is None else repr(wl.expected),
        "verify_problems": problems,
        "verify_s": verify_s,
        "jvm_gc_before_loop": gc_before,
        "jvm_gc_after_loop": gc_loop,
        "final_check_s": final_check_s,
    }
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if trace:
        per_op = traced["layers"]
        layer = {m["name"]: 0.0 for m in spec["per_layer"]}
        for key in layer:
            vals = [op[key] for op in per_op if key in op]
            if vals:
                layer[key] = float(median(vals))
        if getattr(wl, "feed_bytes", 0):
            layer["sync.feed_bytes_read_frac"] = float(
                median([op.get("sync.feed_bytes_read", 0) for op in per_op])
            ) / wl.feed_bytes
        layer["geo.vincenty_np_rows_per_s"] = _vincenty_rows_per_s(seed)
        layer["mem.peak_rss_mb"] = peak_mb
        layer["trace.overhead_s"] = median(traced["times"]) - median(times)
        detail["traced_ops"] = len(traced["times"])
        detail["traced_op_s"] = traced["times"]
        detail["traced_jobs_per_op"] = traced["jobs"]
        metrics = layer
    else:
        metrics = e2e
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "detail": detail,
    }


def main(argv: list[str] | None = None) -> int:
    names = [w["name"] for w in _spec()["workloads"]] if os.path.exists(BENCHMARK_JSON) else []
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names or None)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"no {harness.PACKAGE}/ beside perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2

    workdir = os.path.join(harness.ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.fresh_dir(workdir)
    try:
        settings = harness.host_settings(workdir)
        sys.path.insert(0, harness.ROOT)
        spark = harness.start_spark(workdir, int(settings["SPARK_GRAFT_CPUS"]))
        spark.range(1).count()
        jvm_start_s = time.perf_counter() - T_START
        try:
            result = measure(spark, workdir, args.workload, args.seed, args.seconds,
                             bool(args.trace))
        finally:
            harness.stop_spark(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still uses it
    detail = result.pop("detail")
    detail["jvm_start_s"] = jvm_start_s
    detail["process_s"] = time.perf_counter() - T_START
    detail["host"] = settings
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
