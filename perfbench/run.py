"""perfbench: the repo's benchmark, one workload per process.

    python3 perfbench/run.py --workload tile_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

A run starts one Spark session at ``local[nproc-1]``, makes the seeded
inputs (cached under ``.perfbench_work/``, outside ``setup_s``), warms up
until pass time levels off, then times passes for at least ``--seconds``
and checks every pass's output. The last stdout line is the result JSON:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. ``--smoke`` runs every workload
once per mode at tiny sizes and checks names, units and output checks.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

WORKLOADS = ("tile_pipeline", "gates")
#: repetitions of each traced probe (prefix cut, twin plan, tiles())
TRACE_REPS = 2


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workload_class(name: str):
    if name == "tile_pipeline":
        from perfbench.tile_pipeline import Workload
    else:
        from perfbench.gates import Workload
    return Workload


def timed_passes(wl, seconds: float, store=None) -> dict:
    """Passes until at least ``seconds`` elapsed and ``min_timed_passes``
    were attempted. With ``store`` (a traced run) each pass also records
    its layer totals and the wall time spent reading the store."""
    out = {"times": [], "samples": [], "walls": [], "layers": [], "overheads": []}
    t0, attempts = time.perf_counter(), 0
    while attempts < wl.min_timed_passes or time.perf_counter() - t0 < seconds:
        attempts += 1
        if store:
            mark, read = store.mark(), store.seconds
        with wl.run.span("pass") as sp:
            res = wl.timed_pass(store)
        if store:
            out["layers"].append(store.layers_since(mark))
            out["overheads"].append(store.seconds - read)
        if res is not None:
            out["times"].append(res[0])
            out["samples"].append(res[1])
            out["walls"].append(sp.seconds)
    if not out["times"]:
        raise RuntimeError("no timed pass succeeded")
    return out


def measure(args, spec: dict) -> None:
    from orthority_spark.pyfiles import ensure_on_executors
    from pyspark import SparkContext

    run = harness.Run(args.workload, args.seed, bool(args.trace))
    d = run.detail
    with harness.RssSampler() as rss:
        d["session_s"], spark = harness.timed(harness.start_spark)
        gateway = SparkContext._gateway
        try:
            d["ensure_s"], _ = harness.timed(ensure_on_executors, spark)
            wl = workload_class(args.workload)(spark, run, args.size)
            d["inputs_s"], _ = harness.timed(wl.make_inputs)
            d["catalog_s"], _ = harness.timed(wl.build_catalog)
            setup_s = time.perf_counter() - T_START - d["inputs_s"]
            d["warmup_s"], _ = harness.timed(wl.warm_up)
            # a traced run times half as long: its layer probes follow
            store = harness.StatusStore(spark) if args.trace else None
            passes = timed_passes(wl, args.seconds / (2 if args.trace else 1), store)
            pass_s = harness.median(passes["times"])
            queries = [s for p in passes["samples"] for s in p.values()]
            p90, q = harness.upper_percentile(queries)
            values = {
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak_mb,
                "pass_s": pass_s,
                "query_p50_s": harness.median(queries),
                "query_p90_s": p90,
                **wl.e2e(pass_s),
            }
            d.update(pass_times=passes["times"], pass_walls=passes["walls"],
                     query_samples=len(queries), query_p90_percentile=q, e2e=values)
            if args.trace:
                metrics = trace(wl, store, spec, passes)
            else:
                metrics = {m["name"]: (values[m["name"]], m["unit"])
                           for m in spec["end_to_end"]}
        finally:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    d.update(harness.calibrate_cpu())
    harness.emit(run, metrics)


def trace(wl, store, spec, passes: dict) -> dict:
    """Per-layer metrics of a traced run: the last traced pass's status-
    store totals, the workload's layer probes, and the tracing overhead
    (store reads per pass; the timed pass_s excludes them). Layers a
    workload does not run read 0."""
    vals = dict(passes["layers"][-1])
    vals["exchange.shuffle_bytes"] = vals["exchange.shuffle_mb"] * 1e6
    vals["driver.warmup_s"] = wl.run.detail["warmup_s"]
    vals["trace.overhead_s"] = harness.median(passes["overheads"])
    vals.update(wl.layers(store, passes["samples"], passes["walls"], TRACE_REPS))
    wl.run.counts.update(vals)
    return {m["name"]: (float(vals.get(m["name"], 0.0)), m["unit"]) for m in spec["per_layer"]}


def smoke() -> int:
    """Every workload once per mode at tiny sizes; checks that each
    BENCHMARK.json metric is printed with its unit and all checks pass."""
    spec = load_spec()
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    failures = []
    for name in [w["name"] for w in spec["workloads"]]:
        for trace_flag in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", "0", "--seconds", "1", "--trace", str(trace_flag),
                   "--size", "smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=900)
            lines = proc.stdout.strip().splitlines()
            label = f"{name} trace={trace_flag}"
            if proc.returncode != 0 or not lines:
                failures.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace_flag]:
                failures.append(f"{label}: metric names/units differ from BENCHMARK.json")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{label}: checks failed ({res['failed']} of {res['attempted']})")
            print(f"smoke {label}: {res['attempted']} ops, {res['failed']} failed", flush=True)
    for f in failures:
        print("smoke FAILED", f, file=sys.stderr)
    return 1 if failures else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    harness.confine_to_checkout()
    try:
        import orthority_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the orthority_spark package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    harness.adopt_orphans()
    # a SIGTERM (a timeout, say) unwinds through the finally blocks, so the
    # JVM and every other child is still stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        measure(args, load_spec())
    finally:
        harness.stop_children()
    return 0


if __name__ == "__main__":
    sys.exit(main())
