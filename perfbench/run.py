"""The repository benchmark: one command, one process, one workload.

    python3 perfbench/run.py --workload bulk_index --seed 1 --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` records spans around every call into the engine's layers
and reports the per-layer metrics instead, plus the tracing overhead
against the last untraced run of the same workload. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. A failed correctness gate prints ``correct: false`` and
exits 1. See perfbench/README.md for the layer -> metric -> workload map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")


def bench_spec() -> dict:
    """BENCHMARK.json: the workloads and the name and unit of every metric."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(res: dict) -> dict[str, float]:
    from tracing import median, percentile

    op_s = res["op_s"]
    return {
        "setup_s": res["setup_s"],
        "op_p50_ms": 1e3 * median(op_s),
        "op_p90_ms": 1e3 * percentile(op_s, 90),
        "throughput_per_s": res["items"] / res["items_s"],
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, REPO]
    try:
        import elastic_freight_spark.indexer  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: engine not importable from {REPO}: {e}", file=sys.stderr)
        return 2

    import importlib

    from common import Ctx, cpu_count, jvm_memory_mb, start_session
    from tracing import JobGroups, Tracer

    spec = bench_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        ap.error(f"unknown workload {args.workload!r}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = cpu_count()
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    spark, session_s = start_session(work, cpus)
    ctx = Ctx(spark=spark, tracer=tracer, groups=JobGroups(spark, tracer.enabled), work=work,
              seed=args.seed, seconds=args.seconds, cpus=cpus)
    try:
        res = importlib.import_module(args.workload).run(ctx)
        mem = jvm_memory_mb(spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    res["setup_s"] += session_s
    e2e = end_to_end(res)

    record = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "trace": args.trace, "wall_s": time.perf_counter() - t0,
              "attempted": res["attempted"], "failed": res["failed"],
              "error_rate": res["failed"] / res["attempted"], "end_to_end": e2e,
              "jvm_memory_mb": mem}
    for line in ctx.notes:
        print(line)
    print("jvm memory (MiB): " + " ".join(f"{k}={v:.1f}" for k, v in mem.items()))
    if args.trace:
        ctx.layers["session.get_spark_s"] = session_s
        ctx.layers["session.load_tables_s"] = tracer.total("session.load_tables")
        ctx.layers["setup.cache_warm_s"] = tracer.total("setup.cache_warm")
        for k, v in mem.items():
            ctx.layers[f"jvm.{k}_mb"] = v
        metrics = {m["name"]: {"value": float(ctx.layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        record["per_layer"] = {k: v["value"] for k, v in metrics.items()}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        report_overhead(e2e, record_path(args.workload, 0), cpus, units)
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    with open(record_path(args.workload, args.trace), "w") as f:
        json.dump(record, f, indent=1)

    print(f"{args.workload}: cpus={cpus} error_rate={record['error_rate']:.4f} "
          f"({res['failed']}/{res['attempted']}) "
          + " ".join(f"{k}={v:.4f}{units[k]}" for k, v in e2e.items()))
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def record_path(workload: str, trace: int) -> str:
    """The record of the last run of ``workload`` with tracing on or off."""
    return os.path.join(WORK, f"record-{workload}-trace{trace}.json")


def report_overhead(traced: dict, last_path: str, cpus: int, units: dict[str, str]) -> None:
    """Print the traced run's end-to-end numbers minus the last untraced
    run's (same workload, same CPU count)."""
    try:
        with open(last_path) as f:
            base = json.load(f)
    except FileNotFoundError:
        print("tracing overhead: no untraced run of this workload to compare with")
        return
    if base["cpus"] != cpus:
        print(f"tracing overhead: last untraced run used {base['cpus']} CPUs, not {cpus}")
        return
    print("tracing overhead (traced - untraced, seed "
          f"{base['seed']}): " + " ".join(
              f"{k}={traced[k] - base['end_to_end'][k]:+.4f}{units[k]}" for k in traced))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
