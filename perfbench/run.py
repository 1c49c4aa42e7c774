"""Benchmark command.

    python3 perfbench/run.py --workload churn_pipeline --seed 1 \\
        --seconds 1 --trace 0

Run from the root of a checkout. Generates the seed's inputs under
``.perfbench/``, starts the engine at ``local[N]`` (N = min(4, cores)) in
this process, runs one cold pass and then steady passes until
``--seconds`` have passed and the workload's minimum pass count is met,
checks every output, and prints as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones (``perfbench/README.md``).
The line before it holds the workload's own figures (sample counts,
``fail_ratio``, and for ``analyst_session`` the per-query latency
percentiles).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, sparkstats, stats, workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
CORES = min(4, os.cpu_count() or 1)

# Steady passes a run makes at least, whatever ``--seconds`` says. Each
# run starts a JVM and pays a cold pass before them, and a full
# measurement makes 22 runs per workload, so a run cannot afford more.
MIN_STEADY = {"churn_pipeline": 1, "analyst_session": 1}
CHECKED = {
    "churn_pipeline": [*workloads.CHURN_QUERIES, *workloads.CHURN_FITS],
    "analyst_session": list(workloads.ANALYST_QUERIES),
}
# Frames the traced run fetches twice to count re-served executions.
REPEATED = {
    "churn_pipeline": list(workloads.CHURN_QUERIES),
    "analyst_session": list(workloads.ANALYST_QUERIES),
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MIN_STEADY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_available() -> bool:
    import importlib.util

    return importlib.util.find_spec("customer_churn_prediction_spark") is not None


def start_engine():
    """Start the session the way a user of the engine does; returns
    (spark, queries, oracles)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    from customer_churn_prediction_spark.plans import get_oracles, get_queries
    from customer_churn_prediction_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={"spark.local.dir": os.path.join(tmp, "spark")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, get_queries(), get_oracles()


def stop_engine(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run_passes(s, workload: str, seconds: float,
               trace: bool) -> list:
    """The cold pass, then steady passes until ``seconds`` have passed
    and the workload's minimum is met. With ``trace`` every pass is
    traced."""
    passes = [workloads.run_pass(s, workload, 0, trace)]
    t0 = time.perf_counter()
    n = 0
    while n < MIN_STEADY[workload] or time.perf_counter() - t0 < seconds:
        n += 1
        passes.append(workloads.run_pass(s, workload, n, trace))
    return passes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_available():
        print("perfbench: the engine package customer_churn_prediction_spark "
              "is not importable from this directory", file=sys.stderr)
        return 2

    data_dir = os.path.join(WORK, "inputs")  # replaced by every run
    rows = inputs.generate(args.seed, data_dir)
    content = inputs.content_digest(data_dir)

    t0 = time.perf_counter()
    spark, queries, oracles = start_engine()
    setup_s = time.perf_counter() - t0

    checked = {n: oracles[n] for n in CHECKED[args.workload]}
    cache = os.path.join(WORK, "oracle")
    oracle = checks.cached_oracle_digests(data_dir, content, checked, cache)
    base = checks.cached_oracle_digests(
        inputs.BASE_DIR, inputs.content_digest(inputs.BASE_DIR), checked, cache)
    problems = [
        f"{n}: {oracle[n]['rows']} oracle rows for seed {args.seed}, "
        f"{base[n]['rows']} on the base tables"
        for n in checked if oracle[n]["rows"] != base[n]["rows"]
    ]

    tally = stats.Tally()
    s = workloads.Session(spark, data_dir, WORK, queries, tally, oracle)
    passes = run_passes(s, args.workload, args.seconds,
                        bool(args.trace))

    steady = passes[1:]
    extra: dict = {"workload": args.workload, "seed": args.seed,
                   "cores": CORES, "input_rows": rows,
                   "pass_s": [p.seconds for p in passes]}
    if args.workload == "analyst_session":
        lat = [1000 * op.wall_s for p in steady for op in p.ops
               if op.name != workloads.STORES_OP]
        summary = stats.latency_summary(lat)
        extra.update({"op_p50_ms": summary["p50"],
                      "op_p90_ms": summary["p90"] if summary["tail_ok"] else None,
                      "op_samples": summary["samples"],
                      "op_beyond_p90": summary["beyond_p90"]})

    if args.trace:
        metrics = workloads.layer_metrics(passes, CORES)
        metrics["session.start_s"] = setup_s
        metrics["plans.served_repeat_ops"] = workloads.served_repeat_ops(
            s, REPEATED[args.workload])
        # traced pass time / the same pass without its counter reads
        metrics["trace.overhead_ratio"] = statistics.median(
            p.wall_s / (p.wall_s - p.trace_s) for p in steady)
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(s.spans, fh)
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": passes[0].seconds,
            "steady_pass_s": statistics.median(p.seconds for p in steady),
            "live_heap_mb": sparkstats.live_heap_mb(spark),
        }
    stop_engine(spark)
    units = metric_units(bool(args.trace))
    missing = sorted(set(units) ^ set(metrics))
    if missing:
        problems.append(f"metrics not matching BENCHMARK.json: {missing}")
        metrics = {k: v for k, v in metrics.items() if k in units}

    extra["fail_ratio"] = tally.fail_ratio
    extra["failures"] = {str(k): v for k, v in tally.failures.items()}
    extra["problems"] = problems
    for msg in problems:
        print(f"perfbench: {msg}", file=sys.stderr)
    print(json.dumps(extra))
    print(json.dumps({
        "correct": tally.failed == 0 and not problems,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def metric_units(trace: bool) -> dict[str, str]:
    """Unit of every metric the run reports, from ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
