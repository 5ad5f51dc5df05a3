#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. The inputs come from --seed alone. The run
starts Spark on local[nproc], runs the workload, checks every timed
result, stops Spark and waits for its JVM. It prints each metric by name
with its unit, then, as the last line of stdout, one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Results and the traced
spans are written under .perfbench/out/. Exit status is 0 only when every
result was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("ingest", "serve")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and let
    the Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(cpus: int, work: str):
    from text_search_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python worker
    daemon) has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _trace_report(run, metrics, untraced) -> dict:
    import workloads

    tr = run.tracer
    t0 = min((s["start"] for s in tr.spans), default=0.0)
    return {
        "spans": [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in tr.spans
        ],
        "blocking_self_s_by_layer": tr.self_times(workloads.blocking_spans(tr)),
        "measured_s": sum(s["end"] - s["start"] for s in tr.spans if s["layer"] == "bench"),
        "per_layer": metrics,
        "note": "traced dedup passes persist minhash_signatures to time it apart "
        "from lsh_candidate_pairs: a different plan than the untraced pass",
        "end_to_end_traced": run.e2e,
        "tracing_overhead": {
            k: run.e2e[k] - untraced[k] for k in workloads.END_TO_END if k in untraced
        },
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        import text_search_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import inputs
    import workloads
    from tracing import SparkCounter, Tracer

    cpus = len(os.sched_getaffinity(0))
    spark = start_spark(cpus, work)
    t_spark = time.perf_counter()
    tracer = Tracer(bool(args.trace), SparkCounter(spark.sparkContext) if args.trace else None)
    run = workloads.Run(
        spark=spark,
        cpus=cpus,
        seed=args.seed,
        seconds=args.seconds,
        sizes=inputs.load_record()["sizes"]["full"],
        tracer=tracer,
        work_dir=work,
    )
    crashed = False
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        crashed = True
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if crashed:
        return 1

    run.e2e["setup_s"] = run.t_measure - t_start
    run.info["setup_timeline_s"] = [("spark", round(t_spark - t_start, 3))] + [
        (label, round(t - t_start, 3)) for label, t in run.info["setup_timeline_s"]
    ]
    run.printed["error_rate"] = (run.failed / max(1, run.attempted), "ratio")
    run.info.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                    cpus=cpus, client="closed loop, 1 client")
    for k, v in run.info.items():
        print(f"info {k} = {v}")
    for err in run.errors[:20]:
        print(f"mismatch {err}")
    for name, unit in workloads.END_TO_END.items():
        print(f"metric {name} = {run.e2e[name]:.6g} {unit}")
    for name, (value, unit) in run.printed.items():
        print(f"metric {name} = {value:.6g} {unit}")

    metrics = workloads.report(run)
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump({"info": run.info, "end_to_end": run.e2e,
                   "printed": run.printed, "errors": run.errors,
                   "samples": run.samples}, f, indent=1)
    if args.trace:
        untraced = {}
        if os.path.exists(f"{stem}-trace0.json"):
            with open(f"{stem}-trace0.json") as f:
                untraced = json.load(f)["end_to_end"]
        report = _trace_report(run, metrics, untraced)
        with open(f"{stem}-spans.json", "w") as f:
            json.dump(report, f, indent=1)
        print(f"measured_s = {report['measured_s']:.4f} (blocking path; bench = unaccounted)")
        for layer, s in sorted(report["blocking_self_s_by_layer"].items()):
            print(f"self_s {layer} = {s:.4f}")
        for k, v in report["tracing_overhead"].items():
            print(f"tracing_overhead {k} = {v:.6g} {workloads.END_TO_END[k]}")
        for name, m in metrics.items():
            print(f"layer {name} = {m['value']:.6g} {m['unit']}")

    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
