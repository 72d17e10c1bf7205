"""Benchmark for the MitoScape pipeline and the Q01–Q15 query set.

Run from the repository root:

    python3 perfbench/run.py --workload classify_bam --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer ones. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. A traced run
prints every per-layer metric; those outside the workload's layer
families (``workloads.LAYER_FAMILIES``) are not measured, print as 0 and
are listed under ``not_measured`` in the record, while a missing one
inside them is a failure. A full record of the run (box stamps,
operation and control times, failure records, spans) is written under
``.perfbench_work/records/``; failure records also go to standard
error. Everything the run writes stays under ``.perfbench_work/`` in
the checkout.

The session is sized to the box through the engine's environment
overrides: all cores, a driver heap of half the physical memory, and a
shuffle-partition count per workload.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# shuffle partitions per core, sized to each workload's few-MB inputs
PARTITIONS_PER_CORE = {"classify_bam": 1, "queries": 2}


def box() -> dict:
    nproc = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "nproc": nproc,
        "heap": f"{max(1, phys // 2 // 2**30)}g",
        "loadavg": os.getloadavg(),
    }


def configure(workload: str, stamp: dict) -> int:
    """Environment for the engine's session factory and the JVM it
    launches; returns the shuffle-partition count."""
    partitions = PARTITIONS_PER_CORE[workload] * stamp["nproc"]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(stamp["nproc"]),
        SPARK_GRAFT_DRIVER_MEM=stamp["heap"],
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(partitions),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    sys.path.insert(0, ROOT)
    return partitions


def stop_jvm() -> None:
    """Stop the session and the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    start = box()
    partitions = configure(args.workload, start)
    import mitoscape_spark  # noqa: F401 — fail here, before any output
    import workloads
    from spans import Tracer

    run = workloads.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work=WORK,
        nproc=start["nproc"],
        shuffle_partitions=partitions,
    )
    if run.trace:
        run.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        stop_jvm()

    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    produced = run.layers if run.trace else run.metrics
    families = workloads.LAYER_FAMILIES[args.workload] if run.trace else ("",)
    not_measured = [m["name"] for m in wanted if not m["name"].startswith(families)]
    for m in wanted:
        if m["name"] not in produced and m["name"] not in not_measured:
            run.check("report", False, f"metric {m['name']} was not measured")
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {
            m["name"]: {"value": float(produced.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box_start": start,
        "box_end": box(),
        "shuffle_partitions": partitions,
        "op_times": run.op_times,
        "control_times": run.control_times,
        "metrics": run.metrics,
        "layers": run.layers,
        "not_measured": not_measured,
        "failures": [dataclasses.asdict(f) for f in run.failures],
        "spans": run.tracer.records() if run.tracer else [],
        "result": result,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    for failure in record["failures"]:
        print(json.dumps(failure), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
