"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_upload --seed 1 --seconds 15 --trace 0

Builds the workload's inputs from the seed, starts a Spark session
fitted to the host (``local[nproc]``), warms up, then runs whole
operations until ``--seconds`` have passed, checking every result.
Peak memory is taken over those operations only.
Everything the run writes stays under ``.perfbench/`` in the checkout;
its work directory is removed at the end and a JSON artifact (setup,
host, samples, problems and, when traced, every span) is kept.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

OUT_DIR = os.path.join(ROOT, ".perfbench")


def parse(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(setup_s: float, samples, peak_rss_mb: float) -> dict[str, float]:
    from perfbench.metrics import median
    from perfbench.workloads import op_sums

    busy = sum(s.latency_s for s in samples)
    return {
        "setup_s": setup_s,
        "op_p50_s": median(op_sums(samples)),
        "op_cpu_s": median(op_sums(samples, "cpu_s")),
        "peak_rss_mb": peak_rss_mb,
        "work_per_s": sum(s.units for s in samples) / busy if busy else 0.0,
    }


def main(argv=None) -> int:
    args = parse(argv)
    try:
        import excel_to_database_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2

    from perfbench import host
    from perfbench.metrics import END_TO_END, PER_LAYER, per_layer
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=OUT_DIR)
    host.confine(work)
    rss = host.TreeRss().start()
    steal = host.Steal()
    workload = WORKLOADS[args.workload](args.seed)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = host.start_session(work)
        t_session = time.perf_counter()
        from excel_to_database_spark.streaming import ingest

        # keep the streaming replay's scratch checkpoints inside the run
        shm = os.path.join(work, "stream-scratch")
        os.makedirs(shm)
        ingest._fast_scratch_root = lambda: shm
        workload.generate(work)
        t_gen = time.perf_counter()
        warm = workload.warmup(spark)
        t_ready = time.perf_counter()
        tracer = Tracer(spark, bool(args.trace))
        tracer.harvest()  # step past the warm-up's jobs
        undo = workload.instrument(tracer) if args.trace else (lambda: None)
        setup = {
            "session.start_s": t_session - t0,
            "generate_s": t_gen - t_session,
            "session.warmup_s": t_ready - t_gen,
        }
        setup_s = t_ready - t0

        heap = host.JavaHeap(spark)
        rss.reset()
        heap.reset()
        samples, op = [], 0
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds:
            samples += workload.run_op(spark, tracer, op)
            tracer.harvest()
            op += 1
        measured_s = time.perf_counter() - t_loop
        rss.sample()
        memory = host.peak_memory(rss, heap)
        workload.finish(spark)
        undo()
        busy = sum(s.latency_s for s in samples)
        diag = {
            "host.steal_pct": steal.pct(),
            "trace.overhead_pct": 100.0 * tracer.self_s / busy if busy else 0.0,
        }
        if args.trace:
            diag["host.cal_s"] = host.calibration_s(spark)
    finally:
        if spark is not None:
            host.stop_session(spark)
        rss.stop()
        rss.sample()
        host.wait_gone(rss.processes())
        shutil.rmtree(work, ignore_errors=True)

    checked = warm + samples
    failed = sum(1 for s in checked if s.problems)
    e2e = end_to_end(setup_s, samples, memory["peak_rss_mb"])
    layers = per_layer(tracer.spans, {**setup, **diag})
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": unit} for k, unit in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": unit} for k, (unit, _) in END_TO_END.items()}
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "measured_s": measured_s,
        "host": {"cpus": host.host_cpus(), "mem_total_bytes": host.mem_total_bytes(),
                 "session_conf": host.session_conf("<work>"),
                 "shuffle_partitions": host.host_cpus(), **diag},
        "setup": {"setup_s": setup_s, **setup},
        "end_to_end": e2e,
        "memory_mb": memory,
        "workload_metrics": {**workload.report(samples),
                             "fail_ratio": failed / len(checked)},
        "samples": [{"kind": s.kind, "op": s.op, "latency_s": s.latency_s, "cpu_s": s.cpu_s,
                     "units": s.units, "problems": s.problems} for s in checked],
        "per_layer": layers if args.trace else None,
        "trace_harvest_s": tracer.harvest_s,
        "trace_missing_jobs": tracer.missing_jobs,
        "trace_outside_jobs": tracer.outside_jobs,
        "spans": [s.to_json() for s in tracer.spans],
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT_DIR, name), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    for s in checked:
        for p in s.problems:
            print(f"perfbench: FAILED {s.kind}: {p}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(checked),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
