"""Metric names, units and how each is computed.

``END_TO_END`` and ``PER_LAYER`` mirror ``BENCHMARK.json`` (a test keeps
them equal). Every workload emits every metric: a layer the workload
does not reach reads 0.

Span times (``*_s`` of a span) are medians over span instances, or over
passes where the name says per pass; Spark counters are means per span
instance (per pass for ``queries.*``).
"""

from __future__ import annotations

import statistics

from perfbench.trace import Span, counter, driver_only, job_count, self_time

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_cpu_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

QUERY_MIX = (
    "q01_pricing_summary",
    "q09_product_profit",
    "q208_embedding_robust_stats",
    "q112_recursive_closure",
    "q65_stream_tumbling_window",
)


def short(query: str) -> str:
    return query.split("_", 1)[0]


ACTIONS = {"Created": "create", "Truncated": "truncate", "Recreated": "recreate"}

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "api.self_s": "s",
    "sources.payload.load_s": "s",
    "sources.payload.jobs": "count",
    "sources.csv.read_s": "s",
    "sources.csv.jobs": "count",
    "sources.excel.read_s": "s",
    "sources.excel.jobs": "count",
    **{f"sync.{a}_s": "s" for a in ACTIONS.values()},
    **{f"sync.{a}_jobs": "count" for a in ACTIONS.values()},
    "sync.driver_s": "s",
    "sync.exec_cpu_s": "s",
    "sync.gc_s": "s",
    "sync.tasks": "count",
    "sync.failed_tasks": "count",
    "sync.input_bytes": "bytes",
    "sync.output_bytes": "bytes",
    "sync.bytes_written_per_input_byte": "ratio",
    "sync.rows_read_per_row_written": "ratio",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_driver_s": "s",
    "queries.execute_s": "s",
    "queries.execute_jobs": "count",
    "queries.exec_cpu_s": "s",
    "queries.shuffle_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "queries.gc_s": "s",
    "queries.tasks": "count",
    "queries.failed_tasks": "count",
    **{
        f"queries.{short(q)}.{m}": ("s" if m.endswith("_s") else "count")
        for q in QUERY_MIX
        for m in ("construct_s", "execute_s", "construct_jobs", "execute_jobs")
    },
    "operators.caching.evict_s": "s",
    "host.cal_s": "s",
    "host.steal_pct": "%",
    "trace.overhead_pct": "%",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def tail(xs: list[float], beyond: int = 10) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least
    ``beyond`` samples above it; (None, None) with too few samples."""
    xs = sorted(xs)
    k = len(xs) - beyond  # 1-based rank of the value reported
    if k < 1:
        return None, None
    return round(100.0 * k / len(xs), 2), xs[k - 1]


def per_layer(spans: list[Span], diag: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric from the spans of a traced run plus the
    run's diagnostics (session times, calibration, steal, overhead)."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({k: float(v) for k, v in diag.items() if k in out})

    def named(name, **attrs):
        return [s for s in spans
                if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())]

    uploads = named("api.upload")
    out["api.self_s"] = median(self_time(spans, s) for s in uploads)
    for layer, name in (("sources.payload", "sources.payload.load"),
                        ("sources.csv", "sources.csv.read"),
                        ("sources.excel", "sources.excel.read")):
        ss = named(name)
        key = "load_s" if layer == "sources.payload" else "read_s"
        out[f"{layer}.{key}"] = median(s.dur for s in ss)
        out[f"{layer}.jobs"] = mean(job_count(spans, s) for s in ss)

    syncs = named("sync.sheet")
    for action, tag in ACTIONS.items():
        ss = named("sync.sheet", action=action)
        out[f"sync.{tag}_s"] = median(s.dur for s in ss)
        out[f"sync.{tag}_jobs"] = mean(job_count(spans, s) for s in ss)
    out["sync.driver_s"] = median(driver_only(spans, s) for s in syncs)
    for key, src in (("exec_cpu_s", "exec_cpu_s"), ("gc_s", "gc_s"), ("tasks", "tasks"),
                     ("failed_tasks", "failed_tasks"), ("input_bytes", "input_bytes"),
                     ("output_bytes", "output_bytes")):
        out[f"sync.{key}"] = mean(counter(spans, s, src) for s in syncs)
    tot = {k: sum(counter(spans, s, k) for s in syncs)
           for k in ("input_bytes", "output_bytes", "input_records", "output_records")}
    if tot["input_bytes"]:
        out["sync.bytes_written_per_input_byte"] = tot["output_bytes"] / tot["input_bytes"]
    if tot["output_records"]:
        out["sync.rows_read_per_row_written"] = tot["input_records"] / tot["output_records"]

    passes = sorted({s.op for s in named("queries.run")})

    def per_pass(name, fn):
        return [sum(fn(s) for s in named(name) if s.op == p) for p in passes]

    out["queries.construct_s"] = median(per_pass("queries.construct", lambda s: s.dur))
    out["queries.construct_jobs"] = mean(per_pass("queries.construct", lambda s: len(s.jobs)))
    out["queries.construct_driver_s"] = median(
        per_pass("queries.construct", lambda s: driver_only(spans, s)))
    out["queries.execute_s"] = median(per_pass("queries.execute", lambda s: s.dur))
    out["queries.execute_jobs"] = mean(per_pass("queries.execute", lambda s: len(s.jobs)))
    for key, src in (("exec_cpu_s", "exec_cpu_s"), ("shuffle_bytes", "shuffle_write_bytes"),
                     ("spill_bytes", "spill_bytes"), ("gc_s", "gc_s"), ("tasks", "tasks"),
                     ("failed_tasks", "failed_tasks")):
        out[f"queries.{key}"] = mean(per_pass("queries.run", lambda s: counter(spans, s, src)))
    for q in QUERY_MIX:
        tag = short(q)
        for phase in ("construct", "execute"):
            ss = named(f"queries.{phase}", q=tag)
            out[f"queries.{tag}.{phase}_s"] = median(s.dur for s in ss)
            out[f"queries.{tag}.{phase}_jobs"] = mean(len(s.jobs) for s in ss)
    out["operators.caching.evict_s"] = median(s.dur for s in named("operators.caching.evict"))
    return out
