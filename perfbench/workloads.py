"""The three workloads. Each is a closed loop with one client: the next
operation starts when the previous one (and its correctness check) has
finished.

A workload generates its inputs, warms up, then runs whole operations
(``run_op``) until the run's time is used. ``run_op`` returns one
``Sample`` per user-visible call; only the calls themselves are timed,
never input generation, table resets, checks or trace harvesting.
"""

from __future__ import annotations

import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench import check, gen
from perfbench.host import tree_cpu_s
from perfbench.metrics import QUERY_MIX, median, short, tail
from perfbench.trace import Tracer


@dataclass
class Sample:
    kind: str
    latency_s: float
    units: float  # work done: rows uploaded or synced, or queries answered
    problems: list[str] = field(default_factory=list)
    op: int = 0
    cpu_s: float = 0.0  # CPU time of the process tree during the call


class Clock:
    """Wall time and process-tree CPU time of one timed call; the CPU
    reading (a walk of /proc) stays outside the wall interval. A call
    that raises is timed up to the exception."""

    def __enter__(self):
        self._cpu = tree_cpu_s()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        self.cpu = tree_cpu_s() - self._cpu


def op_sums(samples: list[Sample], key: str = "latency_s") -> list[float]:
    """Latency (or CPU time) of each operation: the sum over its calls."""
    ops: dict[int, float] = {}
    for s in samples:
        ops[s.op] = ops.get(s.op, 0.0) + getattr(s, key)
    return list(ops.values())


def _failure(label: str) -> list[str]:
    return [f"{label} raised:\n{traceback.format_exc(limit=8)}"]


class EtlUpload:
    """Sequential ``api.upload`` calls with seeded payloads (see
    ``gen.UploadSchedule``). One operation is a block of three uploads
    of 1, 2 and 3 sheets; its work is the sheet rows uploaded."""

    name = "etl_upload"

    def __init__(self, seed: int):
        self.schedule = gen.UploadSchedule(seed)
        self.cells: list[int] = []  # per upload, warm-up included

    def generate(self, work: str) -> None:
        pass  # payloads are built per upload, outside the timed call

    def instrument(self, tracer):
        """Open spans around the two calls ``api.upload`` makes into the
        layers below it; returns the undo."""
        from excel_to_database_spark import api

        load, sync = api.load_workbook_payload, api.sync_table

        def traced_load(*a, **kw):
            with tracer.span("sources.payload.load"):
                return load(*a, **kw)

        def traced_sync(*a, **kw):
            with tracer.span("sync.sheet") as sp:
                report = sync(*a, **kw)
                sp.attrs["action"] = report.action
                return report

        api.load_workbook_payload, api.sync_table = traced_load, traced_sync

        def undo():
            api.load_workbook_payload, api.sync_table = load, sync

        return undo

    def _upload(self, spark, tracer, spec: gen.UploadSpec, op: int) -> Sample:
        from excel_to_database_spark import api

        payload, sums = gen.build_payload(spec)
        for table in spec.reset:
            spark.sql(f"DROP TABLE IF EXISTS x_excel.{table}")
        rows = sum(sh.n_rows for sh in spec.sheets)
        self.cells.append(sum(sh.n_rows * len(sh.headers) for sh in spec.sheets))
        with tracer.span("api.upload", op=op, upload=spec.index), Clock() as clock:
            result = api.upload(spark, payload)
        try:
            observed = {} if "error" in result else check.observe_tables(
                spark, [f"x_excel.{sh.table}" for sh in spec.sheets])
            problems = check.check_upload(spec, result, sums, observed)
        except Exception:
            problems = _failure(f"checking upload {spec.index}")
        return Sample("upload", clock.wall, rows, problems, op, clock.cpu)

    def warmup(self, spark) -> list[Sample]:
        return [self._upload(spark, Tracer(), spec, -1) for spec in self.schedule.warmup]

    def run_op(self, spark, tracer, op: int) -> list[Sample]:
        return [self._upload(spark, tracer, self.schedule.next(), op) for _ in range(3)]

    def finish(self, spark) -> None:
        pass

    def report(self, samples: list[Sample]) -> dict:
        lat = [s.latency_s for s in samples]
        pct, value = tail(lat)
        cells = self.cells[len(self.schedule.warmup):]
        return {
            "upload_p50_s": median(lat),
            "upload_tail_s": value,
            "upload_tail_percentile": pct,
            "upload_samples": len(lat),
            "upload_cells_per_s": sum(cells) / sum(lat),
        }


class EtlBulk:
    """Alternating syncs of a CSV directory (``read_csv_path``) and a
    directory of xlsx workbooks (``read_excel``) into the same two
    tables. One operation is a round: one CSV sync, one xlsx sync."""

    name = "etl_bulk"
    CSV_ROWS, CSV_FILES = 200_000, 8
    WORKBOOKS, WORKBOOK_ROWS = 40, 1000

    def __init__(self, seed: int):
        self.seed = seed
        self.created: set[str] = set()

    def generate(self, work: str) -> None:
        self.inputs = gen.make_bulk(os.path.join(work, "bulk"), self.seed, self.CSV_ROWS,
                                    self.CSV_FILES, self.WORKBOOKS, self.WORKBOOK_ROWS)
        # a quarter-size input of the same shape for the warm-up
        self.warm = gen.make_bulk(os.path.join(work, "bulk_warm"), self.seed,
                                  self.CSV_ROWS // 4, self.CSV_FILES // 4,
                                  self.WORKBOOKS // 4, self.WORKBOOK_ROWS, stream=4)

    def instrument(self, tracer):
        return lambda: None  # the benchmark makes these calls itself

    def _sync(self, spark, tracer, kind: str, inputs: gen.BulkInputs, op: int) -> Sample:
        from excel_to_database_spark.sources.csv_source import read_csv_path
        from excel_to_database_spark.sources.excel_source import read_excel
        from excel_to_database_spark.sync.sinks import sync_table

        table = f"bulk_{kind}"
        if kind == "csv":
            path, rows, total = inputs.csv_dir, inputs.csv_rows, inputs.csv_checksum
            reader, source = read_csv_path, "sources.csv.read"
        else:
            path, rows, total = inputs.xlsx_dir, inputs.xlsx_rows, inputs.xlsx_checksum
            reader, source = read_excel, "sources.excel.read"
        expected = "Truncated" if table in self.created else "Created"
        clock = Clock()
        try:
            with clock, tracer.span(f"bulk.{kind}", op=op):
                with tracer.span(source):
                    df = reader(spark, path)
                with tracer.span("sync.sheet") as sp:
                    report = sync_table(df, table)
                    if sp is not None:
                        sp.attrs["action"] = report.action
        except Exception:
            return Sample(kind, clock.wall, 0, _failure(f"{kind} sync"), op, clock.cpu)
        self.created.add(table)
        problems = [] if report.action == expected else [
            f"{table}: action {report.action}, expected {expected}"]
        try:
            observed = check.observe_tables(spark, [f"x_excel.{table}"])[f"x_excel.{table}"]
            problems += check.check_bulk(table, report.n_records, observed,
                                         gen.LINEITEM_COLUMNS, rows, total)
        except Exception:
            problems += _failure(f"checking {table}")
        return Sample(kind, clock.wall, rows, problems, op, clock.cpu)

    def warmup(self, spark) -> list[Sample]:
        """CREATE, then TRUNCATE twice, each table from the warm-up input,
        the two tables on two threads. With one TRUNCATE only, that sync
        of the quarter-size input still took longer than a measured sync
        of the full input, and measured rounds spread by 20%."""

        def both(kind):
            return [self._sync(spark, Tracer(), kind, self.warm, -1) for _ in range(3)]

        with ThreadPoolExecutor(2) as pool:
            return [s for ss in pool.map(both, ("csv", "xlsx")) for s in ss]

    def run_op(self, spark, tracer, op: int) -> list[Sample]:
        return [self._sync(spark, tracer, kind, self.inputs, op) for kind in ("csv", "xlsx")]

    def finish(self, spark) -> None:
        pass

    def report(self, samples: list[Sample]) -> dict:
        out = {}
        for kind in ("csv", "xlsx"):
            ss = [s for s in samples if s.kind == kind]
            lat = [s.latency_s for s in ss]
            out[f"bulk_{kind}_rows_per_s"] = sum(s.units for s in ss) / sum(lat) if lat else None
            out[f"bulk_{kind}_p50_s"] = median(lat)
        return out


class AnalyticsMix:
    """Repeated passes over five registered queries, one per operator
    family, on seeded tables; one operation is a pass, in a fixed
    order. Each query is built (eager construction jobs) and collected;
    pins and the SQL cache are evicted after each pass, untimed. Results are
    checked against each query's DuckDB oracle when the run ends."""

    name = "analytics_mix"
    SCALE, WARM_SCALE = 0.6, 0.05

    def __init__(self, seed: int):
        self.seed = seed
        self.digests: list[tuple[Sample, str, tuple[str, int]]] = []

    def generate(self, work: str) -> None:
        self.data = os.path.join(work, "analytics")
        gen.make_analytics(self.data, self.seed, self.SCALE)
        self.warm_data = os.path.join(work, "analytics_warm")
        gen.make_analytics(self.warm_data, self.seed + 1, self.WARM_SCALE)

    def instrument(self, tracer):
        return lambda: None  # the benchmark makes these calls itself

    def _query(self, spark, tracer, q: str, data: str, op: int) -> tuple[Sample, tuple]:
        from excel_to_database_spark.queries import QUERIES

        got, clock = None, Clock()
        try:
            with clock, tracer.span("queries.run", op=op, q=short(q)):
                with tracer.span("queries.construct", q=short(q)):
                    df = QUERIES[q](spark, data)
                with tracer.span("queries.execute", q=short(q)):
                    rows = df.collect()
            got = check.digest(df.columns, rows)
            sample = Sample(q, clock.wall, 1, [], op, clock.cpu)
        except Exception:
            sample = Sample(q, clock.wall, 0, _failure(q), op, clock.cpu)
        return sample, got

    def warmup(self, spark) -> list[Sample]:
        """Every query once on the small tables, three at a time (the
        JVM's cold compile work overlaps), then one eviction."""
        from excel_to_database_spark.operators.caching import deep_evict

        def one(q):
            return self._query(spark, Tracer(), q, self.warm_data, -1)[0]

        with ThreadPoolExecutor(3) as pool:
            out = list(pool.map(one, QUERY_MIX))
        deep_evict(spark)
        return out

    def run_op(self, spark, tracer, op: int) -> list[Sample]:
        from excel_to_database_spark.operators.caching import deep_evict

        out = []
        for q in QUERY_MIX:
            sample, got = self._query(spark, tracer, q, self.data, op)
            if got is not None:
                self.digests.append((sample, q, got))
            out.append(sample)
        with tracer.span("operators.caching.evict", op=op):
            deep_evict(spark)
        return out

    def finish(self, spark) -> None:
        """Exact multiset check of every execution against DuckDB."""
        import duckdb

        from excel_to_database_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            for table in gen.ANALYTICS_TABLES:
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            oracle = {}
            for q in QUERY_MIX:
                cur = con.execute(ORACLES[q])
                oracle[q] = check.digest([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
        for sample, q, got in self.digests:
            sample.problems += check.check_query(q, got, oracle[q])

    def report(self, samples: list[Sample]) -> dict:
        passes = op_sums(samples)
        return {"query_pass_s": median(passes), "passes": len(passes)}


WORKLOADS = {w.name: w for w in (EtlUpload, EtlBulk, AnalyticsMix)}
