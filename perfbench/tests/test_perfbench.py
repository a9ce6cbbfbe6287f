"""The benchmark's own tests: deterministic generators, the metric names
of BENCHMARK.json, and correctness gates that reject corrupted results.
None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from types import SimpleNamespace

import pytest

from perfbench import check, gen
from perfbench.metrics import END_TO_END, PER_LAYER, per_layer, tail
from perfbench.trace import Span, driver_only, self_time
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def tree_digest(root: str) -> tuple[str, int]:
    """(hash of every file's relative path and bytes, total bytes)."""
    h, size = hashlib.sha256(), 0
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                data = fh.read()
            h.update(os.path.relpath(path, root).encode() + b"\0" + data)
            size += len(data)
    return h.hexdigest(), size


def make_all(root: str, seed: int) -> tuple[str, int]:
    gen.make_bulk(os.path.join(root, "bulk"), seed, 3000, 3, 3, 100)
    gen.make_analytics(os.path.join(root, "analytics"), seed, 0.05)
    sched = gen.UploadSchedule(seed)
    payloads = [gen.build_payload(spec) for spec in sched.warmup]
    payloads += [gen.build_payload(sched.next()) for _ in range(6)]
    with open(os.path.join(root, "payloads.json"), "w") as fh:
        json.dump(payloads, fh, sort_keys=True)
    return tree_digest(root)


def test_same_seed_gives_identical_inputs(tmp_path):
    a = make_all(str(tmp_path / "a"), 7)
    b = make_all(str(tmp_path / "b"), 7)
    assert a == b


def test_other_seed_gives_other_inputs_of_similar_size(tmp_path):
    a_hash, a_size = make_all(str(tmp_path / "a"), 7)
    b_hash, b_size = make_all(str(tmp_path / "b"), 8)
    assert a_hash != b_hash
    assert 0.8 < b_size / a_size < 1.25


def test_upload_schedule_balances_actions_and_sheet_counts():
    sched = gen.UploadSchedule(3)
    block = [sched.next() for _ in range(3)]
    assert sorted(len(u.sheets) for u in block) == [1, 2, 3]
    actions = sorted(sh.action for u in block for sh in u.sheets)
    assert actions == sorted([gen.CREATE, gen.TRUNCATE, gen.RECREATE] * 2)
    for u in block:
        # a CSV file is a one-sheet upload of its raw text, named after the file
        payload, _ = gen.build_payload(u)
        assert u.csv == (len(u.sheets) == 1)
        assert payload["type"] == ("csv" if u.csv else "xlsx")
        assert list(payload["data"]) == [sh.sheet for sh in u.sheets]
        assert all(isinstance(v, str) == u.csv for v in payload["data"].values())
        for sh in u.sheets:
            assert 100 <= sh.n_rows <= 2000 and 5 <= len(sh.headers) <= 20
            # the warm-up created every table, so each CREATE follows a reset
            assert (sh.action == gen.CREATE) == (sh.table in u.reset)


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_the_metrics_the_code_emits():
    bench = benchmark_json()
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert max(m["bound"] for m in bench["end_to_end"]) == e2e_bound(bench, "setup_s")


def e2e_bound(bench: dict, name: str) -> float:
    return next(m["bound"] for m in bench["end_to_end"] if m["name"] == name)


def test_every_per_layer_metric_is_emitted_without_spans():
    out = per_layer([], {"session.start_s": 1.0, "host.steal_pct": 0.5})
    assert set(out) == set(PER_LAYER)
    assert out["session.start_s"] == 1.0


def test_run_emits_every_end_to_end_metric():
    from perfbench.run import end_to_end
    from perfbench.workloads import Sample

    samples = [Sample("upload", 1.0, 10, [], 0, 2.0), Sample("upload", 2.0, 20, [], 0, 5.0),
               Sample("upload", 4.0, 30, [], 1, 9.0)]
    out = end_to_end(5.0, samples, 100.0)
    assert set(END_TO_END) <= set(out)
    assert out["op_p50_s"] == 3.5 and out["op_cpu_s"] == 8.0 and out["work_per_s"] == 60 / 7


# ------------------------------------------------------------------ gates


def upload_case():
    sched = gen.UploadSchedule(11)
    spec = sched.warmup[0]
    payload, sums = gen.build_payload(spec)
    result = {"messages": [
        f"{sh.action} and loaded into x_excel.{sh.table}\n{sh.n_rows} records"
        for sh in spec.sheets
    ]}
    observed = {
        f"x_excel.{sh.table}": (list(sh.table_columns), sh.n_rows, sums[sh.table])
        for sh in spec.sheets
    }
    return spec, result, sums, observed


def test_upload_gate_accepts_the_expected_result():
    assert check.check_upload(*upload_case()) == []


@pytest.mark.parametrize("corrupt", ["checksum", "count", "columns", "message", "error"])
def test_upload_gate_rejects_a_corrupted_result(corrupt):
    spec, result, sums, observed = upload_case()
    key = f"x_excel.{spec.sheets[0].table}"
    cols, n, total = observed[key]
    if corrupt == "checksum":
        observed[key] = (cols, n, total + 1)
    elif corrupt == "count":
        observed[key] = (cols, n - 1, total)
    elif corrupt == "columns":
        observed[key] = (cols[::-1], n, total)
    elif corrupt == "message":
        result["messages"][0] = result["messages"][0].replace("Created", "Truncated")
    else:
        result = {"error": "boom"}
    assert check.check_upload(spec, result, sums, observed)


def test_payload_checksum_follows_a_reordered_truncate():
    """A TRUNCATE that sends the columns in a new order is checked in
    the table's column order."""
    pool_index = {clean: i for i, (_, clean) in enumerate(gen.HEADER_POOL)}
    sched = gen.UploadSchedule(5)
    for _ in range(30):
        spec = sched.next()
        for sh in spec.sheets:
            table_order = [pool_index[c] for c in sh.table_columns]
            if sh.action == gen.TRUNCATE and sh.headers != table_order:
                _, sums = gen.build_payload(spec)
                order = [sh.headers.index(h) for h in table_order]
                rows = gen.sheet_rows(sh)
                assert sums[sh.table] == gen.checksum([r[i] for i in order] for r in rows)
                return
    pytest.fail("no reordered TRUNCATE in 30 uploads")


def test_bulk_gate_rejects_corruption():
    cols = list(gen.LINEITEM_COLUMNS)
    good = (cols, 100, 12345)
    assert check.check_bulk("t", 100, good, cols, 100, 12345) == []
    assert check.check_bulk("t", 99, good, cols, 100, 12345)
    assert check.check_bulk("t", 100, (cols, 100, 12346), cols, 100, 12345)
    assert check.check_bulk("t", 100, (cols[1:], 100, 12345), cols, 100, 12345)


def test_bulk_checksum_matches_the_written_files(tmp_path):
    """The generator's checksum is the one of the rows in its files."""
    inputs = gen.make_bulk(str(tmp_path), 4, 500, 2, 2, 50)
    rows = []
    for name in sorted(os.listdir(inputs.csv_dir)):
        with open(os.path.join(inputs.csv_dir, name)) as fh:
            lines = fh.read().splitlines()[1:]
        rows += [ln.split(inputs.delimiter) for ln in lines]
    assert len(rows) == inputs.csv_rows
    assert gen.checksum(rows) == inputs.csv_checksum


def test_query_gate_rejects_a_changed_value():
    cols = ["b", "a"]
    rows = [(1, "x"), (2.5, "y")]
    oracle = check.digest(["a", "b"], [("y", 2.5), ("x", 1)])  # other order, same multiset
    assert check.check_query("q", check.digest(cols, rows), oracle) == []
    bad = check.digest(cols, [(1, "x"), (2.5000001, "y")])
    assert check.check_query("q", bad, oracle)
    assert check.check_query("q", check.digest(cols, rows[:1]), oracle)


# ------------------------------------------------------------ aggregation


def test_a_failed_call_is_timed_up_to_the_exception():
    from perfbench.workloads import Clock

    clock = Clock()
    with pytest.raises(RuntimeError), clock:
        time.sleep(0.02)
        raise RuntimeError("boom")
    assert clock.wall >= 0.02


def _iterator(items):
    items = list(items)
    return SimpleNamespace(hasNext=lambda: bool(items), next=lambda: items.pop(0))


def _opt(value=None):
    return SimpleNamespace(isDefined=lambda: value is not None, get=lambda: value)


def _job(job_id: int, group: str | None):
    """A job as the status store returns it, with no stages."""
    return SimpleNamespace(
        jobId=lambda: job_id, submissionTime=_opt, completionTime=_opt,
        jobGroup=lambda: _opt(group), stageIds=lambda: SimpleNamespace(iterator=lambda: _iterator([])),
    )


def test_harvest_reads_past_a_missing_job_id():
    from perfbench.trace import Tracer

    jobs = []
    tracer = Tracer()
    tracer.enabled = True
    tracer._store = SimpleNamespace(  # newest first, as the status store lists them
        jobsList=lambda statuses: SimpleNamespace(iterator=lambda: _iterator(reversed(jobs))))
    tracer._ctx = SimpleNamespace(listenerBus=lambda: SimpleNamespace(waitUntilEmpty=lambda: None))
    tracer._sc = SimpleNamespace(setLocalProperty=lambda key, value: None)
    with tracer.span("a") as a:
        jobs.extend([_job(0, a.id), _job(1, a.id)])
    tracer.harvest()
    with tracer.span("b") as b:
        jobs.extend([_job(3, b.id), _job(4, None)])  # job 2 never reached the store
    tracer.harvest()
    assert (len(a.jobs), len(b.jobs)) == (2, 1)
    assert (tracer.missing_jobs, tracer.outside_jobs) == (1, 1)


def test_peak_memory_counts_the_heap_at_its_peak_use():
    from perfbench.host import TreeRss, peak_memory

    rss = TreeRss()
    rss._hwm = {1: 1000 * 1024, 2: 2500 * 1024}  # KiB, the JVM's includes its whole heap
    heap = SimpleNamespace(pool_peaks_mb=lambda: {"eden": 512.0, "old": 300.0},
                           committed_mb=lambda: 2048.0)
    assert peak_memory(rss, heap)["peak_rss_mb"] == 3500 - 2048 + 812


def test_tree_rss_skips_a_process_seen_once(monkeypatch):
    from perfbench import host

    tree = [[1, 2], [1, 2, 3], [1, 2]]  # 3 is a child caught between fork and exec
    hwm = {1: 100, 2: 3000, 3: 3000}
    monkeypatch.setattr(host, "_tree", lambda: tree.pop(0))
    monkeypatch.setattr(host, "_hwm_kib", hwm.get)
    monkeypatch.setattr(host, "_start_ticks", lambda pid: 7)
    rss = host.TreeRss()
    for _ in range(3):
        rss.sample()
    assert rss.peak_mb == 3100 / 1024


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) == (None, None)
    assert tail([float(i) for i in range(1, 21)]) == (50.0, 10.0)


def test_self_and_driver_time():
    parent = Span("p", "api.upload", None, 0, start=0.0, end=10.0)
    child = Span("c", "sync.sheet", "p", 0, start=2.0, end=6.0,
                 jobs=[(2.5, 3.5), (3.0, 4.0), (5.0, 5.5)])
    spans = [parent, child]
    assert self_time(spans, parent) == pytest.approx(6.0)
    assert driver_only(spans, child) == pytest.approx(4.0 - 2.0)
    assert driver_only(spans, parent) == pytest.approx(10.0 - 2.0)


def test_per_layer_reads_sync_spans_by_action():
    spans = [
        Span("u", "api.upload", None, 0, start=0.0, end=3.0),
        Span("l", "sources.payload.load", "u", 0, start=0.0, end=0.5),
        Span("s", "sync.sheet", "u", 0, start=0.5, end=2.5, attrs={"action": "Recreated"},
             jobs=[(1.0, 2.0)] * 7),
    ]
    out = per_layer(spans, {})
    assert out["sync.recreate_s"] == pytest.approx(2.0)
    assert out["sync.recreate_jobs"] == 7
    assert out["api.self_s"] == pytest.approx(0.5)
    assert out["sync.create_s"] == 0.0


def test_unknown_workload_is_refused():
    from perfbench.run import parse

    with pytest.raises(SystemExit):
        parse(["--workload", "nope", "--seed", "1", "--seconds", "1"])
    assert parse(["--workload", "etl_bulk", "--seed", "1", "--seconds", "1"]).trace == 0
