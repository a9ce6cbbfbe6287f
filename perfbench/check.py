"""Correctness gates, run after each operation and outside its timed
spans. Each gate returns a list of problems; an operation with any
problem counts as failed.

The comparisons are plain functions over observed values, so the tests
can feed them corrupted results without Spark; ``observe_tables`` is
the only part that talks to the engine.
"""

from __future__ import annotations

import hashlib
import math

from perfbench.gen import SEP, UploadSpec


def observe_tables(spark, fqtns: list[str]) -> dict[str, tuple[list[str], int, int]]:
    """(columns, row count, value checksum) of each synced table, in one
    Spark job; the checksum is computed the way ``gen.checksum`` does."""
    cols = {t: spark.table(t).columns for t in fqtns}
    parts = [
        f"SELECT {i} AS t, count(*) AS n, "
        f"coalesce(sum(crc32(concat_ws('{SEP}', {', '.join(f'`{c}`' for c in cols[t])}))), 0) AS s "
        f"FROM {t}"
        for i, t in enumerate(fqtns)
    ]
    rows = spark.sql(" UNION ALL ".join(parts)).collect()
    return {fqtns[r["t"]]: (cols[fqtns[r["t"]]], int(r["n"]), int(r["s"])) for r in rows}


def check_upload(spec: UploadSpec, result: dict, sums: dict[str, int],
                 observed: dict[str, tuple[list[str], int, int]]) -> list[str]:
    """``/upload`` response and resulting tables against the schedule."""
    if "error" in result:
        return [f"upload {spec.index} failed: {result['error']}"]
    problems = []
    messages = result.get("messages", [])
    if len(messages) != len(spec.sheets):
        problems.append(f"upload {spec.index}: {len(messages)} messages for {len(spec.sheets)} sheets")
    for sheet, msg in zip(spec.sheets, messages):
        want = f"{sheet.action} and loaded into x_excel.{sheet.table}\n{sheet.n_rows} records"
        if msg != want:
            problems.append(f"upload {spec.index}: message {msg!r}, expected {want!r}")
        cols, n, total = observed[f"x_excel.{sheet.table}"]
        if cols != sheet.table_columns:
            problems.append(f"{sheet.table}: columns {cols}, expected {sheet.table_columns}")
        if n != sheet.n_rows or total != sums[sheet.table]:
            problems.append(f"{sheet.table}: {n} rows / checksum {total}, expected "
                            f"{sheet.n_rows} / {sums[sheet.table]}")
    return problems


def check_bulk(label: str, n_records: int, observed: tuple[list[str], int, int],
               columns: list[str], rows: int, total: int) -> list[str]:
    """One bulk sync: reported and stored row counts and the checksum."""
    cols, n, got = observed
    problems = []
    if n_records != rows:
        problems.append(f"{label}: reported {n_records} records, generated {rows}")
    if cols != columns:
        problems.append(f"{label}: columns {cols}, expected {columns}")
    if n != rows or got != total:
        problems.append(f"{label}: stored {n} rows / checksum {got}, expected {rows} / {total}")
    return problems


# ------------------------------------------------------------ query results


def _canon(val) -> str:
    if isinstance(val, float):
        return "nan" if math.isnan(val) else repr(val)
    if hasattr(val, "isoformat"):
        return val.isoformat()
    return repr(val)


def canonical_rows(columns: list[str], rows) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form: columns sorted by name, each
    value rendered exactly, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def digest(columns: list[str], rows) -> tuple[str, int]:
    """(hash of the canonical multiset incl. column names, row count)."""
    canon = canonical_rows(columns, rows)
    h = hashlib.sha256(repr((sorted(columns), canon)).encode("utf-8")).hexdigest()
    return h, len(canon)


def check_query(name: str, got: tuple[str, int], oracle: tuple[str, int]) -> list[str]:
    if got == oracle:
        return []
    return [f"{name}: {got[1]} rows (hash {got[0][:12]}) differ from the DuckDB oracle's "
            f"{oracle[1]} rows (hash {oracle[0][:12]})"]
