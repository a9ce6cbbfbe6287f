"""Seeded input generators for the three workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files and payloads. Each generator also returns what the
correctness gate needs to know about its output (expected actions,
record counts, sanitized headers and value checksums), computed here
from the generated values, independently of the engine.

The value checksum is order-insensitive: the sum over rows of
``crc32(utf8(cells joined by SEP))``, taken in the destination table's
column order. ``check.py`` computes the same sum inside Spark with
``crc32(concat_ws(SEP, ...))``.
"""

from __future__ import annotations

import datetime as _dt
import os
import random
import zipfile
import zlib
from dataclasses import dataclass
from xml.sax.saxutils import escape

import numpy as np

SEP = "\x1f"

# sheet name as typed by a user -> table name the engine derives
# (lower-cased, non-alphanumeric runs collapsed to "_")
TABLE_POOL = (
    ("Sales Q1", "sales_q1"),
    ("Inventory", "inventory"),
    ("Customers-EU", "customers_eu"),
    ("Returns 2024", "returns_2024"),
    ("Lead List", "lead_list"),
)

# header as typed -> column name after sanitizing (alphanumerics and "_")
HEADER_POOL = (
    ("Order ID", "OrderID"),
    ("Customer Name", "CustomerName"),
    ("Region", "Region"),
    ("Order Date", "OrderDate"),
    ("Ship Mode", "ShipMode"),
    ("Unit Price (EUR)", "UnitPriceEUR"),
    ("Quantity", "Quantity"),
    ("Discount %", "Discount"),
    ("Product-Category", "ProductCategory"),
    ("Sub Category", "SubCategory"),
    ("Sales Rep", "SalesRep"),
    ("Status", "Status"),
    ("Country", "Country"),
    ("City", "City"),
    ("Postal Code", "PostalCode"),
    ("Segment", "Segment"),
    ("Priority", "Priority"),
    ("Channel", "Channel"),
    ("Currency", "Currency"),
    ("Notes", "Notes"),
    ("SKU", "SKU"),
    ("Warehouse", "Warehouse"),
    ("Batch #", "Batch"),
    ("Margin", "Margin"),
    ("Returned?", "Returned"),
)

# the CSV sniffer's candidate delimiters
DELIMITERS = ",;|\t"

_WORDS = (
    "alpha bravo delta echo golf hotel india kilo lima mike oscar papa "
    "quebec romeo sierra tango victor whiskey xray yankee zulu north south"
).split()

CREATE, TRUNCATE, RECREATE = "Created", "Truncated", "Recreated"


def checksum(rows) -> int:
    return sum(zlib.crc32(SEP.join(r).encode("utf-8")) for r in rows)


# ---------------------------------------------------------------- etl_upload


@dataclass
class SheetSpec:
    sheet: str  # sheet name as sent
    table: str  # table name the engine should derive
    headers: list[int]  # HEADER_POOL indices, in payload order
    n_rows: int
    delimiter: str  # used when the sheet is sent as a CSV file
    action: str  # expected action
    table_columns: list[str]  # expected table columns, in table order
    data_seed: int


@dataclass
class UploadSpec:
    index: int
    sheets: list[SheetSpec]
    reset: list[str]  # live tables to drop before the upload (their sheet is a CREATE)
    csv: bool  # a one-sheet CSV file upload rather than an xlsx workbook


class UploadSchedule:
    """Endless seeded schedule of uploads over a small pool of tables.

    ``warmup`` holds three small uploads: the first creates every table
    of the pool, the second truncates one and recreates another, the
    third is a CSV file that truncates a third table. After that uploads
    come in blocks of three that send 1, 2 and 3 sheets (seeded order).
    The one-sheet upload is a CSV file, the others are xlsx workbooks,
    as the reference client sends them: a CSV file is always a single
    sheet. That one upload in three is a CSV file is an assumption;
    nothing in the repository says how often users send each type. The
    six sheets of a block carry two of each action, one row count from
    each sixth of ``[min_rows, max_rows]``, and the four new column sets
    one width from each quarter of 5..20 (wider sets on shorter sheets),
    so every block does about the same work.
    A CREATE of a table that exists is preceded by a reset that drops
    it outside the timed span; a TRUNCATE re-sends the table's column
    set, half of the time reordered; a RECREATE sends a different set.
    """

    def __init__(self, seed: int, min_rows: int = 100, max_rows: int = 2000):
        self._rng = random.Random(f"upload:{seed}")
        self._min_rows, self._max_rows = min_rows, max_rows
        self._live: dict[str, list[int]] = {}  # table -> header ids in table order
        self._index = 0
        pool = list(TABLE_POOL)
        self._rng.shuffle(pool)
        self.warmup = [
            self._upload([(p, a, self._rng.randint(100, 300), None) for p, a in slots], csv)
            for slots, csv in (([(p, CREATE) for p in pool], False),
                               ([(pool[0], TRUNCATE), (pool[1], RECREATE)], False),
                               ([(pool[2], TRUNCATE)], True))
        ]
        self._queue: list[UploadSpec] = []

    def next(self) -> UploadSpec:
        if not self._queue:
            self._queue = self._block()
        return self._queue.pop(0)

    def _block(self) -> list[UploadSpec]:
        rng = self._rng
        counts = [1, 2, 3]
        rng.shuffle(counts)
        actions = [CREATE, TRUNCATE, RECREATE] * 2
        rng.shuffle(actions)
        width = (self._max_rows - self._min_rows + 1) // 6
        rows = [self._min_rows + i * width + rng.randrange(width) for i in range(6)]
        rng.shuffle(rows)
        # the four new column sets take one width from each quarter of
        # 5..20, the widest going to the sheet with the fewest rows
        fresh = sorted((r for a, r in zip(actions, rows) if a != TRUNCATE), reverse=True)
        widths = dict(zip(fresh, (5 + 4 * i + rng.randrange(4) for i in range(4))))
        slots = iter(
            (a, r, widths[r] if a != TRUNCATE else None) for a, r in zip(actions, rows)
        )
        return [
            self._upload([(p, *next(slots)) for p in rng.sample(TABLE_POOL, k)], csv=k == 1)
            for k in counts
        ]

    def _new_headers(self, width: int | None, avoid: list[int] | None) -> list[int]:
        while True:
            hdr = self._rng.sample(range(len(HEADER_POOL)), width or self._rng.randint(5, 20))
            if avoid is None or sorted(hdr) != sorted(avoid):
                return hdr

    def _upload(self, slots, csv: bool) -> UploadSpec:
        rng = self._rng
        sheets, reset = [], []
        for (sheet, table), action, n_rows, width in slots:
            live = self._live.get(table)
            if action == CREATE:
                if live is not None:
                    reset.append(table)
                headers = table_cols = self._new_headers(width, None)
            elif action == TRUNCATE:
                table_cols = live
                headers = list(live)
                if rng.random() < 0.5:
                    rng.shuffle(headers)  # same set, new order
            else:
                headers = table_cols = self._new_headers(width, live)
            self._live[table] = table_cols
            sheets.append(
                SheetSpec(
                    sheet=sheet,
                    table=table,
                    headers=headers,
                    n_rows=n_rows,
                    delimiter=rng.choice(DELIMITERS),
                    action=action,
                    table_columns=[HEADER_POOL[h][1] for h in table_cols],
                    data_seed=rng.getrandbits(48),
                )
            )
        spec = UploadSpec(self._index, sheets, reset, csv)
        self._index += 1
        return spec


def _cell(rng: random.Random, header: int, row: int) -> str:
    kind = header % 5
    if kind == 0:
        return f"{rng.choice(_WORDS)}-{rng.randint(0, 99999)}"
    if kind == 1:
        return f"{rng.randint(0, 99999)}.{rng.randint(0, 99):02d}"
    if kind == 2:
        return f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    if kind == 3:
        return "" if rng.random() < 0.05 else f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}"
    return str(row)


def sheet_rows(spec: SheetSpec) -> list[list[str]]:
    """Body rows of one sheet, in payload column order."""
    rng = random.Random(spec.data_seed)
    return [[_cell(rng, h, r) for h in spec.headers] for r in range(spec.n_rows)]


def build_payload(spec: UploadSpec) -> tuple[dict, dict[str, int]]:
    """The ``/upload`` payload for one schedule entry, plus the expected
    value checksum of each table after the sync.

    As the reference client builds it (SURVEY.md §3.1-3.2): a workbook
    is ``type: "xlsx"`` with one matrix per sheet; a CSV file is
    ``type: "csv"`` with its raw text under the file name minus its
    extension."""
    data, sums = {}, {}
    for sh in spec.sheets:
        header = [HEADER_POOL[h][0] for h in sh.headers]
        body = sheet_rows(sh)
        if spec.csv:
            lines = [sh.delimiter.join(header)] + [sh.delimiter.join(r) for r in body]
            data[sh.sheet] = "\n".join(lines) + "\n"  # the file "<sheet>.csv"
        else:
            data[sh.sheet] = [header] + body
        pos = {HEADER_POOL[h][1].lower(): i for i, h in enumerate(sh.headers)}
        order = [pos[c.lower()] for c in sh.table_columns]
        sums[sh.table] = checksum([r[i] for i in order] for r in body)
    return {"data": data, "type": "csv" if spec.csv else "xlsx"}, sums


# ----------------------------------------------------------------- etl_bulk

LINEITEM_COLUMNS = (
    "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
    "l_discount l_tax l_returnflag l_linestatus l_shipdate l_shipmode"
).split()
_SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])


def lineitem_columns(rng: np.random.Generator, n: int) -> list:
    """``n`` lineitem-shaped rows as 12 Arrow string columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def ints(lo, hi):
        return pa.array(rng.integers(lo, hi, n)).cast(pa.string())

    def pick(values):
        return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))

    def fixed2(units, frac):  # "<units>.<frac as 2 digits>"
        return pc.binary_join_element_wise(
            pa.array(units).cast(pa.string()),
            pc.utf8_lpad(pa.array(frac).cast(pa.string()), 2, "0"), ".")

    cents = rng.integers(90000, 10500000, n)
    day0 = _dt.date(1995, 1, 1).toordinal()
    dates = [_dt.date.fromordinal(day0 + d).isoformat() for d in range(2500)]
    return [
        ints(0, max(1, n // 4)), ints(0, 20000), ints(0, 1000), ints(1, 8), ints(1, 51),
        fixed2(cents // 100, cents % 100),
        fixed2(np.zeros(n, np.int64), rng.integers(0, 11, n)),
        fixed2(np.zeros(n, np.int64), rng.integers(0, 9, n)),
        pick(["A", "N", "R"]), pick(["F", "O"]), pick(dates), pick(_SHIPMODES),
    ]


def joined(cols: list, sep: str) -> list[str]:
    import pyarrow.compute as pc

    return pc.binary_join_element_wise(*cols, sep).to_pylist()


def columns_checksum(cols: list) -> int:
    return sum(zlib.crc32(s.encode("utf-8")) for s in joined(cols, SEP))


@dataclass
class BulkInputs:
    csv_dir: str
    csv_rows: int
    csv_checksum: int
    delimiter: str
    xlsx_dir: str
    xlsx_rows: int
    xlsx_checksum: int


def write_csv_dir(path: str, cols: list, delimiter: str, n_files: int) -> None:
    os.makedirs(path)
    lines = joined(cols, delimiter)
    header = delimiter.join(LINEITEM_COLUMNS) + "\n"
    per = -(-len(lines) // n_files)
    for f in range(n_files):
        with open(os.path.join(path, f"part-{f:04d}.csv"), "w", encoding="utf-8") as fh:
            fh.write(header)
            fh.write("\n".join(lines[f * per : (f + 1) * per]) + "\n")


def _col_letter(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


_XLSX_STATIC = {
    "[Content_Types].xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    ),
    "_rels/.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    ),
    "xl/workbook.xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="lineitem" sheetId="1" r:id="rId1"/></sheets></workbook>'
    ),
    "xl/_rels/workbook.xml.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    ),
}

# columns written as numeric cells (integral values render back unchanged)
_NUMERIC = {0, 1, 2, 3, 4}


def write_xlsx(path: str, cols: list) -> None:
    """One-sheet workbook: header row, then the rows of ``cols``;
    integral columns as numeric cells, the rest as shared strings."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(cols[0])
    rownum = pa.array(np.arange(2, n + 2)).cast(pa.string())
    shared: list[str] = list(LINEITEM_COLUMNS)
    cells = []
    for c, col in enumerate(cols):
        ref = pc.binary_join_element_wise(_col_letter(c), rownum, "")
        if c in _NUMERIC:
            cells.append(pc.binary_join_element_wise('<c r="', ref, '"><v>', col, "</v></c>", ""))
            continue
        enc = pc.dictionary_encode(col)
        idx = pc.add(enc.indices.cast(pa.int64()), len(shared)).cast(pa.string())
        shared.extend(enc.dictionary.to_pylist())
        cells.append(pc.binary_join_element_wise('<c r="', ref, '" t="s"><v>', idx, "</v></c>", ""))
    body = pc.binary_join_element_wise('<row r="', rownum, '">', *cells, "</row>", "")
    header = "".join(
        f'<c r="{_col_letter(c)}1" t="s"><v>{c}</v></c>' for c in range(len(cols))
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData><row r="1">{header}</row>{"".join(body.to_pylist())}</sheetData></worksheet>'
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
        + "</sst>"
    )
    # fixed timestamps keep the archive bytes a function of the content
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        parts = {**_XLSX_STATIC, "xl/worksheets/sheet1.xml": sheet, "xl/sharedStrings.xml": sst}
        for name, text in parts.items():
            zf.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), text)


def make_bulk(root: str, seed: int, csv_rows: int, n_csv_files: int,
              n_workbooks: int, rows_per_workbook: int, stream: int = 2) -> BulkInputs:
    rng = np.random.default_rng([seed, stream])
    delimiter = DELIMITERS[int(rng.integers(0, len(DELIMITERS)))]
    cols = lineitem_columns(rng, csv_rows)
    csv_dir = os.path.join(root, "lineitem_csv")
    write_csv_dir(csv_dir, cols, delimiter, n_csv_files)
    csv_sum = columns_checksum(cols)
    xlsx_dir = os.path.join(root, "lineitem_xlsx")
    os.makedirs(xlsx_dir)
    xlsx_sum = 0
    for w in range(n_workbooks):
        wb = lineitem_columns(rng, rows_per_workbook)
        write_xlsx(os.path.join(xlsx_dir, f"book-{w:04d}.xlsx"), wb)
        xlsx_sum += columns_checksum(wb)
    return BulkInputs(csv_dir, csv_rows, csv_sum, delimiter,
                      xlsx_dir, n_workbooks * rows_per_workbook, xlsx_sum)


# ------------------------------------------------------------ analytics_mix

ANALYTICS_TABLES = (
    "nation", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings", "events",
)

_DOC_VOCAB = (
    "query row stream the batch sort value hash filter big data dup part "
    "column order scan a slow agg key window table merge vector join spark "
    "line small fast group customer"
).split()
_PART_ADJ = "blue cold hot red small new old large".split()
_PART_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def make_analytics(root: str, seed: int, scale: float = 1.0) -> dict[str, str]:
    """Key-consistent TPC-H-shaped tables plus documents, embeddings and
    events, in the column layout the registered queries read. ``scale``
    1.0 is 1/10 of the sf0.1 row counts (lineitem 60k rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n_supp, n_part = max(10, int(100 * scale)), max(50, int(2000 * scale))
    n_ord, n_line = max(100, int(15000 * scale)), max(400, int(60000 * scale))
    n_doc, n_vec = max(100, int(1000 * scale)), max(60, int(400 * scale))
    n_evt = max(500, int(10000 * scale))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")
    base = np.datetime64("1995-01-01", "us")
    day_us = np.int64(86_400_000_000)

    tables: dict[str, pa.Table] = {}
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(rng.integers(-99999, 999999, n_supp) / 100, f64),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL"])[
            rng.integers(0, 5, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(900 + np.arange(n_part) % 1000 / 10, f64),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, 15000, n_ord), i64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": pa.array(rng.integers(100000, 50000000, n_ord) / 100, f64),
        "o_orderdate": pa.array(base + rng.integers(0, 2400, n_ord) * day_us, ts),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)].tolist(),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(rng.integers(90000, 10500000, n_line) / 100, f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": pa.array(base + rng.integers(0, 2500, n_line) * day_us, ts),
    })
    # documents: random word runs, ~6% near-duplicates of an earlier one
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _DOC_VOCAB[int(rng.integers(0, 31))]
        else:
            words = [_DOC_VOCAB[k] for k in rng.integers(0, 31, int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(["en", "zh", "de", "fr", "es"])[rng.integers(0, 5, n_doc)].tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = (rng.standard_normal((n_vec, 64)) * 0.12).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us, ts),
        "user_id": pa.array(rng.integers(0, 1500, n_evt), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)].tolist(),
        "value": pa.array(rng.integers(0, 50000, n_evt) / 100, f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    os.makedirs(root, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(root, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths
