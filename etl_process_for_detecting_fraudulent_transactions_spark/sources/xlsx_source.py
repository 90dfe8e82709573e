"""Minimal XLSX reader (zipfile + XML): driver-side, no external deps.

Spark has no native xlsx source (SURVEY §2.1 S2); the reference uses pandas/
openpyxl on the driver. XLSX is a public format — a zip of SpreadsheetML XML —
so we parse it directly: shared strings, inline strings, numbers, and
date-formatted numeric cells (Excel 1900 serial dates via numFmt).

Files are tiny dimension snapshots (150 rows); driver-side parse into a
sized local relation (``local_frame``) is the right scale trade-off: the
planner broadcasts it. Naive datetimes land as wall-clock time in the
session time zone. A 100 TB deployment would never ship xlsx for big data;
this source exists for format parity.
"""

from __future__ import annotations

import datetime as _dt
import re
import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .local import local_frame

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_EPOCH_1900 = _dt.datetime(1899, 12, 30)  # Excel 1900 date system epoch

# Builtin numFmtIds that render as dates/datetimes (ECMA-376 §18.8.30).
_DATE_BUILTIN_FMTS = set(range(14, 23)) | set(range(45, 48))
_DATE_FMT_RE = re.compile(r"[dmyhs]", re.IGNORECASE)


def _cell_col(ref: str) -> int:
    """'B7' → 0-based column index 1."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


def _load_date_styles(z: zipfile.ZipFile) -> set[int]:
    """Style indexes (cellXfs position) whose numFmt is date-like."""
    try:
        root = ET.fromstring(z.read("xl/styles.xml"))
    except KeyError:
        return set()
    custom_date_fmts: set[int] = set()
    for nf in root.iter(f"{{{_NS['m']}}}numFmt"):
        code = nf.get("formatCode", "")
        # strip quoted literals/colors before sniffing date tokens
        bare = re.sub(r'"[^"]*"|\[[^\]]*\]', "", code)
        if _DATE_FMT_RE.search(bare):
            custom_date_fmts.add(int(nf.get("numFmtId", "-1")))
    date_styles: set[int] = set()
    cellxfs = root.find(f"{{{_NS['m']}}}cellXfs")
    if cellxfs is not None:
        for i, xf in enumerate(cellxfs):
            fmt = int(xf.get("numFmtId", "0"))
            if fmt in _DATE_BUILTIN_FMTS or fmt in custom_date_fmts:
                date_styles.add(i)
    return date_styles


def _serial_to_datetime(serial: float) -> _dt.datetime:
    return _EPOCH_1900 + _dt.timedelta(days=serial)


def read_xlsx(path: str, sheet: int = 1) -> list[list[object]]:
    """Parse the given sheet into a list of rows (header row included).

    Numeric cells with date-like styles become ``datetime``; other numerics
    become int when integral else float; strings stay strings; empty cells
    are None. Rows are padded to the max observed width.
    """
    with zipfile.ZipFile(path) as z:
        try:
            shared = [
                "".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t"))
                for si in ET.fromstring(z.read("xl/sharedStrings.xml"))
            ]
        except KeyError:
            shared = []
        date_styles = _load_date_styles(z)
        sheet_xml = z.read(f"xl/worksheets/sheet{sheet}.xml")

    rows: list[list[object]] = []
    for row_el in ET.fromstring(sheet_xml).iter(f"{{{_NS['m']}}}row"):
        row: list[object] = []
        for c in row_el.iter(f"{{{_NS['m']}}}c"):
            idx = _cell_col(c.get("r", ""))
            while len(row) <= idx:
                row.append(None)
            ctype = c.get("t", "n")
            v_el = c.find(f"{{{_NS['m']}}}v")
            if ctype == "inlineStr":
                is_el = c.find(f"{{{_NS['m']}}}is")
                row[idx] = (
                    "".join(t.text or "" for t in is_el.iter(f"{{{_NS['m']}}}t"))
                    if is_el is not None
                    else None
                )
                continue
            if v_el is None or v_el.text is None:
                row[idx] = None
                continue
            raw = v_el.text
            if ctype == "s":
                row[idx] = shared[int(raw)]
            elif ctype == "str":
                row[idx] = raw
            elif ctype == "b":
                row[idx] = raw == "1"
            else:  # numeric
                num = float(raw)
                if int(c.get("s", "-1")) in date_styles:
                    row[idx] = _serial_to_datetime(num)
                elif num.is_integer():
                    row[idx] = int(num)
                else:
                    row[idx] = num
        rows.append(row)
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]


def read_xlsx_df(
    spark: SparkSession,
    path: str,
    schema: StructType,
    drop_all_null_rows: bool = True,
) -> DataFrame:
    """xlsx → DataFrame with an explicit schema.

    First row is taken as the header and must match ``schema`` field order.
    The reference's day-1/2 blacklist files carry trailing all-blank rows
    that stage as all-NULL (SURVEY §2.1 S2); we drop them by default.
    """
    rows = read_xlsx(path)
    data = rows[1:] if rows else []
    ncols = len(schema.fields)
    norm = []
    for r in data:
        r = (r + [None] * ncols)[:ncols]
        if drop_all_null_rows and all(v is None for v in r):
            continue
        norm.append([str(v) if isinstance(v, (int, float)) and f.dataType.typeName() == "string" else v
                     for v, f in zip(r, schema.fields)])
    return local_frame(spark, norm, schema)
