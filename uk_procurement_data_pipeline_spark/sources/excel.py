"""Jar-free Excel (.xlsx) source (SURVEY.md §2.1 S2).

The reference reads daily .xlsx workbooks with ``pandas.read_excel``
(``3_merge_to_two.py:47``) and concatenates them. Neither the
com.crealytics:spark-excel connector jar nor any Python Excel engine
(openpyxl/xlrd) is available in this environment — but .xlsx is only a ZIP
container of SpreadsheetML XML, so the scan is implemented here with the
Python standard library alone:

    binaryFile scan  ->  mapInPandas(stdlib zipfile + ElementTree parser)

Scale shape: one xlsx file is one ZIP — NOT byte-splittable — so the unit
of parallelism is the file, exactly as with the real connector; a
1000-executor cluster reading a directory of daily workbooks parallelizes
across files. The binaryFile source streams file bytes to executors; the
parser is per-file imperative Python, Arrow-batched back out. All cells
surface as strings (Excel is schema-less; the engine's "declared schema
everywhere" stance means the CALLER casts), plus ``source_file`` lineage
and a ``parse_error`` column so a corrupt workbook becomes a flagged row,
not a job failure (E1/E3 semantics, same as the csv/zip sources).

Supported SpreadsheetML subset (everything the reference's daily files
use): shared strings (``t="s"``, including rich-text runs), inline
strings (``t="inlineStr"``), formula string results (``t="str"``),
booleans (``t="b"``), and plain numeric cells. First sheet only, first
row is the header.
"""

from __future__ import annotations

import io
import re
import zipfile
from collections.abc import Iterator
from typing import Any
from xml.etree import ElementTree

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARSE_ERROR_COL = "parse_error"

_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'B7' -> 1, 'AA3' -> 26 (column letters, base 26)."""
    m = _CELL_REF.match(ref)
    if not m:
        return -1
    idx = 0
    for ch in m.group(1):
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _local(tag: str) -> str:
    """Strip the XML namespace: '{uri}row' -> 'row'."""
    return tag.rsplit("}", 1)[-1]


def _text_of(elem: ElementTree.Element) -> str:
    """Concatenate every <t> descendant (plain and rich-text runs)."""
    return "".join(
        t.text or "" for t in elem.iter() if _local(t.tag) == "t"
    )


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        raw = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ElementTree.fromstring(raw)
    return [_text_of(si) for si in root if _local(si.tag) == "si"]


def _first_sheet_name(zf: zipfile.ZipFile) -> str:
    """Resolve the workbook's FIRST sheet in tab order.

    Tab order lives in xl/workbook.xml (<sheets> element order), and each
    sheet's zip member comes from the r:id -> Target mapping in
    xl/_rels/workbook.xml.rels — sheetN.xml file names reflect CREATION
    order, so a workbook whose data tab was dragged to the front but is
    stored as sheet2.xml must NOT fall back to the lexicographically
    first member. Only when the workbook/rels parts are absent (minimal
    test fixtures) does the member-name fallback apply.
    """
    try:
        wb = ElementTree.fromstring(zf.read("xl/workbook.xml"))
        rels = ElementTree.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rid_to_target = {
            r.attrib.get("Id"): r.attrib.get("Target", "")
            for r in rels
            if _local(r.tag) == "Relationship"
        }
        for sheets in wb:
            if _local(sheets.tag) != "sheets":
                continue
            for sheet in sheets:
                if _local(sheet.tag) != "sheet":
                    continue
                rid = next(
                    (
                        v
                        for k, v in sheet.attrib.items()
                        if k.endswith("}id") or k == "id"
                    ),
                    None,
                )
                target = rid_to_target.get(rid, "")
                if target:
                    return (
                        target
                        if target.startswith("xl/")
                        else "xl/" + target.lstrip("/")
                    )
                break
            break
    except KeyError:
        pass  # minimal workbook without workbook.xml/rels — fall through
    sheets = sorted(
        n
        for n in zf.namelist()
        if n.startswith("xl/worksheets/") and n.endswith(".xml")
    )
    if not sheets:
        raise ValueError("workbook has no worksheets")
    return sheets[0]


def parse_xlsx_rows(content: bytes) -> list[list[str | None]]:
    """Parse one workbook's first sheet into a dense list-of-rows of
    string cells (None for gaps). Pure stdlib; raises on corrupt input —
    the caller decides whether that becomes an error row."""
    zf = zipfile.ZipFile(io.BytesIO(content))
    shared = _shared_strings(zf)
    root = ElementTree.fromstring(zf.read(_first_sheet_name(zf)))
    out: list[list[str | None]] = []
    for row in root.iter():
        if _local(row.tag) != "row":
            continue
        # index -> value map, then densify: r= references are not required
        # to appear in ascending order (some writers emit them unordered),
        # and append-with-padding would silently shift such cells into the
        # wrong columns. Duplicated refs: last one wins.
        by_idx: dict[int, str | None] = {}
        cursor = 0  # ref-less cells follow the previous cell (OOXML rule)
        for c in row:
            if _local(c.tag) != "c":
                continue
            idx = _col_index(c.attrib.get("r", ""))
            if idx < 0:
                idx = cursor
            cursor = idx + 1
            ctype = c.attrib.get("t", "n")
            val: str | None = None
            if ctype == "inlineStr":
                val = _text_of(c)
            else:
                v = next((ch for ch in c if _local(ch.tag) == "v"), None)
                if v is not None and v.text is not None:
                    if ctype == "s":
                        val = shared[int(v.text)]
                    elif ctype == "b":
                        val = "TRUE" if v.text.strip() == "1" else "FALSE"
                    else:  # 'n' (number), 'str' (formula result), 'e'
                        val = v.text
            by_idx[idx] = val
        width = max(by_idx, default=-1) + 1
        out.append([by_idx.get(i) for i in range(width)])
    return out


def read_excel_stdlib(
    spark: SparkSession, path_glob: str, columns: list[str]
) -> DataFrame:
    """S2: jar-free .xlsx scan -> one string column per requested header.

    ``columns`` declares the output projection by HEADER NAME (the engine
    never infers schema — SURVEY.md §1.2); headers present in the file but
    not requested are dropped, requested-but-absent headers are null. Rows
    stream out via Arrow in file order; a workbook that fails to parse
    yields a single row with ``parse_error`` set and null data columns.
    """
    out_schema = (
        ", ".join(f"`{c}` string" for c in columns)
        + f", source_file string, {PARSE_ERROR_COL} string"
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                base: dict[str, Any] = {c: None for c in columns}
                base["source_file"] = path
                try:
                    rows = parse_xlsx_rows(bytes(content))
                except Exception as exc:  # noqa: BLE001 — E3: flag, don't fail
                    err = dict(base)
                    err[PARSE_ERROR_COL] = f"{type(exc).__name__}: {exc}"
                    yield pd.DataFrame([err])
                    continue
                if not rows:
                    continue
                header = [h if h is not None else "" for h in rows[0]]
                pos = {h: i for i, h in enumerate(header)}
                recs = []
                for r in rows[1:]:
                    rec = dict(base)
                    for c in columns:
                        i = pos.get(c)
                        if i is not None and i < len(r):
                            rec[c] = r[i]
                    rec[PARSE_ERROR_COL] = None
                    recs.append(rec)
                if recs:
                    yield pd.DataFrame(recs)

    files = spark.read.format("binaryFile").load(path_glob)
    return files.select("path", "content").mapInPandas(parse, out_schema)


# ---------------------------------------------------------------------------
# Jar-free .xlsx WRITER (S7 fidelity: the reference WRITES daily workbooks
# via to_excel — 2a:654, 2b:498). Minimal SpreadsheetML: one sheet, every
# cell an inline string (the exact subset read_excel_stdlib parses, so the
# sink round-trips through the engine's own reader). Deterministic bytes:
# fixed zip timestamps, cells emitted in column order — same input, same
# file, which makes the sink idempotent-overwrite safe to re-run.
# ---------------------------------------------------------------------------

_XLSX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
    'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'worksheet+xml"/>'
    "</Types>"
)
_XLSX_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
    'relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_XLSX_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
    '2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/'
    '2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>'
    "</workbook>"
)
_XLSX_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
    'relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/worksheet" '
    'Target="worksheets/sheet1.xml"/>'
    "</Relationships>"
)


def _col_letters(idx: int) -> str:
    """0 -> 'A', 25 -> 'Z', 26 -> 'AA' (inverse of _col_index)."""
    if idx < 0:
        raise ValueError(f"negative column index {idx}")
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def write_xlsx_bytes(
    header: list[str], rows: list[list[str | None]]
) -> bytes:
    """Serialize header + string rows into a minimal valid .xlsx workbook
    (pure stdlib). None cells are omitted (the reader surfaces them as
    null); everything else must already be a string — the engine's
    schema-at-the-edges stance puts casting on the caller, mirroring the
    all-strings contract of read_excel_stdlib."""
    from xml.sax.saxutils import escape

    def row_xml(rix: int, cells: list[str | None]) -> str:
        parts = [f'<row r="{rix}">']
        for cix, val in enumerate(cells):
            if val is None:
                continue
            if not isinstance(val, str):
                raise TypeError(
                    f"cell ({rix},{cix}) is {type(val).__name__}, not str — "
                    "cast before writing"
                )
            ref = f"{_col_letters(cix)}{rix}"
            parts.append(
                f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                f"{escape(val)}</t></is></c>"
            )
        parts.append("</row>")
        return "".join(parts)

    body = [row_xml(1, list(header))]
    body.extend(row_xml(i + 2, r) for i, r in enumerate(rows))
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        + "".join(body)
        + "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in (
            ("[Content_Types].xml", _XLSX_CONTENT_TYPES),
            ("_rels/.rels", _XLSX_ROOT_RELS),
            ("xl/workbook.xml", _XLSX_WORKBOOK),
            ("xl/_rels/workbook.xml.rels", _XLSX_WORKBOOK_RELS),
            ("xl/worksheets/sheet1.xml", sheet),
        ):
            # fixed timestamp -> byte-deterministic output per input
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


def write_daily_xlsx(
    df: DataFrame, out_dir: str, day_col: str = "day"
) -> None:
    """S7: the reference's daily Excel sink (one workbook per day,
    overwritten on re-run — 2a:654's to_excel loop), executor-side.

    Scale shape: repartition on the day key co-locates each day's rows in
    one task (a day is one NON-SPLITTABLE zip, exactly like the read
    side), days write in parallel across executors, and the
    sortWithinPartitions makes file bytes a pure function of the data so
    re-runs are idempotent. Write protocol: tmp file + atomic rename —
    a concurrent reader never sees a torn workbook. Day values come from
    data and are used as file names, so path-escaping days (separators,
    '..') fail the task loudly rather than escaping the landing zone
    (the write_binary_files zip-slip contract)."""
    import os
    from pathlib import Path

    cols = [c for c in df.columns if c != day_col]
    out = str(out_dir)

    def write_partition(rows) -> None:
        by_day: dict[str, list[list[str | None]]] = {}
        for row in rows:
            day = str(row[day_col])
            vals = [
                None if row[c] is None else str(row[c]) for c in cols
            ]
            by_day.setdefault(day, []).append(vals)
        if not by_day:
            return
        base = Path(out).resolve()
        base.mkdir(parents=True, exist_ok=True)
        for day, recs in by_day.items():
            target = (base / f"{day}.xlsx").resolve()
            if (
                "/" in day
                or "\\" in day
                or day in (".", "..")
                or not target.is_relative_to(base)
            ):
                raise ValueError(f"day value escapes the sink dir: {day!r}")
            data = write_xlsx_bytes(cols, recs)
            tmp = base / f".{day}.xlsx.tmp.{os.getpid()}"
            tmp.write_bytes(data)
            tmp.replace(target)

    (
        df.repartition(F.col(day_col))
        .sortWithinPartitions(day_col, *cols)
        .foreachPartition(write_partition)
    )
