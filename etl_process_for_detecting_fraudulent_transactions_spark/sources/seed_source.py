"""Seed-dimension source: parse a DDL+DML SQL dump into DataFrames.

The reference seeds cards/accounts/clients from an 889-line SQL dump
re-executed every run (SURVEY §2.1 S3; ddl_dml.sql, data_to_db.py:28-87).
We don't embed a SQL engine for that: the dump is data, so we extract the
INSERT literals on the driver (dims are tiny — 322 rows) and build typed
local relations (``local_frame``), whose size stats let the planner
broadcast them into every identity lookup. Column renames follow the
reference's load (account→account_num, patronymic→patrinymic;
data_to_db.py:31-83).
"""

from __future__ import annotations

import datetime as _dt
import re

from pyspark.sql import DataFrame, SparkSession

from ..schemas import DIM_ACCOUNTS, DIM_CARDS, DIM_CLIENTS
from .local import local_frame

_INSERT_RE = re.compile(
    r"insert\s+into\s+(\w+)\s*\(([^)]*)\)\s*values\s*\((.*?)\)\s*;",
    re.IGNORECASE | re.DOTALL,
)


def _parse_values(raw: str) -> list[str | None]:
    """Split a VALUES tuple body into literals ('...' → str, null → None)."""
    vals: list[str | None] = []
    i, n = 0, len(raw)
    while i < n:
        ch = raw[i]
        if ch in " \t\r\n,":
            i += 1
            continue
        if ch == "'":
            j = i + 1
            buf = []
            while j < n:
                if raw[j] == "'" and j + 1 < n and raw[j + 1] == "'":
                    buf.append("'")
                    j += 2
                elif raw[j] == "'":
                    break
                else:
                    buf.append(raw[j])
                    j += 1
            vals.append("".join(buf))
            i = j + 1
        else:
            j = i
            while j < n and raw[j] not in ",)":
                j += 1
            tok = raw[i:j].strip()
            vals.append(None if tok.lower() == "null" else tok)
            i = j
    return vals


def parse_sql_dump(path: str) -> dict[str, list[list[str | None]]]:
    """Table name → list of value rows extracted from INSERT statements."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    out: dict[str, list[list[str | None]]] = {}
    for m in _INSERT_RE.finditer(text):
        out.setdefault(m.group(1).lower(), []).append(_parse_values(m.group(3)))
    return out


def _d(v: str | None) -> _dt.date | None:
    return _dt.date.fromisoformat(v) if v else None


def read_seed_dims(spark: SparkSession, dump_path: str) -> dict[str, DataFrame]:
    """Load the three seed dims with DWH column names and types.

    Returns {'cards': DF, 'accounts': DF, 'clients': DF} matching
    schemas.DIM_CARDS / DIM_ACCOUNTS / DIM_CLIENTS.
    """
    tables = parse_sql_dump(dump_path)
    cards = [[r[0], r[1], _d(r[2]), _d(r[3])] for r in tables.get("cards", [])]
    accounts = [
        [r[0], _d(r[1]), r[2], _d(r[3]), _d(r[4])] for r in tables.get("accounts", [])
    ]
    clients = [
        [r[0], r[1], r[2], r[3], _d(r[4]), r[5], _d(r[6]), r[7], _d(r[8]), _d(r[9])]
        for r in tables.get("clients", [])
    ]
    return {
        "cards": local_frame(spark, cards, DIM_CARDS),
        "accounts": local_frame(spark, accounts, DIM_ACCOUNTS),
        "clients": local_frame(spark, clients, DIM_CLIENTS),
    }
