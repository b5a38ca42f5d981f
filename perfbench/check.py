"""Order-insensitive result fingerprints, shared by the expected-result
recorder (DuckDB oracle side) and the benchmark (Spark side).

Cells are normalized the way the repo's oracle-parity tests normalize them
(integral floats print as integers, midnight timestamps as dates, NULL and NaN
alike), rows are sorted, and the sorted rows are hashed.  Results too big to
collect are checked by a per-column digest computed by the engine itself
(``digest_exprs``), in the same SQL shape on Spark and on DuckDB.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math


def cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return str(int(v)) if v.is_integer() else repr(v)
    if isinstance(v, datetime.datetime):
        if v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{cell(k)}:{cell(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):  # a Spark struct
        return cell(v.asDict())
    return str(v)


def fingerprint(columns: list[str], rows) -> dict:
    """``{"rows": n, "columns": [...], "hash": sha256}`` for one result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(tuple(cell(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256(json.dumps(norm, separators=(",", ":")).encode()).hexdigest()
    return {"rows": len(norm), "columns": [columns[i] for i in order], "hash": digest}


def mismatch(got: dict, want: dict) -> str | None:
    """A one-line description of how ``got`` differs from ``want``, or None."""
    for key in ("columns", "rows", "hash"):
        if got.get(key) != want.get(key):
            return f"{key}: got {got.get(key)!r:.80} want {want.get(key)!r:.80}"
    return None


def _kind(sql_type: str) -> str:
    t = sql_type.lower()
    if "char" in t or t == "string":
        return "string"
    if t == "date" or t.startswith("timestamp"):
        return "time"
    if t.startswith(("tinyint", "smallint", "int", "bigint", "hugeint", "float", "double",
                     "decimal", "real")):
        return "number"
    return "other"


def digest_exprs(columns: list[tuple[str, str]], dialect: str) -> list[str]:
    """SELECT expressions that digest every column of a relation: for each
    column its non-NULL count, its distinct count, and the sum of the first
    32 bits of the MD5 of a canonical string form of each value.  Numbers are
    canonical as micro-units, dates and timestamps as ``YYYY-MM-DD hh:mm:ss``,
    so the two engines agree whatever integer width or date type each picks.
    ``columns`` holds (name, SQL type) pairs; ``dialect`` is ``spark`` or
    ``duckdb``."""
    text = "STRING" if dialect == "spark" else "VARCHAR"
    out = ["count(*) AS n"]
    for name, sql_type in columns:
        c = f"`{name}`" if dialect == "spark" else f'"{name}"'
        canon = {
            "string": c,
            "number": f"CAST(CAST(round(CAST({c} AS DOUBLE) * 1000000) AS BIGINT) AS {text})",
            "time": f"CAST(CAST({c} AS TIMESTAMP) AS {text})",
        }.get(_kind(sql_type), f"CAST({c} AS {text})")
        if dialect == "spark":
            h = f"CAST(conv(substr(md5({canon}), 1, 8), 16, 10) AS BIGINT)"
        else:
            h = f"CAST('0x' || substr(md5({canon}), 1, 8) AS BIGINT)"
        out += [f"count({c}) AS `{name}.n`", f"count(DISTINCT {c}) AS `{name}.distinct`",
                f"sum({h}) AS `{name}.md5_sum`"]
    if dialect != "spark":
        out = [e.replace("`", '"') for e in out]
    return out


def digest_mismatch(got: dict, want: dict) -> str | None:
    """Name the first digest entry (``n`` or ``<column>.<part>``) that differs."""
    for key in sorted(set(got) | set(want)):
        if got.get(key) != want.get(key):
            return f"{key}: got {got.get(key)!r} want {want.get(key)!r}"
    return None
