"""DuckDB side of the correctness check.

The benchmark JVM reports, for every distinct operation (and for every
DML commit), the canonical rows it produced and the DuckDB statements
that must reproduce them. `check` replays those statements in one
DuckDB connection, in order, and compares. The canonical form mirrors
`Canon` in the Scala harness cell for cell, and follows the engine's
`scripts/selfcheck.py`: columns sorted by name, rows sorted, doubles
compared bit-exactly (here through their exact decimal expansion).
"""
import datetime as dt
import decimal
import math
import os

import duckdb

EPOCH = dt.datetime(1970, 1, 1)
US = dt.timedelta(microseconds=1)


def _plain(d):
    return "0" if d == 0 else format(d.normalize(), "f")


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return _plain(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _plain(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // US)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\u0001".join(cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], lines


def connect(views):
    """A DuckDB connection with one view per (name, parquet path)."""
    con = duckdb.connect()
    for name, path in views.items():
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _differs(c, cols, lines):
    if cols != c["cols"]:
        return f"columns {c['cols']} vs duckdb {cols}"
    if len(lines) != len(c["rows"]):
        return f"{len(c['rows'])} rows vs duckdb {len(lines)}"
    if lines != c["rows"]:
        i = next(i for i, (a, b) in enumerate(zip(c["rows"], lines)) if a != b)
        return f"row {i}: {c['rows'][i]!r} vs duckdb {lines[i]!r}".replace("\u0001", "|")[:300]
    return None


def check(con, checks):
    """Replays `checks` in order; returns {name: reason} for every
    operation whose result differs from DuckDB's. A check with no query
    only replays its statements: it is verified by the next check that
    has one (an ingest cycle is checked as a whole), and a mismatch
    there fails every operation since the last good check."""
    bad = {}
    pending = []
    decimal.getcontext().prec = 1000  # exact: a double expands to <= 767 digits
    for c in checks:
        pending.append(c["name"])
        try:
            for stmt in c["pre"].split(";"):
                if stmt.strip():
                    con.execute(stmt)
            if not c["sql"]:
                continue
            r = con.execute(c["sql"])
            why = _differs(c, *canon([d[0] for d in r.description], r.fetchall()))
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"duckdb: {e}"[:300]
        if why:
            bad.update({n: why for n in pending})
        pending = []
    return bad
