"""DuckDB output checks: each entry's SQL runs in DuckDB over the same
generated tables the program read, and its rows must equal the program's
rows, order-insensitively, after canonicalisation."""
import datetime
import decimal
import hashlib
import math
from pathlib import Path


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return f"{f:.9g}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, str) and v in ("NaN", "Infinity", "-Infinity"):
        return "NaN" if v == "NaN" else v
    return str(v)


def row_hash(columns, rows, by_name):
    """Order-insensitive hash of a result; with `by_name` the columns are
    put in name order first, as the oracleSql contract compares them."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i]) if by_name \
        else list(range(len(columns)))
    lines = sorted("|".join(canon(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return h, lines


def check(spec, work):
    """Returns {name: reason} for every entry that does not match."""
    import duckdb
    con = duckdb.connect()
    con.execute("set TimeZone = 'UTC'")
    for t in spec["tables"]:
        path = Path(spec["tables_dir"]) / f"{t}.parquet"
        files = f"{path}/*.parquet" if path.is_dir() else str(path)
        con.execute(f"create or replace view {t} as select * from "
                    f"read_parquet('{files}')")
    by_name = spec.get("by_name", False)
    bad = {}
    for q in spec["queries"]:
        name = q["name"]
        try:
            cur = con.execute(q["sql"])
            e_cols = [d[0] for d in cur.description]
            e_rows = cur.fetchall()
        except Exception as ex:  # noqa: BLE001
            bad[name] = f"oracle error: {ex}"
            continue
        g_cols, g_rows = q["columns"], q["rows"]
        if by_name and sorted(e_cols) != sorted(g_cols):
            bad[name] = f"columns {sorted(g_cols)} != {sorted(e_cols)}"
            continue
        if len(e_cols) != len(g_cols):
            bad[name] = f"{len(g_cols)} columns != {len(e_cols)}"
            continue
        if len(e_rows) != len(g_rows):
            bad[name] = f"rows {len(g_rows)} != {len(e_rows)}"
            continue
        if by_name:
            # Align the program's columns to the oracle's names.
            pos = {c: i for i, c in enumerate(g_cols)}
            g_rows = [[r[pos[c]] for c in e_cols] for r in g_rows]
        gh, gl = row_hash(e_cols, g_rows, by_name)
        eh, el = row_hash(e_cols, e_rows, by_name)
        if gh != eh:
            diff = next((a, b) for a, b in zip(gl, el) if a != b)
            bad[name] = f"rows differ: got {diff[0]!r} expected {diff[1]!r}"
    return bad
