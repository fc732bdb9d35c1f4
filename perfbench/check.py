"""Output checks: DuckDB digests of oracle answers, and the simulation of
the staged tables that landed batches must produce."""
import datetime
import decimal
import hashlib
import os

import duckdb

from inputs import TABLES, check_expr

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = _EPOCH.replace(tzinfo=datetime.timezone.utc)


def _micros(td):
    return (td.days * 86400 + td.seconds) * 1000000 + td.microseconds


def _real(x):
    if x != x:
        return "fnan"
    if x in (float("inf"), float("-inf")):
        return "finf" if x > 0 else "f-inf"
    if x == 0:
        return "f0"
    return "f" + format(decimal.Decimal(x), "f")


def value(v):
    """Python twin of perfbench.Canon.value (harness/Canon.scala)."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        return _real(v)
    if isinstance(v, decimal.Decimal):
        return "d" + format(v.normalize(), "f")
    if isinstance(v, str):
        return f"s{len(v.encode('utf-16-le')) // 2}:{v}"
    if isinstance(v, datetime.datetime):
        base = _EPOCH_TZ if v.tzinfo is not None else _EPOCH
        return "t" + str(_micros(v - base))
    if isinstance(v, datetime.date):
        return "D" + str((v - _EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return "?" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(("\u0001".join(value(r[i]) for i in order) for r in rows),
                   key=_sort_key)
    h = hashlib.sha256()
    h.update(("cols:" + ",".join(columns[i] for i in order) + "\n").encode())
    for line in lines:
        h.update((line + "\n").encode())
    return h.hexdigest()


def _sort_key(line):
    # Java sorts strings by UTF-16 code units; Python by code points.
    return line.encode("utf-16-be")


def oracle_digests(pairs, oracle_sql):
    """{(key, dir): (digest, rows) or ("error: ...", 0)} for each
    (key, dir) pair whose key has a DuckDB twin."""
    out, cons = {}, {}
    for key, d in sorted(pairs):
        if key not in oracle_sql:
            continue
        if d not in cons:
            con = duckdb.connect()
            con.execute("SET threads = 4")
            for t in TABLES:
                p = f"{d}/{t}.parquet"
                if os.path.exists(p):
                    src = f"{p}/*.parquet" if os.path.isdir(p) else p
                    con.execute(f"CREATE VIEW {t} AS SELECT * "
                                f"FROM read_parquet('{src}')")
            cons[d] = con
        try:
            rel = cons[d].sql(oracle_sql[key])
            rows = rel.fetchall()
            out[(key, d)] = (digest(list(rel.columns), rows), len(rows))
        except Exception as e:  # a broken twin is a failed check, not a crash
            out[(key, d)] = (f"error: {e}"[:300], 0)
    for con in cons.values():
        con.close()
    return out


def simulate_staged(land_ops, batches):
    """Replay landed batches (in execution order) onto empty staged
    tables. `land_ops` are (table, batch name, mode) with mode "append"
    or "dynamic" (replace only the partitions the batch holds).
    Returns (staged counts after each op, final {table: {part: [n, sum]}})."""
    state, counts = {}, []
    for table, name, mode in land_ops:
        parts = state.setdefault(table, {})
        for part, (n, s) in batches[name]["parts"].items():
            if mode == "dynamic" or part not in parts:
                parts[part] = [n, int(s)]
            else:
                parts[part] = [parts[part][0] + n, parts[part][1] + int(s)]
        counts.append(sum(n for n, _ in parts.values()))
    return counts, state


def staged_state(lake, tables):
    """{table: {part: [rows, checksum]}} of the staged parquet tables,
    read back with DuckDB (an engine independent of the writer)."""
    con = duckdb.connect()
    out = {}
    for t in tables:
        rows = con.sql(
            f"SELECT p_year, p_month, count(*), "
            f"sum({check_expr(t)})::HUGEINT "
            f"FROM read_parquet('{lake}/{t}/*/*/*.parquet', "
            "hive_partitioning = true) GROUP BY 1, 2").fetchall()
        out[t] = {f"{y}-{m}": [n, int(s)] for y, m, n, s in rows}
    con.close()
    return out
