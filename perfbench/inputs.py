"""Seeded input generation for the workloads.

Every input is cut from a read-only TPC-H/LLM corpus directory (the
sf0.1 corpus by default) with DuckDB, so the same seed always yields
byte-identical inputs and the engine only ever sees these generated
files.
"""
import os
import random

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Ingested tables: explicit schema name in graft.etl.Schemas and the
# event-time column the staged table is partitioned on.
INGEST_TABLES = {"lineitem": "l_shipdate", "orders": "o_orderdate",
                 "events": "ts"}
# A batch is what a landing zone receives for a seed-chosen window of
# event time: (length, unit) per table, so that every batch holds about
# 7 * 10^3 rows at sf0.1 (lineitem ~7k, orders ~8k, events ~6k; events
# span a single month and a batch keeps 9 rows in 10 of its days).
# Windows start inside the table's first and last unit, whose partial
# months or days would make a batch's size depend on the seed.
INGEST_WINDOWS = {"lineitem": (1, "month"), "orders": (4, "month"),
                  "events": (2, "day")}
# The warm-up batches and stream keep 1 row in this many: they only have
# to load and compile the code paths the timed ops take.
WARM_KEEP = 20
# A streaming input keeps 1 events row in this many (~7k rows).
STREAM_KEEP = 14

# Integer-only canonical row form of the staged-vs-landed checksum,
# computed with DuckDB on the landed batch and on the staged parquet:
# doubles enter as floor(x * 1e6), timestamps as epoch microseconds.
CHECK_COLUMNS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "floor(l_quantity * 1e6)", "floor(l_extendedprice * 1e6)",
                 "floor(l_discount * 1e6)", "floor(l_tax * 1e6)",
                 "l_returnflag", "l_linestatus", "epoch_us(l_shipdate)"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus",
               "floor(o_totalprice * 1e6)", "epoch_us(o_orderdate)",
               "o_orderpriority"],
    "events": ["event_id", "epoch_us(ts)", "user_id", "event_type",
               "floor(value * 1e6)", "props"],
}


def check_expr(table):
    """SQL for one row's checksum term: the first 15 hex digits of the
    md5 of the row's canonical text, as an integer."""
    text = "concat_ws('|', " + ", ".join(
        f"cast(cast({c} as bigint) as varchar)" if "(" in c
        else f"cast({c} as varchar)" for c in CHECK_COLUMNS[table]) + ")"
    return f"('0x' || substr(md5({text}), 1, 15))::BIGINT"


def _con(src):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM read_parquet("
                    f"'{src}/{t}.parquet', file_row_number = true)")
    return con


def _h(seed, salt, key="file_row_number"):
    """Deterministic 64-bit row hash keyed by seed and a salt."""
    return f"hash({key}, {int(seed)}, '{salt}')"


def _copy(con, sql, path, fmt="PARQUET"):
    opts = ("FORMAT CSV, HEADER, DELIMITER ',', QUOTE '\"', ESCAPE '\\', "
            "TIMESTAMPFORMAT '%Y-%m-%d %H:%M:%S.%f'") if fmt == "CSV" \
        else "FORMAT PARQUET"
    con.execute(f"COPY ({sql}) TO '{path}' ({opts})")


def table_rows(con, table):
    return con.sql(f"SELECT count(*) FROM {table}").fetchone()[0]


def gen_ingest(src, out, seed, batches_per_table, streams):
    """CSV batches for the landing loop (plus one small warm-up batch per
    table, named `<table>-w`) and `streams` distinct events inputs for
    the streaming op (plus a small warm-up one). Returns a manifest
    with, per batch, its rows, bytes and per-partition (count, checksum)
    of the landed rows."""
    con = _con(src)
    batches = []
    for t, ts in INGEST_TABLES.items():
        span, unit = INGEST_WINDOWS[t]
        starts = [u for (u,) in con.sql(
            f"SELECT DISTINCT date_trunc('{unit}', {ts}) FROM src_{t} "
            "ORDER BY 1").fetchall()][1:-1]
        for b in [*range(batches_per_table), "w"]:
            name = f"{t}-{b}"
            d = f"{out}/csv/{name}"
            os.makedirs(d, exist_ok=True)
            start = starts[random.Random(f"{seed}-{name}").randrange(
                len(starts) - span + 1)]
            window = (f"{ts} >= TIMESTAMP '{start}' AND {ts} < "
                      f"TIMESTAMP '{start}' + INTERVAL {span} {unit.upper()}")
            keep = (f"_h % {WARM_KEEP} = 0" if b == "w"
                    else "_h % 10 < 9" if t == "events" else "true")
            sel = (f"SELECT * EXCLUDE (_h, file_row_number) FROM (SELECT *, "
                   f"{_h(seed, name)} AS _h FROM src_{t}) "
                   f"WHERE {window} AND {keep} ORDER BY _h")
            con.execute(f"CREATE OR REPLACE TEMP TABLE b AS {sel}")
            _copy(con, "SELECT * FROM b", f"{d}/part-0.csv", "CSV")
            parts = con.sql(
                f"SELECT year({ts}) AS y, month({ts}) AS m, count(*), "
                f"sum({check_expr(t)})::HUGEINT FROM b GROUP BY 1, 2").fetchall()
            batches.append({
                "name": name, "table": t, "csv": d,
                "rows": table_rows(con, "b"),
                "bytes": os.path.getsize(f"{d}/part-0.csv"),
                "parts": {f"{y}-{m}": [n, str(s)] for y, m, n, s in parts}})
    stream = []
    for s in [*range(streams), "w"]:
        d = f"{out}/stream-{s}"
        os.makedirs(d)
        keep = WARM_KEEP if s == "w" else STREAM_KEEP
        sel = (f"SELECT * EXCLUDE (file_row_number, _h) FROM (SELECT *, "
               f"{_h(seed, f'stream-{s}')} AS _h FROM src_events) "
               f"WHERE _h % {keep} = 0 ORDER BY _h")
        con.execute(f"CREATE OR REPLACE TEMP TABLE b AS {sel}")
        _copy(con, "SELECT * FROM b", f"{d}/events.parquet")
        stream.append({"dir": d, "rows": table_rows(con, "b")})
    con.close()
    return {"batches": batches, "streams": stream[:-1],
            "warm_stream": stream[-1]}


def gen_shard(src, out, seed, shard, copies, keep=1):
    """One curate shard: `copies` copies of documents and embeddings
    with disjoint keys, per-copy token prefixes and per-copy embedding
    sign masks (the scheme of tools/stage_scale.py), keeping 1 row in
    `keep` of each. Copy indices are unique per (seed, shard), so no two
    shards of a run share content.
    Returns {"documents": rows, "embeddings": rows}."""
    con = _con(src)
    doc_shift = con.sql("SELECT max(doc_id) + 1 FROM src_documents").fetchone()[0]
    vec_shift = con.sql("SELECT max(vec_id) + 1 FROM src_embeddings").fetchone()[0]
    base = (int(seed) % 1000) * 64 + shard * copies + 1
    docs, vecs = [], []
    for i in range(copies):
        c = base + i
        text = ("array_to_string(list_transform(string_split(text, ' '), "
                f"w -> 's{c}' || w), ' ')")
        docs.append(f"SELECT doc_id + {c * doc_shift} AS doc_id, {text} AS text, "
                    f"lang, source, CAST(len({text}) AS BIGINT) AS n_chars "
                    f"FROM src_documents WHERE doc_id % {keep} = 0 "
                    "ORDER BY file_row_number")
        sign = ("CASE WHEN (strpos('0123456789abcdef', substring(md5("
                f"'m{c}_' || (i - 1)), 1, 1)) - 1) % 2 = 0 "
                "THEN 1.0 ELSE -1.0 END")
        vecs.append(f"SELECT vec_id + {c * vec_shift} AS vec_id, "
                    "list_transform(range(1, len(embedding) + 1), "
                    f"i -> CAST(embedding[i] * ({sign}) AS FLOAT)) AS embedding, "
                    f"label FROM src_embeddings WHERE vec_id % {keep} = 0 "
                    "ORDER BY file_row_number")
    os.makedirs(out, exist_ok=True)
    for t, parts in (("documents", docs), ("embeddings", vecs)):
        _copy(con, " UNION ALL ".join(f"({p})" for p in parts),
              f"{out}/{t}.parquet")
    rows = {t: table_rows(con, f"read_parquet('{out}/{t}.parquet')")
            for t in ("documents", "embeddings")}
    con.close()
    return rows
