"""Expected row digests from DuckDB: each query's `SparkEntry.oracleSql`
run on the same input tables, digested the way `RowHash.digest` digests
Spark's rows (see RowHash.scala for the encoding)."""
import hashlib
import math
import os
import re
import struct
import threading
import time
from decimal import Decimal

TABLES = ("embeddings",)


def _bits(d):
    if math.isnan(d):
        return "nan"
    if d == 0.0:
        d = 0.0
    return "%x" % struct.unpack(">Q", struct.pack(">d", d))[0]


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _bits(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, Decimal):
        s = format(v.normalize(), "f")
        return s
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    s = str(v)
    return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(value(r[i]) for i in order).encode("utf-8")
                   for r in rows)
    md = hashlib.sha256("\t".join(columns[i] for i in order).encode("utf-8"))
    for line in lines:
        md.update(b"\n")
        md.update(line)
    return md.hexdigest()


def materialized(sql):
    """`sql` with each common table expression marked MATERIALIZED.
    DuckDB inlines a CTE at every reference, so an unrolled graph walk
    (`sim_graph_topk`'s oracle) recomputes its graph in every round and
    runs out of memory at sf0.1; computing each CTE once gives the same
    rows. Recursive queries are left as they are."""
    if re.search(r"\bRECURSIVE\b", sql):
        return sql
    return re.sub(r"(\bWITH\s+|,\s*)(\w+)\s+AS\s+\((?=\s*SELECT)",
                  r"\1\2 AS MATERIALIZED (", sql)


def expected(table_dir, sql_by_query, tmp_dir, timeout_s=60.0,
             threads=4, memory="3GB"):
    """{query: {"hash", "rows", "oracle_s"}} for each query whose oracle
    finishes within `timeout_s`; {query: {"error": ...}} otherwise."""
    import duckdb
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect(config={"threads": threads, "memory_limit": memory,
                                 "temp_directory": tmp_dir})
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(table_dir, t + ".parquet")))
    out = {}
    for q in sorted(sql_by_query):
        timer = threading.Timer(timeout_s, con.interrupt)
        t0 = time.time()
        timer.start()
        try:
            cur = con.execute(materialized(sql_by_query[q]))
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[q] = {"hash": digest(cols, rows), "rows": len(rows),
                      "oracle_s": round(time.time() - t0, 3)}
        except Exception as e:  # an oracle that cannot finish is reported
            out[q] = {"error": "%s: %s" % (type(e).__name__, str(e)[:200])}
        finally:
            timer.cancel()
    con.close()
    return out
