"""Hash-match each curate answer against its DuckDB oracle.

The JVM writes `<work>/oracle.json`: {query: {"corpus": dir, "answer": dir,
"sql": oracle}}, where the answer is the engine's parquet output on that
corpus. Both sides are reduced to a hash of their rows, with columns in
name order and rows sorted: the same normalisation as the repository's
oracle check.
"""
import decimal
import hashlib
import json
import sys
import threading
import time

import duckdb

BUDGET_S = 60


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(cur):
    """(hash, row count) of a result: columns by name, rows sorted."""
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in cur.fetchall())
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest(), len(rows)


def check(work):
    """{query: "match" | "mismatch: ..." | "over_budget"}, and the corpus each ran on."""
    spec = json.load(open(f"{work}/oracle.json"))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{work}/duckdb-tmp'")
    out = {}
    for name, q in spec.items():
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{q['corpus']}/{t}.parquet/*.parquet')")
        timer = threading.Timer(BUDGET_S, con.interrupt)
        timer.start()
        t0 = time.time()
        try:
            exp = digest(con.execute(q["sql"]))
        except duckdb.InterruptException:
            out[name] = "over_budget"
            continue
        finally:
            timer.cancel()
        got = digest(con.execute(f"SELECT * FROM read_parquet('{q['answer']}/*.parquet')"))
        out[name] = "match" if exp == got else (
            f"mismatch: oracle {exp[1]} rows, engine {got[1]} rows")
        print(f"[perfbench] oracle {name}: {out[name]} ({time.time() - t0:.1f} s)",
              file=sys.stderr)
    return out, {n: q["corpus"] for n, q in spec.items()}
