"""DuckDB oracle check for the analytics workload: each sampled entry's
Spark output (one parquet directory) must equal the entry's oracle SQL
(`SparkEntry.oracleSql`) run by DuckDB over the same generated tables —
columns compared by name, rows as sorted multisets, values exactly."""
import decimal
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("num", v)
    if hasattr(v, "item"):
        return _cell(v.item())
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def check(tables_dir, items):
    """items: [{"entry", "output", "sql"}] -> [(entry, ok, detail)]."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    results = []
    for it in items:
        try:
            got = con.sql(f"SELECT * FROM '{it['output']}/*.parquet'")
            g = _canon(got.fetchall(), got.columns)
            exp = con.sql(it["sql"])
            e = _canon(exp.fetchall(), exp.columns)
        except Exception as ex:  # an unreadable output or a failing oracle is a failure
            results.append((it["entry"], False, str(ex)[:300]))
            continue
        if g[0] != e[0]:
            results.append((it["entry"], False, f"columns {g[0]} != {e[0]}"))
        elif g[1] != e[1]:
            results.append((it["entry"], False,
                            f"rows differ: spark {len(g[1])} oracle {len(e[1])}"))
        else:
            results.append((it["entry"], True, f"{len(g[1])} rows"))
    return results
