"""DuckDB oracle check for the query mix, under the rules of tools/compare.py.

Each query's Spark result (a parquet directory) is compared with its oracle
SQL run by DuckDB over the same generated tables: sorted column names, row
count, and every value with its type (floats as floats, no DECIMAL output
columns), rows compared as sorted multisets.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def typed(v):
    c = canon(v)
    return (type(c).__name__, repr(c))


def rowset(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(typed(row[i]) for i in order) for row in cur.fetchall()]
    return sorted(cols), sorted(rows)


def decimal_columns(desc):
    return sorted(d[0] for d in desc if "DECIMAL" in str(d[1]).upper())


def compare(results_dir, data_dir, oracle_sql):
    """Returns {query: None if it matches, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            scur = con.execute(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
            sdesc = scur.description
            sc, sr = rowset(scur)
            dcur = con.execute(sql)
            ddesc = dcur.description
            dc, dr = rowset(dcur)
        except Exception as e:  # a query with no readable result or oracle fails
            verdicts[name] = "error: %s" % str(e).splitlines()[0][:200]
            continue
        dec = sorted(set(decimal_columns(sdesc)) | set(decimal_columns(ddesc)))
        if dec:
            verdicts[name] = "DECIMAL output columns %s" % dec
        elif sc != dc:
            verdicts[name] = "columns spark=%s duck=%s" % (sc, dc)
        elif len(sr) != len(dr):
            verdicts[name] = "rows spark=%d duck=%d" % (len(sr), len(dr))
        else:
            bad = sum(1 for a, b in zip(sr, dr) if a != b)
            verdicts[name] = "%d/%d rows differ" % (bad, len(sr)) if bad else None
    con.close()
    return verdicts
