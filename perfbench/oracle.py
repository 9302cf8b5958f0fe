"""DuckDB oracle compare for analytic_batch.

Each checked entry's Spark result (one parquet directory per entry) is
compared with the entry's oracle SQL run by DuckDB over the same input
tables. Both sides are canonicalized the way the repository's oracle
gate does it: columns sorted by name, floats rounded to 6 decimals,
rows sorted.
"""
import glob
import math
import os

import duckdb


def canon_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        s = f"{v:.6f}".rstrip("0").rstrip(".")
        return "0" if s in ("", "-0") else s
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return canon_val(float(v))
    except ImportError:
        pass
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(canon_val(r[i]) for i in order) for r in rows)


def compare(data_dir, check_dir, oracles):
    """Returns {entry: "ok" | reason} for every entry in `oracles`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracles.items()):
        spark_dir = os.path.join(check_dir, name)
        if not os.path.isdir(spark_dir):
            out[name] = "no spark output"
            continue
        try:
            srel = con.sql(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            sc, sr = canon(list(srel.columns), srel.fetchall())
            orel = con.sql(sql)
            oc, orr = canon(list(orel.columns), orel.fetchall())
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"error: {e}"
            continue
        if sc != oc:
            out[name] = f"schema differs: spark={sc} oracle={oc}"
        elif sr != orr:
            out[name] = f"rows differ: spark={len(sr)} oracle={len(orr)}"
        else:
            out[name] = "ok"
    con.close()
    return out
