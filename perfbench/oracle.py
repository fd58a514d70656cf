"""Gate output checks: each gate's Spark result against its DuckDB oracle.

The oracle SQL is the program's own (`SparkEntry.oracleSql`), run by DuckDB
over the same generated tables. The comparison follows
`tools/check_oracle.py`: columns sorted by name, rows sorted, values
compared with NaN equal to NaN and dates normalised. Oracle results are
cached per (SQL, tables) so only the first run in a checkout pays for them.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def expected(sql, data_dir, data_stamp, cache_dir):
    key = hashlib.sha256((data_stamp + "\0" + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    con = duckdb.connect()
    con.sql("SET threads=4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    frame = con.sql(sql).df()
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    frame.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return frame


def mismatch(got, exp):
    """None when the frames agree, else a one-line reason."""
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        return f"columns differ: spark={gcols} duckdb={ecols}"
    if len(got) != len(exp):
        return f"row count differs: spark={len(got)} duckdb={len(exp)}"
    g = got[gcols].sort_values(gcols).reset_index(drop=True)
    e = exp[ecols].sort_values(ecols).reset_index(drop=True)
    for c in gcols:
        if str(g[c].dtype).startswith("datetime64") or str(e[c].dtype).startswith("datetime64"):
            g[c] = pd.to_datetime(g[c]).astype("datetime64[ns]")
            e[c] = pd.to_datetime(e[c]).astype("datetime64[ns]")
        try:
            eq = (g[c].isna() & e[c].isna()) | (g[c] == e[c])
        except (TypeError, ValueError):
            eq = g[c].astype(str) == e[c].astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"col {c} row {i}: spark={g[c][i]!r} duckdb={e[c][i]!r} ({int((~eq).sum())} diffs)"
    return None


def check(gate, out_dir, sql, data_dir, data_stamp, cache_dir):
    """None when gate's written result matches its oracle, else a reason."""
    files = glob.glob(os.path.join(out_dir, "check", gate, "*.parquet"))
    if not files:
        return "no output written"
    got = duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df()
    try:
        exp = expected(sql, data_dir, data_stamp, cache_dir)
    except duckdb.Error as e:
        return f"oracle SQL error: {e}"
    return mismatch(got, exp)
