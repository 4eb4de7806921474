"""Compares each DAG query's output with its DuckDB oracle, by the rules
of `tools/check_correctness.py`: same row count, same column names, and
equal values column by column in emitted row order (NULL equals NULL)."""
import glob
import os

import duckdb


def compare(con, got_sql, want_sql):
    """None when the two result sets match, else a short reason."""
    got = con.execute(got_sql).fetchdf()
    want = con.execute(want_sql).fetchdf()
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} != oracle {sorted(want.columns)}"
    a = got[cols].reset_index(drop=True)
    b = want[cols].reset_index(drop=True)
    for c in cols:
        eq = (a[c].isna() & b[c].isna()) | (
            a[c].astype("object") == b[c].astype("object"))
        n = int((~eq).sum())
        if n:
            i = (~eq)[~eq].index[0]
            return f"{c}: {n} values differ, e.g. {a[c][i]!r} vs {b[c][i]!r}"
    return None


def check_queries(data_dir, check_dir, oracle_sql, names):
    """Query name -> mismatch reason (None when the output matches)."""
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        table = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{f}'")
    out = {}
    for name in names:
        files = os.path.join(check_dir, name, "*.parquet")
        if name not in oracle_sql:
            out[name] = "no oracle"
        elif not glob.glob(files):
            out[name] = "no output"
        else:
            try:
                out[name] = compare(con, f"SELECT * FROM '{files}'",
                                    oracle_sql[name])
            except Exception as e:  # a failing oracle is a failed check
                out[name] = f"{type(e).__name__}: {str(e)[:200]}"
    con.close()
    return out
