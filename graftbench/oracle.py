"""DuckDB oracle check of board outputs, compared the way the repository's
own correctness check does it: sorted column names, object columns as
strings, rows sorted, exact frame equality."""

import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(data_dir, out_dir, oracle_sql, spill_dir):
    """{query: error message or None} for every query in `oracle_sql`."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    os.makedirs(spill_dir, exist_ok=True)
    con.execute("SET temp_directory='%s'" % spill_dir)
    for t in TABLES:
        path = os.path.join(data_dir, "%s.parquet" % t)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
    result = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            result[name] = "no parquet written"
            continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            exp = canon(con.execute(sql).df())
        except Exception as e:  # an oracle or read failure fails the query
            result[name] = "oracle error: %s" % str(e)[:300]
            continue
        if list(got.columns) != list(exp.columns):
            result[name] = "columns %s != %s" % (list(got.columns), list(exp.columns))
        elif len(got) != len(exp):
            result[name] = "rows %d != %d" % (len(got), len(exp))
        else:
            try:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
                result[name] = None
            except AssertionError as e:
                result[name] = "value mismatch: %s" % str(e)[:300]
    con.close()
    return result
