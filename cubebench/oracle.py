"""DuckDB oracle check for the query workload: every query's result, as the
harness wrote it during set-up, must equal its oracle SQL's result over the
same generated tables (compared as sorted rows, column names sorted)."""
import glob
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _rows(tbl):
    cols = sorted(tbl.column_names)
    return sorted(map(str, zip(*[tbl.column(c).to_pylist() for c in cols])))


def compare(tables_dir, results_dir, oracles):
    """Returns {query name: None if equal else a one-line reason}."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, tables_dir, t))
    out = {}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            out[name] = "no result written"
            continue
        try:
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # the oracle itself failed
            out[name] = "oracle error: %s" % str(e).splitlines()[0]
            continue
        got = pq.read_table(files[0])
        if sorted(want.column_names) != sorted(got.column_names):
            out[name] = "columns %s != %s" % (sorted(got.column_names),
                                              sorted(want.column_names))
        elif want.num_rows != got.num_rows:
            out[name] = "rows %d != %d" % (got.num_rows, want.num_rows)
        elif _rows(want) != _rows(got):
            out[name] = "values differ"
        else:
            out[name] = None
    con.close()
    return out
