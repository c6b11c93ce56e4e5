"""Independent result checks.

Query workloads: DuckDB runs each query's oracle SQL over the same
generated parquet tables; the engine's results (written by the first
pass, which builds the stages, and by the warm cycle, which reads them
from the memo as the timed window does) and the oracle's are compared
order-insensitively, by row count and
by a hash over the rendered cells, with columns sorted by name. The
rendering follows the engine's own oracle checker (tools/check_oracle.py).

etl_daily: the Derby main table must equal the generator's
last-writer-wins table, row for row.
"""
import glob
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _digest(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted("\x1f".join(_cell(v) for v in r)
                  for r in df.astype(object).itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


def check_queries(tables_dir, results_dirs, oracle_sql, threads):
    """Query name -> (expected rows, ok, detail). ``results_dirs`` maps
    a pass's label to the directory holding one result per query; a
    query is ok when every pass's result matches the oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    tmp = os.path.join(next(iter(results_dirs.values())), "duckdb_tmp")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for name, sql in oracle_sql.items():
        try:
            exp_rows, exp_hash = _digest(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001 - any oracle failure is reported
            out[name] = (None, False, f"oracle error: {e}")
            continue
        bad = []
        for label, results_dir in results_dirs.items():
            if not glob.glob(os.path.join(results_dir, name, "*.parquet")):
                bad.append(f"{label}: no engine result")
                continue
            got_rows, got_hash = _digest(
                con.execute(f"SELECT * FROM '{results_dir}/{name}/*.parquet'").df())
            if (got_rows, got_hash) != (exp_rows, exp_hash):
                bad.append(f"{label}: rows {got_rows} vs {exp_rows}, hash differs")
        out[name] = (exp_rows, not bad, "; ".join(bad))
    con.close()
    return out


def check_table(got_rows, expected):
    """Links whose Derby row differs from (or is missing in) the expected
    table, plus links Derby holds that were never expected."""
    got = {r[0]: list(r) for r in got_rows}
    bad = [link for link, row in expected.items() if got.get(link) != list(row)]
    bad += [link for link in got if link not in expected]
    return bad
