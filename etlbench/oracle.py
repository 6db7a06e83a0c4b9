"""DuckDB oracle for the benchmark's sampled days.

Each case directory holds `raw/` (the raw bars a Spark path consumed),
`out/` (the feature rows it produced), and `oracle_etl.sql` then
`oracle.sql`: the same day's pipeline written with the repository's own
SQL stage mirrors over a table `raw`. A case passes when both sides have
the same row count and the same hash of their rows with values rounded
to 6 dp.
"""
import hashlib
import os

import duckdb

COLUMNS = ["window_start", "close_price", "rocp_1", "rocp_2", "rocp_3", "rocp_4",
           "rocp_5", "rsi", "mfi", "ultosc", "cmo", "aroonosc", "macd_hist", "ppo",
           "sok", "sok_hist", "adx", "adx_hist", "ticker"]


def _canonical(con, relation):
    cols = ", ".join(c if c in ("ticker", "window_start") else f"(round({c}, 6) + 0.0) AS {c}"
                     for c in COLUMNS)
    rows = con.execute(f"SELECT {cols} FROM {relation} ORDER BY ticker, window_start").fetchall()
    digest = hashlib.sha256("\n".join(repr(r) for r in rows).encode()).hexdigest()
    return len(rows), digest


def check_case(case_dir):
    """Returns (passed, message) for one oracle case directory."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{case_dir}/raw/*.parquet')")
        with open(f"{case_dir}/oracle_etl.sql") as f:
            con.execute(f.read())
        with open(f"{case_dir}/oracle.sql") as f:
            con.execute(f"CREATE VIEW oracle AS {f.read()}")
        want = _canonical(con, "oracle")
        got = _canonical(con, f"read_parquet('{case_dir}/out/*.parquet')")
    finally:
        con.close()
    if want == got:
        return True, f"{want[0]} rows match"
    return False, f"spark {got[0]} rows {got[1][:12]} != oracle {want[0]} rows {want[1][:12]}"
