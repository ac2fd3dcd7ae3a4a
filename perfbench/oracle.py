"""The result check: each workload query's output against its DuckDB oracle.

The expected answer comes from DuckDB running the query's registered oracle
SQL (graft.SparkEntry.oracleSql, which the driver records in its events)
over the benchmark's tables, never from the engine.  It is computed live
after the driver JVM has exited, outside every timed figure.

The comparison is tools/check.py's rule: columns sorted by name must match,
then the row count, then every value exactly (dtypes may differ).
"""
import os


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM '{os.path.join(data_dir, f)}'")
    return con


def compare(got, want):
    """None when the frames agree under tools/check.py's rule, else why not."""
    import pandas as pd
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"SCHEMA engine={list(got.columns)} oracle={list(want.columns)}"
    if len(got) != len(want):
        return f"ROWS engine={len(got)} oracle={len(want)}"
    try:
        pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True),
                                      check_dtype=False, check_exact=True)
    except AssertionError as e:
        lines = str(e).strip().splitlines()
        return "VALUES " + (lines[0] if lines else "differ")
    return None


class Oracle:
    def __init__(self, data_dir):
        self.data_dir = data_dir
        self._con = None

    def con(self):
        if self._con is None:
            self._con = connect(self.data_dir)
        return self._con

    def check(self, sql, result_dir):
        """None if the engine's dumped result matches the oracle, else why."""
        try:
            got = self.con().sql(f"SELECT * FROM '{result_dir}/*.parquet'").df()
        except Exception as e:  # noqa: BLE001 -- any read failure is a failed check
            return f"READERR {e}"
        try:
            want = self.con().sql(sql).df()
        except Exception as e:  # noqa: BLE001
            return f"ORACLEERR {e}"
        return compare(got, want)
