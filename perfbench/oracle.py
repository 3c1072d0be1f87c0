"""Output checks of the benchmark, run after the JVM has exited.

Query outputs are compared with DuckDB running each op's
`SparkEntry.oracleSql` entry over the same fixture tables, in the same
way `tools/check_oracle.py` compares them: columns sorted by name, values
canonicalised, rows compared in order. The comparison is repeated here,
not imported, so the benchmark's check cannot change with the code it
measures.
"""
import math
import os
from pathlib import Path

import duckdb
import pyarrow.dataset as ds

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Truncating AVG of l_extendedprice per l_returnflag, decimal-exact like
# `graft.functions.Exact.avgFloorLong` (and its DuckDB mirror in
# `SparkEntry.oracleSql`).
KEY_AVG_SQL = """
SELECT l_returnflag AS k,
       CAST(FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  / COUNT(l_extendedprice)) AS BIGINT) AS avg_price
FROM lineitem GROUP BY l_returnflag
"""


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def table_rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, ([tuple(canon(x) for x in row) for row in zip(*data)] if data else [])


class Oracle:
    def __init__(self, sf_dir, temp_dir):
        self.sf_dir = sf_dir
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute("SET threads = 4")
        self.con.execute("SET memory_limit = '2GB'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def compare(self, result_dir, sql):
        """None when the parquet output in `result_dir` equals DuckDB's
        answer to `sql`, else a one-line reason."""
        try:
            got = ds.dataset(result_dir).to_table()
            want = self.con.sql(sql).arrow()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            return f"error: {e}".splitlines()[0][:300]
        gc, gr = table_rows(got)
        wc, wr = table_rows(want)
        if gc != wc:
            return f"columns {gc} != {wc}"
        if gr != wr:
            diffs = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
            return f"rows {len(gr)} vs {len(wr)}; first diffs at {diffs[:3]}"
        return None

    def key_averages(self):
        """{l_returnflag: truncated AVG(l_extendedprice)}."""
        return dict(self.con.sql(KEY_AVG_SQL).fetchall())

    def fixture_bytes(self):
        """Total size of the fixture table files."""
        return sum(os.path.getsize(Path(self.sf_dir) / f"{t}.parquet") for t in TABLES)

    @staticmethod
    def block_bytes(result_dir):
        """Sum of `n_bytes` over a BlockLocations result."""
        tbl = ds.dataset(result_dir).to_table()
        return sum(tbl.column("n_bytes").to_pylist())

    @staticmethod
    def row_count(result_dir):
        return ds.dataset(result_dir).count_rows()
