"""Result check for the registry workloads: each query's written result
must equal its oracle SQL run in DuckDB over the same generated tables,
compared as `tools/check_oracle.py --ordered` compares them (columns by
name, rows in emitted order, exact values)."""
import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    return df.reindex(sorted(df.columns), axis=1)


class Oracle:
    def __init__(self, tables_dir, sqls):
        self.con = duckdb.connect()
        for t in TABLES:
            # Spark writes each table as a directory of part files
            path = os.path.join(tables_dir, f"{t}.parquet")
            if os.path.isdir(path):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(path, '*.parquet')}'")
        self.sqls = sqls
        self.want = {}

    def check(self, name, out_dir):
        """None when the result matches, else a one-line reason."""
        if name not in self.sqls:
            return f"{name}: no oracle SQL"
        if not glob.glob(os.path.join(out_dir, "*.parquet")):
            return f"{name}: no result written"
        if name not in self.want:
            self.want[name] = _canon(self.con.sql(self.sqls[name]).df())
        want = self.want[name]
        got = _canon(self.con.sql(
            f"SELECT * FROM '{os.path.join(out_dir, '*.parquet')}'").df())
        if list(got.columns) != list(want.columns):
            return f"{name}: columns {list(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return f"{name}: rows {len(got)} != {len(want)}"
        if not got.equals(want):
            for c in got.columns:
                neq = ~(got[c].eq(want[c]) | (got[c].isna() & want[c].isna()))
                if neq.any():
                    i = neq.idxmax()
                    return (f"{name}: column {c} row {i}: "
                            f"{got[c][i]!r} != {want[c][i]!r}")
            return f"{name}: frames differ in dtype"
        return None
