"""Output check of the query mix: every written query result must equal its
DuckDB oracle (``graft.SparkEntry.oracleSql``) over the same sf tables,
after the canonicalization the repo's oracle gate uses: columns sorted by
name, values normalized to strings (floats to 6 decimals), rows sorted.
"""
import glob
import math
import os

SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]


def norm(v):
    import pandas as pd
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "item"):
        v = v.item()
    return str(v)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort()
    return rows


class OracleChecker:
    def __init__(self, sf_dir, oracle_sql):
        import duckdb
        self.con = duckdb.connect()
        for t in SF_TABLES:
            path = os.path.join(sf_dir, t + ".parquet")
            if os.path.exists(path):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.sql = oracle_sql
        self.expected = {}

    def _oracle(self, name):
        if name not in self.expected:
            df = self.con.execute(self.sql[name]).df()
            self.expected[name] = (sorted(c.lower() for c in df.columns), canon(df))
        return self.expected[name]

    def check(self, name, out_dir):
        """None when the output at `out_dir` equals the oracle, else why not."""
        files = glob.glob(os.path.join(out_dir, "*.parquet"))
        if not files:
            return "no output"
        df = self.con.execute(
            f"SELECT * FROM read_parquet('{os.path.join(out_dir, '*.parquet')}')").df()
        cols, rows = self._oracle(name)
        got = canon(df)
        if len(got) != len(rows):
            return f"row count: spark={len(got)} oracle={len(rows)}"
        if sorted(c.lower() for c in df.columns) != cols:
            return f"schema: spark={sorted(df.columns)} oracle={cols}"
        if got != rows:
            i = next(i for i, (x, y) in enumerate(zip(got, rows)) if x != y)
            return f"value mismatch at sorted row {i}"
        return None
