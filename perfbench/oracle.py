"""Output checks against graft's DuckDB oracle statements.

Both sides are canonicalised by the repository's oracle gate,
`tools/check_oracle.py` (`canon`: nested cells rejected, columns sorted
by name, timestamps at microsecond resolution, rows lexsorted on every
column), then reduced to an md5 of pandas' row hashes. Oracle digests
depend only on the statement and the generated tables, so they are
cached with the tables.
"""
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import TABLES, canon  # noqa: E402


def digest(df: pd.DataFrame, side: str) -> str:
    df = canon(df, side)
    h = hashlib.md5(",".join(df.columns).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return f"{len(df)}:{h.hexdigest()}"


class Oracle:
    def __init__(self, data_dir: str, cache_path: str):
        self.data_dir = data_dir
        self.cache_path = cache_path
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        self.cache = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                self.cache = json.load(f)

    def expected(self, sql: str) -> str:
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self.cache:
            self.cache[key] = digest(self.con.sql(sql).df(), "oracle")
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)
        return self.cache[key]

    def actual(self, out_dir: str) -> str:
        return digest(self.con.sql(
            f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df(), "spark")
