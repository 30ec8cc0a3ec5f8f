"""Answer check for the query workload: each answer the engine wrote as
parquet is compared with the query's oracle SQL run in DuckDB over the
same input tables.

The comparison is the repository's correctness gate: `canon` and
`table_hash` come from `tools/compare.py` (column names sorted, rows
canonicalised and sorted, then a SHA-256 over the value matrix). Oracle
hashes depend only on the input data and the SQL text, so they are cached
in a JSON file keyed by both (the data by its tables' file sizes).
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from compare import table_hash  # noqa: E402


def digest(df):
    """(sorted column names, row count, hash) of a pandas frame."""
    cols = list(df.columns)
    rows = list(df.itertuples(index=False, name=None))
    return sorted(cols), len(rows), table_hash(cols, rows)


class Oracle:
    def __init__(self, data_dir, cache_path, tmp_dir):
        self.data_dir = data_dir
        self.cache_path = cache_path
        self.cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
        self.con = duckdb.connect()
        os.makedirs(tmp_dir, exist_ok=True)
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        self.con.execute("SET threads=2")
        for p in glob.glob(f"{data_dir}/*.parquet"):
            name = os.path.basename(p).removesuffix(".parquet")
            # fixture tables are Spark output directories of part files
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
        self.data_key = self._data_key()

    def _data_key(self):
        """Table name and file sizes of the data directory: equal for a
        regenerated or rebuilt copy of the same content."""
        parts = []
        for p in sorted(glob.glob(f"{self.data_dir}/*.parquet")):
            files = glob.glob(f"{p}/*.parquet") if os.path.isdir(p) else [p]
            parts.append(os.path.basename(p) + ":" +
                         ",".join(str(s) for s in sorted(os.path.getsize(f) for f in files)))
        return "|".join(parts)

    def expected(self, sql):
        key = hashlib.sha256(f"{self.data_key}\x00{sql}".encode()).hexdigest()
        if key not in self.cache:
            cols, n, h = digest(self.con.execute(sql).df())
            self.cache[key] = {"cols": cols, "rows": n, "hash": h}
            with open(self.cache_path, "w") as f:
                json.dump(self.cache, f)
        return self.cache[key]

    def check(self, sql, answer_dir):
        """True if the answer matches the oracle, else a reason string."""
        files = glob.glob(f"{answer_dir}/*.parquet")
        if not files:
            return "no answer files"
        got_cols, got_n, got_h = digest(
            self.con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        want = self.expected(sql)
        if got_cols != want["cols"]:
            return f"columns {got_cols} != {want['cols']}"
        if got_n != want["rows"]:
            return f"rows {got_n} != {want['rows']}"
        if got_h != want["hash"]:
            return f"hash mismatch over {got_n} rows"
        return True
