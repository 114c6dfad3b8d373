"""Result checks, run outside every timed region.

Registry queries are compared with their registered DuckDB oracle through
`hiveberg_spark.testing.compare`. Oracle results are computed once per
fixture content and oracle text, and kept in a cache directory inside the
checkout, so later runs only pay the comparison.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import duckdb
import pandas as pd


class _Collected:
    """Adapter: `testing.compare` takes anything with a `toPandas()`."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - pyspark's name
        return self._pdf


class Oracles:
    def __init__(self, sf_dir: str, digest: str, cache_dir: str, tmp_dir: str):
        from hiveberg_spark import registry
        from hiveberg_spark.testing import duckdb_connect

        self._registry = registry
        self._sf_dir = sf_dir
        self._digest = digest
        self._cache_dir = cache_dir
        self._tmp_dir = tmp_dir
        self._connect = duckdb_connect
        os.makedirs(cache_dir, exist_ok=True)

    def connection(self) -> duckdb.DuckDBPyConnection:
        """A DuckDB connection over the fixtures whose spill files stay in
        the run's own directory and are capped in size."""
        con = self._connect(self._sf_dir)
        con.execute("SET enable_progress_bar = false")
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{self._tmp_dir}'")
        con.execute("SET max_temp_directory_size = '2GB'")
        return con

    def scalar(self, sql: str):
        con = self.connection()
        try:
            return con.execute(sql).fetchone()
        finally:
            con.close()

    def expected(self, name: str) -> pd.DataFrame:
        sql = self._registry.ORACLES[name]
        key = hashlib.sha256(
            f"{self._digest}|{duckdb.__version__}|{name}|{sql}".encode()
        ).hexdigest()[:24]
        path = os.path.join(self._cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = self.connection()
        try:
            df = _run_oracle(con, name, sql)
        finally:
            con.close()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(df, f)
        os.replace(tmp, path)
        return df

    def compare(self, name: str, pdf: pd.DataFrame) -> list[str]:
        from hiveberg_spark.testing import compare

        return compare(_Collected(pdf), self.expected(name))


def _run_oracle(con, name: str, sql: str) -> pd.DataFrame:
    if name == "graph_triangle_count":
        # The registered oracle inlines its k-NN edge CTE into each of the
        # three triangle-join legs, and DuckDB re-evaluates it per leg: at
        # 500 vectors that exhausts a 2 GB memory limit. Materialising the
        # edge list once gives the same answer from the same SQL text.
        head, sep, tail = sql.partition(", und AS (")
        if sep:
            con.execute(f"CREATE TEMP TABLE topk AS {head} SELECT * FROM topk")
            return con.execute(f"WITH und AS ({tail}").df()
    return con.execute(sql).df()
