"""Result checks: each op type against its DuckDB oracle once per run, and
every timed op against the verified result by row count and an
order-insensitive hash.

The oracle comparison uses ``tools/check.py``'s normalisation and value
rules, so the benchmark and the repository's correctness harness agree on
what "equal" means.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import re
import sys

import pandas as pd


def load_tool(root: str, name: str):
    """Import ``tools/<name>.py`` of the checkout at ``root`` (not a package).

    A tool may put a fixed repository path on ``sys.path`` for its own use;
    ``sys.path`` is restored afterwards, so the package the benchmark imports
    is always the one in the checkout under test.
    """
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(f"_perfbench_{name}", os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def result_hash(table) -> str:
    """Row count, column names and values of an Arrow table, in any row order.

    Each row hashes to 64 bits and the row hashes are summed, so equal
    multisets of rows give equal hashes without sorting.
    """
    df = table.to_pandas()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(repr)
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype="uint64")
    total = int(rows.sum(dtype="uint64"))  # wraps modulo 2**64
    h = hashlib.sha256(f"{len(df)}|{','.join(df.columns)}|{total}".encode())
    return h.hexdigest()


def tables_read(oracle_sql: str, tables: list[str]) -> list[str]:
    """The input tables an op reads: those its oracle names as whole words."""
    return sorted(t for t in tables if re.search(rf"\b{t}\b", oracle_sql, re.I))


def connect_oracle(check, inputs: str, spill_dir: str):
    """A DuckDB connection over the generated tables, bounded to a small footprint."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


def compare_to_oracle(check, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> tuple[bool, str]:
    """(ok, detail) with ``tools/check.py``'s rules: row count, columns, values."""
    if len(spark_df) != len(oracle_df):
        return False, f"rowcount {len(spark_df)} vs oracle {len(oracle_df)}"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return False, f"columns {sorted(spark_df.columns)} vs oracle {sorted(oracle_df.columns)}"
    exact, tolerant, diff = check.values_equal(check.normalize(spark_df), check.normalize(oracle_df))
    if not tolerant:
        return False, diff
    return True, "exact" if exact else "float-tolerant"
