"""Output checks: order-insensitive result digests against references.

Query results are compared with the registry's DuckDB oracle over the
same parquet inputs, using the canonical row form of
``tools/check_correctness.py`` (columns sorted by name, values rendered
by ``canon``, rows sorted), so this check and the repository's own
correctness gate agree on what "equal" means.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_correctness import TABLES, df_to_rows  # noqa: E402


def digest(cols: list[str], rows: list[tuple]) -> str:
    """sha256 of the canonical (column-sorted, row-sorted) result."""
    names, canon_rows = df_to_rows(list(cols), [tuple(r) for r in rows])
    h = hashlib.sha256(repr(names).encode())
    for row in canon_rows:
        h.update(repr(row).encode())
    return h.hexdigest()


def frame_digest(df) -> str:
    return digest(df.columns, df.collect())


class Oracle:
    """DuckDB over the workload's parquet tables."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def digest(self, sql: str) -> str:
        rel = self.con.execute(sql)
        return digest([d[0] for d in rel.description], rel.fetchall())

    def close(self) -> None:
        self.con.close()
