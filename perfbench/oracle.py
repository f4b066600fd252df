"""Result check: each workload query against its DuckDB ``oracle_sql()``.

Rows are compared as the order-insensitive multiset of canonical values that
``tools/verify_queries.py`` defines, so the benchmark and the repository's
oracle diff agree on what "same result" means.
"""

from __future__ import annotations

import os

import duckdb

from tools.verify_queries import TABLES, row_multiset


class Oracle:
    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def compare(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """``None`` when DuckDB returns the same rows; else what differs."""
        res = self.con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if len(rows) != len(drows):
            return f"rowcount spark={len(rows)} duckdb={len(drows)}"
        if sorted(cols) != sorted(dcols):
            return f"columns spark={sorted(cols)} duckdb={sorted(dcols)}"
        sm, dm = row_multiset(cols, rows), row_multiset(dcols, drows)
        if sm != dm:
            return f"values spark-only={list((sm - dm).items())[:2]} duckdb-only={list((dm - sm).items())[:2]}"
        return None

    def close(self) -> None:
        self.con.close()
