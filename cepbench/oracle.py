"""Correctness gate: DuckDB oracles over the generated tables, compared with
the Spark rows the same way scripts/check_oracle.py does (column names
sorted, rows sorted, exact values; only NaN and -0.0 are normalised)."""

from __future__ import annotations

import os

import duckdb


def norm_cell(v):
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == 0.0:
            return 0.0
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def frame_key(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


class Oracle:
    """One DuckDB connection with the generated tables loaded."""

    def __init__(self, data_dir: str, tables: tuple[str, ...], threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{path}'")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()


def compare(cols, rows, ocols, orows) -> str | None:
    """None when the frames are equal, else a one-line reason."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    a, b = frame_key(cols, rows), frame_key(ocols, orows)
    if a != b:
        x, y = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: spark={x} oracle={y}"
    return None
