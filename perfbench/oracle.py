"""Result normalisation, hashing and the DuckDB correctness twin.

`norm_cell` and `table_hash` are the engine's oracle-gate rules
(``tools/check_oracle.py``), kept here verbatim so a later change to the
engine's tooling cannot change what the benchmark checks.
"""

from __future__ import annotations

import hashlib
from pathlib import Path


def norm_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB over the same parquet directory; one expected hash per op,
    computed once and outside any timed region."""

    def __init__(self, in_dir: str, sql: dict[str, str]):
        import duckdb
        self.con = duckdb.connect()
        for t in sorted(Path(in_dir).glob("*.parquet")):
            self.con.execute(
                f"create view {t.stem} as select * from '{t}'")
        self.sql = sql
        self._hash: dict[str, tuple[str, int]] = {}

    def expected(self, op: str) -> tuple[str, int]:
        if op not in self._hash:
            rel = self.con.sql(self.sql[op])
            rows = rel.fetchall()
            self._hash[op] = (table_hash(list(rel.columns), rows), len(rows))
        return self._hash[op]

    def close(self) -> None:
        self.con.close()
