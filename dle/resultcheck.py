"""The result check: one engine query against its DuckDB oracle twin.

Both sides are compared on row count, sorted column names, column types
and an order-insensitive value hash. Tier-1
(`tests/test_queries_smoke.py`) and `tools/check_oracle.py` run this
check, and the golden pins in `tests/golden/` are `table_hash` values.

`norm_cell` and `table_hash` are byte-identical to the copies in
`perfbench/oracle.py`; `tests/test_resultcheck.py` holds them equal.
DuckDB is imported only by `duck_views`, so the engine does not depend
on it.
"""

from __future__ import annotations

import hashlib

from .sqlgen import TABLES


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


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


_DUCK_CANON = {
    "BIGINT": "bigint", "INTEGER": "int", "SMALLINT": "int",
    "DOUBLE": "double", "FLOAT": "float", "VARCHAR": "string",
    "BLOB": "binary", "BOOLEAN": "boolean", "HUGEINT": "hugeint",
    "DECIMAL": "decimal", "TIMESTAMP": "timestamp", "DATE": "date",
}


def _canon_duck(t: str) -> str:
    return _DUCK_CANON.get(t.split("(")[0].upper(), t.lower())


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per input table of `sf_dir`."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    return con


def compare(sdf_cols, srows, sdf_schema, duck_rel) -> list[str]:
    """Problems found between collected Spark rows and a DuckDB relation;
    empty when they agree. The value hash is compared only when rows,
    columns and types agree, and a hash mismatch lists up to three
    normalized rows found on one side only."""
    dcols = list(duck_rel.columns)
    dtypes = [str(t) for t in duck_rel.types]
    drows = duck_rel.fetchall()
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rows {len(srows)} != {len(drows)}")
    if sorted(sdf_cols) != sorted(dcols):
        problems.append(f"cols {sorted(sdf_cols)} != {sorted(dcols)}")
    stypes = {f.name: f.dataType.simpleString() for f in sdf_schema}
    tm = [f"{c}: spark={stypes[c]} duckdb={_canon_duck(t)}"
          for c, t in zip(dcols, dtypes)
          if c in stypes and _canon_duck(t) != stypes[c]]
    if tm:
        problems.append(f"type mismatch: {tm}")
    if problems or table_hash(sdf_cols, srows) == table_hash(dcols, drows):
        return problems
    problems.append("value hash mismatch")
    so = sorted(range(len(sdf_cols)), key=lambda i: sdf_cols[i])
    do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sset = {tuple(norm_cell(r[i]) for i in so) for r in srows}
    dset = {tuple(norm_cell(r[i]) for i in do) for r in drows}
    ex_s = list(sset - dset)[:3]
    ex_d = list(dset - sset)[:3]
    if ex_s:
        problems.append(f"spark-only: {ex_s}")
    if ex_d:
        problems.append(f"duck-only: {ex_d}")
    return problems
