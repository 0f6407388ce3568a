"""Output checks: every op's result against the registry's DuckDB oracle.

Values are canonicalised and hashed with the correctness gate's rules (the
same ``canon``/``vhash`` as ``tools/driver_sim.py``): columns sorted by name,
rows sorted, floats by ``repr``, NULL distinct from NaN, and no DECIMAL or
list value may reach a hashed result.
"""

from __future__ import annotations

import decimal
import hashlib
import math


class NonScalar(Exception):
    """A DECIMAL or list value reached a hashed result."""


def canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, decimal.Decimal):
        raise NonScalar(f"decimal value {v}")
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if hasattr(v, "isoformat"):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple, dict)):
        raise NonScalar(f"non-scalar value of type {type(v).__name__}")
    return f"s:{v}"


def vhash(cols: list[str], rows: list[tuple]) -> str:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in idx) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def arrow_rows(tbl) -> tuple[list[str], list[tuple]]:
    return tbl.column_names, [tuple(d.values()) for d in tbl.to_pylist()]


def matches(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> bool:
    """Same column names, row count and value hash."""
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if sorted(g_cols) != sorted(w_cols) or len(g_rows) != len(w_rows):
        return False
    try:
        return vhash(g_cols, g_rows) == vhash(w_cols, w_rows)
    except NonScalar:
        return False


def oracle_connection(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def failed_executions(
    executions: dict[str, int], ok: dict[str, bool], raised: dict[str, int]
) -> int:
    """Executions that count as failed, each at most once: every execution
    of an op whose checked output was wrong or missing (the timed executions
    ran the same plan on the same data), and the executions that raised of
    an op whose check passed."""
    return sum(
        raised.get(op, 0) if ok.get(op, False) else n for op, n in executions.items()
    )
