"""Output checks against DuckDB, run after the timed region.

Integer and string columns must match exactly. DOUBLE columns must match
within ``REL_TOL`` relative: the warehouse fact stores DOUBLE measures and
the two engines sum them in different orders.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

from datagen import TABLES

REL_TOL = 1e-9

#: reference view name -> warehouse table (plans.reference_kpis)
WAREHOUSE_VIEWS = {
    "dim_produto": "dim_part",
    "dim_vendedor": "dim_supplier",
    "dim_tempo": "dim_date",
    "dim_cliente": "dim_customer_geo",
    "dim_localidade": "dim_locality",
}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def fact_scan(warehouse: str) -> str:
    return (
        f"read_parquet('{warehouse}/fact_sales.parquet/**/*.parquet', hive_partitioning = true)"
    )


def register_inputs(con: duckdb.DuckDBPyConnection, inputs: str) -> None:
    """The raw input tables under their source names (registry oracles)."""
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")


def register_warehouse(con: duckdb.DuckDBPyConnection, warehouse: str, fact: str | None = None) -> None:
    """The star schema under the reference KPIs' table names; ``fact`` names
    a DuckDB relation to serve as ``fato_vendas`` instead of the warehouse
    fact files."""
    for view, table in WAREHOUSE_VIEWS.items():
        con.execute(
            f"CREATE OR REPLACE VIEW {view} AS "
            f"SELECT * FROM read_parquet('{warehouse}/{table}.parquet/*.parquet')"
        )
    src = fact or fact_scan(warehouse)
    con.execute(f"CREATE OR REPLACE VIEW fato_vendas AS SELECT * FROM {src}")


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return math.isclose(float(a), float(b), rel_tol=REL_TOL)
    return a == b


def _sort_key(row: tuple) -> tuple:
    # comparable across value types; floats rounded so engine noise in the
    # last digits cannot reorder rows
    return tuple(
        (0, round(v, 6)) if isinstance(v, float) else (1, "" if v is None else str(v))
        for v in row
    )


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Row sets equal under the column rules above (order-insensitive)."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_close(x, y) for x, y in zip(g, w)):
            return False
    return True


def query(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]


def apply_batch(con: duckdb.DuckDBPyConnection, table: str, batch: pa.Table) -> None:
    """SCD1 upsert of ``batch`` into DuckDB table ``table`` on ``id_venda``
    (the same semantics as ``VersionedTable.upsert``: batch rows win)."""
    con.register("perfbench_batch", batch)
    con.execute(
        f"CREATE OR REPLACE TABLE {table} AS "
        f"SELECT * FROM {table} WHERE id_venda NOT IN (SELECT id_venda FROM perfbench_batch) "
        f"UNION ALL BY NAME SELECT * FROM perfbench_batch"
    )
    con.unregister("perfbench_batch")
