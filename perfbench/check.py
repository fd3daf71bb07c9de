"""Output checks, run outside every timed region.

Batch results are compared to each query's DuckDB oracle on the same
generated parquet: row count, column names, and the order-insensitive
value hash of ``tools/compare_oracle.canon``. Spark results arrive as
pandas frames (the timed path is ``toPandas``), so they are first turned
back into the Python values ``collect()`` would give. pandas cannot
tell a null double from NaN; the oracle side's nulls in those columns
are mapped to NaN too, so both sides lose the same distinction.
"""

from __future__ import annotations

import duckdb

from perfbench.datagen import TABLES
from tools.compare_oracle import canon


def duck_conn(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _is_na(v) -> bool:
    if v is None or type(v).__name__ in ("NAType", "NaTType"):
        return True
    return isinstance(v, float) and v != v


def _py(v, kind: str):
    if _is_na(v):
        return float("nan") if kind == "float" else None
    if kind == "float":
        return float(v)
    if kind == "int":
        return int(v)
    if kind == "bool":
        return bool(v)
    if kind == "timestamp":
        return v.to_pydatetime() if hasattr(v, "to_pydatetime") else v
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        return v.item()
    return v


def _kind(spark_type) -> str:
    name = type(spark_type).__name__
    if name in ("DoubleType", "FloatType"):
        return "float"
    if name in ("ByteType", "ShortType", "IntegerType", "LongType"):
        return "int"
    if name == "BooleanType":
        return "bool"
    if name.startswith("Timestamp"):
        return "timestamp"
    return "other"


def spark_rows(result, schema) -> list[tuple]:
    """Rows of a ``toPandas()`` frame (or of a ``collect()`` list) as
    the Python values ``collect()`` yields."""
    kinds = [_kind(f.dataType) for f in schema.fields]
    if isinstance(result, list):
        return [tuple(float("nan") if (k == "float" and v is None) else v for v, k in zip(r, kinds)) for r in result]
    cols = [result.iloc[:, i].tolist() for i in range(result.shape[1])]
    return [tuple(_py(v, k) for v, k in zip(vals, kinds)) for vals in zip(*cols)] if cols else []


def oracle_rows(con, sql: str, float_cols: set[str]) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    flo = [c in float_cols for c in cols]
    rows = [tuple(float("nan") if (f and v is None) else v for v, f in zip(r, flo)) for r in res.fetchall()]
    return cols, rows


def compare(s_cols: list[str], s_rows: list[tuple], d_cols: list[str], d_rows: list[tuple]) -> str | None:
    """None when the results agree, else the first disagreement."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns spark={sorted(s_cols)} oracle={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"rows spark={len(s_rows)} oracle={len(d_rows)}"
    if canon(s_rows, s_cols) != canon(d_rows, d_cols):
        return "value hash differs"
    return None


def check_query(con, spec, result, schema) -> str | None:
    """Check one query's materialized result against its oracle."""
    float_cols = {f.name for f in schema.fields if _kind(f.dataType) == "float"}
    rows = spark_rows(result, schema)
    try:
        d_cols, d_rows = oracle_rows(con, spec.oracle, float_cols)
    except duckdb.Error as e:
        return f"oracle error: {str(e).splitlines()[0]}"
    return compare([f.name for f in schema.fields], rows, d_cols, d_rows)

