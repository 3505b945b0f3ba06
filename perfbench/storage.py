"""Storage-layer counts read from outside the program: the table manifests
and parquet footers on disk, never through Spark."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from ecommerce_full_etl_process_spark import schemas

WAREHOUSE_TABLES = {
    "dim_user": schemas.DIM_USER,
    "dim_product": schemas.DIM_PRODUCT,
    "dim_date": schemas.DIM_DATE,
    "fact_transactions": schemas.FACT_TRANSACTIONS,
    "fact_stock_history": schemas.FACT_STOCK_HISTORY,
    "etl_run_log": schemas.ETL_RUN_LOG,
    "etl_error_log": schemas.ETL_ERROR_LOG,
}

# the on-disk (arrow) type each schemas.py type should be written as
_EXPECTED = {
    "LongType": lambda t: pa.types.is_int64(t),
    "IntegerType": lambda t: pa.types.is_int32(t),
    "DoubleType": lambda t: pa.types.is_float64(t),
    "StringType": lambda t: pa.types.is_string(t) or pa.types.is_large_string(t),
    "DateType": lambda t: pa.types.is_date32(t),
    "BooleanType": lambda t: pa.types.is_boolean(t),
    "TimestampType": lambda t: pa.types.is_timestamp(t),
}


def current_dir(root: str, table: str) -> str:
    """The live version directory named by the table's manifest."""
    with open(os.path.join(root, table, "_manifest.json")) as f:
        version = int(json.load(f)["version"])
    return os.path.join(root, table, f"v={version}")


def parquet_files(path: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(path):
        out += [os.path.join(dirpath, n) for n in names
                if n.endswith(".parquet") and not n.startswith(".")]
    return sorted(out)


def tree_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (all versions, checksums too)."""
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total


def table_stats(root: str, tables=tuple(WAREHOUSE_TABLES)) -> dict[str, dict]:
    """Per live table: parquet file count, bytes, footer row count, and the
    columns whose on-disk type differs from ``schemas.py`` in any file."""
    out = {}
    for table in tables:
        schema = WAREHOUSE_TABLES[table]
        files = parquet_files(current_dir(root, table))
        rows, nbytes, drift = 0, 0, set()
        for f in files:
            meta = pq.read_metadata(f)
            rows += meta.num_rows
            nbytes += os.path.getsize(f)
            disk = meta.schema.to_arrow_schema()
            for field in schema.fields:
                idx = disk.get_field_index(field.name)
                if idx < 0:
                    continue  # a hive partition column lives in the path
                if not _EXPECTED[type(field.dataType).__name__](disk.field(idx).type):
                    drift.add(field.name)
        out[table] = {"files": len(files), "bytes": nbytes, "rows": rows,
                      "drift": sorted(drift)}
    return out
