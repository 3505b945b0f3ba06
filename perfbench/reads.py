"""The analyst read mix over the star schema, and its DuckDB oracle.

Spark answers through the program's public read functions
(``demo.qa_checks``, ``plans.reporting``) plus three star-join aggregations
defined here. DuckDB answers the same questions from the same parquet files
(live versions only, found through each table's manifest).
"""

from __future__ import annotations

import math
from datetime import date

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ecommerce_full_etl_process_spark import demo
from ecommerce_full_etl_process_spark.plans import pipeline, reporting
from ecommerce_full_etl_process_spark.sources.io import TableStore

from .storage import WAREHOUSE_TABLES, current_dir, parquet_files

TOP_K = 10


def revenue_by_category_month(store: TableStore) -> list[tuple]:
    ft = store.read(pipeline.FACT_TRANSACTIONS)
    dp = store.read(pipeline.DIM_PRODUCT).select("product_sk", "category")
    dd = store.read(pipeline.DIM_DATE).select("date_id", "year", "month")
    rows = (
        ft.join(dp, "product_sk").join(dd, "date_id")
        .groupBy("category", "year", "month")
        .agg(F.sum("total").alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def top_spenders(store: TableStore) -> list[tuple]:
    ft = store.read(pipeline.FACT_TRANSACTIONS).where(F.col("status") == "success")
    du = store.read(pipeline.DIM_USER).select("user_sk", "user_id")
    rows = (
        ft.join(du, "user_sk").groupBy("user_id")
        .agg(F.sum("total").alias("spend"))
        .orderBy(F.desc("spend"), "user_id")
        .limit(TOP_K)
        .collect()
    )
    return [tuple(r) for r in rows]


def point_in_time_price(store: TableStore, as_of: date) -> list[tuple]:
    dp = store.read(pipeline.DIM_PRODUCT)
    d = F.lit(as_of).cast("date")
    rows = (
        dp.where((F.col("start_date") <= d)
                 & (F.col("end_date").isNull() | (F.col("end_date") >= d)))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_products"), F.sum("price").alias("price_sum"))
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def query_mix(store: TableStore, as_of: date) -> list[tuple[str, object]]:
    """(span name, zero-argument query returning a comparable answer)."""
    return [
        ("demo.qa_checks", lambda: sorted(demo.qa_checks(store).items())),
        ("reporting.error_breakdown",
         lambda: sorted(tuple(r) for r in reporting.error_breakdown(store).collect())),
        ("reporting.warehouse_row_counts",
         lambda: sorted(tuple(r) for r in reporting.warehouse_row_counts(store).collect())),
        ("reporting.orphan_checks",
         lambda: sorted(tuple(r) for r in reporting.orphan_checks(store).collect())),
        ("reads.revenue_by_category_month", lambda: revenue_by_category_month(store)),
        ("reads.top_spenders", lambda: top_spenders(store)),
        ("reads.point_in_time_price", lambda: point_in_time_price(store, as_of)),
    ]


# -- DuckDB oracle ------------------------------------------------------------

_QA_SQL = {
    "empty_or_null_dim_user_names":
        "SELECT count(*) FROM dim_user WHERE name IS NULL OR trim(name) = ''",
    "invalid_dim_user_emails":
        "SELECT count(*) FROM dim_user WHERE NOT (email LIKE '%@%.%')",
    "negative_dim_product_prices": "SELECT count(*) FROM dim_product WHERE price < 0",
    "dim_product_price_ge_10000": "SELECT count(*) FROM dim_product WHERE price >= 10000",
    "fact_quantity_le_0": "SELECT count(*) FROM fact_transactions WHERE quantity <= 0",
    "fact_invalid_status":
        "SELECT count(*) FROM fact_transactions WHERE NOT status IN ('success', 'failed')",
    "fact_invalid_payment_type":
        "SELECT count(*) FROM fact_transactions WHERE NOT payment_type IN "
        "('visa', 'mastercard', 'wire transfer', 'other')",
    "fact_orphan_user_sk":
        "SELECT count(*) FROM fact_transactions f WHERE NOT EXISTS "
        "(SELECT 1 FROM dim_user d WHERE d.user_sk = f.user_sk)",
    "fact_orphan_product_sk":
        "SELECT count(*) FROM fact_transactions f WHERE NOT EXISTS "
        "(SELECT 1 FROM dim_product d WHERE d.product_sk = f.product_sk)",
}


def _register(con, root: str) -> None:
    for table in WAREHOUSE_TABLES:
        # empty bootstrap files carry no rows and, for the partitioned fact
        # table, sit outside the date_id= directories
        files = [f for f in parquet_files(current_dir(root, table))
                 if pq.read_metadata(f).num_rows > 0]
        cols = ", ".join(f.name for f in WAREHOUSE_TABLES[table].fields)
        hive = "true" if table == pipeline.FACT_TRANSACTIONS else "false"
        con.execute(
            f"CREATE OR REPLACE VIEW {table} AS SELECT {cols} FROM read_parquet("
            f"{files!r}, hive_partitioning={hive}, union_by_name=true)"
        )


def oracle_answers(root: str, as_of: date, scratch: str) -> dict[str, object]:
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute(f"SET temp_directory = '{scratch}'")
        _register(con, root)
        one = lambda sql: con.execute(sql).fetchall()  # noqa: E731
        qa = sorted((k, one(sql)[0][0]) for k, sql in _QA_SQL.items())
        return {
            "demo.qa_checks": qa,
            "reporting.error_breakdown": sorted(one(
                "SELECT error_type, severity, count(*) FROM etl_error_log "
                "GROUP BY ALL")),
            "reporting.warehouse_row_counts": sorted(
                (t, one(f"SELECT count(*) FROM {t}")[0][0]) for t in WAREHOUSE_TABLES
            ),
            "reporting.orphan_checks": sorted(
                (k, n) for k, n in qa if k in ("fact_orphan_user_sk", "fact_orphan_product_sk")
            ),
            "reads.revenue_by_category_month": sorted(one(
                "SELECT p.category, d.year, d.month, sum(f.total), count(*) "
                "FROM fact_transactions f JOIN dim_product p USING (product_sk) "
                "JOIN dim_date d ON d.date_id = f.date_id GROUP BY ALL")),
            "reads.top_spenders": one(
                "SELECT u.user_id, sum(f.total) AS spend FROM fact_transactions f "
                "JOIN dim_user u USING (user_sk) WHERE f.status = 'success' "
                f"GROUP BY ALL ORDER BY spend DESC, u.user_id LIMIT {TOP_K}"),
            "reads.point_in_time_price": sorted(one(
                "SELECT category, count(*), sum(price) FROM dim_product "
                f"WHERE start_date <= DATE '{as_of.isoformat()}' AND "
                f"(end_date IS NULL OR end_date >= DATE '{as_of.isoformat()}') "
                "GROUP BY ALL")),
        }
    finally:
        con.close()


def same_answer(got, want) -> bool:
    """Equal, with floating-point sums compared to a relative 1e-9."""
    if isinstance(got, float) or isinstance(want, float):
        return (got is not None and want is not None
                and math.isclose(float(got), float(want), rel_tol=1e-9, abs_tol=1e-6))
    if isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        return len(got) == len(want) and all(same_answer(a, b) for a, b in zip(got, want))
    return got == want
