"""Deep-history warehouse seeding through the program's own writers.

The warehouse looks as if the pipeline had run for ``History.days`` days
before the benchmark's first timed day: SCD2 dims with closed versions, a
``date_id``-partitioned fact table with one file per date partition (the
layout small daily appends leave), stock history keyed by each product's current
surrogate key, and an error log written by ``audit.append_errors``.

Formats the program owns are written by the program: facts and dims with
``TableStore.append`` / ``overwrite`` typed by ``schemas.py``, the calendar
with ``dims.build_dim_date``, audit rows with ``audit.start_run`` /
``append_errors`` / ``finish_run``. Row values are fixed by the seed: numpy
draws for the dims and the last day, and for the bulk fact history (too big
to ship from Python cheaply) Spark expressions hashing each row id with the
seed. The star tables are created by their first write, not by
``pipeline.bootstrap_warehouse``: that saves seven cold Spark jobs of set-up
and leaves out only the empty bootstrap file a first pipeline run writes.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime, time, timedelta, timezone

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ecommerce_full_etl_process_spark import schemas
from ecommerce_full_etl_process_spark.operators.dims import build_dim_date
from ecommerce_full_etl_process_spark.plans import audit, pipeline
from ecommerce_full_etl_process_spark.sources.io import TableStore

from .gen import TX_ID_STRIDE, DayInput, World

# error-log history mix: the rule outcomes a day of dirty input produces
_ERROR_MIX = (
    ("user", "invalid_user", "error"),
    ("product", "invalid_product", "error"),
    ("transaction", "orphan_user", "error"),
    ("transaction", "qty_zero", "error"),
    ("transaction", "invalid_status", "error"),
    ("transaction", "bad_date_format", "error"),
    ("transaction", "duplicate_tx_id", "warning"),
    ("transaction", "price_mismatch", "warning"),
)


@dataclass(frozen=True)
class History:
    days: int
    n_facts: int
    n_error_rows: int
    user_change_rate: float = 0.3
    product_change_rate: float = 0.4


def _ts(d: date) -> datetime:
    return datetime.combine(d, time(2, 0))


def _frame(spark: SparkSession, columns: dict, schema):
    table = pa.table(
        {f.name: _arrow(columns[f.name]).cast(_ARROW[type(f.dataType).__name__])
         for f in schema.fields}
    )
    return spark.createDataFrame(table, schema=schema)


def _arrow(values) -> pa.Array:
    return values if isinstance(values, pa.Array) else pa.array(values)


def _open_ended(end, closed, n_new):
    """end_date of the first versions (NULL where still current), then
    NULL for the ``n_new`` second versions."""
    first = pa.array(end.astype("datetime64[D]"), mask=~closed)
    return pa.concat_arrays([first, pa.nulls(n_new, pa.date32())])


_ARROW = {
    "LongType": pa.int64(),
    "IntegerType": pa.int32(),
    "DoubleType": pa.float64(),
    "StringType": pa.string(),
    "DateType": pa.date32(),
    "BooleanType": pa.bool_(),
    "TimestampType": pa.timestamp("us", tz="UTC"),
}


def _history_facts(spark: SparkSession, seed: int, n: int, days: int, start: date,
                   user_keys, n_users: int, product_keys, n_products: int):
    """``n`` facts spread evenly over history days ``0 .. days-1``, each
    line's user and product drawn by hashing its id with the seed, keyed
    by the surrogate key (and priced) as of its day: a changed entity's new
    version from its change day on. Transaction ids are
    ``(day + 1) * TX_ID_STRIDE + id + 1``, inside the day's id band."""
    if n >= TX_ID_STRIDE:
        raise ValueError(f"at most {TX_ID_STRIDE - 1} history facts")

    def draw(salt: int, k: int):
        return F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))) % k

    day = (F.col("id") * days / n).cast("int")
    late = lambda change: day >= F.col(change)  # noqa: E731
    qty = (draw(3, 5) + 1).cast("int")
    payment = F.array(*[F.lit(x) for x in ("visa", "mastercard", "wire transfer", "other")])
    epoch = int(datetime.combine(start, time(2, 0), tzinfo=timezone.utc).timestamp())
    lines = spark.range(n).select(
        "id", day.alias("day"), draw(1, n_users).alias("u"),
        draw(2, n_products).alias("p"), qty.alias("quantity"),
        F.element_at(payment, (draw(4, 4) + 1).cast("int")).alias("payment_type"),
        F.when(draw(5, 100) < 85, "success").otherwise("failed").alias("status"),
    )
    day_date = F.date_add(F.lit(start), F.col("day"))
    return (
        lines.join(F.broadcast(user_keys), "u").join(F.broadcast(product_keys), "p")
        .select(
            ((F.col("day").cast("long") + 1) * TX_ID_STRIDE + F.col("id") + 1)
            .alias("transaction_id"),
            F.when(late("u_change"), F.col("user_sk_new"))
            .otherwise(F.col("user_sk_old")).alias("user_sk"),
            F.when(late("p_change"), F.col("product_sk_new"))
            .otherwise(F.col("product_sk_old")).alias("product_sk"),
            F.date_format(day_date, "yyyyMMdd").cast("int").alias("date_id"),
            "quantity",
            F.round(F.when(late("p_change"), F.col("price_new"))
                    .otherwise(F.col("price_old")) * F.col("quantity"), 2).alias("total"),
            "payment_type",
            "status",
            F.timestamp_seconds(F.lit(epoch) + F.col("day") * 86_400).alias("load_date"),
        )
        .select(*[F.col(f.name).cast(f.dataType) for f in schemas.FACT_TRANSACTIONS.fields])
    )


def seed_warehouse(
    spark: SparkSession,
    store: TableStore,
    world: World,
    history: History,
    seed: int,
) -> DayInput:
    """Write ``history.days`` days of warehouse state, the last of which
    holds exactly the facts of a generated day, and return that day's input.

    ``world`` must have been created with ``first_day`` = the first history
    day (so every user joined before it). Replaying the returned day must
    insert nothing; afterwards ``world.next_day()`` continues the history.
    """
    rng = np.random.default_rng(seed + 7919)
    h = history.days
    start = world.next_date
    start64 = np.datetime64(start, "D")
    world.next_date, world.day_index = start + timedelta(days=h - 1), h - 1
    last = world.next_day()  # no evolution: its snapshot is the current state
    u, p = len(world.user_ids), len(world.product_ids)

    # versions change on history days 1 .. h-2, never on the last day
    def changed(rate, n):
        if h < 3:
            return np.zeros(n, bool), np.ones(n, np.int64)
        return rng.random(n) < rate, rng.integers(1, h - 1, n)

    # -- dim_user: 1 version, or 2 when the email changed during history ---
    join = world.join_dates.astype("datetime64[D]")
    if join.max() > start64:
        raise ValueError("users must join before the history starts")
    u_changed, u_change_day = changed(history.user_change_rate, u)
    u_v2_sk = u + np.cumsum(u_changed)
    u_sk_now = np.where(u_changed, u_v2_sk, world.user_ids)
    old_email = np.array([f"user{i}.old@example.com" for i in world.user_ids], dtype=object)
    ch = np.flatnonzero(u_changed)
    user_rows = {
        "user_sk": np.concatenate([world.user_ids, u_v2_sk[ch]]),
        "user_id": np.concatenate([world.user_ids, world.user_ids[ch]]),
        "name": np.concatenate([world.user_names, world.user_names[ch]]),
        "email": np.concatenate(
            [np.where(u_changed, old_email, world.user_emails), world.user_emails[ch]]
        ),
        "join_date": np.concatenate([join, join[ch]]),
        "start_date": np.concatenate([join, start64 + u_change_day[ch]]),
        "end_date": _open_ended(start64 + u_change_day - 1, u_changed, len(ch)),
        "current_flag": np.concatenate([~u_changed, np.ones(len(ch), bool)]),
    }
    store.overwrite(pipeline.DIM_USER, _frame(spark, user_rows, schemas.DIM_USER))

    # -- dim_product: 1 version, or 2 when repriced during history ---------
    p_changed, p_change_day = changed(history.product_change_rate, p)
    p_v2_sk = p + np.cumsum(p_changed)
    p_sk_now = np.where(p_changed, p_v2_sk, world.product_ids)
    old_price = np.round(world.prices * rng.uniform(0.8, 0.95, p), 2)
    pc = np.flatnonzero(p_changed)
    product_rows = {
        "product_sk": np.concatenate([world.product_ids, p_v2_sk[pc]]),
        "product_id": np.concatenate([world.product_ids, world.product_ids[pc]]),
        "name": np.concatenate([world.product_names, world.product_names[pc]]),
        "category": np.concatenate([world.categories, world.categories[pc]]),
        "price": np.concatenate([np.where(p_changed, old_price, world.prices),
                                 world.prices[pc]]),
        "start_date": np.concatenate([np.full(p, start64), start64 + p_change_day[pc]]),
        "end_date": _open_ended(start64 + p_change_day - 1, p_changed, len(pc)),
        "current_flag": np.concatenate([~p_changed, np.ones(len(pc), bool)]),
    }
    store.overwrite(
        pipeline.DIM_PRODUCT, _frame(spark, product_rows, schemas.DIM_PRODUCT)
    )
    store.overwrite(pipeline.DIM_DATE, build_dim_date(spark, start, last.day))

    # -- fact_transactions: days 0 .. h-2 generated in Spark (sks and
    #    prices as of each date); the last day is the loaded lines of
    #    ``last`` ------------------------------------------------------------
    day_dates = [start + timedelta(days=d) for d in range(h)]
    date_ids = np.array([int(d.strftime("%Y%m%d")) for d in day_dates], dtype=np.int32)
    loads = np.array([_ts(d) for d in day_dates], dtype="datetime64[us]")
    n = history.n_facts if h > 1 else 0
    tx = last.transactions.filter(pa.array(last.tx_loads)).to_pydict()
    t_uid = np.array(tx["user_id"]) - 1
    t_pid = np.array(tx["product_id"]) - 1
    n_last = len(t_uid)
    lower = np.vectorize(str.lower, otypes=[object])
    last_facts = _frame(spark, {
        "transaction_id": np.array(tx["transaction_id"], np.int64),
        "user_sk": u_sk_now[t_uid],
        "product_sk": p_sk_now[t_pid],
        "date_id": np.full(n_last, date_ids[-1]),
        "quantity": np.array(tx["quantity"], np.int32),
        "total": np.array(tx["price"]),
        "payment_type": lower(np.array(tx["payment_type"], dtype=object)),
        "status": lower(np.array(tx["status"], dtype=object)),
        "load_date": np.full(n_last, loads[-1]),
    }, schemas.FACT_TRANSACTIONS)
    if n:
        user_keys = spark.createDataFrame(pa.table({
            "u": np.arange(u), "user_sk_old": world.user_ids, "user_sk_new": u_sk_now,
            "u_change": np.where(u_changed, u_change_day, 0)}))
        product_keys = spark.createDataFrame(pa.table({
            "p": np.arange(p), "product_sk_old": world.product_ids,
            "product_sk_new": p_sk_now, "p_change": np.where(p_changed, p_change_day, 0),
            "price_old": np.where(p_changed, old_price, world.prices),
            "price_new": world.prices}))
        last_facts = last_facts.unionByName(
            _history_facts(spark, seed, n, h - 1, start, user_keys, u, product_keys, p))
    # one file per date partition: what a small day's append leaves
    store.append(
        pipeline.FACT_TRANSACTIONS, last_facts.repartition("date_id"),
        partition_by=["date_id"],
    )

    # -- fact_stock_history: the latest row per current sk holds the
    #    current stock (a reprice opens a row under the new sk) ------------
    s_moved = (rng.random(p) < 0.3) & (h >= 3)
    first_stock = np.where(s_moved, (world.stock + 7) % 200 + 1, world.stock)
    later = np.flatnonzero(s_moved | p_changed)
    later_day = np.where(p_changed, p_change_day, rng.integers(1, max(h - 1, 2), p))[later]
    stock = {
        "product_sk": np.concatenate([world.product_ids, p_sk_now[later]]),
        "date_id": np.concatenate([np.full(p, date_ids[0]), date_ids[later_day]]),
        "stock": np.concatenate([first_stock, world.stock[later]]).astype(np.int32),
        "load_date": np.concatenate([np.full(p, loads[0]), loads[later_day]]),
    }
    store.append(
        pipeline.FACT_STOCK_HISTORY, _frame(spark, stock, schemas.FACT_STOCK_HISTORY)
    )

    # -- audit: one backfill run carrying the history's error log ----------
    if not history.n_error_rows:
        return last  # the warm-up replay opens the audit tables itself
    audit.ensure_audit_tables(store)
    run_id = audit.start_run(store, last.day, _ts(last.day))
    k = len(_ERROR_MIX)
    mix = F.array(*[F.struct(F.lit(e).alias("entity"), F.lit(t).alias("error_type"),
                             F.lit(s).alias("severity")) for e, t, s in _ERROR_MIX])
    pick = F.element_at(mix, (F.abs(F.xxhash64(F.col("id"), F.lit(seed))) % k + 1).cast("int"))
    errors = spark.range(history.n_error_rows).select(
        pick["entity"].alias("entity"),
        (F.col("id") + TX_ID_STRIDE).cast("string").alias("record_id"),
        pick["error_type"].alias("error_type"),
        F.format_string("History: record %s failed %s", F.col("id"), pick["error_type"]).alias(
            "message"
        ),
        pick["severity"].alias("severity"),
    )
    n_err = audit.append_errors(store, run_id, errors)
    audit.finish_run(
        store, run_id, "success", _ts(last.day).replace(hour=3),
        {"rows_fact_transactions_inserted": n + n_last, "errors": n_err},
    )
    return last
