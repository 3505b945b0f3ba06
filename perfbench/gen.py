"""Seeded OLTP day generator with a ground-truth ledger.

Every day is a full users/products snapshot plus that day's transaction
lines, written as day-partitioned parquet (``<table>/dt=YYYY-MM-DD/``) so the
timed day reads its slice through ``sources.io.read_day_slice``.

Each dirty record is built to trip exactly one validation rule, so the ledger
can state the exact error-log breakdown and run counters the pipeline must
report. Transaction ids are ``(day_index + 1) * 10**7 + n``: disjoint across
days (``generators.generate_oltp`` restarts at 1 on every call, which makes a
second day look like a re-run of the first).

Pure numpy/pyarrow: no Spark, so the inputs of a seed are byte-identical no
matter what the program under test does.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ecommerce_full_etl_process_spark.sources import generators as G

TX_ID_STRIDE = 10**7
DIRTY_ID_BASE = 10**6  # dirty users/products live above every valid id

# dirty class -> (error_type, severity) of the one rule it trips
CLASS_RULE = {
    "user_empty_name": ("invalid_user", "error"),
    "user_bad_email": ("invalid_user", "error"),
    "user_null_join_date": ("invalid_user", "error"),
    "product_empty_name": ("invalid_product", "error"),
    "product_price_ge_10000": ("price_ge_10000", "error"),
    "product_negative_stock": ("negative_stock", "error"),
    "tx_orphan_user": ("orphan_user", "error"),
    "tx_orphan_product": ("orphan_product", "error"),
    "tx_qty_zero": ("qty_zero", "error"),
    "tx_qty_negative": ("qty_negative", "error"),
    "tx_bad_payment_type": ("invalid_payment_type", "error"),
    "tx_bad_status": ("invalid_status", "error"),
    "tx_bad_date": ("bad_date_format", "error"),
    "tx_duplicate_id": ("duplicate_tx_id", "warning"),
    "tx_price_drift": ("price_mismatch", "warning"),
}
# the 14 injector classes of sources.generators plus price drift (V14)
DIRTY_CLASSES = tuple(G.DIRTY_CLASSES) + ("tx_price_drift",)

USERS_SCHEMA = pa.schema(
    [("user_id", pa.int64()), ("name", pa.string()), ("email", pa.string()),
     ("join_date", pa.string())]
)
PRODUCTS_SCHEMA = pa.schema(
    [("product_id", pa.int64()), ("name", pa.string()), ("category", pa.string()),
     ("price", pa.float64()), ("stock", pa.int32())]
)
TX_SCHEMA = pa.schema(
    [("transaction_id", pa.int64()), ("date", pa.string()), ("user_id", pa.int64()),
     ("product_id", pa.int64()), ("quantity", pa.int32()), ("price", pa.float64()),
     ("payment_type", pa.string()), ("status", pa.string())]
)
OLTP_TABLES = ("users", "products", "transactions")


@dataclass(frozen=True)
class Shape:
    n_users: int
    n_products: int
    lines_per_day: int
    dirty_rate: float = 0.05  # dirty records per clean transaction line
    reprice_rate: float = 0.02
    email_change_rate: float = 0.01
    stock_change_rate: float = 0.05
    multi_line_rate: float = 0.2  # share of transactions with 2-3 lines


@dataclass
class DayLedger:
    """What the pipeline must report for one day of input."""

    day: date
    input_rows: int
    injected: dict[str, int]
    multi_line_extra: int  # extra lines of multi-line transactions (V13 warnings)
    counters: dict[str, int]  # expected RunSummary.counters
    breakdown: dict[tuple[str, str], int]  # (error_type, severity) -> rows
    user_versions: int  # dim_user versions the day writes
    product_versions: int


@dataclass
class DayInput:
    day: date
    users: pa.Table
    products: pa.Table
    transactions: pa.Table
    ledger: DayLedger
    tx_loads: np.ndarray  # per transaction line: True if it becomes a fact
    paths: dict[str, str] = field(default_factory=dict)
    input_bytes: int = 0


def expected_breakdown(injected: dict[str, int], multi_line_extra: int) -> dict:
    out: dict[tuple[str, str], int] = {}
    for cls, n in injected.items():
        if n:
            key = CLASS_RULE[cls]
            out[key] = out.get(key, 0) + n
    if multi_line_extra:
        key = ("duplicate_tx_id", "warning")
        out[key] = out.get(key, 0) + multi_line_extra
    return out


class World:
    """The OLTP source system: current users/products and a day counter.

    ``dims_loaded`` says whether the warehouse already holds every valid
    user/product; until it does, a day inserts them all and applies no
    changes.
    """

    def __init__(self, seed: int, shape: Shape, first_day: date):
        self.shape = shape
        self.rng = np.random.default_rng(seed)
        self.next_date = first_day
        self.day_index = 0
        self.dims_loaded = False
        self._dirty_seq = 0
        rng, u, p = self.rng, shape.n_users, shape.n_products
        self.user_ids = np.arange(1, u + 1, dtype=np.int64)
        first = np.array(G.FIRST_NAMES, dtype=object)
        last = np.array(G.LAST_NAMES, dtype=object)
        self.user_names = (
            first[rng.integers(0, len(first), u)] + " "
            + last[rng.integers(0, len(last), u)]
        )
        self.user_emails = np.array(
            [f"user{i}@example.com" for i in self.user_ids], dtype=object
        )
        join_offsets = rng.integers(0, 365, u)
        self.join_dates = np.array(
            [(first_day - timedelta(days=int(o))).isoformat() for o in join_offsets],
            dtype=object,
        )
        self.product_ids = np.arange(1, p + 1, dtype=np.int64)
        words = np.array(G.PRODUCT_WORDS, dtype=object)
        self.product_names = (
            words[rng.integers(0, len(words), p)] + " "
            + words[rng.integers(0, len(words), p)]
        )
        cats = np.array(G.CATEGORIES, dtype=object)
        self.categories = cats[rng.integers(0, len(cats), p)]
        self.prices = np.round(rng.uniform(5, 500, p), 2)
        self.stock = rng.integers(1, 201, p).astype(np.int32)

    # -- day evolution -------------------------------------------------------

    def _evolve(self) -> tuple[int, int, int]:
        """Apply the day's email changes, reprices and stock moves."""
        rng, s = self.rng, self.shape
        n_email = int(round(s.email_change_rate * s.n_users))
        who = rng.choice(s.n_users, n_email, replace=False)
        for i in who:
            self.user_emails[i] = f"user{i + 1}.d{self.day_index}@example.com"
        n_reprice = int(round(s.reprice_rate * s.n_products))
        which = rng.choice(s.n_products, n_reprice, replace=False)
        factor = 1 + rng.choice([-1, 1], n_reprice) * rng.uniform(0.05, 0.2, n_reprice)
        self.prices[which] = np.round(self.prices[which] * factor, 2)
        n_stock = int(round(s.stock_change_rate * s.n_products))
        moved = rng.choice(s.n_products, n_stock, replace=False)
        delta = rng.integers(1, 21, n_stock) * rng.choice([-1, 1], n_stock)
        new = self.stock[moved] + delta
        new[new < 0] = self.stock[moved][new < 0] + np.abs(delta[new < 0])
        self.stock[moved] = new.astype(np.int32)
        # a repriced product gets a new surrogate key, and the stock snapshot
        # has no row for that key yet, so it appends one even at equal stock
        n_stock_rows = len(set(moved.tolist()) | set(which.tolist()))
        return n_email, n_reprice, n_stock_rows

    def next_day(self) -> DayInput:
        rng, s = self.rng, self.shape
        day = self.next_date
        day_s = day.isoformat()
        if self.dims_loaded:
            n_email, n_reprice, n_stock = self._evolve()
        else:
            n_email = n_reprice = n_stock = 0

        # -- clean transactions (vectorized) -------------------------------
        lines = s.lines_per_day
        multi = rng.random(lines) < s.multi_line_rate
        per_tx = np.where(multi, rng.integers(2, 4, lines), 1)
        ends = np.cumsum(per_tx)
        n_tx = int(np.searchsorted(ends, lines) + 1)
        per_tx = per_tx[:n_tx].copy()
        per_tx[-1] -= int(ends[n_tx - 1] - lines)
        tx_base = (self.day_index + 1) * TX_ID_STRIDE
        tx_ids = tx_base + np.arange(1, n_tx + 1, dtype=np.int64)
        line_tx = np.repeat(np.arange(n_tx), per_tx)
        line_pos = np.arange(lines) - np.repeat(np.cumsum(per_tx) - per_tx, per_tx)
        first_pid = rng.integers(0, s.n_products, n_tx)
        step = rng.integers(1, max(2, s.n_products // 3), n_tx)
        pidx = (first_pid[line_tx] + line_pos * step[line_tx]) % s.n_products
        qty = rng.integers(1, 6, lines).astype(np.int32)
        cols = {
            "transaction_id": tx_ids[line_tx],
            "date": np.full(lines, day_s, dtype=object),
            "user_id": rng.integers(1, s.n_users + 1, n_tx)[line_tx].astype(np.int64),
            "product_id": self.product_ids[pidx],
            "quantity": qty,
            "price": np.round(self.prices[pidx] * qty, 2),
            "payment_type": np.array(G.PAYMENT_TYPES, dtype=object)[
                rng.integers(0, len(G.PAYMENT_TYPES), lines)
            ],
            "status": np.where(rng.random(lines) < 0.85, "success", "failed").astype(object),
        }
        multi_line_extra = int(lines - n_tx)

        # -- dirty records: each trips exactly one rule ---------------------
        n_dirty = int(round(s.dirty_rate * lines))
        classes = [DIRTY_CLASSES[i] for i in rng.integers(0, len(DIRTY_CLASSES), n_dirty)]
        injected = {c: 0 for c in DIRTY_CLASSES}
        d_users: list[tuple] = []
        d_products: list[tuple] = []
        d_tx: list[tuple] = []
        d_tx_loads: list[bool] = []
        next_tx = tx_base + n_tx
        tx_pids: dict[int, set[int]] = {}
        line_start = np.cumsum(per_tx) - per_tx
        pay = G.PAYMENT_TYPES

        def clean_line():
            i = int(rng.integers(0, s.n_products))
            q = int(rng.integers(1, 6))
            return int(self.product_ids[i]), q, round(float(self.prices[i]) * q, 2)

        for cls in classes:
            injected[cls] += 1
            self._dirty_seq += 1
            dirty_id = DIRTY_ID_BASE + self._dirty_seq
            uid = int(rng.integers(1, s.n_users + 1))
            status = "success" if rng.random() < 0.85 else "failed"
            ptype = pay[int(rng.integers(0, len(pay)))]
            if cls == "user_empty_name":
                d_users.append((dirty_id, ["", "   ", None][int(rng.integers(0, 3))],
                                f"dirty{dirty_id}@example.com", day_s))
            elif cls == "user_bad_email":
                d_users.append((dirty_id, "Dirty User",
                                G.BAD_EMAILS[int(rng.integers(0, len(G.BAD_EMAILS)))], day_s))
            elif cls == "user_null_join_date":
                d_users.append((dirty_id, "Dirty User", f"dirty{dirty_id}@example.com", None))
            elif cls == "product_empty_name":
                d_products.append((dirty_id, ["", "  ", None][int(rng.integers(0, 3))],
                                   G.CATEGORIES[0], 20.0, 10))
            elif cls == "product_price_ge_10000":
                d_products.append((dirty_id, "Pricey Thing", G.CATEGORIES[1],
                                   round(float(rng.uniform(10000, 50000)), 2), 10))
            elif cls == "product_negative_stock":
                d_products.append((dirty_id, "Ghost Stock", G.CATEGORIES[2], 20.0,
                                   -int(rng.integers(1, 51))))
            elif cls == "tx_duplicate_id":
                # a later line of an existing id, on a product that id does
                # not carry yet (so the fact dedup keeps it: one warning)
                t = int(rng.integers(0, n_tx))
                tid = int(tx_ids[t])
                have = tx_pids.setdefault(tid, {
                    int(self.product_ids[pidx[j]])
                    for j in range(line_start[t], line_start[t] + per_tx[t])
                })
                pid, q, total = clean_line()
                while pid in have:
                    pid, q, total = clean_line()
                have.add(pid)
                d_tx.append((tid, day_s, uid, pid, q, total, ptype, status))
                d_tx_loads.append(True)
            else:
                next_tx += 1
                pid, q, total = clean_line()
                row = [next_tx, day_s, uid, pid, q, total, ptype, status]
                if cls == "tx_orphan_user":
                    row[2] = DIRTY_ID_BASE // 2 + int(rng.integers(1, 1000))
                elif cls == "tx_orphan_product":
                    row[3] = DIRTY_ID_BASE // 2 + int(rng.integers(1, 1000))
                elif cls == "tx_qty_zero":
                    row[4], row[5] = 0, 0.0
                elif cls == "tx_qty_negative":
                    row[4] = -int(rng.integers(1, 6))
                elif cls == "tx_bad_payment_type":
                    row[6] = G.BAD_PAYMENT_TYPES[int(rng.integers(0, len(G.BAD_PAYMENT_TYPES)))]
                elif cls == "tx_bad_status":
                    row[7] = G.BAD_STATUSES[int(rng.integers(0, len(G.BAD_STATUSES)))]
                elif cls == "tx_bad_date":
                    row[1] = day.strftime("%d-%m-%Y" if rng.random() < 0.5 else "%b %d, %Y")
                elif cls == "tx_price_drift":
                    drift = 1 + float(rng.choice([-1, 1])) * float(rng.uniform(0.10, 0.50))
                    row[5] = round(total * drift, 2)
                d_tx.append(tuple(row))
                d_tx_loads.append(cls == "tx_price_drift")

        users = _table(
            USERS_SCHEMA,
            [self.user_ids, self.user_names, self.user_emails, self.join_dates],
            d_users,
        )
        products = _table(
            PRODUCTS_SCHEMA,
            [self.product_ids, self.product_names, self.categories, self.prices, self.stock],
            d_products,
        )
        transactions = _table(TX_SCHEMA, [cols[n] for n in TX_SCHEMA.names], d_tx)

        first = not self.dims_loaded
        errors = sum(n for c, n in injected.items() if CLASS_RULE[c][1] == "error")
        warnings = injected["tx_duplicate_id"] + injected["tx_price_drift"] + multi_line_extra
        counters = {
            "rows_dim_user_inserted": s.n_users if first else 0,
            "rows_dim_product_inserted": s.n_products if first else 0,
            "rows_fact_transactions_inserted": lines + injected["tx_duplicate_id"]
            + injected["tx_price_drift"],
            "rows_fact_stock_history_inserted": s.n_products if first else n_stock,
            "errors": errors,
            "warnings": warnings,
        }
        ledger = DayLedger(
            day=day,
            input_rows=users.num_rows + products.num_rows + transactions.num_rows,
            injected=injected,
            multi_line_extra=multi_line_extra,
            counters=counters,
            breakdown=expected_breakdown(injected, multi_line_extra),
            user_versions=s.n_users if first else n_email,
            product_versions=s.n_products if first else n_reprice,
        )
        self.dims_loaded = True
        self.day_index += 1
        self.next_date = day + timedelta(days=1)
        tx_loads = np.concatenate([np.ones(lines, bool), np.array(d_tx_loads, bool)])
        return DayInput(day, users, products, transactions, ledger, tx_loads)


def _table(schema: pa.Schema, columns: list, extra_rows: list[tuple]) -> pa.Table:
    # copy: arrow wraps numeric numpy arrays without copying, and the world
    # keeps mutating its arrays after the day is cut
    clean = pa.table(
        [pa.array(np.array(c, copy=True), type=f.type) for c, f in zip(columns, schema)],
        schema=schema,
    )
    if not extra_rows:
        return clean
    extra = pa.table(
        [pa.array([r[i] for r in extra_rows], type=f.type) for i, f in enumerate(schema)],
        schema=schema,
    )
    return pa.concat_tables([clean, extra])


def write_day(oltp_dir: str, day_input: DayInput) -> DayInput:
    """Write the day's three tables under ``<oltp_dir>/<table>/dt=<day>/``."""
    total = 0
    for name in OLTP_TABLES:
        part = os.path.join(oltp_dir, name, f"dt={day_input.day.isoformat()}")
        os.makedirs(part, exist_ok=True)
        path = os.path.join(part, "part-00000.parquet")
        pq.write_table(getattr(day_input, name), path)
        total += os.path.getsize(path)
        day_input.paths[name] = os.path.join(oltp_dir, name)
    day_input.input_bytes = total
    return day_input
