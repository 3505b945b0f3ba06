"""Generator determinism, id disjointness, and the ledger reconciled against
an independent restatement of the validation rules (no Spark needed)."""

from __future__ import annotations

import re
from collections import Counter
from datetime import date

import numpy as np
import pytest

from perfbench.gen import CLASS_RULE, DIRTY_CLASSES, TX_ID_STRIDE, Shape, World

SHAPE = Shape(n_users=400, n_products=60, lines_per_day=3_000)
EMAIL = re.compile(r"^[^\s@]+@[^\s@]+\.[^\s@]+$")
DATE_OK = re.compile(r"^(\d{4}-\d{2}-\d{2}|\d{4}/\d{2}/\d{2}|\d{4}-\d{2}-\d{2}T.*|\d{8})$")


def _days(seed: int, n: int, dims_loaded: bool = False):
    world = World(seed, SHAPE, date(2026, 1, 1))
    world.dims_loaded = dims_loaded
    return [world.next_day() for _ in range(n)]


def test_every_dirty_class_maps_to_one_rule():
    assert set(DIRTY_CLASSES) == set(CLASS_RULE)
    assert len(DIRTY_CLASSES) == 15


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = _days(7, 3), _days(7, 3), _days(8, 3)
    for x, y in zip(a, b):
        for t in ("users", "products", "transactions"):
            assert getattr(x, t).equals(getattr(y, t))
        assert x.ledger == y.ledger
    assert not a[1].transactions.equals(c[1].transactions)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_transaction_ids_are_disjoint_across_days(seed):
    seen: set[int] = set()
    for i, d in enumerate(_days(seed, 4)):
        ids = set(d.transactions.column("transaction_id").to_pylist())
        assert not ids & seen, f"day {i} reuses an earlier day's id"
        assert min(ids) > (i + 1) * TX_ID_STRIDE and max(ids) < (i + 2) * TX_ID_STRIDE
        seen |= ids


def _rule_oracle(d):
    """The error-log breakdown and the fact count the rules imply."""
    log: Counter = Counter()
    users = d.users.to_pylist()
    products = d.products.to_pylist()
    valid_users = set()
    for u in users:
        bad = [(u["name"] is None or not u["name"].strip()),
               (u["email"] is None or not EMAIL.match(u["email"])),
               u["join_date"] is None]
        log[("invalid_user", "error")] += sum(bad)
        if not any(bad):
            valid_users.add(u["user_id"])
    price = {}
    for p in products:
        bad = {"invalid_product": p["name"] is None or not p["name"].strip(),
               "price_ge_10000": p["price"] >= 10000,
               "negative_stock": p["stock"] < 0}
        for k, v in bad.items():
            log[(k, "error")] += int(v)
        if not any(bad.values()):
            price[p["product_id"]] = p["price"]
    seen: Counter = Counter()
    facts = set()
    warnings_from_dedup = 0
    for t in d.transactions.to_pylist():
        seen[t["transaction_id"]] += 1
        q = t["quantity"]
        errs = {
            "orphan_user": t["user_id"] not in valid_users,
            "orphan_product": t["product_id"] not in price,
            "qty_zero": q == 0,
            "qty_negative": q < 0,
            "invalid_payment_type": t["payment_type"].lower()
            not in ("visa", "mastercard", "wire transfer", "other"),
            "invalid_status": t["status"].lower() not in ("success", "failed"),
            "bad_date_format": not DATE_OK.match(t["date"]),
        }
        for k, v in errs.items():
            log[(k, "error")] += int(v)
        if seen[t["transaction_id"]] > 1:
            log[("duplicate_tx_id", "warning")] += 1
        if any(errs.values()):
            continue
        if abs(t["price"] / q - price[t["product_id"]]) > 0.01:
            log[("price_mismatch", "warning")] += 1
        key = (t["transaction_id"], t["product_id"])
        if key in facts:
            warnings_from_dedup += 1
        facts.add(key)
    log[("duplicate_tx_id", "warning")] += warnings_from_dedup
    return {k: v for k, v in log.items() if v}, len(facts)


@pytest.mark.parametrize("dims_loaded", [False, True])
def test_ledger_reconciles_with_the_rules(dims_loaded):
    for d in _days(5, 2, dims_loaded=dims_loaded):
        breakdown, n_facts = _rule_oracle(d)
        assert breakdown == d.ledger.breakdown
        c = d.ledger.counters
        assert n_facts == c["rows_fact_transactions_inserted"] == int(d.tx_loads.sum())
        assert c["errors"] == sum(n for (_, sev), n in breakdown.items() if sev == "error")
        assert c["warnings"] == sum(n for (_, sev), n in breakdown.items() if sev == "warning")
        assert sum(d.ledger.injected.values()) == round(SHAPE.dirty_rate * SHAPE.lines_per_day)
        assert d.ledger.input_rows == (
            d.users.num_rows + d.products.num_rows + d.transactions.num_rows
        )


def test_first_day_inserts_everything_later_days_only_changes():
    first, second = _days(9, 2)
    assert first.ledger.counters["rows_dim_user_inserted"] == SHAPE.n_users
    assert first.ledger.user_versions == SHAPE.n_users
    assert second.ledger.counters["rows_dim_user_inserted"] == 0
    assert second.ledger.user_versions == round(SHAPE.email_change_rate * SHAPE.n_users)
    assert second.ledger.product_versions == round(SHAPE.reprice_rate * SHAPE.n_products)
    # emails that changed are the only user differences between the snapshots
    a = np.array(first.users.column("email").to_pylist()[: SHAPE.n_users])
    b = np.array(second.users.column("email").to_pylist()[: SHAPE.n_users])
    assert (a != b).sum() == second.ledger.user_versions
