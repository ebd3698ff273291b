"""Seeded TPC-H-style lineitem table (16 columns: ints, doubles, dates,
low-cardinality flags and free-text comments), generated in-process with
numpy so the same seed always gives the same rows."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_EPOCH_1992 = 8035  # 1992-01-01 as days since 1970-01-01
_ORDER_DAYS = 2405  # order dates span 1992-01-01 .. 1998-08-02
_CUTOFF = 9298  # 1995-06-17: shipped after it -> status 'O'
_INSTRUCT = np.array(["DELIVER IN PERSON", "COLLECT COD", "NONE",
                      "TAKE BACK RETURN"])
_MODES = np.array(["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"])
_WORDS = np.array(
    "furiously quickly carefully blithely slyly regular express final "
    "pending ironic special bold unusual even silent idle ruthless "
    "packages deposits requests accounts instructions theodolites pinto "
    "beans foxes ideas dependencies platelets asymptotes courts dolphins "
    "sleep wake are haggle nag use boost affix detect integrate cajole "
    "among about above across after against along".split())


def lineitem(n_rows: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, n_rows // 3 + 8)
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, n_rows)) + 1
    lines = lines[:n_orders]
    # sparse order keys, as in TPC-H (8 keys used out of every 32)
    order_idx = np.repeat(np.arange(n_orders), lines)[:n_rows]
    orderkey = (order_idx // 8) * 32 + order_idx % 8 + 1
    starts = np.repeat(np.cumsum(lines) - lines, lines)[:n_rows]
    linenumber = (np.arange(n_rows) - starts + 1).astype(np.int32)

    n_parts = max(n_rows // 30, 10)
    partkey = rng.integers(1, n_parts + 1, n_rows)
    suppkey = (partkey + rng.integers(0, 4, n_rows) * (n_parts // 4 + 1)) \
        % max(n_rows // 600, 10) + 1
    quantity = rng.integers(1, 51, n_rows).astype(np.float64)
    retail = (90000 + (partkey // 10) % 20001 + 100 * (partkey % 1000)) / 100.0
    extendedprice = np.round(quantity * retail, 2)
    discount = rng.integers(0, 11, n_rows) / 100.0
    tax = rng.integers(0, 9, n_rows) / 100.0

    orderdate = _EPOCH_1992 + rng.integers(0, _ORDER_DAYS, n_orders)
    od = orderdate[order_idx]
    shipdate = od + rng.integers(1, 122, n_rows)
    commitdate = od + rng.integers(30, 91, n_rows)
    receiptdate = shipdate + rng.integers(1, 31, n_rows)
    returnflag = np.where(receiptdate <= _CUTOFF,
                          np.where(rng.random(n_rows) < 0.5, "R", "A"), "N")
    linestatus = np.where(shipdate > _CUTOFF, "O", "F")

    n_words = rng.integers(2, 7, n_rows)
    picks = _WORDS[rng.integers(0, len(_WORDS), int(n_words.sum()))].tolist()
    comments, pos = [], 0
    for k in n_words.tolist():
        comments.append(" ".join(picks[pos:pos + k])[:43])
        pos += k

    def date(days):
        return pa.array(days.astype(np.int32), type=pa.int32()).cast(pa.date32())

    return pa.table({
        "l_orderkey": pa.array(orderkey, type=pa.int64()),
        "l_partkey": pa.array(partkey, type=pa.int64()),
        "l_suppkey": pa.array(suppkey, type=pa.int64()),
        "l_linenumber": pa.array(linenumber, type=pa.int32()),
        "l_quantity": pa.array(quantity, type=pa.float64()),
        "l_extendedprice": pa.array(extendedprice, type=pa.float64()),
        "l_discount": pa.array(discount, type=pa.float64()),
        "l_tax": pa.array(tax, type=pa.float64()),
        "l_returnflag": pa.array(returnflag.tolist(), type=pa.string()),
        "l_linestatus": pa.array(linestatus.tolist(), type=pa.string()),
        "l_shipdate": date(shipdate),
        "l_commitdate": date(commitdate),
        "l_receiptdate": date(receiptdate),
        "l_shipinstruct": pa.array(
            _INSTRUCT[rng.integers(0, 4, n_rows)].tolist(), type=pa.string()),
        "l_shipmode": pa.array(
            _MODES[rng.integers(0, 7, n_rows)].tolist(), type=pa.string()),
        "l_comment": pa.array(comments, type=pa.string()),
    })
