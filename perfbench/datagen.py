"""Seeded benchmark inputs: a TPC-H-shaped source snapshot and its churn days.

`make_snapshot` writes the ten logical tables the package's catalog knows
(one parquet file each, the same column names and types as the package's
test data) at a scale factor, from a seed. `make_day` derives day k's source
directory from day k-1's: a share of customer and order attributes change,
a few new customers/orders (with their line items) arrive and a few retire.
It returns the per-table key counts the correctness checks and the
`write_amp` denominator are computed from. Same seed, same bytes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "red", "hot", "old", "blue", "big", "cold", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gear", "pipe", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream filter group big vector"
).split()

#: tables whose rows churn day to day (the rest are carried over as-is)
CHURN_TABLES = ("customer", "orders", "lineitem")

DAY0 = np.datetime64("1995-01-01", "D")


def _ts(days) -> pa.Array:
    return pa.array((DAY0 + np.asarray(days, dtype="timedelta64[D]")).astype("datetime64[us]"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _customers(rng, keys: np.ndarray) -> dict:
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(keys)), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, len(keys)), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, len(keys))),
    }


def _orders(rng, keys: np.ndarray, n_cust: int) -> dict:
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, len(keys)), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUSES, len(keys))),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, len(keys)), 2)),
        "o_orderdate": _ts(rng.integers(0, 2400, len(keys))),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, len(keys))),
    }


def _lineitems(rng, orderkeys: np.ndarray, n_part: int, n_supp: int) -> dict:
    per = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, per)
    ln = np.concatenate([np.arange(1, p + 1) for p in per]) if len(per) else np.array([], int)
    n = len(ok)
    qty = rng.integers(1, 51, n).astype(float)
    return {
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(rng.integers(1, 2500, n)),
    }


def make_snapshot(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten source tables at scale factor `sf`; return row counts."""
    rng = np.random.default_rng([seed, 0])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_ord = 10 * n_cust
    n_part = max(40, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_users = max(20, n_cust // 10)
    n_events = max(500, int(1_000_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_vecs = max(200, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", _customers(rng, np.arange(n_cust)))
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)),
    })
    orderkeys = np.arange(n_ord)
    _write(out_dir, "orders", _orders(rng, orderkeys, n_cust))
    _write(out_dir, "lineitem", _lineitems(rng, orderkeys, n_part, n_supp))

    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"))),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.uniform(0.01, 500, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    lens = rng.integers(8, 90, n_docs)
    words = rng.choice(WORDS, int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
            for t in ("customer", "orders", "lineitem", "supplier", "part", "nation")}


def _churn_entity(rng, tbl: pa.Table, key: str, attrs_fn, change_frac: float,
                  n_retire: int):
    """Change `attrs_fn`'s columns on a share of rows and drop `n_retire`
    other rows. Returns (table, changed keys, retired keys)."""
    n = tbl.num_rows
    pick = rng.permutation(n)
    n_change = max(1, int(round(change_frac * n)))
    chg, ret = pick[:n_change], pick[n_change:n_change + n_retire]
    cols = {c: tbl.column(c).to_numpy(zero_copy_only=False).copy() for c in tbl.column_names}
    for c, fresh in attrs_fn(rng, cols, chg).items():
        cols[c][chg] = fresh
    keep = np.ones(n, bool)
    keep[ret] = False
    out = pa.table({c: pa.array(v[keep], tbl.schema.field(c).type) for c, v in cols.items()})
    return out, set(cols[key][chg].tolist()), set(cols[key][ret].tolist())


def make_day(prev_dir: str, out_dir: str, seed: int, day: int,
             change_frac: float = 0.02, n_new: int = 5, n_retire: int = 3) -> dict:
    """Derive day `day`'s sources from `prev_dir`. New keys take the next
    ids, so the ever-seen key set stays 0..max. Returns, per churned entity,
    the changed/new/retired key counts and the changed-row bytes."""
    rng = np.random.default_rng([seed, day])
    os.makedirs(out_dir, exist_ok=True)
    for t in ("region", "nation", "supplier", "part", "events", "documents", "embeddings"):
        shutil.copyfile(os.path.join(prev_dir, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet"))
    cust = pq.read_table(os.path.join(prev_dir, "customer.parquet"))
    orders = pq.read_table(os.path.join(prev_dir, "orders.parquet"))
    li = pq.read_table(os.path.join(prev_dir, "lineitem.parquet"))
    n_part = pq.ParquetFile(os.path.join(prev_dir, "part.parquet")).metadata.num_rows
    n_supp = pq.ParquetFile(os.path.join(prev_dir, "supplier.parquet")).metadata.num_rows

    def cust_attrs(rng, cols, idx):
        return {"c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(idx)), 2),
                "c_mktsegment": np.array([SEGMENTS[(SEGMENTS.index(s) + 1) % 5]
                                          for s in cols["c_mktsegment"][idx]], object)}

    def order_attrs(rng, cols, idx):
        return {"o_orderstatus": np.array([STATUSES[(STATUSES.index(s) + 1) % 3]
                                           for s in cols["o_orderstatus"][idx]], object),
                "o_totalprice": np.round(rng.uniform(1000, 500000, len(idx)), 2)}

    next_c = pc.max(cust.column("c_custkey")).as_py() + 1
    next_o = pc.max(orders.column("o_orderkey")).as_py() + 1
    cust, c_chg, c_ret = _churn_entity(rng, cust, "c_custkey", cust_attrs, change_frac, n_retire)
    orders, o_chg, o_ret = _churn_entity(rng, orders, "o_orderkey", order_attrs, change_frac, n_retire)
    new_c = np.arange(next_c, next_c + n_new)
    new_o = np.arange(next_o, next_o + n_new)
    cust = pa.concat_tables([cust, pa.table(_customers(rng, new_c)).cast(cust.schema)])
    new_orders = pa.table(_orders(rng, new_o, next_c + n_new)).cast(orders.schema)
    orders = pa.concat_tables([orders, new_orders])
    gone = pa.array(sorted(o_ret), pa.int64())
    li = li.filter(pc.invert(pc.is_in(li.column("l_orderkey"), gone)))
    new_li = pa.table(_lineitems(rng, new_o, n_part, n_supp)).cast(li.schema)
    li = pa.concat_tables([li, new_li])
    for name, tbl in (("customer", cust), ("orders", orders), ("lineitem", li)):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))

    def row_bytes(name: str, rows: int) -> float:
        md = pq.ParquetFile(os.path.join(out_dir, f"{name}.parquet")).metadata
        return rows * os.path.getsize(os.path.join(out_dir, f"{name}.parquet")) / md.num_rows

    return {
        "customer": {"changed": len(c_chg), "new": n_new, "retired": len(c_ret)},
        "order": {"changed": len(o_chg), "new": n_new, "retired": len(o_ret)},
        "lineitem_new": new_li.num_rows,
        "changed_bytes": (row_bytes("customer", len(c_chg) + n_new)
                          + row_bytes("orders", len(o_chg) + n_new)
                          + row_bytes("lineitem", new_li.num_rows)),
    }
