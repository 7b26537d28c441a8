"""Seeded input generators for the benchmark.

Two families, both a pure function of ``seed``:

* ``write_star_tables`` writes the ten tables the operator catalog
  reads (region nation customer supplier part orders
  lineitem events documents embeddings), one parquet file each, with
  the column types and value distributions of the TPC-H-ish star
  schema the catalog's oracles were written against.
* ``warehouse_files`` turns ``gmall.fixtures.gen_log_lines`` and
  ``gen_topic_db_lines`` into small JSON-lines files for the two
  warehouse legs. Trade files are cut only at order-transaction
  boundaries, because ``dwd.order_detail_star`` joins inside one
  micro-batch and an order split across two files would lose its
  details.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "valve", "spring", "panel"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _day_stamps(rng, n, start: datetime, end: datetime) -> np.ndarray:
    days = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (sf 1 ≈ 6M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], s),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
    })
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), f64),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(money(1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(_day_stamps(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)), ts),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], s),
    })
    flags = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")])
    fl = flags[rng.integers(0, 6, n_line)]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(money(900, 105_000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(fl[:, 0], s),
        "l_linestatus": pa.array(fl[:, 1], s),
        "l_shipdate": pa.array(_day_stamps(rng, n_line, datetime(1995, 1, 2), datetime(2001, 11, 4)), ts),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_vec, 64)) + 0.6 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_star_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# warehouse streams
# ---------------------------------------------------------------------------

#: dims the trade leg maintains; config rows in the
#: ``fixtures.TABLE_PROCESS_DIM_ROWS`` shape
DIM_CONFIG_ROWS = [
    ("sku_info", "dim_sku_info", "id,spu_id,price,sku_name,tm_id,category3_id", "info", "id"),
    ("base_trademark", "dim_base_trademark", "id,tm_name", "info", "id"),
    ("base_province", "dim_base_province", "id,name,region_id,area_code,iso_code", "info", "id"),
]


def _dim_env(table: str, typ: str, ts: int, data: dict, old: dict | None = None) -> str:
    env = {"database": "gmall", "table": table, "type": typ, "ts": ts,
           "data": {k: str(v) for k, v in data.items()}}
    if old is not None:
        env["old"] = {k: str(v) for k, v in old.items()}
    return json.dumps(env, ensure_ascii=False)


def dim_bootstrap_lines(ts: int) -> list[str]:
    """Province and trademark dims (fixtures emits only sku_info)."""
    lines = [
        _dim_env("base_province", "bootstrap-insert", ts, {
            "id": p, "name": f"province-{p:02d}", "region_id": p % 7,
            "area_code": f"{100000 + p}", "iso_code": f"CN-{p:02d}",
        })
        for p in range(1, 35)
    ]
    lines += [
        _dim_env("base_trademark", "bootstrap-insert", ts, {"id": tm, "tm_name": f"tm-{tm}"})
        for tm in range(8)
    ]
    return lines


def _order_groups(lines: list[str]) -> tuple[list[str], list[list[str]]]:
    """Split gen_topic_db_lines output into the leading dim rows and one
    group per order transaction (an order_info insert and every envelope
    after it up to the next order_info insert)."""
    head: list[str] = []
    groups: list[list[str]] = []
    for line in lines:
        if line.startswith('{"database": "gmall", "table": "order_info", "type": "insert"'):
            groups.append([line])
        elif groups:
            groups[-1].append(line)
        else:
            head.append(line)
    return head, groups


def warehouse_files(
    seed: int, n_log: int, n_orders: int, n_files: int
) -> tuple[list[list[str]], list[list[str]]]:
    """(log files, trade files), each a list of ``n_files`` line lists.

    The first trade file carries the dim bootstrap; every trade file
    also carries one ``sku_info`` price update, so each micro-batch that
    reads one changes a dim table. Trade files hold whole orders only.
    """
    from gmall_realtime_ck_spark.gmall import fixtures

    log = fixtures.gen_log_lines(n_events=n_log, seed=seed)
    head, groups = _order_groups(fixtures.gen_topic_db_lines(n_orders=n_orders, seed=seed + 1))
    t0 = int(fixtures.DAY0.timestamp())
    rng = random.Random(seed + 2)
    log_files = [log[i * len(log) // n_files:(i + 1) * len(log) // n_files] for i in range(n_files)]
    trade_files: list[list[str]] = []
    for i in range(n_files):
        part = [l for g in groups[i * len(groups) // n_files:(i + 1) * len(groups) // n_files] for l in g]
        sku = rng.randrange(35)
        part.append(_dim_env("sku_info", "update", t0 + 60 + i, {
            "id": sku, "spu_id": sku // 3, "price": f"{(sku + 1) * 100 + i % 7}.00",
            "sku_name": f"sku-{sku}", "tm_id": sku % 8, "category3_id": sku % 6 + 1,
        }, {"price": f"{(sku + 1) * 100}.00"}))
        trade_files.append(part)
    trade_files[0] = head + dim_bootstrap_lines(t0) + trade_files[0]
    return log_files, trade_files


def publish_text(path: str, lines: list[str]) -> None:
    """Write ``lines`` to a hidden temp name, then rename into place, so
    a file source never lists a half-written file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.rename(tmp, path)


def first_dates() -> list[str]:
    """The two cur_date values the fixture generators cover (UTC+8)."""
    from gmall_realtime_ck_spark.gmall import fixtures

    return [(fixtures.DAY0 + timedelta(days=d)).strftime("%Y-%m-%d") for d in (0, 1)]
