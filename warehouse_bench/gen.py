"""Seeded input generator for the warehouse benchmark.

Everything the benchmark feeds the program is built here from the
workload seed alone; the program only ever sees the generated files
and the calls made on them.

  landing batches   the reference landing layout
                    raw/{client}/{crm,erp}/incoming, six CSV files per
                    batch, with about 1% of rows in each dirt class the
                    silver procs repair (the classes of
                    scripts/bench_medallion.py:seed_bronze).  The exact
                    row, dirt and expected silver/gold counts are
                    written beside the files as manifest.json.
  star tables       TPC-H-shaped parquet tables (region .. lineitem)
                    for the analyst query mix.
  query sequence    rounds of a Zipf-weighted deck over the query pool,
                    each round in its own seeded order.

Same seed, same bytes: no clock, no hash randomisation and no
unordered iteration reaches the output.
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIRT = 0.01  # share of rows in each dirt class
# delayed shipments seed mv_delayed_orders_chain, whose output grows with
# the square of a customer's delayed rows; kept sparse on purpose
# (scripts/bench_medallion.py:162-170)
DELAYED = 0.0002
CATEGORIES = (
    ("CO-RF", "Components", "Road Frames", "Yes"),
    ("AC-BR", "Accessories", "Brakes", "No"),
    ("CL-SO", "Clothing", "Socks", "No"),
    ("BI-MT", "Bikes", "Mountain Bikes", "Yes"),
    ("CO-HB", "Components", "Handlebars", "Yes"),
    ("AC-HE", "Accessories", "Helmets", "No"),
)
# rows per sales row, as in sf0.1 (15k customers, 20k parts, 600k lines)
CUST_PER_SALE = 1 / 40
PRD_PER_SALE = 1 / 30

# (source system, landing file stem, bronze table, [(column, type)], required)
SOURCES = (
    ("crm", "cust_info", "crm_cust_info", (
        ("cst_id", "integer"), ("cst_key", "string"),
        ("cst_firstname", "string"), ("cst_lastname", "string"),
        ("cst_marital_status", "string"), ("cst_gndr", "string"),
        ("cst_create_date", "date"),
    ), ("cst_id",)),
    ("crm", "prd_info", "crm_prd_info", (
        ("prd_id", "integer"), ("prd_key", "string"), ("prd_nm", "string"),
        ("prd_cost", "double"), ("prd_line", "string"),
        ("prd_start_dt", "date"),
    ), ("prd_key", "prd_start_dt")),
    ("crm", "sales_details", "crm_sales_details", (
        ("sls_ord_num", "string"), ("sls_prd_key", "string"),
        ("sls_cust_id", "integer"), ("sls_order_dt", "integer"),
        ("sls_ship_dt", "integer"), ("sls_due_dt", "integer"),
        ("sls_sales", "double"), ("sls_quantity", "integer"),
        ("sls_price", "double"),
    ), ("sls_ord_num", "sls_prd_key")),
    ("erp", "CUST_AZ12", "erp_cust_az12", (
        ("cid", "string"), ("bdate", "date"), ("gen", "string"),
    ), ("cid",)),
    ("erp", "LOC_A101", "erp_loc_a101", (
        ("cid", "string"), ("cntry", "string"),
    ), ("cid",)),
    ("erp", "PX_CAT_G1V2", "erp_px_cat_g1v2", (
        ("id", "string"), ("cat", "string"), ("subcat", "string"),
        ("maintenance", "string"),
    ), ("id",)),
)


def _ymd(d: np.ndarray) -> np.ndarray:
    """datetime64[D] -> yyyymmdd int64."""
    y = d.astype("datetime64[Y]").astype(int) + 1970
    m = d.astype("datetime64[M]").astype(int) % 12 + 1
    day = (d - d.astype("datetime64[M]")).astype(int) + 1
    return y * 10000 + m * 100 + day


def _write_csv(path: str, header, rows) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


def _pick(rng, n: int, p: float) -> np.ndarray:
    return rng.random(n) < p


BATCH_TAG = "b0000"  # landing file suffix: one batch per client


def client_batch(root: str, client: str, index: int, seed: int, n_sales: int) -> dict:
    """Write one batch of the six landing files for one client under
    root/{client}/raw/{client}: the client's customers and products and
    `n_sales` sales lines that reference only them.  Returns its
    manifest entry.  `index` is the client's position in the client
    list: each client draws from its own stream of the seed."""
    rng = np.random.default_rng([seed, 3, index])
    cust_ids = np.arange(1, max(8, int(n_sales * CUST_PER_SALE)) + 1)
    prd_ids = np.arange(1, max(8, int(n_sales * PRD_PER_SALE)) + 1)
    client_dir = os.path.join(root, client, "raw", client)
    n_c, n_p = len(cust_ids), len(prd_ids)
    files, dirt = {}, {}

    # -- crm cust_info ------------------------------------------------
    null_id = _pick(rng, n_c, DIRT)
    padded = _pick(rng, n_c, DIRT)
    future = _pick(rng, n_c, DIRT)
    dup = _pick(rng, n_c, DIRT) & ~null_id
    marital = rng.choice(np.array(["M", "S"]), n_c)
    marital[_pick(rng, n_c, DIRT)] = "X"
    gndr = rng.choice(np.array(["M", "F"]), n_c).astype(object)
    gclass = rng.random(n_c)
    gndr[gclass < 3 * DIRT] = "m"
    gndr[gclass < 2 * DIRT] = ""
    gndr[gclass < DIRT] = None
    created = np.datetime64("2020-01-01") + rng.integers(0, 1500, n_c)
    seg = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    cust_rows = []
    for i, cid in enumerate(cust_ids):
        key = f"AW{cid:08d}"
        cdate = "2999-06-01" if future[i] else str(created[i])
        row = [
            "" if null_id[i] else f"{cid}.0",
            f" {key} " if padded[i] else key,
            f" First{cid % 997}" if padded[i] else f"First{cid % 997}",
            seg[cid % 5],
            marital[i],
            gndr[i],
            cdate,
        ]
        cust_rows.append(row)
        if dup[i]:  # an older version the keep-latest dedup must drop
            cust_rows.append(row[:6] + [str(created[i] - 30)])
    dirt["cust_null_id"] = int(null_id.sum())
    dirt["cust_padded"] = int(padded.sum())
    dirt["cust_future_date"] = int(future.sum())
    dirt["cust_dup_version"] = int(dup.sum())

    # -- crm prd_info -------------------------------------------------
    cat = rng.integers(0, len(CATEGORIES), n_p)
    cost_null = _pick(rng, n_p, DIRT)
    line_bad = _pick(rng, n_p, DIRT)
    nm_pad = _pick(rng, n_p, DIRT)
    versioned = _pick(rng, n_p, DIRT)
    lines = rng.choice(np.array(["R", "M", "S", "T"]), n_p)
    lines[line_bad] = "X"
    start = np.datetime64("2019-01-01") + rng.integers(0, 700, n_p)
    cost = np.round(900 + rng.random(n_p) * 100, 2)
    prd_rows = []
    for i, pid in enumerate(prd_ids):
        pkey = f"{CATEGORIES[cat[i] % len(CATEGORIES)][0]}-P{pid:07d}"
        nm = f"part {pid % 211} {lines[i]}"
        row = [
            str(pid),
            pkey,
            f" {nm}" if nm_pad[i] else nm,
            "" if cost_null[i] else f"{cost[i]:.2f}",
            lines[i],
            str(start[i]),
        ]
        prd_rows.append(row)
        if versioned[i]:  # a later version: LEAD end-dates the first
            prd_rows.append(row[:5] + [str(start[i] + 365)])
    dirt["prd_null_cost"] = int(cost_null.sum())
    dirt["prd_unknown_line"] = int(line_bad.sum())
    dirt["prd_padded"] = int(nm_pad.sum())
    dirt["prd_versioned"] = int(versioned.sum())

    # -- crm sales_details --------------------------------------------
    # orders of 1..7 lines until n_sales lines exist
    sizes = rng.integers(1, 8, n_sales // 2 + 8)
    n_ord = int(np.searchsorted(np.cumsum(sizes), n_sales)) + 1
    sizes = sizes[:n_ord]
    sizes[-1] -= int(sizes.sum()) - n_sales
    ord_num = np.repeat(np.arange(1, n_ord + 1), sizes)
    ord_cust = np.repeat(rng.choice(cust_ids, n_ord), sizes)
    ord_date = np.repeat(
        np.datetime64("2020-01-01") + rng.integers(0, 1800, n_ord), sizes
    )
    prd = rng.choice(prd_ids, n_sales)
    qty = rng.integers(1, 51, n_sales)
    price = np.round(900 + rng.random(n_sales) * 100, 2)
    sales = np.round(qty * price, 2)
    odt = _ymd(ord_date)
    cls = rng.random(n_sales)
    odt[cls < 2 * DIRT] = odt[cls < 2 * DIRT] // 10  # 7-digit
    odt[cls < DIRT] = 0
    delayed = _pick(rng, n_sales, DELAYED)
    ship = _ymd(ord_date + np.where(delayed, 12, 3))
    due = _ymd(ord_date + 7)
    s_cls = rng.random(n_sales)
    p_null = _pick(rng, n_sales, DIRT)
    sales_rows = [
        [
            f"SO{ord_num[i]}",
            f"P{prd[i]:07d}",
            str(ord_cust[i]),
            str(odt[i]),
            str(ship[i]),
            str(due[i]),
            "" if s_cls[i] < DIRT else ("-1.0" if s_cls[i] < 2 * DIRT else f"{sales[i]:.2f}"),
            str(qty[i]),
            "" if p_null[i] else f"{price[i]:.2f}",
        ]
        for i in range(n_sales)
    ]
    dirt["sales_zero_date"] = int((cls < DIRT).sum())
    dirt["sales_7digit_date"] = int(((cls >= DIRT) & (cls < 2 * DIRT)).sum())
    dirt["sales_null_sales"] = int((s_cls < DIRT).sum())
    dirt["sales_negative_sales"] = int(((s_cls >= DIRT) & (s_cls < 2 * DIRT)).sum())
    dirt["sales_null_price"] = int(p_null.sum())
    dirt["sales_delayed"] = int(delayed.sum())

    # -- erp CUST_AZ12 / LOC_A101 / PX_CAT_G1V2 -----------------------
    nas = _pick(rng, n_c, DIRT)
    bfuture = _pick(rng, n_c, DIRT)
    bdate = np.datetime64("1950-01-01") + rng.integers(0, 18000, n_c)
    gen = rng.choice(np.array(["M", "F", "Male", "Female"]), n_c).astype(object)
    gcls = rng.random(n_c)
    gen[gcls < 2 * DIRT] = ""
    gen[gcls < DIRT] = None
    az_rows = [
        [
            ("NAS" if nas[i] else "") + f"AW{cid:08d}",
            "2999-01-01" if bfuture[i] else str(bdate[i]),
            gen[i],
        ]
        for i, cid in enumerate(cust_ids)
    ]
    cntry = rng.choice(np.array(["US", "DE", "Australia", "Canada"]), n_c).astype(object)
    ccls = rng.random(n_c)
    cntry[ccls < 4 * DIRT] = "USA"
    cntry[ccls < 3 * DIRT] = "Germany"
    cntry[ccls < 2 * DIRT] = ""
    cntry[ccls < DIRT] = None
    loc_rows = [[f"AW-{cid:08d}", cntry[i]] for i, cid in enumerate(cust_ids)]
    cat_rows = [[c[0].replace("-", "_"), c[1], c[2], c[3]] for c in CATEGORIES]
    dirt["az12_nas_prefix"] = int(nas.sum())
    dirt["az12_future_bdate"] = int(bfuture.sum())

    rows_by_table = {
        "crm_cust_info": cust_rows,
        "crm_prd_info": prd_rows,
        "crm_sales_details": sales_rows,
        "erp_cust_az12": az_rows,
        "erp_loc_a101": loc_rows,
        "erp_px_cat_g1v2": cat_rows,
    }
    landed_bytes = 0
    for system, stem, table, cols, _ in SOURCES:
        path = os.path.join(
            client_dir, system, "incoming", f"{stem}_{BATCH_TAG}.csv"
        )
        rows = rows_by_table[table]
        size = _write_csv(path, [c for c, _ in cols], rows)
        landed_bytes += size
        files[f"{stem}_{BATCH_TAG}.csv"] = {
            "table": table, "rows": len(rows), "bytes": size,
        }
    expected = {
        "silver": {
            "crm_cust_info": int(n_c - null_id.sum()),
            "crm_prd_info": len(prd_rows),
            "crm_sales_details": n_sales,
            "erp_cust_az12": n_c,
            "erp_loc_a101": n_c,
            "erp_px_cat_g1v2": len(CATEGORIES),
        },
        "gold": {
            "dim_customers": int(n_c - null_id.sum()),
            "dim_products": n_p,
            "fact_sales": n_sales,
        },
    }
    return {
        "files": files,
        "dirt": dirt,
        "expected": expected,
        "landed_rows": sum(f["rows"] for f in files.values()),
        "landed_bytes": landed_bytes,
        "dir": client_dir,
    }


def write_manifest(path: str, manifest) -> None:
    with open(path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


# -- star tables for the query mix -------------------------------------
def _table(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def star_tables(dst: str, seed: int, lineitems: int) -> dict[str, int]:
    """TPC-H-shaped tables with the column names, types and value
    domains the query gates read; sizes scale from `lineitems` in the
    sf0.1 proportions.  Returns rows per table."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n_ord = max(40, lineitems // 4)
    n_cust = max(10, lineitems // 40)
    n_part = max(10, lineitems // 30)
    n_supp = max(10, lineitems // 600)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _table(f"{dst}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    })
    _table(f"{dst}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _table(f"{dst}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    _table(f"{dst}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["large", "hot", "blue", "small", "green", "red", "cold", "shiny"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "chain", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _table(f"{dst}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            adj[rng.integers(0, 8, n_part)], noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    odate = np.datetime64("1995-01-01") + rng.integers(0, 2404, n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _table(f"{dst}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    l_ord = rng.integers(0, n_ord, lineitems)
    qty = rng.integers(1, 51, lineitems).astype(float)
    ship = odate[l_ord] + rng.integers(-30, 120, lineitems)
    _table(f"{dst}/lineitem.parquet", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, lineitems), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, lineitems), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, lineitems), 2),
        "l_discount": rng.integers(0, 11, lineitems) / 100,
        "l_tax": rng.integers(0, 9, lineitems) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, lineitems)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, lineitems)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_ord, "lineitem": lineitems,
    }


ZIPF_S = 1.1  # rank r of the query pool has popularity 1/r**ZIPF_S
DECK = 8  # queries in one round of the analyst's mix


def query_deck(ranked: list[str]) -> list[str]:
    """The round's multiset of queries: rank r appears in proportion to
    its Zipf-like popularity (largest-remainder rounding to DECK
    entries, so the head repeats and the tail drops out)."""
    w = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
    share = w / w.sum() * DECK
    count = np.floor(share).astype(int)
    rest = np.argsort(-(share - count), kind="stable")[: DECK - count.sum()]
    count[rest] += 1
    return [q for q, k in zip(ranked, count) for _ in range(k)]


def query_sequence(seed: int, deck: list[str], rounds: int) -> list[str]:
    """`rounds` copies of `deck`, each in its own seeded order."""
    rng = np.random.default_rng([seed, 13])
    return [deck[i] for _ in range(rounds) for i in rng.permutation(len(deck))]
