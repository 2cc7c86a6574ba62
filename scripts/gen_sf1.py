"""Density-preserving scale-up of /root/testdata/sf0.1 by integer
replication with per-replica key offsets.

Each replica keeps the source's intra-replica duplicate/near-dup
structure while replicas decorrelate from one another (documents get
a per-replica word suffix), so per-key densities — and therefore
measured scaling exponents — stay clean across the decade.  --replicas 10 regenerates `.scratch/sf1`
(the PERF.md round-6 scaling-study dataset); --replicas 100 produces
an sf10-equivalent for timing-only runs (the DuckDB oracles are not
expected to be tractable there).

Usage:
    python scripts/gen_sf1.py [--src /root/testdata/sf0.1]
        [--dst /root/repo/.scratch/sf1] [--replicas 10]
"""
import argparse
import os

import duckdb

ap = argparse.ArgumentParser()
ap.add_argument("--src", default="/root/testdata/sf0.1")
ap.add_argument("--dst", default="/root/repo/.scratch/sf1")
ap.add_argument("--replicas", type=int, default=10)
ap.add_argument(
    "--tables",
    default="all",
    help="comma list; 'all' or a subset of "
    "region,nation,part,supplier,customer,orders,lineitem,"
    "events,documents",
)
args = ap.parse_args()

SRC, DST, R = args.src, args.dst, args.replicas
want = (
    None
    if args.tables == "all"
    else set(args.tables.split(","))
)


def wanted(t: str) -> bool:
    return want is None or t in want


os.makedirs(DST, exist_ok=True)
con = duckdb.connect()
con.execute("SET threads TO 16")


def src(t: str) -> str:
    return f"read_parquet('{SRC}/{t}.parquet')"


K = f"(SELECT unnest(range(0, {R})) AS k)"

# dims copied as-is (broadcast-side tables stay reference-shaped)
for t in ("region", "nation", "part", "supplier"):
    if wanted(t):
        con.execute(
            f"COPY (SELECT * FROM {src(t)}) TO '{DST}/{t}.parquet' "
            f"(FORMAT PARQUET)"
        )

if wanted("customer"):
    con.execute(f"""COPY (
      SELECT c_custkey + k*15000 AS c_custkey, * EXCLUDE (c_custkey, k)
      FROM {src('customer')}, {K}) TO '{DST}/customer.parquet' (FORMAT PARQUET)""")
if wanted("orders"):
    con.execute(f"""COPY (
      SELECT o_orderkey + k*150000 AS o_orderkey, o_custkey + k*15000 AS o_custkey,
             * EXCLUDE (o_orderkey, o_custkey, k)
      FROM {src('orders')}, {K}) TO '{DST}/orders.parquet' (FORMAT PARQUET)""")
if wanted("lineitem"):
    con.execute(f"""COPY (
      SELECT l_orderkey + k*150000 AS l_orderkey, * EXCLUDE (l_orderkey, k)
      FROM {src('lineitem')}, {K}) TO '{DST}/lineitem.parquet' (FORMAT PARQUET)""")
if wanted("events"):
    con.execute(f"""COPY (
      SELECT event_id + k*100000 AS event_id, user_id + k*1500 AS user_id,
             * EXCLUDE (event_id, user_id, k)
      FROM {src('events')}, {K}) TO '{DST}/events.parquet' (FORMAT PARQUET)""")
# documents: per-replica word suffix -> replicas are NOT near-dups of
# each other, intra-replica dup structure preserved
if wanted("documents"):
    con.execute(f"""COPY (
      SELECT doc_id + k*5000 AS doc_id,
             CASE WHEN k = 0 THEN text
                  ELSE array_to_string(list_transform(str_split(text, ' '),
                       w -> w || 'q' || CAST(k AS VARCHAR)), ' ') END AS text,
             lang, source,
             CAST(length(CASE WHEN k = 0 THEN text
                  ELSE array_to_string(list_transform(str_split(text, ' '),
                       w -> w || 'q' || CAST(k AS VARCHAR)), ' ') END) AS BIGINT)
                 AS n_chars
      FROM {src('documents')}, {K}) TO '{DST}/documents.parquet' (FORMAT PARQUET)""")

for t in ("customer", "orders", "lineitem", "events", "documents"):
    if wanted(t):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{DST}/{t}.parquet')"
        ).fetchone()[0]
        print(t, n)
