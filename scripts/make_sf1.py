#!/usr/bin/env python3
"""Deterministic sf1 scale-up of the driver's sf0.1 testdata (builder-side
validation tooling; NOT part of the Spark library).

Replicates each sf0.1 table R times with key-column offsets of
(max(key)+1)*i so every replica is a disjoint key population with the same
per-key history shape, value distributions, and skew as the source data.
Foreign keys are offset consistently (orders.o_custkey moves with
customer.c_custkey, lineitem.l_orderkey with orders.o_orderkey, ...), so
every join in the suite keeps its sf0.1 semantics at 10x the cardinality.

region/nation are fixed-cardinality dimensions (TPC-H semantics) and are
copied 1x. events is replicated 128x rather than 10x: the point of the sf1
replay is that the segmented-carry auto-gate (Joins.SegmentedCarryMinRows =
2M estimated rows, estimated as sizeInBytes/64) fires ON ITS OWN for the
as-of join and batch sessionization, which needs the events parquet to be
>= 128 MiB on disk — 10x (~20 MB) would still take the one-window branch.

Pure SQL transforms over the source parquet (no randomness): byte-for-byte
reproducible. Output: /root/repo/testdata-sf1/<table>.parquet (gitignored).
"""
import duckdb
import os
import sys

SRC = "/root/testdata/sf0.1"
DST = "/root/repo/testdata-sf1"

# table -> (replicas, [key columns to offset by (max(col over base)+1)*i])
# Offsets for foreign keys reuse the REFERENCED table's base key column so
# both sides move together.
SPEC = {
    "region":     (1,   {}),
    "nation":     (1,   {}),
    "customer":   (10,  {"c_custkey": ("customer", "c_custkey")}),
    "supplier":   (10,  {"s_suppkey": ("supplier", "s_suppkey")}),
    "part":       (10,  {"p_partkey": ("part", "p_partkey")}),
    "orders":     (10,  {"o_orderkey": ("orders", "o_orderkey"),
                         "o_custkey": ("customer", "c_custkey")}),
    "lineitem":   (10,  {"l_orderkey": ("orders", "o_orderkey"),
                         "l_partkey": ("part", "p_partkey"),
                         "l_suppkey": ("supplier", "s_suppkey")}),
    "events":     (128, {"event_id": ("events", "event_id"),
                         "user_id": ("events", "user_id")}),
    "documents":  (10,  {"doc_id": ("documents", "doc_id")}),
    "embeddings": (10,  {"vec_id": ("embeddings", "vec_id")}),
}


def main():
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")

    # offset base = max(key)+1 over the SOURCE table, computed once
    offsets = {}
    for tbl, col in {v for _, keys in SPEC.values() for v in keys.values()}:
        mx = con.execute(
            f"SELECT max({col}) FROM '{SRC}/{tbl}.parquet'").fetchone()[0]
        offsets[(tbl, col)] = int(mx) + 1

    for tbl, (reps, keys) in SPEC.items():
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{SRC}/{tbl}.parquet'").fetchall()]
        proj = ", ".join(
            f"{c} + {offsets[keys[c]]}::BIGINT * i AS {c}" if c in keys else c
            for c in cols)
        out = f"{DST}/{tbl}.parquet"
        con.execute(f"""
            COPY (SELECT {proj}
                  FROM '{SRC}/{tbl}.parquet', range({reps}) r(i)
                  ORDER BY i)
            TO '{out}' (FORMAT PARQUET, COMPRESSION SNAPPY)
        """)
        n = con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]
        sz = os.path.getsize(out)
        print(f"{tbl}: {reps}x -> {n} rows, {sz/1e6:.1f} MB", flush=True)

    print("done", file=sys.stderr)


if __name__ == "__main__":
    main()
