#!/usr/bin/env python3
"""Cross-scale DuckDB oracle replay (builder-side validation tooling; NOT
part of the Spark library). Mirrors the driver's correctness gate against
an arbitrary sf directory:

  python3 scripts/oracle_replay.py <spark_out_dir> <data_dir> [out.json]

<spark_out_dir> is graft.Verify's output (one parquet dir per query +
oracle_sql.json). For each query with oracle SQL, runs the SQL in DuckDB
over views on <data_dir>'s parquet tables and compares with the Spark
result, driver-style: columns sorted by name, row multisets compared
exactly (EXCEPT ALL both directions, inside DuckDB so multi-million-row
results never materialize in Python). If the exact compare fails, a
float-tolerant pass (doubles/floats and float-lists rendered at 9
significant digits) distinguishes last-ulp aggregation-order drift from a
real mismatch: `exact` / `float_tolerant` / FAIL.
"""
import duckdb
import glob
import json
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    # Cap DuckDB so a heavy oracle (e.g. the 100M-row range-join compare
    # at sf10) spills to disk instead of racing a resident Spark JVM to a
    # box-level OOM: half the host's RAM unless ORACLE_REPLAY_MEM says.
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = os.environ.get("ORACLE_REPLAY_MEM", f"{ram_mb // 2}MB")
    con.execute(f"SET memory_limit = '{mem}'")
    tmp = os.environ.get("ORACLE_REPLAY_TMP", "/tmp/duckdb_replay_tmp")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def cols_of(con, rel_sql):
    return [(r[0], r[1]) for r in
            con.execute(f"DESCRIBE {rel_sql}").fetchall()]


def render_expr(col, typ, tolerant):
    """Comparison expression for one column: exact passthrough, or — in
    the tolerant pass — floats at 9 significant digits so a last-ulp
    difference from aggregation order doesn't read as a failure."""
    q = f'"{col}"'
    if not tolerant:
        return q
    if typ in ("DOUBLE", "FLOAT"):
        return (f"CASE WHEN {q} IS NULL THEN NULL "
                f"ELSE printf('%.8e', {q}::DOUBLE) END")
    if typ in ("DOUBLE[]", "FLOAT[]"):
        return (f"CASE WHEN {q} IS NULL THEN NULL ELSE list_transform({q}, "
                f"x -> CASE WHEN x IS NULL THEN NULL "
                f"ELSE printf('%.8e', x::DOUBLE) END) END")
    return q


def render(col, typ, tolerant):
    return f'{render_expr(col, typ, tolerant)} AS "{col}"'


HASH_ROWS = int(os.environ.get("ORACLE_REPLAY_HASH_ROWS", 20_000_000))


def diff_count(con, a_sql, b_sql, names, types, tolerant, n_rows=0):
    proj = ", ".join(render(c, t, tolerant)
                     for c, t in sorted(zip(names, types)))
    if n_rows > HASH_ROWS:
        # EXCEPT ALL materializes both relations in the hash set-op and
        # DuckDB cannot spill it — at a 100M-row result that is a
        # guaranteed OOM. Compare order-insensitively via an unordered
        # multiset digest instead (NULLs made explicit), at O(1) memory.
        # THREE independent reductions over the per-row hash — additive
        # sum, bit_xor, and the sum of a second-order hash (hash of the
        # first hash prepended to the row text, which also disarms any
        # chr(31)/chr(1) sentinel ambiguity in the rendered row): a
        # differing result would need per-row deltas that cancel in all
        # three simultaneously, which compensating-cancellation attacks
        # on a bare additive hash cannot arrange.
        def ms(sql):
            cols = ", ".join(
                f"coalesce(CAST({render_expr(c, t, tolerant)} "
                f"AS VARCHAR), chr(1)||'NULL')"
                for c, t in sorted(zip(names, types)))
            row = f"concat_ws(chr(31), {cols})"
            return con.execute(
                f"SELECT count(*), sum(hash({row})), bit_xor(hash({row})), "
                f"sum(hash(CAST(hash({row}) AS VARCHAR) || {row})) "
                f"FROM ({sql})").fetchone()
        return 0 if ms(a_sql) == ms(b_sql) else 1
    return con.execute(f"""
        SELECT count(*) FROM (
          (SELECT {proj} FROM ({a_sql})
           EXCEPT ALL SELECT {proj} FROM ({b_sql}))
          UNION ALL
          (SELECT {proj} FROM ({b_sql})
           EXCEPT ALL SELECT {proj} FROM ({a_sql}))
        )""").fetchone()[0]



def _replay_one(con, out_dir, name, oracle_sql, results):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        results[name] = {"status": "NO_SPARK_OUTPUT"}
        return
    spark_sql = ("SELECT * FROM read_parquet(["
                 + ",".join(f"'{f}'" for f in files) + "])")
    n_spark = con.execute(
        f"SELECT count(*) FROM ({spark_sql})").fetchone()[0]
    if name not in oracle_sql:
        results[name] = {"status": "rows_only", "spark_rows": n_spark}
        return
    osql = oracle_sql[name]
    try:
        n_oracle = con.execute(
            f"SELECT count(*) FROM ({osql})").fetchone()[0]
    except Exception as e:
        results[name] = {"status": "ORACLE_SQL_ERROR",
                         "err": str(e).split("\n")[0]}
        return
    sc = cols_of(con, f"SELECT * FROM ({spark_sql})")
    oc = cols_of(con, f"SELECT * FROM ({osql})")
    row = {"spark_rows": n_spark, "oracle_rows": n_oracle,
           "rows_match": n_spark == n_oracle,
           "schema_match": sorted(c for c, _ in sc)
           == sorted(c for c, _ in oc)}
    if not (row["rows_match"] and row["schema_match"]):
        row["status"] = "FAIL"
        row["spark_cols"], row["oracle_cols"] = sc, oc
    else:
        names_, types_ = [c for c, _ in sc], [t for _, t in sc]
        if n_spark > HASH_ROWS:
            row["compare"] = "unordered_hash"
        d = diff_count(con, spark_sql, osql, names_, types_, False, n_spark)
        if d == 0:
            row["status"] = "exact"
        else:
            dt = diff_count(con, spark_sql, osql, names_, types_, True,
                            n_spark)
            if dt == 0:
                row["status"] = "float_tolerant"
                row["exact_diff_rows"] = d
            else:
                row["status"] = "FAIL"
                row["diff_rows"] = dt
    results[name] = row


def _one_main():
    """Internal: replay a single query in THIS process and print its
    result row as JSON. main() runs one subprocess per query so a DuckDB
    allocator-level OOM (which wedges the allocator for the rest of the
    process lifetime) is contained to the one query."""
    name, out_dir, data_dir = sys.argv[2], sys.argv[3], sys.argv[4]
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle_sql = json.load(f)
    results = {}
    con = connect(data_dir)
    try:
        _replay_one(con, out_dir, name, oracle_sql, results)
    finally:
        con.close()
    print(json.dumps(results[name]))


def main():
    import subprocess
    out_dir, data_dir = sys.argv[1], sys.argv[2]
    report_path = sys.argv[3] if len(sys.argv) > 3 else None

    results, fails = {}, 0
    names_all = sorted(d for d in os.listdir(out_dir)
                       if os.path.isdir(os.path.join(out_dir, d)))
    for name in names_all:
        # subprocess per query (fresh process = fresh allocator and no
        # view/temp leakage): a query that dies at the allocator level
        # must not kill or poison the rest of the replay
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name,
             out_dir, data_dir],
            capture_output=True, text=True)
        if proc.returncode == 0 and proc.stdout.strip():
            results[name] = json.loads(proc.stdout.strip().splitlines()[-1])
        else:
            err = (proc.stderr or "").strip().splitlines()
            results[name] = {"status": "REPLAY_ERROR",
                             "err": err[-1] if err else
                             f"exit {proc.returncode}"}
        row = results[name]
        if row.get("status") in ("NO_SPARK_OUTPUT", "ORACLE_SQL_ERROR",
                                 "REPLAY_ERROR", "FAIL"):
            fails += 1
        print(f"{name}: {row['status']}"
              + (f" ({row.get('spark_rows')} rows)"
                 if "spark_rows" in row else ""), flush=True)

    summary = {"total": len(names_all), "fails": fails,
               "exact": sum(1 for r in results.values()
                            if r.get("status") == "exact"),
               "float_tolerant": sum(1 for r in results.values()
                                     if r.get("status") == "float_tolerant"),
               "rows_only": sum(1 for r in results.values()
                                if r.get("status") == "rows_only")}
    print("SUMMARY:", json.dumps(summary))
    print(f"FAILS: {fails}")
    if report_path:
        with open(report_path, "w") as f:
            json.dump({"summary": summary, "queries": results}, f, indent=1,
                      sort_keys=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--one":
        _one_main()
    else:
        main()
