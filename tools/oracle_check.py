#!/usr/bin/env python3
"""Local dry run of the driver's correctness gate.

Usage: python3 tools/oracle_check.py <verifyOutDir> <sfDir>

For every query with an entry in oracle_sql.json, run the oracle SQL in
DuckDB against the <sfDir> parquet tables and compare it with the dump
graft.Verify wrote to <verifyOutDir>: column set, column types (the
correctness gate hashes values with their types), row count, and values
(columns sorted by name, rows sorted by all columns, floats rounded to 9
places — the gate's hash ordering without the hash). Queries with no oracle
entry are reported as no_oracle with their row count; an empty one
fails.

An oracle query without output fails unless Verify declared it skipped
(skipped.json); a watchdog timeout (cancelled.json) always fails.
<sfDir> may be the testdata layout (one file per table) or a MakeScale
dir (one directory per table, events.ts stored as BIGINT nanoseconds).

Exits 1 if any query fails, else 0.
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Type pairs the gate's hash treats as equal: Spark writes
# TIMESTAMP_MICROS adjusted to UTC (session TZ is UTC, so values agree),
# and it coerces integer widths before hashing (rank(), year(),
# length() dump INTEGER where the oracle computes BIGINT). DECIMAL vs
# DOUBLE/FLOAT stays strict: that divergence fails the gate's hash.
INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def type_class(t: str) -> str:
    if t == "TIMESTAMP WITH TIME ZONE":
        return "TIMESTAMP"
    return "INT" if t in INTS else t


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns/rows and widen numerics — Spark parquet dumps carry
    int32/float32 where DuckDB answers int64/float64; the driver's
    typed-hash comparator widens the same way before hashing."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64").round(9)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()

    def src(t):
        path = f"{sf_dir}/{t}.parquet"
        return f"{path}/*.parquet" if os.path.isdir(path) else path

    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src(t)}'")
    # MakeScale dirs store events.ts as raw ns BIGINT (Spark's
    # nanosAsLong write): apply the ns→µs truncation Spark applies
    ts = [r[1] for r in con.sql("DESCRIBE events").fetchall() if r[0] == "ts"]
    if ts == ["BIGINT"]:
        con.sql("DROP VIEW events")
        con.sql("CREATE VIEW events AS SELECT * REPLACE "
                f"(make_timestamp(ts // 1000) AS ts) FROM '{src('events')}'")
    return con


def check(con, out_dir: str, name: str, sql: str) -> str | None:
    """None if the dump matches the oracle, else why not."""
    dump = f"SELECT * FROM '{out_dir}/{name}/*.parquet'"
    mine, want = con.sql(dump).df(), con.sql(sql).df()
    if sorted(want.columns) != sorted(mine.columns):
        return f"SCHEMA_MISMATCH {sorted(mine.columns)} vs oracle {sorted(want.columns)}"
    otypes = {r[0]: r[1] for r in con.sql(f"DESCRIBE ({sql})").fetchall()}
    stypes = {r[0]: r[1] for r in con.sql(f"DESCRIBE {dump}").fetchall()}
    tdiff = [(c, otypes[c], stypes[c]) for c in sorted(otypes)
             if type_class(otypes[c]) != type_class(stypes[c])]
    if tdiff:
        return f"TYPE_MISMATCH (column, oracle, dump): {tdiff}"
    a, b = norm(mine), norm(want)
    if len(a) != len(b):
        return f"ROWS_MISMATCH {len(a)} vs oracle {len(b)}"
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        return (f"VALUE_MISMATCH first diff row\n"
                f"  mine:   {a[diff].head(1).to_dict('records')}\n"
                f"  oracle: {b[diff].head(1).to_dict('records')}")
    return None


def load(path: str) -> set:
    return set(json.load(open(path))) if os.path.exists(path) else set()


def main() -> int:
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    skipped = load(f"{out_dir}/skipped.json")
    cancelled = load(f"{out_dir}/cancelled.json")
    dumped = {d for d in os.listdir(out_dir)
              if os.path.isdir(os.path.join(out_dir, d))}
    con = connect(sf_dir)
    n_pass = n_no = n_skip = n_fail = 0
    for name in sorted(set(oracles) | dumped):
        if name not in dumped:
            if name in cancelled:
                why = "watchdog TIMEOUT in Verify: the query hung"
            elif name in skipped:
                n_skip += 1
                print(f"{'skipped':18s} {name}")
                continue
            else:
                why = "no output and not in skipped.json: crashed in Verify"
        elif name not in oracles:
            rows = con.sql(f"SELECT count(*) FROM '{out_dir}/{name}/*.parquet'").fetchone()[0]
            n_no += 1
            print(f"{'no_oracle':18s} {name} rows={rows}")
            if rows > 0:
                continue
            why = "no oracle and no rows"
        else:
            try:
                why = check(con, out_dir, name, oracles[name])
            except Exception as e:  # a broken dump or oracle is a failure
                why = f"ERROR {e}"
            if why is None:
                n_pass += 1
                continue
        n_fail += 1
        print(f"{'FAIL':18s} {name}: {why}")
    print(f"\nSUMMARY pass={n_pass} no_oracle={n_no} skipped={n_skip} "
          f"fail={n_fail}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
