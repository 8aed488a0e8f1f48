#!/usr/bin/env python3
"""Dev-only mirror of the driver's DuckDB-oracle correctness gate.

Not part of the engine (the engine is pure Scala/Spark): this script just
lets the build loop check, before committing, that each SparkEntry query
matches its declared oracle SQL at sf0.01 the same way the driver will.

Usage: python3 tools/compare.py <verify_out_dir> <sf_dir>
       python3 tools/compare.py --dumps <verify_out_a> <verify_out_b> [prefix ...]

The --dumps form compares two Verify dumps query by query (every query
both dirs hold, or only those whose name starts with one of the given
prefixes, e.g. `d e g`) as sorted, normalized row multisets — the gate
for a refactor of queries that have no oracle. Exits 1 on any difference
or on a query present in one dump only.
"""
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v!r}"
    return repr(v)


def table_rows(names, cols):
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = list(zip(*[cols[i] for i in order])) if cols else []
    return sorted(tuple(norm_cell(c) for c in r) for r in rows), [names[i] for i in order]


def dump_rows(path):
    tbl = pq.read_table(path)
    names = tbl.schema.names
    return table_rows(names, [tbl.column(i).to_pylist() for i in range(len(names))])


def diff_dumps(dir_a, dir_b, prefixes):
    def queries(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))
                and (not prefixes or n.startswith(tuple(prefixes)))}
    qa, qb = queries(dir_a), queries(dir_b)
    n_same = n_diff = 0
    for name in sorted(qa ^ qb):
        print(f"ONLY {name}: in {dir_a if name in qa else dir_b}")
        n_diff += 1
    for name in sorted(qa & qb):
        (a_rows, a_cols), (b_rows, b_cols) = (dump_rows(os.path.join(dir_a, name)),
                                              dump_rows(os.path.join(dir_b, name)))
        if a_cols != b_cols:
            print(f"DIFF {name}: columns {a_cols} vs {b_cols}")
            n_diff += 1
        elif a_rows != b_rows:
            a_set, b_set = set(a_rows), set(b_rows)
            print(f"DIFF {name}: rows {len(a_rows)} vs {len(b_rows)}")
            for r in [r for r in a_rows if r not in b_set][:3]:
                print(f"   a-only: {r}")
            for r in [r for r in b_rows if r not in a_set][:3]:
                print(f"   b-only: {r}")
            n_diff += 1
        else:
            print(f"SAME {name} ({len(a_rows)} rows)")
            n_same += 1
    print(f"== {n_same} identical, {n_diff} differ, {len(qa | qb)} total")
    sys.exit(1 if n_diff else 0)


def main():
    if sys.argv[1] == "--dumps":
        diff_dumps(sys.argv[2], sys.argv[3], sys.argv[4:])
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        try:
            s_rows, s_sorted = dump_rows(f"{out_dir}/{name}")

            duck = con.sql(sql).fetch_arrow_table()
            d_names = duck.schema.names
            d_cols = [duck.column(i).to_pylist() for i in range(len(d_names))]
            d_rows, d_sorted = table_rows(d_names, d_cols)
        except Exception as e:
            print(f"FAIL {name}: ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue

        if s_sorted != d_sorted:
            print(f"FAIL {name}: columns spark={s_sorted} duck={d_sorted}")
            n_fail += 1
        elif s_rows != d_rows:
            d_set, s_set = set(d_rows), set(s_rows)
            only_s = [r for r in s_rows if r not in d_set][:3]
            only_d = [r for r in d_rows if r not in s_set][:3]
            print(f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)}")
            for r in only_s:
                print(f"   spark-only: {r}")
            for r in only_d:
                print(f"   duck-only:  {r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {len(oracles)} total")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
