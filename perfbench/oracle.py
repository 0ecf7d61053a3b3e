#!/usr/bin/env python3
"""Row counts of the repository's DuckDB oracle SQL over the benchmark's
seeded `events` table.

    python3 perfbench/oracle.py <data dir> <oracle_sql.json> <out.tsv>

Each <table>.parquet directory (a Spark output) in <data dir> becomes a view
named <table>. The JSON maps a
query name to its oracle SQL. Each line of <out.tsv> is `name<TAB>rows`; a
query whose SQL is missing or fails gets no line.
"""
import json
import os
import sys

import duckdb


def main(data_dir, spec, out):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # the written join order: DuckDB's reordering turns q89's lag self-join
    # (rn = rn - lag over a cross join) into a per-ticker cross product,
    # about 100 s at 100k events against 0.3 s as written
    con.execute("SET disabled_optimizers = 'join_order'")
    for d in sorted(os.listdir(data_dir)):
        if d.endswith(".parquet"):
            con.execute(f"CREATE VIEW {d[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{d}/*.parquet')")
    lines = []
    for name, sql in json.load(open(spec)).items():
        if not sql.strip():
            print(f"{name}: no oracle SQL", file=sys.stderr)
            continue
        try:
            n = len(con.execute(sql.strip().rstrip(";")).fetchall())
        except Exception as e:  # a broken oracle fails that query's check
            print(f"{name}: {e}", file=sys.stderr)
            continue
        lines.append(f"{name}\t{n}\n")
    with open(out, "w") as f:
        f.writelines(lines)


if __name__ == "__main__":
    main(*sys.argv[1:4])
