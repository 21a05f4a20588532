#!/usr/bin/env python3
"""Compares two input lakes on the properties the benchmark's workloads
depend on, and prints a markdown table.

    python3 perfbench/compare_lake.py REFERENCE_LAKE GENERATED_LAKE

Use it to hold gen.py's lake to the lake the engine is developed against:
row counts, key cardinalities, the event stream's time span (which sets
the sink's year/month partitions), its value tail (which sets the
quarantine share) and the orders file that lake_write commits.
"""
import sys

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

STATS = [
    *[(f"{t} rows", f"SELECT COUNT(*) FROM {t}") for t in TABLES],
    ("orders distinct o_orderkey", "SELECT COUNT(DISTINCT o_orderkey) FROM orders"),
    ("orders max o_orderkey", "SELECT MAX(o_orderkey) FROM orders"),
    ("orders distinct o_custkey", "SELECT COUNT(DISTINCT o_custkey) FROM orders"),
    ("orders o_orderdate days", "SELECT date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) FROM orders"),
    ("orders parquet row groups", "SELECT COUNT(DISTINCT row_group_id) FROM parquet_metadata('{lake}/orders.parquet')"),
    ("orders parquet bytes", "SELECT SUM(total_compressed_size) FROM parquet_metadata('{lake}/orders.parquet')"),
    ("lineitem distinct l_orderkey", "SELECT COUNT(DISTINCT l_orderkey) FROM lineitem"),
    ("lineitem distinct l_partkey", "SELECT COUNT(DISTINCT l_partkey) FROM lineitem"),
    ("lineitem distinct l_suppkey", "SELECT COUNT(DISTINCT l_suppkey) FROM lineitem"),
    ("events distinct user_id", "SELECT COUNT(DISTINCT user_id) FROM events"),
    ("events distinct event_type", "SELECT COUNT(DISTINCT event_type) FROM events"),
    ("events ts days", "SELECT date_diff('day', MIN(ts), MAX(ts)) FROM events"),
    ("events year/month partitions", "SELECT COUNT(DISTINCT strftime(ts, '%Y%m')) FROM events"),
    ("events null user_id, ts or value",
     "SELECT COUNT(*) FILTER (WHERE user_id IS NULL OR ts IS NULL OR value IS NULL) FROM events"),
    ("events mean value", "SELECT ROUND(AVG(value), 2) FROM events"),
    ("events p99 value", "SELECT ROUND(quantile_cont(value, 0.99), 1) FROM events"),
    ("events value > 450 (quarantined)", "SELECT COUNT(*) FILTER (WHERE value > 450) FROM events"),
    ("events value < 0 (quarantined)", "SELECT COUNT(*) FILTER (WHERE value < 0) FROM events"),
    ("documents ending ' dup'", "SELECT COUNT(*) FILTER (WHERE text LIKE '% dup') FROM documents"),
    ("embeddings dimensions", "SELECT MAX(len(embedding)) FROM embeddings"),
    ("embeddings distinct label", "SELECT COUNT(DISTINCT label) FROM embeddings"),
    ("nation pairs with cross-nation flows",
     "SELECT COUNT(DISTINCT (s_nationkey, c_nationkey)) FROM lineitem "
     "JOIN orders ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey "
     "JOIN customer ON o_custkey = c_custkey WHERE s_nationkey <> c_nationkey"),
]


def stats(lake):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{t}.parquet')")
    return [con.execute(sql.format(lake=lake)).fetchone()[0] for _, sql in STATS]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    ref, got = stats(sys.argv[1]), stats(sys.argv[2])
    print("| property | reference | gen.py | gen.py ÷ reference |")
    print("|---|---|---|---|")
    for (name, _), a, b in zip(STATS, ref, got):
        ratio = f"{b / a:.3f}" if a else ("—" if not b else "∞")
        print(f"| {name} | {a} | {b} | {ratio} |")


if __name__ == "__main__":
    main()
