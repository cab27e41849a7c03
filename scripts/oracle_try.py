#!/usr/bin/env python3
"""Scratch harness: run a candidate oracle SQL against a testdata sf dir.

Usage: oracle_try.py <sfdir> <sqlfile>
Registers every <table>.parquet under sfdir as a DuckDB view, runs the SQL,
prints row count + first rows. Iteration aid for authoring the `Sql(text)`
oracle of a `SparkEntry.entries` entry (driver-side python; not part of the
Scala library).
"""
import sys, glob, os
import duckdb

sfdir, sqlfile = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    t = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
sql = open(sqlfile).read()
df = con.execute(sql).fetchdf()
print(f"rows={len(df)}")
print(df.head(15).to_string())
