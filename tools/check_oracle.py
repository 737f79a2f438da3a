"""Driver-mimic: run each __spark_entry__.queries() entry at sf0.01 and
compare with oracle_sql() via DuckDB (row count + order-insensitive
sorted-value comparison). Usage:

    python tools/check_oracle.py [sf_dir] [only_query_name ...]
    python tools/check_oracle.py --json OUT.json [sf_dir]

--json additionally writes a driver-artifact-shaped file (one
rows/schema/hash record per entry, with the entry's Spark wall time as
``seconds``, NO 50-entry cap) — the committed
CORRECTNESS_full_r{N}.json that witnesses every registered entry even
when the driver's own correctness window is smaller.

An entry whose fixture (``__spark_entry__.fixture_dir``) is missing on
this host is reported as ``UNAVAIL <name>: missing <path>`` and
recorded with ``"status": "unavailable"``: neither a failure nor a pass.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from graphrag_kb_server_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    # stringify everything for stable comparison, then sort rows
    out = df.astype(str)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("oracle_check", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = unavailable = 0
    records: dict[str, dict] = {}

    def rec(name, rows_match, schema_match, hash_match, srows, orows, err):
        records[name] = {
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": srows,
            "oracle_rows": orows,
            "err": err,
            "seconds": round(took, 3),  # the entry's Spark wall time
        }

    for name, fn in qs.items():
        if only and name not in only:
            continue
        fixture = entrymod.fixture_dir(name)
        if fixture is not None and not Path(fixture).is_dir():
            print(f"UNAVAIL {name}: missing {fixture}")
            records[name] = {"status": "unavailable", "missing": fixture}
            unavailable += 1
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            took = time.perf_counter() - t0
            print(f"FAIL  {name}: spark error: {e}")
            rec(name, False, False, False, None, None, f"spark error: {e}"[:400])
            failures += 1
            continue
        took = time.perf_counter() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({took:.1f}s) [rows-only]")
            rec(name, len(sdf) > 0, None, None, len(sdf), None, "rows-only")
            if len(sdf) == 0 and name != "dedup_simhash_pairs":
                print(f"WARN  {name}: empty result")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            rec(name, False, False, False, len(sdf), None, f"oracle error: {e}"[:400])
            failures += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            rec(name, len(a) == len(b), False, False, len(a), len(b),
                f"columns {list(a.columns)} vs {list(b.columns)}")
            failures += 1
            continue
        if len(a) != len(b):
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            rec(name, False, True, False, len(a), len(b), None)
            failures += 1
            continue
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            print(f"FAIL  {name}: {int(neq.sum())}/{len(a)} rows differ; first:")
            print(pd.concat([a[neq].head(3), b[neq].head(3)], keys=["spark", "duck"]))
            rec(name, True, True, False, len(a), len(b),
                f"{int(neq.sum())} rows differ")
            failures += 1
            continue
        print(f"OK    {name}: {len(a)} rows match ({took:.1f}s)")
        rec(name, True, True, True, len(a), len(b), None)
    print(f"\n{failures} failures, {unavailable} unavailable")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "entries": len(records),
                 "failures": failures, "unavailable": unavailable,
                 "results": records},
                f, indent=1,
            )
        print(f"wrote {json_out} ({len(records)} entries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
