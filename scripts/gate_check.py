"""Local mirror of the driver's correctness gate: run every
contract.queries() entry at sf0.01 against its oracle_sql() DuckDB
equivalent and compare row count + (name-sorted-column, float-rounded)
value multisets.  Usage: python scripts/gate_check.py [sf_dir]"""

import json
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
                if math.isnan(v):
                    v = "NaN"
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    qs = entry.queries()
    oracles = entry.oracle_sql()
    results = {}
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            if name not in oracles:
                results[name] = {
                    "rows": len(rows), "oracle": None, "match": "rows-only",
                }
                print(f"{name}: {len(rows)} rows (no oracle)", flush=True)
                continue
            ocur = con.execute(oracles[name])
            ocols = [d[0] for d in ocur.description]
            orows = ocur.fetchall()
            ok = (
                len(rows) == len(orows)
                and sorted(cols) == sorted(ocols)
                and _norm(rows, cols) == _norm(orows, ocols)
            )
            results[name] = {
                "rows": len(rows), "oracle": len(orows), "match": bool(ok),
            }
            print(f"{name}: {'OK' if ok else 'MISMATCH'} "
                  f"({len(rows)} vs {len(orows)})", flush=True)
        except Exception as ex:  # noqa: BLE001 — gate must report, not die
            results[name] = {"match": False, "err": f"{type(ex).__name__}: {ex}"}
            print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:200]}",
                  flush=True)
    bad = [k for k, v in results.items() if v.get("match") is False]
    print(json.dumps({"total": len(results), "bad": bad}), flush=True)
    # persist the full artifact so a complete pre-driver gate run is on
    # record even when the driver's own window checks a query subset
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "CORRECTNESS_local.json")
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "total": len(results), "bad": bad,
                   "results": results}, f, indent=1, sort_keys=True)
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
