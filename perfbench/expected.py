"""Order-insensitive result checksums for the query_mix queries.

The expected checksums in ``query_mix_expected.json`` come from the DuckDB
oracle SQL (``s2geo_spark.contract.oracle_sql()``) run on the generated
contract tables. Regenerate them after changing ``gen.contract_tables``:

    python3 perfbench/expected.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "query_mix_expected.json")


def normalize(cols, rows) -> list[str]:
    """Rows as strings with columns in name order and doubles rounded to 9
    places, sorted — the comparison scripts/gate_check.py makes."""
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


def checksum(cols, rows) -> dict:
    lines = normalize(cols, rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "sha256": h}


def oracle_checksums(sf_dir: str, names) -> dict[str, dict]:
    """Checksums of the oracle SQL for ``names`` over the tables in ``sf_dir``."""
    import duckdb

    from s2geo_spark import contract

    oracles = contract.oracle_sql()
    con = duckdb.connect()
    for fn in os.listdir(sf_dir):
        if fn.endswith(".parquet"):
            t = fn[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, fn)}')"
            )
    out = {}
    for name in names:
        cur = con.execute(oracles[name])
        cols = [d[0] for d in cur.description]
        out[name] = checksum(cols, cur.fetchall())
    con.close()
    return out


def load() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def main() -> None:
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    from perfbench import gen, workloads

    sf_dir = os.path.join(root, ".perfbench", "derive-sf")
    tables = gen.contract_tables()
    gen.write_contract_tables(sf_dir, tables)
    try:
        record = {
            "tables_sha256": gen.tables_digest(tables),
            "queries": oracle_checksums(sf_dir, workloads.QUERY_MIX),
        }
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: v["rows"] for k, v in record["queries"].items()}))


if __name__ == "__main__":
    main()
