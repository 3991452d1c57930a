#!/usr/bin/env python3
"""Physical-plan audit: one row per contract query with the plan facts
that matter at 100 TB — exchange count, join strategies, whether any
parquet scan got pushed filters, and whether Python appears in the plan
(ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas), plus the
number of Spark jobs that ran while the query was being constructed
(eager work: checkpoints, collected gate inputs, isEmpty probes), which
the final plan does not show.

Writes PLANS.md at the repo root.  Streaming queries (which execute on
construction) and the two queries that materialize indexes still report
their final batch plan.  Usage: python scripts/plan_report.py [sf_dir]
"""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


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
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    bus = sc._jsc.sc().listenerBus()
    rows = []
    for name, fn in entry.queries().items():
        try:
            # each query's construction jobs carry its name as job group
            sc.setJobGroup(name, name)
            df = fn(spark, sf_dir)
            bus.waitUntilEmpty()
            eager = len(sc.statusTracker().getJobIdsForGroup(name))
            plan = df._jdf.queryExecution().executedPlan().toString()
            pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
            py = sum(
                plan.count(t)
                for t in (
                    "ArrowEvalPython",
                    "MapInPandas",
                    "FlatMapGroupsInPandas",
                    "BatchEvalPython",
                )
            )
            rows.append(
                {
                    "query": name,
                    "exchanges": plan.count("Exchange hashpartitioning")
                    + plan.count("Exchange rangepartitioning"),
                    "bhj": plan.count("BroadcastHashJoin"),
                    "smj": plan.count("SortMergeJoin"),
                    "bnlj": plan.count("BroadcastNestedLoopJoin"),
                    "cart": plan.count("CartesianProduct"),
                    "pushed": pushed,
                    "python": py,
                    "eager": eager,
                }
            )
            print(f"{name}: ok", flush=True)
        except Exception as ex:  # noqa: BLE001 — audit must report all
            rows.append({"query": name, "err": f"{type(ex).__name__}"})
            print(f"{name}: ERROR {type(ex).__name__}: {str(ex)[:120]}",
                  flush=True)
    spark.stop()

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# Physical-plan audit (generated by scripts/plan_report.py"
            f" at {os.path.basename(sf_dir)})\n\n"
            "Per contract query: shuffle exchange count, join strategies"
            " (BHJ=BroadcastHash, SMJ=SortMerge, BNLJ=BroadcastNestedLoop,"
            " Cart=Cartesian), scans with non-empty PushedFilters, Python"
            " stages (Arrow-batched UDF operators).  BNLJ/Cartesian appear only in the documented"
            " bounded/broadcast brute-force paths (knn fast path,"
            " embedding_topk's intentional BNLJ over 10 broadcast"
            " queries, single-row aggregate cross joins, bounded"
            " polygon-pair enumeration).  Eager jobs: Spark jobs run while"
            " the query was constructed (read from the status tracker by"
            " job group).  Work behind a lazy checkpoint runs in the"
            " action, and no column counts it.\n\n"
            "| query | exchanges | BHJ | SMJ | BNLJ | Cart | pushed-filter"
            " scans | python stages | eager jobs |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            if "err" in r:
                f.write(f"| {r['query']} | ERROR {r['err']} |||||||||\n")
            else:
                f.write(
                    f"| {r['query']} | {r['exchanges']} | {r['bhj']} |"
                    f" {r['smj']} | {r['bnlj']} | {r['cart']} |"
                    f" {r['pushed']} | {r['python']} | {r['eager']} |\n"
                )
    bad = [r for r in rows if "err" in r]
    print(f"wrote PLANS.md ({len(rows)} queries, {len(bad)} errors)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
