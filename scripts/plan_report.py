#!/usr/bin/env python3
"""Physical-plan audit: one row per contract query with the plan facts
that matter at 100 TB — exchange count, join strategies, whether any
parquet scan got pushed filters, and whether Python appears in the plan
(ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas), plus the
number of Spark jobs that ran while the query was being constructed
(eager work: checkpoints, collected gate inputs, isEmpty probes), which
the final plan does not show.  Each local checkpoint taken while the
query is constructed, eager or lazy, registers a SQL execution whose
plan is the checkpointed subtree; the final plan reads it as an RDD
scan, so its operators are read from the status store's plan graph
(final plan only, each operator once) and added to the row.

Writes PLANS.md at the repo root.  Streaming queries (which execute on
construction) and the two queries that materialize indexes still report
their final batch plan.  Usage: python scripts/plan_report.py [sf_dir]
"""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the call site of a SQL execution registered by Dataset.localCheckpoint
CHECKPOINT_SITE = "org.apache.spark.sql.classic.Dataset.localCheckpoint("
PYTHON_OPS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")


def plan_counts(plan: str) -> dict:
    """Operator counts of one plan's text."""
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cart": plan.count("CartesianProduct"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "python": sum(plan.count(t) for t in PYTHON_OPS),
    }


def checkpoint_plans(store, mark: int) -> list:
    """The plan of every local checkpoint registered after execution
    `mark`, one line per operator of its plan graph (for an adaptive plan
    the graph holds the current plan only, so no operator is listed
    twice)."""
    execs, plans = store.executionsList(), []
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= mark:
            break
        if e.details().startswith(CHECKPOINT_SITE):
            nodes = store.planGraph(e.executionId()).allNodes()
            plans.append("\n".join(nodes.apply(j).desc() for j in range(nodes.size())))
    return plans


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
    store = spark._jsparkSession.sharedState().statusStore()
    rows = []
    for name, fn in entry.queries().items():
        try:
            bus.waitUntilEmpty()
            execs = store.executionsList()
            mark = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
            # each query's construction jobs carry its name as job group
            sc.setJobGroup(name, name)
            df = fn(spark, sf_dir)
            bus.waitUntilEmpty()
            eager = len(sc.statusTracker().getJobIdsForGroup(name))
            checkpoints = checkpoint_plans(store, mark)
            row = plan_counts(df._jdf.queryExecution().executedPlan().toString())
            for plan in checkpoints:
                for key, n in plan_counts(plan).items():
                    row[key] += n
            rows.append(
                dict(row, query=name, eager=eager, checkpoints=len(checkpoints))
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
            " job group).  Checkpoints: local checkpoints, eager or"
            " lazy, taken while the query was constructed.  Each one"
            " registers a SQL execution whose plan is the checkpointed"
            " subtree, which the final plan reads as an RDD scan; the"
            " operator columns add the operators of those plans (the"
            " final plan of each, every operator once) to the final"
            " plan's.\n\n"
            "| query | exchanges | BHJ | SMJ | BNLJ | Cart | pushed-filter"
            " scans | python stages | eager jobs | checkpoints |\n"
            "|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            if "err" in r:
                f.write(f"| {r['query']} | ERROR {r['err']} ||||||||||\n")
            else:
                f.write(
                    f"| {r['query']} | {r['exchanges']} | {r['bhj']} |"
                    f" {r['smj']} | {r['bnlj']} | {r['cart']} |"
                    f" {r['pushed']} | {r['python']} | {r['eager']} |"
                    f" {r['checkpoints']} |\n"
                )
    bad = [r for r in rows if "err" in r]
    print(f"wrote PLANS.md ({len(rows)} queries, {len(bad)} errors)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
