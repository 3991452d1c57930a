"""Per-task cost of a Python stage: an identity mapInPandas vs the same
JVM-only plan over spark.range, at 4, 32 and 128 partitions, min of 3
runs each, written to the noop sink. Prints one JSON line.

The difference per task is what a Python stage costs before it does any
work (worker hand-off, Arrow set-up, the result round trip). Use it to
size how many tasks a Python stage should get: a stage whose rows take
less than this per task is bound by its task count, not its rows.

Usage: python3 scripts/microbench_python_task.py [rows]
"""

import json
import os
import sys
import time

from pyspark.sql import SparkSession

PARTITIONS = (4, 32, 128)


def _identity(batches):
    yield from batches


def main(rows: int = 400_000, reps: int = 3) -> dict:
    cpus = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def best(df) -> float:
        t = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t = min(t, time.perf_counter() - t0)
        return t

    def plans(n):
        base = spark.range(0, rows, numPartitions=n)
        return base, base.mapInPandas(_identity, schema=base.schema)

    best(plans(cpus)[1])  # start the Python workers once
    by_parts = {}
    for n in PARTITIONS:
        jvm, py = (best(df) for df in plans(n))
        by_parts[str(n)] = {
            "jvm_s": round(jvm, 3),
            "python_s": round(py, 3),
            "extra_wall_ms_per_task": round((py - jvm) / n * 1e3, 1),
        }
    spark.stop()
    return {
        "metric": "python_stage_overhead",
        "rows": rows,
        "cpus": cpus,
        "reps": reps,
        "partitions": by_parts,
    }


if __name__ == "__main__":
    print(json.dumps(main(*(int(a) for a in sys.argv[1:2]))))
