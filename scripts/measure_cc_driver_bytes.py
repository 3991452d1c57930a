"""Driver working set of the connected-components driver finish per edge:
the tracemalloc peak of one dedup._driver_components run over a seeded
random graph's canonical (u < v, distinct) edge set, divided by its edge
count. Prints one JSON line; dedup.DRIVER_BYTES_PER_EDGE is this number
rounded up.

tracemalloc sees the NumPy and pandas buffers the finish allocates in
Python, not the JVM side of the collect.

Usage: python3 scripts/measure_cc_driver_bytes.py [edges]
"""

import json
import os
import sys
import tracemalloc

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s2geo_spark.operators.dedup import _driver_components  # noqa: E402


def main(n_edges: int = 1_000_000) -> dict:
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(7)
    u, v = rng.integers(0, n_edges, n_edges), rng.integers(0, n_edges, n_edges)
    pdf = pd.DataFrame({"u": np.minimum(u, v), "v": np.maximum(u, v)})
    pdf = pdf[pdf["u"] != pdf["v"]].drop_duplicates()
    edges = spark.createDataFrame(pdf).localCheckpoint(eager=True)
    n = edges.count()
    peaks = []
    for _ in range(2):
        tracemalloc.start()
        _driver_components(edges)
        peaks.append(tracemalloc.get_traced_memory()[1])
        tracemalloc.stop()
    spark.stop()
    return {"edges": n, "peak_mb": max(peaks) / 1e6, "bytes_per_edge": max(peaks) / n}


if __name__ == "__main__":
    print(json.dumps(main(*map(int, sys.argv[1:]))))
