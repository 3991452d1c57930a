"""Worker-side packaging: ship s2geo_spark to Spark Python workers.

Equivalent of ``spark-submit --py-files s2geo_spark.zip`` (BASELINE.json
north_rule), done programmatically so the driver contract works no matter
what cwd/PYTHONPATH the invoking process has: we zip the package once per
session and register it with ``SparkContext.addPyFile`` — executors unpack
it onto their import path.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from s2geo_spark.memo import memo


def make_pyfiles_zip(dest_dir: str | None = None) -> str:
    """Zip the s2geo_spark package for --py-files / addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(dest_dir or tempfile.gettempdir(), "s2geo_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out


def ensure_on_workers(spark) -> None:
    """Idempotently register the package zip with the session's context."""
    sc = spark.sparkContext
    memo(sc, "pyfiles", lambda: sc.addPyFile(make_pyfiles_zip()))
