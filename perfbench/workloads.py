"""The benchmark's workloads, their output checks and their metrics.

Each workload is a closed loop with one client: the driver thread issues an
operation only when the previous one has finished. Set-up (session, input
generation, expected results, index build, one warm-up pass) is timed as
``setup_s``; then passes run back to back for ``--seconds``.

* ``flagship``: one operation = one run of the pages -> S2 -> PIP -> tile
  pipeline (bench.pages_pipeline's shape) over 1.6M seeded pages, against
  the localized fixture index. One pass = one operation.
* ``query_mix``: one operation = one of nine contract queries, constructed
  and collected; one pass = all nine in a seed-permuted order.

A traced run (``--trace 1``) additionally reads Spark's status stores after
each construction and action, times the staged prefixes of the flagship,
runs a manifest-checkpointed pass (plans.manifest) on a slice of the pages,
and times the NumPy kernels on the driver.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

from perfbench import expected, gen, harness
from perfbench.harness import geomean, median
from perfbench.probe import SparkProbe, StreamProgress, Tracer

QUERY_MIX = [
    "s2_pip_join",
    "s2_boolean_counts",
    "s2_cap_join",
    "s2_knn",
    "s2_edge_crossings",
    "s2_hausdorff",
    "s2_stream_tiles",
    "dedup_jaccard_pairs",
    "dedup_clusters",
]
FLAGSHIP_JOINED_AT_BASE_SEED = 75_363
# The first few pipeline runs still get faster (JIT, Python worker reuse),
# so set-up runs two of them before timing starts.
FLAGSHIP_WARMUPS = 2
FLAGSHIP_MIN_PASSES = 3
MANIFEST_PAGES = 200_000
MANIFEST_BUCKETS = 8

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "contract.construct_s": "s",
    "contract.eager_jobs": "count",
    "contract.action_s": "s",
    "contract.jobs": "count",
    "contract.stages": "count",
    "sources.scan_extract_s": "s",
    "sources.generate_s": "s",
    "functions.fij_terms_s": "s",
    "spatial.construct_s": "s",
    "spatial.candidates": "count",
    "spatial.keep_ratio": "ratio",
    "spatial.python_s": "s",
    "spatial.python_init_s": "s",
    "spatial.python_bytes_in": "B",
    "spatial.python_bytes_out": "B",
    "spatial.shuffle_bytes": "B",
    **{
        f"query.{q}.{m}": u
        for q in QUERY_MIX
        for m, u in (("p50_s", "s"), ("python_s", "s"), ("shuffle_bytes", "B"))
    },
    "kernel.encode_ns": "ns",
    "kernel.face_ij_encode_ns": "ns",
    "kernel.pip_ns": "ns",
    "kernel.index_build_s": "s",
    "kernel.covering_ms": "ms",
    "manifest.bucket_s": "s",
    "manifest.jobs_per_bucket": "count",
    "manifest.resume_s": "s",
    "manifest.out_bytes": "B",
    "manifest.out_bytes_per_row": "B",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.rows_per_batch": "count",
    "spark.task_cpu_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.spill_bytes": "B",
    "trace.pass_s": "s",
    "trace.collect_s": "s",
}

class Run:
    """State shared by one workload's set-up, loop and report."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, t0: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t0 = t0
        self.tracer = Tracer(trace)
        self.probe = SparkProbe(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []
        self.n_kinds = 1  # operation kinds in one pass
        self.layer = dict.fromkeys(PER_LAYER, 0.0)
        self.setup: dict[str, float] = {}
        self.collect_s = 0.0  # status-store reading inside the measured loop

    def check(self, what: str, ok: bool, info: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {info}"[:500])
        return ok

    def op(self, name: str, construct, act, verify, pass_no: int | None) -> None:
        """One timed operation: construction call, then action. Failures
        (an exception or a wrong result) are counted, never raised."""
        sc = self.spark.sparkContext
        rec = {"name": name, "pass": pass_no}
        with self.tracer.span("op", op=name, pass_no=pass_no) as sp:
            sc.setJobDescription(f"perfbench {name}")
            try:
                m0 = self.probe.mark() if self.probe else None
                with self.tracer.span("construct"):
                    t0 = time.perf_counter()
                    obj = construct(rec)
                    t1 = time.perf_counter()
                if self.probe:
                    rec["c"] = self.probe.collect(m0)
                    m1 = self.probe.mark()
                with self.tracer.span("action"):
                    t2 = time.perf_counter()
                    result = act(obj)
                    t3 = time.perf_counter()
                if self.probe:
                    rec["a"] = self.probe.collect(m1)
                    sp["job_ids"] = rec["c"]["job_ids"] + rec["a"]["job_ids"]
                ok, info = verify(result)
            except Exception as ex:  # noqa: BLE001 - counted, the run goes on
                ok, info = False, f"{type(ex).__name__}: {ex}"
            finally:
                sc.setJobDescription(None)
        if self.check(name, ok, info):
            rec.update(construct_s=t1 - t0, action_s=t3 - t2, s=(t1 - t0) + (t3 - t2))
            if pass_no is not None:
                self.ops.append(rec)

    def stat(self, rec: dict, key: str) -> float:
        return rec.get("c", {}).get(key, 0.0) + rec.get("a", {}).get(key, 0.0)


def full_passes(run: Run) -> list[list[dict]]:
    """The timed operations grouped by pass, complete passes only (the
    loop may stop part-way through the last one)."""
    groups: dict[int, list[dict]] = {}
    for r in run.ops:
        groups.setdefault(r["pass"], []).append(r)
    return [g for g in groups.values() if len(g) == run.n_kinds]


def end_to_end(run: Run, n_ops: int, peak_rss: int) -> tuple[dict, dict]:
    """The end-to-end metrics, and the sample count behind each timing.
    Only passes the loop ran to the end count, so every operation kind
    weighs the same in every run; a pass with a failed operation still
    gives its other operations, but no ``pass_s`` sample."""
    timed = [r for r in run.ops if r["pass"] < n_ops // run.n_kinds]
    pass_times = [sum(r["s"] for r in g) for g in full_passes(run)]
    by_kind: dict[str, list[float]] = {}
    for r in timed:
        by_kind.setdefault(r["name"], []).append(r["s"])
    values = {
        "setup_s": run.setup["total_s"],
        "op_p50_s": median([r["s"] for r in timed]),
        "pass_s": median(pass_times),
        "query_geomean_s": geomean([median(v) for v in by_kind.values()]),
        "peak_rss_mb": peak_rss / (1 << 20),
    }
    samples = {
        "op_p50_s": len(timed),
        "pass_s": len(pass_times),
        "query_geomean_s": {k: len(v) for k, v in by_kind.items()},
    }
    return values, samples


def layer_common(run: Run, spatial_ops: list[dict]) -> None:
    """Per-layer metrics every workload derives from its traced operations."""
    L = run.layer
    groups = full_passes(run)
    if spatial_ops:
        cand = sum(run.stat(r, "pandas_rows_in") for r in spatial_ops)
        kept = sum(run.stat(r, "pandas_rows_out") for r in spatial_ops)
        L["spatial.construct_s"] = median([r.get("spatial_construct_s", 0.0) for r in spatial_ops])
        L["spatial.candidates"] = median([run.stat(r, "pandas_rows_in") for r in spatial_ops])
        L["spatial.keep_ratio"] = kept / cand if cand else 0.0
        for key in ("python_s", "python_init_s", "python_bytes_in", "python_bytes_out", "shuffle_bytes"):
            L[f"spatial.{key}"] = median([run.stat(r, key) for r in spatial_ops])
    cpu = sum(run.stat(r, "cpu_s") for r in run.ops)
    busy = sum(run.stat(r, "run_s") for r in run.ops)
    L["spark.task_cpu_ratio"] = cpu / busy if busy else 0.0
    L["spark.gc_s"] = median([sum(run.stat(r, "gc_s") for r in g) for g in groups])
    L["spark.spill_bytes"] = median([sum(run.stat(r, "spill_bytes") for r in g) for g in groups])
    L["trace.pass_s"] = median([sum(r["s"] for r in g) for g in groups])
    L["trace.collect_s"] = run.collect_s / max(1, len(run.ops)) * run.n_kinds
    L.update(kernel_layer(run))


def kernel_layer(run: Run) -> dict[str, float]:
    """The NumPy kernels on the driver, one thread, seeded inputs."""
    from s2geo_spark.kernel import cellid_v1 as v1
    from s2geo_spark.kernel import coverer, regions, shapeindex
    from s2geo_spark.kernel import s2coords as sc
    from s2geo_spark.sources import fixtures as fx

    rng = np.random.default_rng(run.seed)

    def best(fn, reps=3):
        t = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            t = min(t, time.perf_counter() - t0)
        return t

    with run.tracer.span("kernel"):
        n = 200_000
        lat = rng.uniform(-89.0, 89.0, n)
        lon = rng.uniform(-180.0, 180.0, n)
        x, y, z = sc.latlng_degrees_to_xyz(lat, lon)
        face, u, v = sc.xyz_to_face_uv(x, y, z)
        i, j = sc.st_to_ij(sc.uv_to_st(u)), sc.st_to_ij(sc.uv_to_st(v))
        out = {
            "kernel.encode_ns": best(lambda: v1.from_latlng(lat, lon)) / n * 1e9,
            "kernel.face_ij_encode_ns": best(lambda: v1.from_face_ij(face, i, j)) / n * 1e9,
        }
        loop_list = list(fx.pip_loops().values())
        idxs = []
        out["kernel.index_build_s"] = best(
            lambda: idxs.append([shapeindex.build_polygon_index([lp]) for lp in loop_list])
        )
        idx = idxs[0][0]
        k = int(np.argmax([len(e) for e in idx["edges"]]))
        cx, cy, cz = v1.to_point(idx["cell"][k : k + 1].view(np.uint64))
        anchor = np.array([cx[0], cy[0], cz[0]])
        m = 50_000
        pts = anchor + rng.normal(scale=2e-3, size=(m, 3))
        pts /= np.linalg.norm(pts, axis=1, keepdims=True)
        out["kernel.pip_ns"] = best(
            lambda: shapeindex.contains_from_anchor(
                anchor, bool(idx["contains_center"][k]), idx["edges"][k], idx["ksigns"][k], pts
            )
        ) / m * 1e9
        caps = [
            regions.Cap.from_latlng_radius_degrees(la, lo, r)
            for la, lo, r in zip(
                rng.uniform(-60, 60, 5), rng.uniform(-180, 180, 5), rng.uniform(1, 10, 5)
            )
        ]
        out["kernel.covering_ms"] = best(
            lambda: [coverer.get_covering(c, max_cells=8) for c in caps]
        ) / len(caps) * 1e3
    return out


# --- flagship ----------------------------------------------------------------


def pages_joined_oracle(texts) -> int:
    """(page, polygon) containment pairs by the kernel's exact loop test."""
    from s2geo_spark.kernel import loops
    from s2geo_spark.kernel import s2coords as sc
    from s2geo_spark.sources import fixtures as fx

    lat, lon = gen.parse_geo(texts)
    pts = np.stack(sc.latlng_degrees_to_xyz(lat, lon), axis=1)
    return sum(
        int(loops.PreparedLoop(vs).contains_points(pts).sum()) for vs in fx.pip_loops().values()
    )


def _tiles_frame(spark, pages_df, index, rec: dict | None):
    from pyspark.sql import functions as F

    from s2geo_spark import functions as sfn
    from s2geo_spark.operators import spatial
    from s2geo_spark.sources import fixtures as fx
    from s2geo_spark.sources import pages as pages_src

    geo = pages_src.extract_geo(pages_df).filter(F.col("lat").isNotNull())
    pts = geo.select(F.col("url").alias("point_id"), "lat", "lon")
    t = time.perf_counter()
    joined = spatial.contains_join_indexed(pts, index, emit_cell=True)
    if rec is not None:
        rec["spatial_construct_s"] = time.perf_counter() - t
    return joined.withColumn("tile", sfn.tile_assign("cell", fx.TILE_LEVEL))


def flagship_inputs(work: str, seed: int, n_pages: int = gen.PAGES_N,
                    files: int = gen.PAGE_FILES) -> dict:
    """Seeded pages on disk and the joined count the pipeline must return.
    Needs no Spark, so it runs while the session starts."""
    import pyarrow.parquet as pq

    pages_dir = os.path.join(work, "pages")
    t = time.perf_counter()
    gen.write_pages(pages_dir, seed, n_pages, files)
    t1 = time.perf_counter()
    want = pages_joined_oracle(pq.read_table(pages_dir, columns=["text"]).column("text"))
    return {
        "pages_dir": pages_dir,
        "n_pages": n_pages,
        "want": want,
        "setup": {"generate_s": t1 - t, "expected_s": time.perf_counter() - t1},
    }


def flagship(run: Run, inputs: dict) -> dict:
    from pyspark.sql import functions as F

    from s2geo_spark.operators import spatial
    from s2geo_spark.sources import fixtures as fx

    spark = run.spark
    pages_dir, want = inputs["pages_dir"], inputs["want"]
    run.setup.update(inputs["setup"])
    if run.seed == gen.BASE_SEED and inputs["n_pages"] == gen.PAGES_N:
        run.check("oracle", want == FLAGSHIP_JOINED_AT_BASE_SEED, f"{want} pages joined")
    with run.tracer.span("setup.index"):
        t = time.perf_counter()
        index = spatial.localize_index(
            spark, spatial.build_index_df(spatial.polygons_to_df(spark, fx.pip_loops()))
        )
        run.setup["index_s"] = time.perf_counter() - t

    def construct(rec):
        tiles = _tiles_frame(spark, spark.read.parquet(pages_dir), index, rec)
        counts = tiles.groupBy("polygon_id", "tile").agg(F.count("*").alias("pages"))
        return counts.agg(F.sum("pages").alias("joined"))

    def act(df):
        return df.collect()[0][0] or 0

    def verify(got):
        return got == want, f"{got} pages joined, expected {want}"

    def one_op(n):
        run.op("pages_pipeline", construct, act, verify, n)

    with run.tracer.span("setup.warmup"):
        t = time.perf_counter()
        for _ in range(FLAGSHIP_WARMUPS):
            run.op("pages_pipeline", construct, act, verify, None)
        run.setup["warmup_s"] = time.perf_counter() - t
    run.setup["total_s"] = time.perf_counter() - run.t0
    report = measure(run, one_op, min_ops=FLAGSHIP_MIN_PASSES)
    report["pages_joined"] = want
    if run.trace:
        layer_common(run, run.ops)
        run.layer["sources.generate_s"] = run.setup["generate_s"]
        flagship_prefixes(run, pages_dir, index)
        manifest_layer(run, min(MANIFEST_PAGES, inputs["n_pages"]))
    return report


def flagship_prefixes(run: Run, pages_dir: str, index) -> None:
    """Self time of the scan+extract prefix and of the (face,i,j) terms."""
    from pyspark.sql import functions as F

    from s2geo_spark import functions as sfn
    from s2geo_spark.sources import pages as pages_src

    spark = run.spark
    levels = sorted(int(r["lvl"]) for r in index.select("lvl").distinct().collect())

    def scan():
        geo = pages_src.extract_geo(spark.read.parquet(pages_dir)).filter(F.col("lat").isNotNull())
        return geo.select(F.col("url").alias("point_id"), "lat", "lon")

    def terms():
        pts = sfn.s2_face_ij_attach(scan(), "lat", "lon")
        quads = F.array(*[sfn.quad_key("f", "i", "j", lv) for lv in levels])
        return pts.withColumn("term", F.explode(quads))

    times: dict[str, list[float]] = {"scan": [], "terms": []}
    with run.tracer.span("prefixes"):
        for _ in range(2):
            for name, build in (("scan", scan), ("terms", terms)):
                with run.tracer.span(f"prefix.{name}"):
                    t = time.perf_counter()
                    build().write.format("noop").mode("overwrite").save()
                    times[name].append(time.perf_counter() - t)
    run.layer["sources.scan_extract_s"] = median(times["scan"])
    run.layer["functions.fij_terms_s"] = median(times["terms"]) - median(times["scan"])


def manifest_layer(run: Run, n_pages: int) -> None:
    """scripts/run_pipeline.py's deployment shape on a slice of the pages:
    seed-salted hash buckets, a persisted index, a manifested run, then a
    resume call that must reprocess nothing."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from s2geo_spark.operators import spatial
    from s2geo_spark.plans import manifest as mani
    from s2geo_spark.sources import fixtures as fx

    spark = run.spark
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    base = os.path.join(run.work, "manifested")
    staged, out, man = (os.path.join(base, d) for d in ("staged", "out", "manifest"))
    first = gen.row_offset(run.seed, gen.PAGES_N)
    ids = np.arange(first, first + n_pages, dtype=np.int64)
    salt = gen._splitmix64(np.array([run.seed], dtype=np.int64))[0]
    bucket = (gen._splitmix64(ids.view(np.uint64) ^ salt) % np.uint64(MANIFEST_BUCKETS)).astype(int)
    table = gen.pages_table(ids)
    keys = [f"bucket={b}" for b in range(MANIFEST_BUCKETS)]
    for b, key in enumerate(keys):
        os.makedirs(os.path.join(staged, key))
        pq.write_table(table.filter(bucket == b), os.path.join(staged, key, "part-0.parquet"))
    want = pages_joined_oracle(table.column("text"))

    with run.tracer.span("manifest"):
        index = spatial.build_index_df(spatial.polygons_to_df(spark, fx.pip_loops())).persist()
        index.count()
        marks: list[tuple[float, int]] = []

        def load(key):
            marks.append((time.perf_counter(), dag.nextJobId()))
            return spark.read.parquet(os.path.join(staged, key))

        def process(df):
            rec: dict = {}
            return _tiles_frame(spark, df, index, rec).select(
                F.col("point_id").alias("url"), "polygon_id", "cell", "tile"
            )

        with run.tracer.span("manifest.run"):
            processed = mani.ManifestedRun(spark, man, out).run(keys, load, process)
            marks.append((time.perf_counter(), dag.nextJobId()))
        written = sum(processed.values())
        run.check("manifest.rows", written == want, f"{written} rows written, expected {want}")
        with run.tracer.span("manifest.resume"):
            t = time.perf_counter()
            again = mani.ManifestedRun(spark, man, out).run(keys, load, process)
            resume_s = time.perf_counter() - t
        run.check("manifest.resume", not again, f"resume reprocessed {sorted(again)}")
        index.unpersist()

    out_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet")
    )
    L = run.layer
    L["manifest.bucket_s"] = median([b[0] - a[0] for a, b in zip(marks, marks[1:])])
    L["manifest.jobs_per_bucket"] = median([b[1] - a[1] for a, b in zip(marks, marks[1:])])
    L["manifest.resume_s"] = resume_s
    L["manifest.out_bytes"] = out_bytes
    L["manifest.out_bytes_per_row"] = out_bytes / written if written else 0.0


# --- query_mix -----------------------------------------------------------------


def query_mix_inputs(work: str, seed: int, scale: float = 1.0) -> dict:
    """The contract tables on disk (seed-independent; see gen.py)."""
    sf_dir = os.path.join(work, "sf")
    t = time.perf_counter()
    tables = gen.contract_tables(scale)
    gen.write_contract_tables(sf_dir, tables)
    return {
        "sf_dir": sf_dir,
        "tables": tables,
        "setup": {"generate_s": time.perf_counter() - t},
    }


def query_mix(run: Run, inputs: dict, names=QUERY_MIX, want: dict | None = None) -> dict:
    from concurrent.futures import ThreadPoolExecutor

    from s2geo_spark import contract, deploy
    from s2geo_spark.operators import spatial

    spark = run.spark
    sf_dir, tables = inputs["sf_dir"], inputs["tables"]
    run.setup.update(inputs["setup"])
    if want is None:
        stored = expected.load()
        if stored["tables_sha256"] != gen.tables_digest(tables):
            raise RuntimeError("query_mix_expected.json is stale: run perfbench/expected.py")
        want = stored["queries"]
    order = list(names)
    random.Random(run.seed).shuffle(order)
    qmap = contract.queries()
    run.n_kinds = len(order)

    listener = spatial_calls = None
    if run.trace:
        listener = StreamProgress()
        spark.streams.addListener(listener)
        spatial_calls = []
        original = spatial.contains_join_indexed

        def timed_join(*a, **k):
            t = time.perf_counter()
            try:
                return original(*a, **k)
            finally:
                spatial_calls.append(time.perf_counter() - t)

        spatial.contains_join_indexed = timed_join

    def run_query(name, pass_no):
        def construct(rec):
            n0 = len(spatial_calls) if spatial_calls is not None else 0
            df = qmap[name](spark, sf_dir)
            if spatial_calls is not None and len(spatial_calls) > n0:
                rec["spatial_construct_s"] = sum(spatial_calls[n0:])
            return df

        def act(df):
            return df.columns, [tuple(r) for r in df.collect()]

        def verify(result):
            got = expected.checksum(*result)
            return got == want[name], f"{got} != {want[name]}"

        run.op(name, construct, act, verify, pass_no)

    def one_op(n):
        run_query(order[n % len(order)], n // len(order))

    def warm(name):
        try:
            df = qmap[name](spark, sf_dir)
            got = expected.checksum(df.columns, [tuple(r) for r in df.collect()])
            return name, got == want[name], f"{got} != {want[name]}"
        except Exception as ex:  # noqa: BLE001 - counted below
            return name, False, f"{type(ex).__name__}: {ex}"

    try:
        # Warm-up fills every query's caches and the JVM's compiled code.
        # It is latency-bound (Python worker start, index builds, many
        # tiny jobs), so it runs three queries at a time; the package zip
        # is shipped first so no two threads build it at once.
        with run.tracer.span("setup.warmup"):
            t = time.perf_counter()
            deploy.ensure_on_workers(spark)
            with ThreadPoolExecutor(3) as pool:
                for name, ok, info in pool.map(warm, order):
                    run.check(name, ok, info)
            run.setup["warmup_s"] = time.perf_counter() - t
        run.setup["total_s"] = time.perf_counter() - run.t0
        if run.trace:
            run.probe.mark()  # deliver the warm-up's progress events first
            warm_batches = len(listener.batches)
        report = measure(run, one_op, min_ops=len(order))
    finally:
        if run.trace:
            spatial.contains_join_indexed = original
            run.probe.mark()  # drain the listener bus before reading progress
            spark.streams.removeListener(listener)
    report["order"] = order
    if run.trace:
        layer_common(run, [r for r in run.ops if "spatial_construct_s" in r])
        query_layer(run, listener.batches[warm_batches:])
        run.layer["sources.generate_s"] = run.setup["generate_s"]
    return report


def query_layer(run: Run, batches: list[tuple[str, int, float]]) -> None:
    L = run.layer
    groups = full_passes(run)
    for key, src in (("construct_s", "construct_s"), ("action_s", "action_s")):
        L[f"contract.{key}"] = median([sum(r[src] for r in g) for g in groups])
    L["contract.eager_jobs"] = median([sum(r["c"]["jobs"] for r in g) for g in groups])
    L["contract.jobs"] = median([sum(r["a"]["jobs"] for r in g) for g in groups])
    L["contract.stages"] = median([sum(run.stat(r, "stages") for r in g) for g in groups])
    for q in QUERY_MIX:
        mine = [r for r in run.ops if r["name"] == q]
        L[f"query.{q}.p50_s"] = median([r["s"] for r in mine])
        L[f"query.{q}.python_s"] = median([run.stat(r, "python_s") for r in mine])
        L[f"query.{q}.shuffle_bytes"] = median([run.stat(r, "shuffle_bytes") for r in mine])
    per_query: dict[str, list] = {}
    for run_id, rows, secs in batches:
        per_query.setdefault(run_id, []).append((rows, secs))
    if per_query:
        L["streaming.batches"] = median([len(v) for v in per_query.values()])
        L["streaming.batch_p50_s"] = median([s for v in per_query.values() for _, s in v])
        L["streaming.rows_per_batch"] = median([n for v in per_query.values() for n, _ in v])


# --- shared loop and report ----------------------------------------------------------


def measure(run: Run, one_op, min_ops: int) -> dict:
    with harness.HostWindow() as host, harness.RssSampler(harness.jvm_pid(run.spark)) as rss:
        c0 = run.probe.seconds if run.probe else 0.0
        with run.tracer.span("measure"):
            ops = harness.closed_loop(run.seconds, one_op, min_ops)
        run.collect_s = (run.probe.seconds if run.probe else 0.0) - c0
    values, samples = end_to_end(run, ops, rss.peak)
    return {
        "end_to_end": values,
        "samples": samples,
        "ops": ops,
        "rss_at_peak": rss.at_peak,
        "window": {"steal_pct": host.steal_pct, "loadavg_1m": host.loadavg_1m},
    }


def result_line(run: Run, report: dict) -> dict:
    """The benchmark's last stdout line: end-to-end metrics, or per-layer
    ones on a traced run."""
    if run.trace:
        metrics = {k: {"value": float(run.layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        ends = report["end_to_end"]
        metrics = {k: {"value": float(ends[k]), "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


WORKLOADS = {
    "flagship": (flagship_inputs, flagship),
    "query_mix": (query_mix_inputs, query_mix),
}
