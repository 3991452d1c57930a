"""Density/skew planner, distance join, manifest resume, streaming parity."""

import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2geo_spark import functions as sf
from s2geo_spark.kernel import metrics, s2coords as sc
from s2geo_spark.operators import distance as dist_op
from s2geo_spark.plans import density, manifest
from s2geo_spark.sources import pages as pages_src
from s2geo_spark.streaming import pipeline as stream_pipe

RNG = np.random.default_rng(77)


@pytest.fixture(scope="module")
def skewed_points(spark):
    # 80% of points in one small cap (hot cell), 20% uniform
    n = 20000
    hot = int(n * 0.8)
    lat = np.concatenate(
        [40.0 + RNG.uniform(-0.2, 0.2, hot), RNG.uniform(-80, 80, n - hot)]
    )
    lon = np.concatenate(
        [-74.0 + RNG.uniform(-0.2, 0.2, hot), RNG.uniform(-180, 180, n - hot)]
    )
    pdf = pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf).withColumn(
        "cell", sf.s2_cell_id("lat", "lon")
    )
    return df, pdf


class TestDensity:
    def test_density_counts(self, spark, skewed_points):
        df, pdf = skewed_points
        dens = density.cell_density(df, 4).toPandas()
        assert dens["weight"].sum() == len(pdf)
        # the hot cap concentrates most points into few level-4 cells
        assert dens["weight"].max() > 0.5 * len(pdf)

    def test_rollup_levels_consistent(self, spark, skewed_points):
        df, pdf = skewed_points
        roll = density.density_rollup(df, [2, 4, 6]).toPandas()
        for lv in (2, 4, 6):
            assert roll[roll["level"] == lv]["weight"].sum() == len(pdf)

    def test_rollup_leaves_no_cache_entry(self, spark, skewed_points):
        # a long session calls the rollup on many inputs: none may stay
        # registered in the cache manager once its result is read
        df, pdf = skewed_points
        cache = spark._jsparkSession.sharedState().cacheManager()
        for n in (500, 1000, 1500):
            pts = df.limit(n)
            roll = density.density_rollup(pts, [2, 4]).toPandas()
            assert roll[roll["level"] == 2]["weight"].sum() == n
            base = density.cell_density(pts, 4)
            assert cache.lookupCachedData(base._jdf).isEmpty()

    def test_adaptive_partitioning_balances(self, spark, skewed_points):
        df, pdf = skewed_points
        parts = density.adaptive_partitioning(df, max_weight=2000, start_level=2, max_level=10)
        assert parts["weight"].sum() == len(pdf)
        # every shard within bound unless at max level
        over = parts[(parts["weight"] > 2000) & (parts["level"] < 10)]
        assert len(over) == 0
        assert len(parts) > 10  # the hot cell actually split

    def test_salted_join_matches_plain(self, spark, skewed_points):
        df, _ = skewed_points
        keys = df.select(sf.s2_parent("cell", 4).alias("k"), "pid")
        build = keys.groupBy("k").agg(F.count("*").alias("n")).limit(50)
        plain = keys.join(build, "k").count()
        salted = density.salted_join(keys, build, "k", salt=8, probe_id_col="pid").count()
        assert plain == salted


class TestDistanceJoin:
    def test_matches_bruteforce(self, spark):
        n = 1500
        pdf_l = pd.DataFrame(
            {
                "left_id": np.arange(30, dtype=np.int64),
                "lat": 47.0 + RNG.uniform(-1, 1, 30),
                "lon": 8.0 + RNG.uniform(-1, 1, 30),
            }
        )
        pdf_r = pd.DataFrame(
            {
                "right_id": np.arange(n, dtype=np.int64),
                "lat": 47.0 + RNG.uniform(-2, 2, n),
                "lon": 8.0 + RNG.uniform(-2, 2, n),
            }
        )
        radius_m = 25_000.0
        got = (
            dist_op.distance_join(
                spark.createDataFrame(pdf_l), spark.createDataFrame(pdf_r), radius_m
            )
            .select("left_id", "right_id")
            .toPandas()
        )
        got_pairs = set(zip(got["left_id"], got["right_id"]))
        lx, ly, lz = sc.latlng_degrees_to_xyz(pdf_l["lat"].to_numpy(), pdf_l["lon"].to_numpy())
        rx, ry, rz = sc.latlng_degrees_to_xyz(pdf_r["lat"].to_numpy(), pdf_r["lon"].to_numpy())
        chord2 = (2 * np.sin(0.5 * radius_m / metrics.EARTH_RADIUS_METERS)) ** 2
        want = set()
        for i in range(len(pdf_l)):
            d2 = (rx - lx[i]) ** 2 + (ry - ly[i]) ** 2 + (rz - lz[i]) ** 2
            for j in np.nonzero(d2 <= chord2)[0]:
                want.add((i, int(j)))
        assert got_pairs == want


class TestManifest:
    def test_resume_skips_done(self, spark):
        tmp = tempfile.mkdtemp()
        try:
            src = pages_src.synth_pages(spark, 1000).withColumn(
                "bucket", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int")
            )
            src.write.partitionBy("bucket").mode("overwrite").parquet(f"{tmp}/in")

            run = manifest.ManifestedRun(spark, f"{tmp}/manifest", f"{tmp}/out")
            keys = [f"bucket={b}" for b in range(4)]

            def load(key):
                return spark.read.parquet(f"{tmp}/in/{key}")

            def process(df):
                geo = pages_src.extract_geo(df).filter(F.col("lat").isNotNull())
                return geo.select("url", sf.s2_cell_id("lat", "lon").alias("cell"))

            first = run.run(keys[:2], load, process)  # simulate partial run/kill
            assert set(first) == set(keys[:2])
            second = run.run(keys, load, process)  # resume
            assert set(second) == set(keys[2:])  # done ones skipped
            third = run.run(keys, load, process)
            assert third == {}  # fully resumed: nothing to do
            total = spark.read.parquet(f"{tmp}/out/*").count()
            mani = spark.read.parquet(f"{tmp}/manifest").toPandas()
            assert mani["status"].eq("done").all()
            assert mani["rows_out"].sum() == total
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestStreaming:
    def test_stream_matches_batch(self, spark):
        tmp = tempfile.mkdtemp()
        try:
            pages = pages_src.synth_pages(spark, 2000)
            pages.repartition(6).write.mode("overwrite").parquet(f"{tmp}/pages")
            stream = stream_pipe.stream_pages(spark, f"{tmp}/pages")
            tiles = stream_pipe.tile_assign_stream(stream, tile_level=8)
            stream_pipe.run_to_memory(tiles, "tiles_stream")
            got = (
                spark.sql("SELECT url, cell, tile FROM tiles_stream")
                .orderBy("url")
                .toPandas()
            )
            # batch equivalent over the same files
            batch_geo = pages_src.extract_geo(
                spark.read.parquet(f"{tmp}/pages")
            ).filter(F.col("lat").isNotNull())
            want = (
                batch_geo.select(
                    "url", sf.s2_cell_id("lat", "lon").alias("cell")
                )
                .withColumn("tile", sf.tile_assign("cell", 8))
                .orderBy("url")
                .toPandas()
            )
            assert len(got) == len(want)
            assert (got["cell"].to_numpy() == want["cell"].to_numpy()).all()
            assert (got["tile"].to_numpy() == want["tile"].to_numpy()).all()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_spatial_join_stream_multibatch(self, spark):
        """Stream-static indexed PIP join across SEVERAL micro-batches
        (6 files, maxFilesPerTrigger=4) must reproduce the batch
        operator's rows exactly — the s2_stream_tiles contract query
        drives a single batch; this pins the multi-batch path."""
        from s2geo_spark import contract

        tmp = tempfile.mkdtemp()
        try:
            pages = pages_src.synth_pages(spark, 3000)
            pages.repartition(6).write.mode("overwrite").parquet(f"{tmp}/pages")
            index = contract._pip_index(spark)

            stream = stream_pipe.stream_pages(spark, f"{tmp}/pages")
            geo_s = pages_src.extract_geo(stream).filter(
                F.col("lat").isNotNull()
            )
            pts_s = geo_s.select(
                F.col("url").alias("point_id"), "lat", "lon"
            )
            joined = stream_pipe.spatial_join_stream(pts_s, index, tile_level=8)
            counts = joined.groupBy("polygon_id", "tile").agg(
                F.count("*").alias("n")
            )
            query = stream_pipe.run_to_memory(
                counts, "sjoin_stream", mode="complete"
            )
            # no AQE in micro-batches: the candidate rebalance is a plain
            # round-robin exchange into spark.sql.shuffle.partitions
            parts = spark.conf.get("spark.sql.shuffle.partitions")
            assert (
                f"RoundRobinPartitioning({parts}), REBALANCE_PARTITIONS_BY_NONE"
                in query._jsq.explainInternal(False)
            )
            got = (
                spark.table("sjoin_stream")
                .orderBy("polygon_id", "tile")
                .toPandas()
            )

            batch_geo = pages_src.extract_geo(
                spark.read.parquet(f"{tmp}/pages")
            ).filter(F.col("lat").isNotNull())
            pts_b = batch_geo.select(
                F.col("url").alias("point_id"), "lat", "lon"
            )
            from s2geo_spark.operators import spatial

            want = (
                spatial.contains_join_indexed(pts_b, index, emit_cell=True)
                .withColumn("tile", sf.tile_assign("cell", 8))
                .groupBy("polygon_id", "tile")
                .agg(F.count("*").alias("n"))
                .orderBy("polygon_id", "tile")
                .toPandas()
            )
            assert len(got) == len(want) > 0
            for c in ("polygon_id", "tile", "n"):
                assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    @pytest.mark.parametrize("available_now", [True, False])
    def test_windowed_counts(self, spark, available_now):
        tmp = tempfile.mkdtemp()
        try:
            pages = pages_src.synth_pages(spark, 1000)
            pages.write.mode("overwrite").parquet(f"{tmp}/pages")
            stream = stream_pipe.stream_pages(spark, f"{tmp}/pages")
            counts = stream_pipe.windowed_tile_counts(stream, tile_level=4)
            # both trigger modes (availableNow drain vs processingTime
            # long-running) must produce the same totals
            stream_pipe.run_to_memory(
                counts, "win_counts", mode="complete",
                available_now=available_now,
            )
            got = spark.sql("SELECT sum(pages) AS total FROM win_counts").collect()[0]
            n_geo = (
                pages_src.extract_geo(spark.read.parquet(f"{tmp}/pages"))
                .filter(F.col("lat").isNotNull())
                .count()
            )
            assert got["total"] == n_geo
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestStatefulSessionize:
    def test_sessions_match_batch_rule(self, spark):
        """applyInPandasWithState sessionizer (event-time timeout) vs the
        batch gap rule: with a far-future sentinel advancing the
        watermark, EVERY regular session is emitted — closed by in-data
        gaps or flushed by the watermark timeout — and must match the
        lag-window batch computation exactly."""
        import numpy as np
        import pandas as pd

        tmp = tempfile.mkdtemp()
        try:
            rng = np.random.default_rng(31)
            rows = []
            base = 1_700_000_000
            for uid in range(10):
                t = base + int(rng.integers(0, 600))
                for _ in range(int(rng.integers(2, 5))):
                    for _ in range(int(rng.integers(1, 6))):
                        rows.append((uid, t))
                        t += int(rng.integers(10, 600))  # intra-session
                    t += 1801 + int(rng.integers(1, 3600))  # close the gap
            sentinel_uid, sentinel_t = 999, base + 10 * 86400
            pdf = pd.DataFrame(rows, columns=["user_id", "epoch"])
            all_pdf = pd.concat(
                [pdf, pd.DataFrame([(sentinel_uid, sentinel_t)], columns=pdf.columns)]
            )
            all_pdf["ts"] = pd.to_datetime(all_pdf["epoch"], unit="s")
            spark.createDataFrame(all_pdf[["user_id", "ts"]]).orderBy(
                "ts"
            ).coalesce(2).write.mode("overwrite").parquet(f"{tmp}/events")

            from pyspark.sql.types import (
                LongType,
                StructField,
                StructType,
                TimestampType,
            )

            schema = StructType(
                [StructField("user_id", LongType()), StructField("ts", TimestampType())]
            )
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmp}/events")
            )
            sess = stream_pipe.sessionize_stream(stream, gap_seconds=1800)
            stream_pipe.run_to_memory(sess, "sessions_stream", mode="append")
            got = (
                spark.sql(
                    "SELECT user_id, session_start, session_end, n_events "
                    "FROM sessions_stream WHERE user_id <> 999"
                )
                .orderBy("user_id", "session_start")
                .toPandas()
            )
            # batch oracle: full gap-rule sessions per regular user
            b = pdf.sort_values(["user_id", "epoch"]).reset_index(drop=True)
            want_rows = []
            for uid, grp in b.groupby("user_id"):
                times = grp["epoch"].tolist()
                start = last = times[0]
                n = 1
                for t in times[1:]:
                    if t - last > 1800:
                        want_rows.append((uid, start, last, n))
                        start, n = t, 0
                    last = t
                    n += 1
                want_rows.append((uid, start, last, n))
            want = (
                pd.DataFrame(
                    want_rows,
                    columns=["user_id", "session_start", "session_end", "n_events"],
                )
                .sort_values(["user_id", "session_start"])
                .reset_index(drop=True)
            )
            assert len(got) == len(want), (len(got), len(want))
            for c in want.columns:
                assert (
                    got[c].to_numpy().astype("int64")
                    == want[c].to_numpy().astype("int64")
                ).all(), c
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestBucketing:
    def test_colocated_join_no_shuffle(self, spark):
        """Two tables bucketed on the same cell ancestor join with ZERO
        shuffle exchanges — the write-time layout replaces the runtime
        repartition (the 100TB co-located-join design)."""
        import re

        import numpy as np
        import pandas as pd

        from s2geo_spark import functions as sfn
        from s2geo_spark.plans import bucketing

        rng = np.random.default_rng(44)
        n = 5000
        pdf = pd.DataFrame(
            {
                "point_id": np.arange(n, dtype=np.int64),
                "lat": rng.uniform(-60, 60, n),
                "lon": rng.uniform(-180, 180, n),
            }
        )
        a = spark.createDataFrame(pdf).withColumn(
            "cell", sfn.s2_cell_id("lat", "lon")
        ).select("point_id", "cell")
        b = spark.createDataFrame(pdf.sample(frac=0.5, random_state=1)).withColumn(
            "cell", sfn.s2_cell_id("lat", "lon")
        ).select(F.col("point_id").alias("other_id"), "cell")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")
        bcol = bucketing.write_cell_bucketed(a, "bt_a", level=6, n_buckets=8)
        bucketing.write_cell_bucketed(b, "bt_b", level=6, n_buckets=8)
        joined = bucketing.colocated_join(spark, "bt_a", "bt_b", bcol)
        # disable broadcast so the co-located sort-merge path is chosen
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
            shuffles = re.findall(r"Exchange hashpartitioning", plan)
            assert not shuffles, plan[:1500]
            assert "SortMergeJoin" in plan
            # result parity with a plain (shuffling) join
            got = joined.count()
            want = (
                a.withColumn(bcol, sfn.s2_parent("cell", 6))
                .join(
                    b.withColumn(bcol, sfn.s2_parent("cell", 6)).withColumnRenamed(
                        "cell", "cell_b"
                    ),
                    bcol,
                )
                .count()
            )
            assert got == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS bt_a")
            spark.sql("DROP TABLE IF EXISTS bt_b")
