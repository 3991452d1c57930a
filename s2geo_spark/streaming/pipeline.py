"""Streaming tile assignment (SURVEY.md §2.9).

The reference is batch-only; the engine's streaming story is Spark-native:
new page files (standing in for Iceberg snapshot increments) stream through
the same stateless extract -> encode -> tile pipeline, and windowed
aggregations ride Structured Streaming with watermarks. The per-row
transforms are identical code paths to the batch operators, so streaming
and batch results agree by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from s2geo_spark import functions as sf
from s2geo_spark.sources import pages as pages_src

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def stream_pages(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a pages directory (new files = new micro-batches)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def tile_assign_stream(pages_stream: DataFrame, tile_level: int = 10) -> DataFrame:
    """Stateless per-row tile assignment — same columns as the batch path."""
    geo = pages_src.extract_geo(pages_stream).filter(F.col("lat").isNotNull())
    return geo.select(
        "url",
        "warc_ts",
        sf.s2_cell_id("lat", "lon").alias("cell"),
    ).withColumn("tile", sf.tile_assign("cell", tile_level))


def windowed_tile_counts(pages_stream: DataFrame, tile_level: int = 6) -> DataFrame:
    """Watermarked tumbling-window counts per tile (late data handled)."""
    tiles = tile_assign_stream(pages_stream, tile_level)
    return (
        tiles.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "5 minutes"), "tile")
        .agg(F.count("*").alias("pages"))
        .select(
            F.unix_timestamp("window.start").alias("bucket"),
            "tile",
            "pages",
        )
    )


def spatial_join_stream(
    points_stream: DataFrame, index_df: DataFrame, tile_level: int = 10
) -> DataFrame:
    """Stream-static spatial join: streaming points PIP-joined against a
    STATIC shape-index table, with tile assignment.

    The batch contains_join_indexed plan is streaming-compatible verbatim:
    the index side is a broadcast static table (stream-static equi-joins
    are stateless), the candidate rebalance is a stateless round-robin
    exchange (streaming runs without AQE, so it always has
    spark.sql.shuffle.partitions partitions), and the exact residual is a
    stateless mapInPandas — so streaming results equal the batch
    operator's on the same rows by construction. Downstream,
    windowed/keyed aggregation rides normal Structured Streaming state.
    """
    from s2geo_spark.operators import spatial

    joined = spatial.contains_join_indexed(
        points_stream, index_df, emit_cell=True
    )
    return joined.withColumn("tile", sf.tile_assign("cell", tile_level))


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Drive a stream to completion synchronously (test/local harness) and
    return the finished query (its plan stays inspectable).

    Aggregations should pass mode="complete" so windows emit without
    waiting for the watermark to pass them.

    available_now=True (default) uses the availableNow trigger: the query
    drains every pending micro-batch back-to-back and terminates — wall
    time measures WORK, not trigger alignment (a processingTime trigger
    adds up to one interval of idle wait per batch, which dominated the
    bench at small SF). available_now=False keeps a processingTime
    trigger for exercising the long-running-query path."""
    writer = (
        stream_df.writeStream.outputMode(mode).format("memory").queryName(name)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.trigger(processingTime="1 second").start()
        q.processAllAvailable()
        q.stop()
    return q


# ---------------------------------------------------------------------------
# Custom stateful operator: streaming sessionization with timeout state
# ---------------------------------------------------------------------------

def sessionize_stream(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState,
    GroupState + event-time timeout): per-user session assembly.

    State per user = (session_start_epoch, last_seen_epoch, n_events). A
    micro-batch's events extend the open session or close it (emit) when
    the in-data gap exceeds gap_seconds; the EVENT-TIME timeout (watermark
    passing last_seen + gap) flushes sessions whose users went quiet —
    deterministic under replay, unlike a wall-clock timeout (a
    processing-time variant was tried and rejected: its endless state-
    cleanup micro-batches also never let processAllAvailable return).
    Emits one row per closed session:
    (user_id, session_start, session_end, n_events).

    Batch parity: the same gap rule as the batch q_sessionize contract
    query — asserted in tests by replaying a fixture through both paths."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{user_col} long, session_start long, session_end long, n_events long"
    )
    state_schema = "start long, last long, n long"

    def update(key, pdfs, state: GroupState):
        rows = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                rows.append((key[0], start, last, n))
                state.remove()
        else:
            times = []
            for pdf in pdfs:
                times.extend((pdf[ts_col].astype("int64") // 10**9).tolist())
            times.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start = last = None
                n = 0
            for t in times:
                if last is not None and t - last > gap_seconds:
                    rows.append((key[0], start, last, n))
                    start, n = t, 0
                if start is None:
                    start = t
                last = t
                n += 1
            if start is not None:
                state.update((start, last, n))
                state.setTimeoutTimestamp((last + gap_seconds) * 1000)
        return iter(
            [pd.DataFrame(rows, columns=[user_col, "session_start", "session_end", "n_events"])]
            if rows
            else []
        )

    return (
        events_stream.withWatermark(ts_col, watermark_delay)
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def asof_enrich_stream(
    tagged_stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    side_col: str = "side",
) -> DataFrame:
    """Custom stateful streaming operator: as-of enrichment.  The input
    stream carries both sides tagged by ``side_col`` (0 = reference/
    right, 1 = query/left); state per key = the latest reference row
    seen.  Each micro-batch vectorizes the in-batch matching with
    pandas.merge_asof (carry-in = the state row prepended), then stores
    the batch's latest reference back — O(1) state per key, the
    streaming analogue of operators/temporal.asof_join.

    Tie semantics match the batch operator: a reference row at exactly
    the query row's timestamp matches (inclusive), and among equal-ts
    references the greatest id wins.

    Exactness contract: within a micro-batch order is irrelevant (the
    batch is sorted), and across micro-batches the match is exact as
    long as a reference row never arrives AFTER a query row it should
    precede (in-order sources, e.g. a replayed log or a single drained
    batch).  Under genuinely late reference arrivals a streaming as-of
    is inherently approximate — the batch operator is the backfill
    path.  Emits (id, key, ts, match_id, lag_s) with -1 for no match.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{id_col} long, {key_col} long, {ts_col} timestamp, "
        "match_id long, lag_s long"
    )
    state_schema = "ref_ts_us long, ref_id long"

    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return iter([])
        pdf["ts_us_"] = pdf[ts_col].astype("int64") // 1000  # ns -> us
        pdf = pdf.sort_values(["ts_us_", side_col, id_col])
        refs = pdf[pdf[side_col] == 0][["ts_us_", id_col]]
        # equal-ts references: keep the greatest id (batch tie rule)
        refs = refs.drop_duplicates("ts_us_", keep="last")
        if state.exists:
            sts, sid = state.get
            carry = pd.DataFrame({"ts_us_": [sts], id_col: [sid]})
            refs = (
                pd.concat([carry, refs], ignore_index=True)
                .sort_values(["ts_us_", id_col])
                .drop_duplicates("ts_us_", keep="last")
            )
        qry = pdf[pdf[side_col] == 1][["ts_us_", key_col, id_col, ts_col]]
        rows = []
        if not qry.empty:
            m = pd.merge_asof(
                qry.sort_values("ts_us_"),
                refs.rename(columns={id_col: "match_id"}).sort_values(
                    "ts_us_"
                ),
                on="ts_us_",
                direction="backward",
                suffixes=("", "_ref"),
            )
            # merge_asof matched on ts_us_; recover the reference ts for
            # the lag from refs (unique on ts_us_)
            ref_us = dict(zip(refs["ts_us_"], refs[id_col]))
            us_sorted = sorted(ref_us)
            import bisect

            for r in m.itertuples(index=False):
                mid = getattr(r, "match_id")
                if pd.isna(mid):
                    rows.append(
                        (int(getattr(r, id_col)), int(getattr(r, key_col)),
                         getattr(r, ts_col), -1, -1)
                    )
                else:
                    i = bisect.bisect_right(us_sorted, r.ts_us_) - 1
                    rus = us_sorted[i]
                    lag = r.ts_us_ // 1_000_000 - rus // 1_000_000
                    rows.append(
                        (int(getattr(r, id_col)), int(getattr(r, key_col)),
                         getattr(r, ts_col), int(mid), int(lag))
                    )
        if not refs.empty:
            last = refs.iloc[-1]
            state.update((int(last["ts_us_"]), int(last[id_col])))
        if not rows:
            return iter([])
        return iter(
            [pd.DataFrame(
                rows,
                columns=[id_col, key_col, ts_col, "match_id", "lag_s"],
            )]
        )

    return tagged_stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
