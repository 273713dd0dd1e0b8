"""Structured Streaming surface.

The reference is strictly batch (SURVEY §2.11) — this module is the
engine's Spark-completeness addition for the web-page ingest path: the
same hourly event rollup as the batch ``events_hourly`` query, expressed
as a streaming aggregation with a watermark, so a Common-Crawl-style feed
can be processed incrementally with exactly-once sinks (foreachBatch +
the lineage module's idempotent writes).

Tests drive it with the parquet source + a memory sink and assert
equality with the batch result (``processAllAvailable`` makes that
synchronous).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hourly_event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """readStream over a directory of event parquet files -> watermarked
    hourly windowed aggregate.  Returns the (unstarted) streaming
    DataFrame.  (File streaming sources take a directory: new files
    arriving in it are the stream.)"""
    schema = spark.read.parquet(events_dir).schema
    events = spark.readStream.schema(schema).parquet(events_dir)
    # parquet TIMESTAMP_NTZ is not a valid event-time column; wall clock is UTC
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
            "n",
            "min_value",
            "max_value",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Drive a streaming aggregation to completion synchronously and
    return the materialized result (test/demo harness)."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = stream_df.sparkSession
    return spark.sql(f"SELECT * FROM {name}")


def zone_page_stream(
    spark: SparkSession, pages_dir: str, polygons
) -> DataFrame:
    """STREAMING GEO PIPELINE: readStream over a directory of pages
    parquet -> byte-identical text extraction -> geotag point features ->
    point-in-polygon join (broadcast candidate cells + vectorized
    ray-cast refine — all stateless, so the batch operator composes onto
    the stream unchanged) -> watermarked DAILY windowed per-zone page
    counts.  The incremental twin of the pages_geo_rollup composite: a
    Common-Crawl-style feed lands as files and every micro-batch advances
    the per-zone density surface, late pages honored within the 1-hour
    watermark.

    ``polygons`` is either the (zone_id, xs, ys) layer DataFrame (the
    production shape — what the vector/shapefile readers emit, scale
    handled by pip_join_df's broadcast/shuffle gate) or a driver list,
    wrapped into that layer for convenience.  The stream shares the
    batch scale path: stateless candidate join + refine compose onto a
    stream unchanged."""
    from scidbgeo_spark.operators import pip
    from scidbgeo_spark.sources import pages as pages_src

    schema = spark.read.parquet(pages_dir).schema
    pg = spark.readStream.schema(schema).parquet(pages_dir)
    # parquet TIMESTAMP_NTZ is not a valid event-time column
    pg = pg.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    text = pages_src.extract_text_col(F.col("html"))
    lat_m = F.regexp_extract(text, pages_src.GEO_RE, 1).cast("long")
    lon_m = F.regexp_extract(text, pages_src.GEO_RE, 2).cast("long")
    # untagged pages carry no point feature (same contract as the batch
    # extract_geotags; unfiltered, the empty regexp match would crash
    # the long cast under ANSI on any real feed)
    pts = pg.where(text.rlike(pages_src.GEO_RE)).select(
        "url",
        "warc_ts",
        (F.lit(-180.0) + lon_m / F.lit(1000.0)).alias("lon"),
        (F.lit(-90.0) + lat_m / F.lit(1000.0)).alias("lat"),
    )
    layer = (
        polygons
        if isinstance(polygons, DataFrame)
        else pip.polygons_df(spark, polygons)
    )
    hits = pip.pip_join_df(spark, pts, layer)
    return (
        hits.withWatermark("warc_ts", "1 hour")
        .groupBy(F.window("warc_ts", "1 day").alias("win"), "zone_id")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
            "zone_id",
            "n_pages",
        )
    )


def dedup_stream(
    spark: SparkSession, docs_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """STREAMING EXACT DEDUP: readStream over a directory of document
    parquet -> content hash (md5, the batch dedup_exact key) ->
    ``dropDuplicatesWithinWatermark`` on the hash.  The first arrival of
    each distinct content passes; later copies inside the watermark
    horizon are dropped, and state for hashes older than the watermark
    is evicted — so state size is bounded by the dedup horizon, not the
    stream's lifetime (the property that keeps a Common-Crawl-style
    feed's dedup state from growing without bound).  Cross-horizon
    duplicates are the batch layer's job (dedup_exact over the
    accumulated table) — the standard streaming/batch split."""
    schema = spark.read.parquet(docs_dir).schema
    docs = spark.readStream.schema(schema).parquet(docs_dir)
    docs = docs.withColumn("arrival_ts", F.col("ts").cast("timestamp")) if "ts" in [
        f.name for f in schema.fields
    ] else docs.withColumn("arrival_ts", F.current_timestamp())
    return (
        docs.withColumn("content_hash", F.md5("text"))
        .withWatermark("arrival_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .select("doc_id", "content_hash")
    )


def merge_stream_to_catalog(
    spark: SparkSession,
    coo_dir: str,
    catalog,
    table: str,
    height: int,
    width: int,
    chunk: int,
    checkpoint_dir: str,
):
    """EXACTLY-ONCE streaming raster ingest: readStream of COO parquet
    file arrivals -> per-micro-batch redimension (pack_tiles) ->
    transactional ``SnapshotCatalog.merge`` via ``foreachBatch``.

    Exactly-once argument (the north rule's resumable-ingest shape):
    Spark's checkpoint replays a failed micro-batch with the SAME
    batch_id and the SAME files; an ``applied-<batch_id>`` marker
    (atomic create) skips batches whose merge already committed, and a
    crash BETWEEN commit and marker only re-merges byte-identical
    chunks — the chunk-level upsert is content-idempotent, so table
    state is unchanged (pinned by the rerun-idempotence catalog test).
    Returns the started StreamingQuery; callers drive it with
    ``processAllAvailable``/``awaitTermination``."""
    import os

    from scidbgeo_spark.tiling import pack_tiles

    marker_dir = os.path.join(checkpoint_dir, "applied")
    os.makedirs(marker_dir, exist_ok=True)
    schema = spark.read.parquet(coo_dir).schema
    stream = spark.readStream.schema(schema).parquet(coo_dir)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(marker_dir, f"applied-{batch_id}")
        if os.path.exists(marker):
            return  # replayed batch whose merge already committed
        if batch_df.isEmpty():
            return
        tiles = pack_tiles(batch_df, chunk, height, width)
        try:
            catalog.current_version(table)
        except FileNotFoundError:
            catalog.create(table, tiles)
        else:
            catalog.merge(table, tiles)
        with open(marker, "x") as fh:
            fh.write(str(batch_id))

    return (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "ckpt"))
        .start()
    )


SESSION_GAP_US = 3600 * 1_000_000  # 1-hour inactivity gap, microsecond-exact


def sessionize_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator: per-user sessionization via
    ``applyInPandasWithState`` — the arbitrary-state API (flatMapGroups-
    WithState analog), not a built-in windowed aggregate.

    State per user: (n_sessions, n_events, last_ts_us).  Each micro-batch
    sorts its arrivals by (ts, event_id) and folds them into the state;
    a gap > 1 hour (strictly, in MICROSECONDS — identical to the batch
    ``sessionize`` query and its DuckDB oracle) opens a new session.
    Emits the running totals per user every batch ("update" mode).

    Exactness contract: equal to the batch query when per-user arrivals
    are time-ordered across micro-batches (file streams deliver files in
    discovery order; a production feed would pair this with a watermark
    + event-time reorder buffer).  Pinned by tests against q_sessionize.

    The contract is OBSERVABLE: ``n_out_of_order`` counts this user's
    arrivals whose event time precedes the previous batch's last processed
    event — any nonzero value means the ordering assumption was violated
    and the session counts are suspect for that user (the silent-wrong-
    answer failure mode a file added with older timestamps would cause).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = spark.read.parquet(events_dir).schema
    events = spark.readStream.schema(schema).parquet(events_dir)
    events = events.select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts")
    )

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        n_sessions, n_events, last_us, n_ooo = (
            state.get if state.exists else (0, 0, None, 0)
        )
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        us_all = rows["ts"].astype("int64") // 1000  # pandas ns -> us
        if last_us is not None:
            n_ooo += int((us_all < last_us).sum())
        for us in us_all:
            if last_us is None or us - last_us > SESSION_GAP_US:
                n_sessions += 1
            n_events += 1
            last_us = int(us)
        state.update((n_sessions, n_events, last_us, n_ooo))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
                "n_out_of_order": [n_ooo],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "user_id long, n_sessions long, n_events long, n_out_of_order long"
        ),
        stateStructType="n_sessions long, n_events long, last_us long, n_ooo long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def curate_stream(
    spark: SparkSession,
    docs_dir: str,
    eval_hashes: list[int] | None = None,
    watermark: str = "1 hour",
    contam_k: int = 5,
) -> DataFrame:
    """STREAMING CURATION: the corpus-freeze pipeline's incremental
    front half over a document feed — C4 quality mask -> n-gram
    decontamination against a bounded benchmark hash set -> exact dedup
    within the watermark horizon.  Quality and contamination are pure
    column algebra (the SAME expressions as the batch operators:
    text.quality_fail_mask, curation.contamination_check's shingle
    hashing), so they apply unchanged to the streaming DataFrame with
    zero state; only the dedup keeps state, bounded by the horizon.

    ``eval_hashes`` is the benchmark shingle-hash set, computed ONCE
    batch-side (the eval side of contamination_check) — the same
    tiny-vs-corpus asymmetry that lets the batch path broadcast it.
    Shipped here as an expression literal; for an eval set too large for
    that, swap in a stream-static left-semi join on exploded hashes
    (stream-static joins are stateless on the stream side)."""
    from scidbgeo_spark.operators.dedup import shingles_col
    from scidbgeo_spark.operators.text import md5_int, quality_fail_mask

    schema = spark.read.parquet(docs_dir).schema
    docs = spark.readStream.schema(schema).parquet(docs_dir)
    docs = docs.withColumn("arrival_ts", F.current_timestamp())
    if eval_hashes:
        ev = F.array(*[F.lit(int(h)).cast("long") for h in sorted(eval_hashes)])
        hs = F.transform(shingles_col("text", contam_k), md5_int)
        clean = F.size(F.array_intersect(hs, ev)) == 0
    else:
        clean = F.lit(True)
    return (
        docs.withColumn("fail_mask", quality_fail_mask())
        .filter((F.col("fail_mask") == 0) & clean)
        .withColumn("content_hash", F.md5("text"))
        .withWatermark("arrival_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .select("doc_id", "content_hash")
    )


def trending_terms_stream(
    spark: SparkSession,
    docs_dir: str,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """SLIDING-window term frequencies over a timestamped document feed
    (crawl-side trending-topics monitor): each token occurrence counts
    toward every window covering its timestamp (window/slide
    overlapping windows), finalized and emitted append-mode once the
    watermark passes the window end.

    One stateless explode + ONE windowed count aggregate: state is
    bounded by (watermark horizon / slide) open windows x vocabulary,
    and the shuffle key is (window, token) — at web scale the token
    dimension dominates and hash-partitions evenly apart from stopword
    heads, the same skew profile as the batch token counts.  Expects a
    ``crawl_ts`` timestamp column on the feed."""
    schema = spark.read.parquet(docs_dir).schema
    docs = spark.readStream.schema(schema).parquet(docs_dir)
    docs = docs.withColumn("ts", F.col("crawl_ts").cast("timestamp"))
    return (
        docs.withWatermark("ts", watermark)
        .select("ts", F.explode(F.split("text", " ")).alias("token"))
        .groupBy(F.window("ts", window, slide).alias("win"), "token")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").cast("string").alias("win_start"),
            "token",
            "n",
        )
    )


def incremental_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    frozen: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """STREAMING incremental dedup — the rolling-ingest twin of
    operators.dedup.incremental_dedup: a document feed is anti-joined
    against the FROZEN corpus's digest set (stream-static join: the
    static side is planned per micro-batch, NO state on the stream
    side), then exact-deduped within the watermark horizon
    (dropDuplicatesWithinWatermark — bounded state).  Emits the novel
    docs' (doc_id, content_hash).

    At scale the static side is a digest-only projection of the frozen
    corpus (column pruning reaches the scan); Spark broadcast-joins it
    when small and shuffle-joins the micro-batch against it otherwise —
    either way the stream holds no frozen-corpus state."""
    schema = spark.read.parquet(docs_dir).schema
    feed = spark.readStream.schema(schema).parquet(docs_dir)
    feed = feed.withColumn("arrival_ts", F.current_timestamp())
    fh = frozen.select(F.md5("text").alias("content_hash")).distinct()
    return (
        feed.withColumn("content_hash", F.md5("text"))
        .join(fh, "content_hash", "left_anti")
        .withWatermark("arrival_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .select("doc_id", "content_hash")
    )


def click_attribution_stream(
    spark: SparkSession, events_dir: str, horizon: str = "30 minutes"
) -> DataFrame:
    """STREAM-STREAM interval join — the one streaming join class the
    rest of this module doesn't exercise (zone_page_stream is
    stream-static, dedup/sessionize are single-stream stateful):
    multi-touch attribution — every ``click`` joins ALL of the same
    user's ``view`` rows within ``horizon`` before it.

    Both sides are watermarked, so Spark bounds the join state: a view
    row is held only until (event-time watermark) passes view_ts +
    horizon, then evicted — state is O(views inside the horizon), never
    O(stream).  The interval condition is a REQUIREMENT for append-mode
    stream-stream joins; an unconstrained equi-join would be unbounded
    state and Spark rejects it.

    Scale shape: both streams hash-partition on user_id (the join key),
    exactly like the batch join; the watermark horizon is the ONLY
    state knob.  Returns (user_id, click_id, view_id, gap_s) append
    rows — deterministic per micro-batch composition, pinned against
    the batch interval join by the tests."""
    schema = spark.read.parquet(events_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", horizon)
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "0 seconds")
    )
    return clicks.join(
        views,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (
            F.col("view_ts")
            >= F.col("click_ts") - F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        "user_id",
        "click_id",
        "view_id",
        (
            F.unix_timestamp("click_ts") - F.unix_timestamp("view_ts")
        ).alias("gap_s"),
    )
