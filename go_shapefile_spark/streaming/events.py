"""Structured Streaming ingest: micro-batched event → tile rollups.

The reference and the north rule are bounded-batch (SURVEY.md §1.4:
Iceberg snapshots, no unbounded inputs), but a 10^12-row ingest pipeline
lands data continuously; this module is the streaming front door for the
same tile rollup the batch engine produces:

  readStream (file source) → deterministic geotag (JVM expr) → Morton
  cell → watermarked tumbling-window count → sink.

Late data is handled by the watermark; the aggregation state is keyed on
(window, cell) — the same Morton key as the batch path, so a streaming
backfill and a batch recompute produce identical rollups (tested with a
file source + an available-now trigger against the batch operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells as C
from ..operators.geotag import lat_sql, lon_sql


def streaming_tile_counts(spark: SparkSession, source_dir: str, schema: str,
                          res: int = 5, window: str = "5 minutes",
                          watermark: str = "10 minutes",
                          ts_col: str = "ts", id_col: str = "event_id") -> DataFrame:
    """File-source stream → watermarked per-(window, cell) counts."""
    stream = (spark.readStream.schema(schema).parquet(source_dir)
              # NTZ parquet timestamps → LTZ: watermarks require TIMESTAMP
              # (session TZ is UTC, so the instant is unchanged)
              .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
              .withColumn("lon", F.expr(lon_sql(id_col, "spark")))
              .withColumn("lat", F.expr(lat_sql(id_col, "spark")))
              .withColumn("cell", F.expr(C.cell_sql("lon", "lat", res))))
    return (stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("cell"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "cell", "n"))


def streaming_spatial_join_counts(spark: SparkSession, source_dir: str,
                                  schema, prepared,
                                  id_col: str = "event_id") -> DataFrame:
    """Streaming twin of the headline spatial join: readStream → JVM
    geotag → Morton cell → stream-static broadcast join against a
    PreparedCover (its one codegen'd join and the depth-cap ``wide``
    join both work on streams — stream-static equi-joins are stateless)
    → per-polygon counts.

    The aggregation keyed on polygon_fid is the only stateful operator;
    with a complete-mode sink a streaming backfill equals the batch
    spatial join (oracle-gated)."""
    from ..operators.spatial_join import spatial_join_prepared

    stream = (spark.readStream.schema(schema).parquet(source_dir)
              .withColumn("lon", F.expr(lon_sql(id_col, "spark")))
              .withColumn("lat", F.expr(lat_sql(id_col, "spark"))))
    joined = spatial_join_prepared(stream, prepared,
                                   keep_cols=[id_col, "polygon_fid"])
    return joined.groupBy("polygon_fid").agg(
        F.count(F.lit(1)).alias("n_points"))


def run_available_now(df: DataFrame, checkpoint_dir: str,
                      query_name: str = "tiles") -> None:
    """Drain everything currently available into a memory sink (used by
    tests and backfills); checkpointed so a rerun resumes, not repeats."""
    q = (df.writeStream.format("memory").queryName(query_name)
         .outputMode("complete")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def streaming_dedup_counts(spark: SparkSession, source_dir: str, schema,
                           watermark: str = "10 minutes",
                           ts_col: str = "ts",
                           key_col: str = "event_id") -> DataFrame:
    """Streaming exact dedup → per-type rollup: the streaming twin of
    the batch exact-dedup operator.

    ``dropDuplicatesWithinWatermark`` keeps ONE row per key among
    duplicates arriving within the watermark window — the standard
    guard against at-least-once upstream delivery (replayed micro-
    batches, duplicated source files).  State per key is bounded by the
    watermark, so this scales to unbounded streams where a plain
    ``dropDuplicates`` would accumulate keys forever.  Downstream is a
    watermarked per-event-type aggregation (count + value sum) so the
    gate can compare a duplicated-source backfill against the batch
    DISTINCT oracle.
    """
    stream = (spark.readStream.schema(schema).parquet(source_dir)
              .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
              .withWatermark(ts_col, watermark)
              .dropDuplicatesWithinWatermark([key_col]))
    return (stream.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def streaming_audio_dedup_counts(spark: SparkSession, source_dir: str,
                                 schema,
                                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming MULTIMODAL dedup: the audio twin of
    :func:`streaming_dedup_counts`, with the dedup key computed from
    the PAYLOAD inside the stream rather than read from a column —
    readStream → strict WAV decode + spectral fingerprint (a stateless
    Arrow-batched stage; the same :func:`fingerprint_batch` kernel as
    the batch operator, so a streaming backfill agrees with a batch
    dedup bit-for-bit) → ``dropDuplicatesWithinWatermark`` on the
    fingerprint → per-format rollup.

    The payload carries no event time, so the watermark runs on INGEST
    time (``current_timestamp`` at the fingerprint stage) — the
    standard choice for at-least-once dedup of timestamp-less content:
    arrival time is (micro-batch) monotone, so multi-batch runs never
    discard first occurrences as "late", and replays arriving within
    the watermark window collapse.  A replay arriving AFTER the
    watermark is by design not collapsed — that bound is exactly what
    keeps per-key state finite on an unbounded ingest where a plain
    ``dropDuplicates`` would hold every fingerprint forever.  (A
    content-derived pseudo-timestamp would be wrong here: it is random
    noise against the watermark, which after the first batch would
    silently drop nearly every new row as late — r5 review.)
    """
    from ..operators.local import map_arrow
    from ..operators.multimodal import fingerprint_batch

    def fp(batches):
        for rb in batches:
            yield {"audio_id": rb.column("audio_id"),
                   "fmt": rb.column("fmt"),
                   "ahash": rb.column("ahash"),
                   "afp": fingerprint_batch(rb)}

    stream = spark.readStream.schema(schema).parquet(source_dir)
    sig = map_arrow(stream, fp,
                    "audio_id string, fmt string, ahash long, afp long")
    sig = sig.withColumn("ts", F.current_timestamp())
    return (sig.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["afp"])
            .groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n")))


def streaming_heatmap_counts(spark: SparkSession, source_dir: str, schema,
                             ppd: int = 1,
                             id_col: str = "event_id") -> DataFrame:
    """Streaming KDE heatmap: readStream → JVM geotag → 9-way weighted
    kernel explode (stateless, the splat) → pixel-keyed aggregation.

    The pixel aggregation is the only stateful operator; arithmetic is
    all-integer, so a complete-mode drain equals the batch
    ``heatmap_body`` raster EXACTLY (the oracle is the batch twin).
    The batch path's pre-aggregation rewrite does not apply here —
    streaming allows a single aggregation — but per-microbatch partial
    aggregation still combines map-side before state updates."""
    kern = ("array(" + ",".join(
        f"named_struct('dx', {dx}L, 'dy', {dy}L, 'w', {w}L)"
        for dx, dy, w in ((-1, -1, 1), (-1, 0, 2), (-1, 1, 1), (0, -1, 2),
                          (0, 0, 4), (0, 1, 2), (1, -1, 1), (1, 0, 2),
                          (1, 1, 1))) + ")")
    stream = (spark.readStream.schema(schema).parquet(source_dir)
              .withColumn("lon", F.expr(lon_sql(id_col, "spark")))
              .withColumn("lat", F.expr(lat_sql(id_col, "spark")))
              .selectExpr(f"CAST(FLOOR(lon * {int(ppd)}) AS BIGINT) AS px",
                          f"CAST(FLOOR(lat * {int(ppd)}) AS BIGINT) AS py")
              .select("px", "py", F.explode(F.expr(kern)).alias("k")))
    return (stream
            .groupBy((F.col("px") + F.col("k.dx")).alias("x"),
                     (F.col("py") + F.col("k.dy")).alias("y"))
            .agg(F.sum("k.w").alias("intensity"),
                 F.sum(F.when((F.col("k.dx") == 0) & (F.col("k.dy") == 0), 1)
                       .otherwise(0)).alias("n_centered")))


def streaming_blur_counts(spark: SparkSession, source_dir: str, schema,
                          ppd: int = 1,
                          id_col: str = "event_id") -> DataFrame:
    """Streaming 5×5 binomial blur: readStream → JVM geotag → 25-way
    weighted kernel explode (stateless) → pixel-keyed aggregation.

    The BATCH path runs the separable two-pass form (2 aggregations);
    streaming allows exactly ONE stateful aggregation, so the stream
    uses the direct 2-D splat — the same exact integers (the
    separability identity the focal_blur gate proves), so a complete-
    mode drain equals the batch blur bit-for-bit.  25× stateless
    fan-out before the single shuffle; per-microbatch partial
    aggregation combines map-side before state updates."""
    b5 = (1, 4, 6, 4, 1)
    kern = ("array(" + ",".join(
        f"named_struct('dx', {dx - 2}L, 'dy', {dy - 2}L, "
        f"'w', {wx * wy}L)"
        for dx, wx in enumerate(b5) for dy, wy in enumerate(b5)) + ")")
    stream = (spark.readStream.schema(schema).parquet(source_dir)
              .withColumn("lon", F.expr(lon_sql(id_col, "spark")))
              .withColumn("lat", F.expr(lat_sql(id_col, "spark")))
              .selectExpr(f"CAST(FLOOR(lon * {int(ppd)}) AS BIGINT) AS px",
                          f"CAST(FLOOR(lat * {int(ppd)}) AS BIGINT) AS py")
              .select("px", "py", F.explode(F.expr(kern)).alias("k")))
    return (stream
            .groupBy((F.col("px") + F.col("k.dx")).alias("x"),
                     (F.col("py") + F.col("k.dy")).alias("y"))
            .agg(F.sum("k.w").alias("v")))
