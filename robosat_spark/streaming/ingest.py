"""Structured-Streaming ingest for the pages table (SURVEY.md §2.10).

The reference is strictly batch; its nearest streaming analogs are the
on-demand tile server (/root/reference/robosat/tools/serve.py:24-34) and
skip-if-exists incremental reruns (/root/reference/robosat/tools/download.py:48-49).
The engine extension: a file-source stream over a pages directory with

- a watermark on ``warc_ts`` to bound state for late data,
- ``dropDuplicates`` on (url) within the watermark — the streaming analog
  of the latest-snapshot/as-of dedup,
- the SAME geotag-extraction + tile-encode expressions as the batch path
  (they are pure Column expressions, so batch/stream parity is free), and
- tumbling-window page counts per tile.

Tests drive it with ``trigger(availableNow=True)`` so the stream drains the
directory and stops — deterministic, and the results must equal the batch
computation on the same files (checked in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = (
    "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"
)


def streaming_pages(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream over a parquet pages directory."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_latest_snapshot(pages: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Drop re-crawled duplicates of the same url arriving within the
    watermark (state is bounded by the watermark horizon)."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicates(["url"])


def streaming_dedup_exact(pages: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Streaming EXACT text dedup: drop documents whose normalized-text
    md5 fingerprint was already seen within the watermark horizon — the
    streaming member of the dedup family (the batch twin is the
    ``dedup_exact`` gate query's hash-groupBy). Uses
    ``dropDuplicatesWithinWatermark`` so fingerprint state is actually
    EVICTED past the horizon (plain dropDuplicates(["fp"]) without the
    event-time column in the key never evicts — unbounded state at
    10^12-page scale); the fingerprint is the same whole-stage-codegen
    expression as the batch path, so batch/stream parity holds."""
    from ..functions.text import normalized_text

    keyed = pages.withWatermark("warc_ts", watermark).withColumn(
        "fp", F.md5(normalized_text(F.col("text")))
    )
    return keyed.dropDuplicatesWithinWatermark(["fp"])


def streaming_tile_counts(
    pages: DataFrame,
    zoom: int = 12,
    window: str = "1 hour",
    watermark: str = "2 days",
) -> DataFrame:
    """Geotag -> tile encode -> tumbling-window counts per tile.

    Runs the batch ``spatial_join.geotagged_points`` itself (its
    evaluation barrier included: ``spark_partition_id`` is legal in
    Structured Streaming), so batch/stream parity holds on any input."""
    from ..operators.spatial_join import geotagged_points

    pts = geotagged_points(pages.withWatermark("warc_ts", watermark), zoom)
    return (
        pts.groupBy(F.window("warc_ts", window).alias("w"), F.col("tile_id"))
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("bucket"), "tile_id", "n_pages")
    )


def streaming_hll_registers(pages: DataFrame, col: str = "url", p: int = 6) -> DataFrame:
    """HyperLogLog register table ON A STREAM: running distinct-count
    state for a continuously ingested corpus. The register build is a
    plain streaming groupBy-MAX — at most 2^p state rows regardless of
    stream length (the minimal possible state for a distinct count), and
    the output registers are at every point IDENTICAL to the batch
    ``operators.sketch.hll_buckets`` over the rows seen so far (the same
    expression objects), so the batch estimator reads the streamed
    registers directly. No watermark needed: registers are monotone
    (MAX never retracts), making this exactly-once under replay for free."""
    from ..operators.sketch import hll_register_exprs

    bucket, rho = hll_register_exprs(col, p)
    return pages.select(bucket, rho).groupBy("bucket").agg(F.max("rho").alias("max_rho"))


def streaming_cms_registers(
    pages: DataFrame, col: str = "url", d: int = 4, w: int = 256
) -> DataFrame:
    """Count-Min counter table ON A STREAM (new r5 — the frequency
    companion to :func:`streaming_hll_registers`): running token/URL
    frequency state for a continuously ingested corpus. A plain
    streaming groupBy-COUNT over the d row-salted cells — at most d*w
    state rows regardless of stream length, and at every point IDENTICAL
    to the batch ``operators.sketch.cms_buckets`` over the rows seen so
    far (the same cell expressions), so ``cms_estimate`` reads the
    streamed counters directly. Counters are monotone under append-only
    input (COUNT never retracts), so no watermark is needed and replay
    is exactly-once for free.

    Delegates to the batch builder — its select/groupBy plan runs
    unchanged on a streaming DataFrame, and one shared implementation is
    what GUARANTEES the advertised batch/stream parity."""
    from ..operators.sketch import cms_buckets

    return cms_buckets(pages, col, d=d, w=w)


def streaming_hist_registers(
    pages: DataFrame, col: str, by: str, lo: float, hi: float, nb: int = 64
) -> DataFrame:
    """Equi-width histogram ON A STREAM (r5 — with this, every member of
    the sketch family runs as streaming state): running per-group bin
    counters with FIXED [lo, hi) bounds. The batch builder derives
    bounds from the group's exact min/max — impossible on an unbounded
    stream — so the caller pins them (the deployment norm: doc-length
    and quality-score ranges are known a priori); bin arithmetic is THE
    SAME ``operators.sketch.hist_bin`` expression the batch builder uses
    (one shared definition — the merge-by-SUM contract can't drift),
    counters are monotone groupBy-COUNTs (<= groups x nb state rows,
    exactly-once under replay for free), and a batch histogram of
    another table slice with the same pinned bounds merges in by
    cell-wise SUM. NULL values are excluded (matching the batch
    builder's percentile population)."""
    from ..operators.sketch import hist_bin

    if not hi > lo:
        raise ValueError(f"streaming_hist_registers needs hi > lo, got [{lo}, {hi})")
    wd = (hi - lo) / float(nb)
    b = hist_bin(F.col(col), F.lit(lo), F.lit(wd), nb)
    return (
        pages.filter(F.col(col).isNotNull())
        .select(F.col(by), b.alias("bucket"))
        .groupBy(by, "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def streaming_feature_counts(
    pages: DataFrame,
    features: DataFrame,
    zoom: int = 12,
    window: str = "1 hour",
    watermark: str = "2 days",
) -> DataFrame:
    """The flagship spatial join ON A STREAM: geotag -> tile encode ->
    stream-static broadcast join against the exploded cover table ->
    codegen point-in-rings refine -> windowed counts per feature.

    It is the assign_jvm cover join, which is stateless JVM end to end,
    so it runs under Structured Streaming unchanged — stream-static joins
    with a broadcast static side need no state store; only the windowed
    count keeps state (bounded by the watermark)."""
    from ..operators.spatial_join import _cover_pip_join, geotagged_points

    pts = geotagged_points(pages.withWatermark("warc_ts", watermark), zoom)
    joined = _cover_pip_join(pts, features, zoom, broadcast=True)
    return (
        joined.groupBy(F.window("warc_ts", window).alias("w"), F.col("feature_id"))
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("bucket"), "feature_id", "n_pages")
    )


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, query_name: str = "q", mode: str = "append"
):
    """Drain the stream into an in-memory table and stop (test/dev helper;
    production uses a parquet/Iceberg sink with the same checkpointing).
    Use mode='complete' for windowed aggregations so state pending behind
    the watermark is still emitted when the drain terminates."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
