"""Structured Streaming surface: incremental page ingestion.

The reference has no streaming engine (SURVEY §1.3) — its closest
analogue is sequential one-pass layer iteration plus `--resume`
idempotent re-runs, which this engine covers with snapshot checkpoints
(gdal_spark.checkpoint). This module adds the genuinely-streaming
restatement Spark makes available: the same geocode → cell → PIP
pipeline over a file-source stream of page batches, with event-time
windows + watermark for late data, so a crawl feed can be processed as
it lands instead of in nightly batches.

Every stage is the batch engine's own operator: the JVM extraction twin
and the broadcast R-tree PIP kernel are stateless narrow ops, legal in
streams; only the final windowed count is a stateful streaming
aggregation. Checkpointing is Spark's streaming checkpoint (exactly-once
file-source progress), complementing the batch snapshot model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark import cells
from gdal_spark.extract import geocode_pages_jvm
from gdal_spark.pip_join import build_zone_index_from_defs, pip_join
from gdal_spark.pipeline import CELL_ZOOM
from gdal_spark.zones import zone_defs

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                "lang string, doc_id long")


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of page parquet batches (a crawl landing
    directory; new files = new micro-batches)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def streaming_zone_counts(pages: DataFrame,
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming flagship: geocode → cell → PIP → windowed zonal counts
    with a late-data watermark on the crawl timestamp."""
    geo = geocode_pages_jvm(pages).filter(F.col("lat").isNotNull())
    geo = geo.withColumn("cell_id", cells.cell_id_col("lon", "lat",
                                                      CELL_ZOOM))
    joined = pip_join(geo, build_zone_index_from_defs(zone_defs()),
                      how="inner")
    return (
        joined.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "zone_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "zone_id", "n_pages")
    )


def streaming_url_dedup(pages: DataFrame,
                        watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup: a re-crawled url arriving within the
    watermark horizon is dropped (the streaming twin of dedup.dedup_exact;
    state is bounded by the watermark — the scale requirement)."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
    )


def stateful_zone_totals(pages: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-zone
    cumulative page totals maintained across micro-batches (the
    'hypertable rollup' shape — state = one counter per zone key)."""
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    import pandas as pd

    geo = geocode_pages_jvm(pages).filter(F.col("lat").isNotNull())
    joined = pip_join(
        geo.withColumn("cell_id",
                       cells.cell_id_col("lon", "lat", CELL_ZOOM)),
        build_zone_index_from_defs(zone_defs()), how="inner")

    def update(key: tuple, pdfs, state: GroupState):
        n_new = sum(len(p) for p in pdfs)
        total = (state.get[0] if state.exists else 0) + n_new
        state.update((total,))
        yield pd.DataFrame({"zone_id": [key[0]],
                            "total_pages": pd.Series([total],
                                                     dtype="int64")})

    return joined.select("zone_id").groupBy("zone_id").applyInPandasWithState(
        update,
        outputStructType="zone_id long, total_pages long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_totals(spark: SparkSession, input_dir: str,
                        query_name: str = "zone_totals") -> DataFrame:
    """Drive the stateful rollup over available files one file per
    micro-batch (so state genuinely carries across batches); the memory
    sink keeps the latest update per zone."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    out = stateful_zone_totals(pages)
    q = (
        out.writeStream.format("memory").queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def run_stream_to_memory(spark: SparkSession, input_dir: str,
                         query_name: str = "zonal_stream") -> DataFrame:
    """Drive the stream to completion over the currently-available files
    (Trigger.AvailableNow) into a memory sink; returns the result table."""
    out = streaming_zone_counts(stream_pages(spark, input_dir))
    q = (
        out.writeStream.format("memory").queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
