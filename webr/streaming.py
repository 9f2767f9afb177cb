"""Structured Streaming ingest (SURVEY §2.10: the reference is batch-only;
north_rule keeps the engine batch-first, so streaming is the optional
page-arrival front door: foreachBatch append into the warehouse staging
table that the batch pipeline then consumes, and foreachBatch record
queries that assign each arriving page to an existing cluster). Every
micro-batch runs the batch operators; there is no stream-only twin of
any of them."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from webr import schema
from webr.catalog import Warehouse, fingerprint
from webr.query import match_records


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of page parquet drops (swap for Kafka in prod —
    same downstream plan)."""
    return (spark.readStream.schema(schema.PAGES)
            .option("maxFilesPerTrigger", 4)
            .parquet(input_dir))


def ingest_to_staging(spark: SparkSession, input_dir: str,
                      staging_dir: str, checkpoint_dir: str):
    """Exactly-once-per-batch append into the staging table via
    foreachBatch: a replayed epoch replaces its ``_epoch=<id>`` dir.
    Returns the query; caller awaits termination or uses availableNow."""
    os.makedirs(staging_dir, exist_ok=True)

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(staging_dir, f"_epoch={epoch_id}"))

    return (stream_pages(spark, input_dir)
            .writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def assign_stream(spark: SparkSession, input_dir: str, warehouse_root: str,
                  checkpoint_dir: str):
    """Page drops -> one row per page in the warehouse table
    ``assignments`` (url, warc_ts, cluster_id, is_noise), availableNow
    semantics. Each micro-batch is a record query (``match_records``,
    the rule of ``webr query`` and the batch Q3) against the warehouse's
    current tables: rank 1 gives the cluster, no match is noise 0 as in
    the batch pipeline. ``Warehouse.merge`` on url upserts the rows, so a
    replayed epoch rewrites the same rows, and its lineage records the
    ``clusters`` snapshot, the stream and the epoch, so a reader can tell
    assignments that predate a re-clustering. The snapshot id names the
    stream by the query id Spark keeps in the checkpoint: a restart on
    one checkpoint replays under the same ids, a fresh checkpoint's
    epochs get new ones. Within a micro-batch a re-crawl keeps its
    latest ``warc_ts`` (the merge's "later replaces" rule across
    batches); two versions with one ``warc_ts`` raise."""
    wh = Warehouse(spark, warehouse_root)

    def assign(pages: DataFrame, epoch_id: int) -> None:
        pages = (pages.withColumn("_latest", F.max("warc_ts").over(
                     Window.partitionBy("url")))
                 .where(F.col("warc_ts").eqNullSafe(F.col("_latest")))
                 .drop("_latest"))
        snap = wh.manifest("clusters")["snapshot"]
        # set by Spark on the stream's thread; the id in <ckpt>/metadata
        stream = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        top = (match_records(pages, *map(wh.read, (
            "idf", "entities", "clusters", "mention_feats")))
            .where("rank = 1").select(F.col("q_url").alias("url"),
                                      "cluster_id"))
        rows = (pages.select("url", "warc_ts").distinct()
                .join(top, "url", "left")
                .select("url", "warc_ts",
                        F.coalesce("cluster_id", F.lit(0)).alias("cluster_id"),
                        F.col("cluster_id").isNull().alias("is_noise")))
        wh.merge("assignments", rows, keys=["url"],
                 snapshot=fingerprint("assignments", snap, stream,
                                      str(epoch_id)),
                 lineage={"clusters": snap, "stream": stream,
                          "epoch": epoch_id})

    return (stream_pages(spark, input_dir)
            .writeStream
            .foreachBatch(assign)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
