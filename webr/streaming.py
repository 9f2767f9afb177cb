"""Structured Streaming ingest (SURVEY §2.10: the reference is batch-only;
north_rule keeps the engine batch-first, so streaming is the optional
page-arrival front door: readStream -> watermark -> windowed stats,
foreachBatch append into the warehouse staging table that the batch
pipeline then consumes, and foreachBatch record queries that assign each
arriving page to an existing cluster)."""

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


def windowed_host_counts(pages: DataFrame) -> DataFrame:
    """Late-data-tolerant page counts per host per 1h tumbling window
    (watermark 2h): the streaming analog of the blocking-stage A1 stats."""
    # lowercase BEFORE the scheme match (same fix as
    # streaming_link_indegree): 'HTTP://Host/..' must normalize to its
    # host, not fall into one "" group because the scheme class is
    # lowercase-only
    host = F.regexp_extract(F.lower("url"), r"^[a-z]+://([^/:?#]*)", 1)
    return (pages
            .withWatermark("warc_ts", "2 hours")
            .groupBy(F.window("warc_ts", "1 hour").alias("w"),
                     host.alias("host"))
            .agg(F.count("*").alias("n_pages"))
            .select(F.col("w.start").alias("window_start"), "host",
                    "n_pages"))


def sessionized_counts(events: DataFrame, gap: str = "1800 seconds",
                       watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization via ``session_window`` (dynamic-gap
    session windows close ``gap`` after the last event; late data beyond
    ``watermark`` is dropped). The batch twin is
    queries/relational.py::q_sessionize_events (lag + cumulative sum),
    which starts a new session on a microsecond gap STRICTLY greater
    than 1800 s. session_window splits on gap > G as well (an event
    exactly G after the last one stays in its session), so G = 1800 s
    and full-precision event time make per-(user, session) counts agree
    exactly on drained input (tested, fractional timestamps included)."""
    # watermarks require TIMESTAMP (not NTZ); session tz is pinned UTC so
    # the cast is value-preserving
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("session_cents"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events", "session_cents"))


def stream_dedup_exact(pages: DataFrame, watermark: str = "2 hours",
                       ) -> DataFrame:
    """Streaming exact dedup: content fingerprint (md5 of the raw bytes —
    cheap and exact) + ``dropDuplicates`` scoped by watermark, so state
    is bounded to the watermark horizon instead of growing forever (the
    100 TB requirement for any streaming dedup). First arrival of each
    fingerprint wins; replays within the watermark are dropped
    exactly-once."""
    # field-TAGGED fallback chain: a page with NULL html and NULL text
    # must not share a NULL fingerprint with every other contentless page
    # (dropDuplicates treats NULL keys as equal), and an html payload
    # must never collide with a text/url that happens to share its bytes
    fp = (pages
          .withColumn("fp", F.md5(F.coalesce(
              F.concat(F.lit(b"h:"), F.col("html")),
              F.concat(F.lit(b"t:"), F.col("text").cast("binary")),
              F.concat(F.lit(b"u:"), F.col("url").cast("binary"))))))
    # NULL event time would fail the watermark predicate and silently
    # discard the row — pin missing timestamps to the epoch instead
    fp = fp.withColumn(
        "warc_ts", F.coalesce(F.col("warc_ts"),
                              F.lit("1970-01-01 00:00:00")
                              .cast("timestamp_ntz")))
    return (fp.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["fp"]))


def streaming_link_indegree(pages: DataFrame, watermark: str = "2 hours",
                            ) -> DataFrame:
    """Streaming link-graph ingestion: extract ``<a href>`` targets from
    each arriving page's html (webr.links.extract_links inside an
    Arrow-batched mapInPandas — the same kernel as the batch link_*
    queries) and maintain late-data-tolerant in-degree counts per target
    host per 1h tumbling window. The incremental twin of the batch
    ``link_degree`` operator: state is bounded by the watermark horizon
    (windows finalize and evict), so a crawl frontier can consume fresh
    in-degree signal continuously at 100 TB without unbounded state."""
    import pandas as pd

    from webr.links import extract_links
    from webr.textproc import decode_html

    def gen(batches):
        for pdf in batches:
            ts_l, tgt_l = [], []
            for ts, html in zip(pdf["warc_ts"], pdf["html"]):
                for href, _anchor in extract_links(decode_html(html)):
                    ts_l.append(ts)
                    tgt_l.append(href)
            yield pd.DataFrame({
                "warc_ts": pd.Series(
                    ts_l, dtype=pdf["warc_ts"].dtype),
                "href": pd.Series(tgt_l, dtype="object")})

    # watermarks need TIMESTAMP (not NTZ); session tz is pinned UTC so
    # the declared type is value-preserving (same rule as sessionized)
    links = (pages.select("warc_ts", "html")
             .mapInPandas(gen, "warc_ts timestamp, href string"))
    # case-insensitive scheme match (HTTP://Host/.. counts), host
    # lowercased after extraction; relative/schemeless hrefs produce an
    # empty host and are DROPPED rather than pooled into one "" group
    tgt_host = F.lower(F.regexp_extract(
        "href", r"^(?i:[a-z][a-z0-9+.-]*)://([^/:?#]*)", 1))
    # a row with no warc_ts has no window to land in: drop it explicitly
    # (aliasing it to epoch-1970 would only let the watermark silently
    # discard it as late data — same outcome, hidden)
    return (links
            .where(F.col("warc_ts").isNotNull())
            .withColumn("target_host", tgt_host)
            .where(F.col("target_host") != "")  # before the stateful agg
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", "1 hour").alias("w"),
                     "target_host")
            .agg(F.count("*").alias("in_links"))
            .select(F.col("w.start").alias("window_start"),
                    "target_host", "in_links"))


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
    ``clusters`` snapshot and the epoch, so a reader can tell
    assignments that predate a re-clustering. Within a micro-batch a
    re-crawl keeps its latest ``warc_ts`` (the merge's "later replaces"
    rule across batches); two versions with one ``warc_ts`` raise."""
    wh = Warehouse(spark, warehouse_root)

    def assign(pages: DataFrame, epoch_id: int) -> None:
        pages = (pages.withColumn("_latest", F.max("warc_ts").over(
                     Window.partitionBy("url")))
                 .where(F.col("warc_ts").eqNullSafe(F.col("_latest")))
                 .drop("_latest"))
        snap = wh.manifest("clusters")["snapshot"]
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
                 snapshot=fingerprint("assignments", snap, str(epoch_id)),
                 lineage={"clusters": snap, "epoch": epoch_id})

    return (stream_pages(spark, input_dir)
            .writeStream
            .foreachBatch(assign)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
