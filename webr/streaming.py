"""Structured Streaming ingest (SURVEY §2.10: the reference is batch-only;
north_rule keeps the engine batch-first, so streaming is the optional
page-arrival front door: readStream -> watermark -> windowed stats +
foreachBatch append into the warehouse staging table that the batch
pipeline then consumes)."""

from __future__ import annotations

import os
from typing import Any, Iterator, Tuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, BooleanType, StringType, StructField, StructType,
)

from webr import schema


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
    foreachBatch (idempotent by epoch directory). Returns the query;
    caller awaits termination or uses availableNow semantics."""
    os.makedirs(staging_dir, exist_ok=True)

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        (df.withColumn("_epoch", F.lit(epoch_id))
         .write.mode("append").parquet(staging_dir))

    return (stream_pages(spark, input_dir)
            .writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


# ---------------------------------------------------------------------------
# Custom stateful operator: incremental cluster assignment (C6 as a stream)

ASSIGN_OUT = StructType([
    StructField("bk", StringType(), False),
    StructField("url", StringType(), False),
    StructField("rep", StringType(), False),
    StructField("is_new", BooleanType(), False),
])

# per-block state: parallel arrays of known cluster representatives and
# the name evidence needed by the compat gate
_ASSIGN_STATE = StructType([
    StructField("reps", ArrayType(StringType()), True),
    StructField("firsts", ArrayType(StringType()), True),
    StructField("middles", ArrayType(StringType()), True),
])


def _assign_fn(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
    """Grouped stateful handler: for each mention arriving in this block,
    link it to the first existing representative whose name evidence is
    compatible (``textproc.names_compatible`` — the SAME kernel the batch
    scorer gates on), else promote it to a new representative. State is
    O(#clusters in block), not O(#mentions): web-scale blocks keep
    thousands of reps, not millions of members."""
    from webr.textproc import names_compatible

    if state.exists:
        reps, firsts, middles = (list(x) for x in state.get)
    else:
        reps, firsts, middles = [], [], []
    bk = key[0]
    out_rows: list[dict[str, Any]] = []
    # arrival order within a micro-batch is not deterministic after a
    # shuffle, and a large group arrives as MULTIPLE Arrow chunks with
    # nondeterministic boundaries — concatenate the whole group FIRST,
    # then sort once (url order) so replays produce identical state
    chunks = [pdf for pdf in pdfs]
    if chunks:
        rows = pd.concat(chunks, ignore_index=True).sort_values("url")
        for url, first, middle in zip(rows["url"], rows["first"],
                                      rows["middle"]):
            hit = None
            for i, r in enumerate(reps):
                if names_compatible(first, middle, firsts[i], middles[i]):
                    hit = r
                    break
            if hit is None:
                reps.append(url)
                firsts.append(first)
                middles.append(middle)
                out_rows.append({"bk": bk, "url": url, "rep": url,
                                 "is_new": True})
            else:
                out_rows.append({"bk": bk, "url": url, "rep": hit,
                                 "is_new": False})
    state.update((reps, firsts, middles))
    yield pd.DataFrame(out_rows, columns=[f.name for f in ASSIGN_OUT.fields])


def incremental_assign(mentions: DataFrame) -> DataFrame:
    """Streaming mentions (bk, url, first, middle) -> (bk, url, rep,
    is_new) via ``applyInPandasWithState``. State lives in the streaming
    checkpoint, so a restarted query resumes with every block's known
    representatives intact (tested in tests/test_modules.py)."""
    return (mentions
            .groupBy("bk")
            .applyInPandasWithState(
                _assign_fn, ASSIGN_OUT, _ASSIGN_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def mention_stream(pages: DataFrame) -> DataFrame:
    """pages stream -> streaming mentions keyed by the first-initial+last
    block key (the n: key of mentions.block_keys_for), via the SAME
    extraction kernel as the batch pipeline."""
    from webr.engine import build_mentions
    m = build_mentions(pages)
    return (m.where(F.col("parse_ok"))
            .select(F.concat(F.substring("first", 1, 1), F.lit(":"),
                             F.col("last")).alias("bk"),
                    "url", "first", "middle"))


def incremental_assign_query(spark: SparkSession, input_dir: str,
                             out_dir: str, checkpoint_dir: str):
    """End-to-end: page drops -> mentions -> stateful cluster assignment
    -> parquet sink, availableNow (drain-what-is-there) semantics."""
    q = (incremental_assign(mention_stream(stream_pages(spark, input_dir)))
         .writeStream
         .format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    return q
