"""Full ER-pipeline queries on the deterministic synthetic pages corpus
(FIXTURES.md). Not SQL-expressible (stateful multi-stage + iterative CC +
python string kernels) => no oracle_sql entries; the driver records
rows-only checks. The REAL correctness gate for these is tests/ — exact
parity against the NumPy oracle, bitwise scores included."""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from webr import schema
from webr.engine import Pipeline
from webr.synth import generate_pages, pages_to_pandas

_SEED = 42
_N_ENTITIES = 12
_PAGES_PER_ENTITY = 12


# One pipeline execution shared by all five driver queries: keyed on the
# Spark applicationId so a restarted session never reuses stale plans.
# Without this, a driver sweep over the registry pays five full pipeline
# runs (one per query below) for identical outputs.
_RUN_CACHE: dict = {}
_PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


@functools.cache
def _pages_pd():
    """The synthetic corpus as pandas (PAGES columns plus truth), once
    per process."""
    return pages_to_pandas(generate_pages(
        n_entities=_N_ENTITIES, pages_per_entity=_PAGES_PER_ENTITY,
        seed=_SEED))


@functools.cache
def _query_set():
    """Five corpus pages (deterministic picks) re-submitted as query
    records -> (their urls, their PAGES columns as pandas)."""
    pages_pd = _pages_pd()
    urls = sorted(pages_pd.url)[:: max(len(pages_pd) // 5, 1)][:5]
    return urls, pages_pd[pages_pd.url.isin(urls)][_PAGE_COLS]


def _run(spark: SparkSession) -> dict:
    key = (spark.sparkContext.applicationId,
           _SEED, _N_ENTITIES, _PAGES_PER_ENTITY)
    if key in _RUN_CACHE:
        return _RUN_CACHE[key]
    pages = spark.createDataFrame(_pages_pd()[_PAGE_COLS],
                                  schema=schema.PAGES)
    # per process: a shared dir lets other processes resume its tables
    wh = tempfile.mkdtemp(prefix="webr_entry_wh_")
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    out = Pipeline(spark, wh, input_id=f"entry-{_SEED}").run(pages)
    _RUN_CACHE.clear()
    _RUN_CACHE[key] = out
    return out


def q_er_clusters(spark: SparkSession, sf: str) -> DataFrame:
    return _run(spark)["clusters"].orderBy("url")


def q_er_entities(spark: SparkSession, sf: str) -> DataFrame:
    return (_run(spark)["entities"]
            .select("cluster_id", "canonical_name", "last", "first_initial",
                    "n_members",
                    # scalar string: the driver canonicalizer cannot sort
                    # rows containing list-typed cells
                    F.array_join("hosts", ",").alias("top_hosts"))
            .orderBy("cluster_id"))


def q_er_pipeline_f1(spark: SparkSession, sf: str) -> DataFrame:
    """The BASELINE.json headline gate (pairwise F1 >= 0.99 on labeled
    pairs at the same blocking key) surfaced as a driver row instead of
    living only in pytest: one row (pairwise_f1, tp, fp, fn,
    n_labeled_pairs) comparing the engine's clusters against the
    generator's hidden entity_id truth over the pipeline's own
    blocking-key pairs. Computed entirely as DataFrame ops (two slim
    joins + one aggregate — no collect); exact numeric parity with the
    NumPy ``oracle.pairwise_f1`` twin is pinned by
    tests/test_pipeline.py::test_er_pipeline_f1_driver_row."""
    out = _run(spark)
    truth = spark.createDataFrame(_pages_pd()[["url", "entity_id"]])
    lab = (out["clusters"]
           .select("url", F.when(~F.col("is_noise"), F.col("cluster_id"))
                   .alias("pred"))
           .join(truth, "url"))
    pairs = out["pairs"].select("url_1", "url_2").distinct()
    l1 = lab.select(F.col("url").alias("url_1"),
                    F.col("pred").alias("p1"),
                    F.col("entity_id").alias("g1"))
    l2 = lab.select(F.col("url").alias("url_2"),
                    F.col("pred").alias("p2"),
                    F.col("entity_id").alias("g2"))
    j = (pairs.join(l1, "url_1").join(l2, "url_2")
         .select((F.col("p1").isNotNull()
                  & (F.col("p1") == F.col("p2"))).alias("p"),
                 (F.col("g1") == F.col("g2")).alias("g")))
    agg = j.agg(
        F.sum(F.when(F.col("p") & F.col("g"), 1).otherwise(0))
        .cast("long").alias("tp"),
        F.sum(F.when(F.col("p") & ~F.col("g"), 1).otherwise(0))
        .cast("long").alias("fp"),
        F.sum(F.when(~F.col("p") & F.col("g"), 1).otherwise(0))
        .cast("long").alias("fn"),
        F.count(F.lit(1)).alias("n_labeled_pairs"))
    pr = agg.selectExpr(
        "tp", "fp", "fn", "n_labeled_pairs",
        "CASE WHEN tp+fp=0 THEN 1.0D ELSE tp/(tp+fp) END AS p",
        "CASE WHEN tp+fn=0 THEN 1.0D ELSE tp/(tp+fn) END AS r")
    return pr.selectExpr(
        "round(CASE WHEN p + r = 0 THEN 0.0D "
        "ELSE 2 * p * r / (p + r) END, 9) AS pairwise_f1",
        "tp", "fp", "fn", "n_labeled_pairs")


def q_record_query_topk(spark: SparkSession, sf: str) -> DataFrame:
    """C6/J5-J7/A7/W1: incremental record->cluster match. Five corpus pages
    (deterministic picks) re-submitted as query records against the built
    entity tables; each must rank its own cluster. Correctness asserted in
    tests/test_query.py (top-1 == own cluster, no-match returns empty)."""
    from webr.query import match_records
    out = _run(spark)
    qpages = spark.createDataFrame(_query_set()[1], schema=schema.PAGES)
    return (match_records(qpages, out["idf"], out["entities"],
                          out["clusters"], out["mention_feats"])
            .select("q_url", "cluster_id", "votes", "rank")
            .orderBy("q_url", "rank"))


def q_query_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Query-path quality eval (ref record_based_query_exp1.py:135-362):
    accuracy@1/@K, average gold rank, misses, and no-match correctness
    over the deterministic corpus — five held-in pages (gold = their own
    cluster; a noise page's gold is NULL = no-match expected) plus one
    fabricated unseen-author page that must return an empty result.
    Exact counts are pinned by tests/test_query.py::test_query_eval_*."""
    import pandas as pd

    from webr import spec
    from webr.evalm import query_eval
    from webr.query import match_records
    out = _run(spark)
    urls, held_in = _query_set()
    nm_url = "https://nomatch.example.net/p/zq-0001"
    nomatch = pd.DataFrame([{
        "url": nm_url, "warc_ts": pd.Timestamp("2020-01-01"),
        "html": (b"<html><head><title>unseen</title></head><body>"
                 b"<h1>Zebulon Quixote</h1><p>entirely unrelated gibberish"
                 b" tokens qqq www eee</p></body></html>"),
        "text": "", "lang": "eng"}])
    qpages_pd = pd.concat([held_in, nomatch], ignore_index=True)
    qpages = spark.createDataFrame(qpages_pd, schema=schema.PAGES)
    res = match_records(qpages, out["idf"], out["entities"],
                        out["clusters"], out["mention_feats"])
    gold = (out["clusters"].where(F.col("url").isin(urls))
            .select(F.col("url").alias("q_url"),
                    F.when(~F.col("is_noise"), F.col("cluster_id"))
                    .alias("cluster_id"))
            .unionByName(spark.createDataFrame(
                [(nm_url, None)], "q_url string, cluster_id long")))
    return query_eval(res, gold, k=spec.TOP_K)


QUERIES = {
    "er_pipeline_clusters": (q_er_clusters, None),
    "er_pipeline_entities": (q_er_entities, None),
    "er_pipeline_f1": (q_er_pipeline_f1, None),
    "record_query_topk": (q_record_query_topk, None),
    "query_eval": (q_query_eval, None),
}
