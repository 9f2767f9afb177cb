"""Bench harness. Default mode: run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The default mode taskset-pins the process tree to exactly $CPUS cores
and keeps the best of $SPARK_GRAFT_BENCH_RUNS (default 2) runs per
query, so round-over-round headline deltas measure the code, not host
contention.

Modes:
  python bench.py                  # headline bench (one JSON line)
  python bench.py --er-only        # just the ER pipeline (pages/sec)

Per-stage attribution (task time, Python-worker time, shuffle bytes)
comes from ``perfbench/run.py --trace 1``, not from this script.
"""

from __future__ import annotations

import atexit
import functools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ER_SCALE = float(os.environ.get("SPARK_GRAFT_ER_SCALE", "5"))
# headline runs per query (min kept): wall-clock on this shared host is
# ±20-50% noisy run-to-run; the minimum is the least-contended execution
BENCH_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))


def _pin_self() -> None:
    """Re-exec the whole bench under taskset: unpinned, the JVM
    GC/shuffle threads and Python workers wander the host's CPUs and
    round-over-round deltas are mostly host noise."""
    if shutil.which("taskset") and not os.environ.get("WEBR_BENCH_PINNED"):
        env = dict(os.environ, WEBR_BENCH_PINNED="1")
        os.execvpe("taskset",
                   ["taskset", "-c", f"0-{CPUS - 1}", sys.executable,
                    os.path.abspath(__file__)] + sys.argv[1:], env)

HEADLINE = [
    "lineitem_agg", "revenue_by_nation", "top_orders_per_customer",
    "sessionize_events", "events_hourly",
    "doc_blocking", "doc_pair_features", "doc_cosine_topk",
    "doc_components", "dedup_minhash_lsh", "dedup_simhash",
    "ann_cosine_topk", "quality_score", "fingerprint",
    # round 4: the iterative link-graph op rides the headline too (5
    # PageRank iterations = 5 chained shuffle rounds — worth measuring),
    # as does the windowed as-of join
    "link_pagerank", "asof_join_events",
]


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _materialize(df) -> int:
    """Force full computation without driver collection."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def bench_queries(spark) -> dict[str, float]:
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    out: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        best = None
        for _ in range(BENCH_RUNS):
            t0 = time.monotonic()
            _materialize(fn(spark, SF_DIR))
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    return out


@functools.cache
def _pages_parquet(spark) -> tuple[str, int]:
    """Materialize the synthetic corpus as a parquet table ONCE per
    process (untimed): the pipeline input per input_hint is a table
    scan, not a driver-held pandas frame (whose serial Arrow serving
    would dominate stage 0). The table lives in a temp dir this process
    owns and removes at exit, so it always holds the corpus whose page
    count it returns."""
    from webr import schema
    from webr.synth import generate_pages, pages_to_pandas
    pages_pd = pages_to_pandas(generate_pages(seed=42, scale=ER_SCALE))
    d = tempfile.mkdtemp(prefix="webr_bench_pages_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    (spark.createDataFrame(
        pages_pd[["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES)
     .repartition(64).write.mode("overwrite").parquet(d))
    return d, len(pages_pd)


def bench_er_pipeline(spark) -> dict:
    """Full ER pipeline on the deterministic synthetic corpus at
    ER_SCALE; returns wall seconds + pages/sec (the north metric)."""
    from webr.engine import Pipeline

    pages_dir, n_pages = _pages_parquet(spark)
    pages = spark.read.parquet(pages_dir)
    wh = tempfile.mkdtemp(prefix="webr_bench_wh_")
    try:
        t0 = time.monotonic()
        out = Pipeline(spark, wh, input_id=f"bench-{ER_SCALE}").run(pages)
        n_clusters = out["entities"].count()
        wall = time.monotonic() - t0
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return {
        "er_pipeline_sec": round(wall, 3),
        "er_pages": n_pages,
        "er_clusters": int(n_clusters),
        "pages_per_sec": round(n_pages / wall, 2),
    }


def _make_spark(master: str):
    from webr.session import get_spark
    spark = get_spark(app="bench", master=master,
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()  # JVM warmup
    return spark


def main_default() -> None:
    _pin_self()
    spark = _make_spark(f"local[{CPUS}]")
    queries = bench_queries(spark)
    ers = [bench_er_pipeline(spark) for _ in range(BENCH_RUNS)]
    er = min(ers, key=lambda e: e["er_pipeline_sec"])
    queries["er_pipeline"] = er["er_pipeline_sec"]
    total = round(sum(queries.values()), 3)
    print(json.dumps({
        "metric": "total_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": _sf_of(SF_DIR),
        "cpus": CPUS,
        "runs": BENCH_RUNS,
        "pinned": bool(os.environ.get("WEBR_BENCH_PINNED")),
        "er_pages": er["er_pages"],
        "er_pages_per_sec": er["pages_per_sec"],
    }))


def main_er_only() -> None:
    spark = _make_spark(f"local[{CPUS}]")
    er = bench_er_pipeline(spark)
    print(json.dumps(er))


if __name__ == "__main__":
    if set(sys.argv[1:]) - {"--er-only"}:
        sys.exit("usage: python bench.py [--er-only]")
    if "--er-only" in sys.argv:
        main_er_only()
    else:
        main_default()
