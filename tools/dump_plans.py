"""Dump physical plans for the headline queries to PLANS.md and assert the
plan properties that matter at 100 TB (SURVEY §4):

- parquet scans carry PushedFilters / pruned ReadSchema where expected,
- small dimension joins are BroadcastHashJoin,
- no CartesianProduct in any checked plan but blocking_metrics, whose
  single-row cross combine is left unasserted,
- WholeStageCodegen spans exist in every JVM-side query.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

CHECKS = {
    # name: (must_contain, must_not_contain)
    "lineitem_agg": (["PushedFilters: [IsNotNull(l_shipdate)",
                      "WholeStageCodegen"], ["CartesianProduct"]),
    "revenue_by_nation": (["BroadcastHashJoin"], ["SortMergeJoin",
                                                  "CartesianProduct"]),
    "top_orders_per_customer": (["WholeStageCodegen"], ["CartesianProduct"]),
    "parts_never_ordered": (["PushedFilters: [IsNotNull(l_shipdate)"], []),
    "sessionize_events": (["WholeStageCodegen"], ["CartesianProduct"]),
    "events_hourly": (["WholeStageCodegen"], ["CartesianProduct"]),
    "orders_rollup": (["Expand", "WholeStageCodegen"], ["CartesianProduct"]),
    "doc_blocking": (["WholeStageCodegen"], ["CartesianProduct"]),
    "doc_pair_features": ([], ["CartesianProduct"]),
    "doc_cosine_topk": ([], ["CartesianProduct"]),
    "dedup_minhash_lsh": (["WholeStageCodegen"], ["CartesianProduct"]),
    "dedup_simhash": (["WholeStageCodegen"], ["CartesianProduct"]),
    "ann_lsh_topk": ([], ["CartesianProduct"]),   # equi-join on bucket key
    "ann_ivf_topk": ([], ["CartesianProduct"]),   # equi-join on cell key
    "dedup_embedding": ([], ["CartesianProduct"]),
    "dedup_ngram_jaccard": ([], ["CartesianProduct"]),
    "dedup_lines": (["WholeStageCodegen"], ["CartesianProduct"]),
    "simhash64_pairs": ([], ["CartesianProduct"]),  # (band, word) equi-join
    "pr_curve": ([], ["CartesianProduct"]),
    "blocking_metrics": ([], []),                 # single-row cross combine
    "train_split": (["WholeStageCodegen"], ["CartesianProduct"]),
    "quality_score": (["WholeStageCodegen"], ["CartesianProduct"]),
    "pii_scan": (["WholeStageCodegen"], ["CartesianProduct"]),
    "fingerprint": (["WholeStageCodegen"], ["CartesianProduct"]),
    "dedup_url": (["WholeStageCodegen"], ["CartesianProduct"]),
    # benchmark side must broadcast: the corpus is never shuffled on gram
    "decontaminate": (["BroadcastHashJoin"], ["CartesianProduct",
                                              "SortMergeJoin"]),
    # round 4: multi-class argmax stays pure JVM exprs; the sniff query's
    # only Python is the Arrow-batched parser (no per-row UDF node)
    "lang_id": (["WholeStageCodegen"], ["CartesianProduct",
                                        "BatchEvalPython"]),
    "media_sniff": (["MapInPandas"], ["CartesianProduct",
                                      "BatchEvalPython"]),
    "warc_parse": (["MapInPandas"], ["CartesianProduct",
                                     "BatchEvalPython"]),
    "time_era_bucket": (["WholeStageCodegen"], ["CartesianProduct"]),
    # as-of join lowers to ONE user_id shuffle + sorted window scan —
    # never a range join / nested loop
    "asof_join_events": (["Window", "WholeStageCodegen"],
                         ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # round 4 link-graph family: extraction is Arrow-batched (no per-row
    # UDF node); degrees/pagerank join+aggregate JVM-side (the one-row
    # dangling-mass cross join lowers to a broadcast NLJ, never a
    # CartesianProduct). PageRank's rounds are localCheckpoint-ed, so its
    # final plan scans the last round's checkpoint; the extraction it
    # ran on is asserted by link_extract and link_degree.
    "link_extract": (["MapInPandas"], ["CartesianProduct",
                                       "BatchEvalPython"]),
    "link_degree": (["MapInPandas", "WholeStageCodegen"],
                    ["CartesianProduct", "BatchEvalPython"]),
    "link_pagerank": (["Scan ExistingRDD", "localCheckpoint"],
                      ["CartesianProduct", "BatchEvalPython"]),
    "time_diff_pairs": ([], ["CartesianProduct"]),
    "feature_importance": ([], ["CartesianProduct"]),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from webr.session import get_spark

    spark = get_spark(app="plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # AQE wraps every plan in AdaptiveSparkPlan(isFinalPlan=false), which
    # hides codegen spans until execution. The properties asserted here
    # (pushdown, broadcast, codegen eligibility, no cartesian) are static
    # plan properties — dump with AQE off; the engine itself runs AQE on.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    qs = entrymod.queries()
    failures: list[str] = []
    sections: list[str] = []
    for name, (must, must_not) in CHECKS.items():
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # AQE-wrapped formatted plans (Spark 4) don't print codegen spans
        # until execution; simple mode still marks them with `*(n)`.
        sbuf = io.StringIO()
        with redirect_stdout(sbuf):
            df.explain()
        if "*(" in sbuf.getvalue():
            plan += "\nWholeStageCodegen"
        for token in must:
            if token not in plan:
                failures.append(f"{name}: missing {token!r}")
        for token in must_not:
            if token in plan:
                failures.append(f"{name}: unexpected {token!r}")
        sections.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")

    header = (
        "# PLANS — physical plans of the headline queries\n\n"
        f"Generated by `python tools/dump_plans.py {sf_dir}`.\n"
        "Asserted properties: filter/column pushdown into the parquet scan,\n"
        "broadcast joins for small dims, no accidental cartesian products,\n"
        "whole-stage codegen in the JVM-side paths. Check result: "
        + ("**ALL OK**" if not failures
           else "**FAILURES**: " + "; ".join(failures)) + "\n\n")
    with open("PLANS.md", "w") as f:
        f.write(header + "\n".join(sections))
    print("ALL OK" if not failures else "FAILURES:")
    for x in failures:
        print(" -", x)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
