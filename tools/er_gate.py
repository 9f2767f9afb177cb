"""Write the ER correctness gate as a JSON record.

Runs the pipeline once on the driver's deterministic corpus (the one the
``er_*`` driver queries share), then folds the two quality queries into
one record: pairwise F1 with its tp/fp/fn over the labeled blocking-key
pairs (``q_er_pipeline_f1``), the corpus and cluster counts, and the
record-query accuracy@1/@K (``q_query_eval``). Exits non-zero when F1 is
below the gate.

    python tools/er_gate.py --out ER_GATE_r06.json
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys

F1_GATE = 0.99


def gate(spark) -> dict:
    import pyspark
    import pyspark.sql.functions as F

    from webr import spec
    from webr.queries import er_pipeline as er

    f1 = er.q_er_pipeline_f1(spark, "").first().asDict()
    q = er.q_query_eval(spark, "").first().asDict()
    cl = er._run(spark)["clusters"]
    return {
        "gate": {"pairwise_f1_min": F1_GATE},
        "pass": f1["pairwise_f1"] >= F1_GATE,
        "pairwise_f1": f1["pairwise_f1"],
        "tp": f1["tp"], "fp": f1["fp"], "fn": f1["fn"],
        "labeled_pairs": f1["n_labeled_pairs"],
        "pages": cl.count(),
        "clusters": cl.where(~F.col("is_noise"))
        .select("cluster_id").distinct().count(),
        "noise_pages": cl.where(F.col("is_noise")).count(),
        "query": {"k": spec.TOP_K, **q},
        "corpus": {"seed": er._SEED, "entities": er._N_ENTITIES,
                   "pages_per_entity": er._PAGES_PER_ENTITY},
        "scoring_version": spec.SCORING_VERSION,
        "host": {"nproc": os.cpu_count(),
                 "affinity": len(os.sched_getaffinity(0)),
                 "python": platform.python_version(),
                 "pyspark": pyspark.__version__},
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="er_gate.py")
    ap.add_argument("--out", required=True, help="JSON file to write")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from webr.session import get_spark
    spark = get_spark(app="webr-er-gate")
    try:
        rec = gate(spark)
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: rec[k] for k in ("pass", "pairwise_f1", "tp", "fp",
                                          "fn", "labeled_pairs", "clusters",
                                          "pages")}))
    return 0 if rec["pass"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
