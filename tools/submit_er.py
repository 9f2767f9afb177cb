"""spark-submit entrypoint for the full ER pipeline (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Unlike ``python -m webr run`` (which builds its own SparkSession via
webr.session.get_spark), this script attaches to the session spark-submit
already configured — master, executors, and --py-files come from the
submit command line, exactly as they would on a real cluster:

    ZIP=$(python -c 'from webr.session import _package_zip; print(_package_zip())')
    spark-submit --master local[8] --py-files "$ZIP" \
        --conf spark.sql.codegen.cache.maxEntries=512 tools/submit_er.py \
        --input /path/pages_dir --warehouse /path/wh

Runtime-settable SQL confs are ``webr.session.sql_confs()``, the same
mapping ``get_spark`` uses (shuffle partitions from
``WEBR_SHUFFLE_PARTITIONS``), applied via spark.conf.set. Confs read at
start-up belong on the submit command line: driver memory
(--driver-memory) and the static codegen cache size
(``webr.session.CODEGEN_CACHE_CONF``, the --conf above); the script
warns on stderr when the session's cache size differs from it.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="submit_er.py")
    ap.add_argument("--input", required=True,
                    help="parquet path with pages (url, warc_ts, html, text, lang)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--input-id", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("webr-submit-er").getOrCreate()

    # imported AFTER the session exists so the modules resolve from
    # --py-files on executors and from the local tree on the driver
    from webr.__main__ import _auto_input_id
    from webr.engine import Pipeline
    from webr.session import CODEGEN_CACHE_CONF, sql_confs

    # SQL confs are runtime-settable; everything JVM-level (master, memory,
    # py-files, static confs) is owned by the spark-submit command line.
    for k, v in sql_confs().items():
        spark.conf.set(k, v)
    key, want = CODEGEN_CACHE_CONF
    got = spark.conf.get(key)
    if got != want:
        print(f"submit_er: {key} is {got}, webr sizes it {want}: "
              f"each run recompiles its generated classes; pass "
              f"--conf {key}={want} to spark-submit", file=sys.stderr)

    pages = spark.read.parquet(args.input)
    input_id = args.input_id or _auto_input_id(args.input)
    t0 = time.time()
    out = Pipeline(spark, args.warehouse, input_id=input_id).run(pages)
    n_pages = out["mentions"].count()
    n_clusters = out["entities"].count()
    n_noise = out["clusters"].where("is_noise").count()
    wall = time.time() - t0
    print(f"SUBMIT_ER_OK pages={n_pages} clusters={n_clusters} "
          f"noise={n_noise} wall_s={wall:.1f} "
          f"pages_per_sec={n_pages / wall:.0f} "
          f"master={spark.sparkContext.master} input_id={input_id}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
