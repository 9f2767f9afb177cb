"""SparkSession factory: Arrow on, AQE on (incl. skew join), UTC timezone
(duckdb-oracle comparability), shuffle partitions sized to cores.

The factory also ships the ``webr`` package to executors (the local-mode
equivalent of ``spark-submit --py-files webr.zip`` from the north_rule), so
pandas-UDF stages import it regardless of the driver's cwd."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip the installed webr package once per process for addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(),
                       f"webr_pyfiles_{os.getpid()}.zip")
    if not os.path.exists(out):
        with zipfile.ZipFile(out, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        p = os.path.join(root, f)
                        rel = os.path.join(
                            "webr", os.path.relpath(p, pkg_dir))
                        z.write(p, rel)
    return out


def sql_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """Runtime-settable SQL confs of every webr session: ``get_spark``
    sets them on its builder, ``tools/submit_er.py`` on the session
    spark-submit made (JVM-level and static confs, such as
    ``CODEGEN_CACHE_CONF``, stay on the submit command line)."""
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("WEBR_SHUFFLE_PARTITIONS", "32"))
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # NOTE: wide-row joins (sides carrying weight arrays) use explicit
        # per-join SHUFFLE_HASH hints at the call sites instead of a
        # session-wide preferSortMergeJoin=false — ShuffledHashJoin has no
        # sort-based spill fallback, so forcing it globally risks OOM on
        # large non-broadcastable build sides unrelated to the fat rows
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    }


# Static SQL conf: Spark reads it once, when the JVM's codegen class cache
# is created, so it can only be set before the session starts (builder or
# spark-submit --conf), never through spark.conf.set. The cache holds 100
# classes by default, but one Pipeline.run needs ~164-174 distinct ones (a
# Q3 session ~16 more, a driver_suite pass plus its check ~344): at 100
# the LRU is flushed every pass and each run into a fresh warehouse
# recompiles all 164 (0.85-1.5 s of a 6-8 s run, local[4]). At 512 a
# second run compiles none.
CODEGEN_CACHE_CONF = ("spark.sql.codegen.cache.maxEntries", "512")


def get_spark(app: str = "webr", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("WEBR_MASTER", "local[*]")
    # Ship webr to python workers. Local mode: workers inherit the env of
    # the JVM we are about to launch -> put the repo root on PYTHONPATH
    # before building. Cluster mode: spark.submit.pyFiles (the
    # spark-submit --py-files path of the north_rule).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else ""))
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.driver.memory",
                os.environ.get("WEBR_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config(*CODEGEN_CACHE_CONF)
    )
    for k, v in sql_confs(shuffle_partitions).items():
        b = b.config(k, v)
    if not master.startswith("local"):
        b = b.config("spark.submit.pyFiles", _package_zip())
    return b.getOrCreate()
