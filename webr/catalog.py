"""Warehouse facade: Iceberg-shaped API over local Parquet + JSON manifests.

North_rule requires every stage to checkpoint with lineage + counters so a
killed job resumes mid-pipeline. The real deployment writes Iceberg tables
(`spark.catalog`/`writeTo(...)`); this sandbox has no Iceberg runtime jar
(SURVEY §7.0), so the facade keeps the same call shape and persists:

  <warehouse>/<table>/data/*.parquet          (the rows)
  <warehouse>/<table>/_manifest.json          (schema, snapshot id = content
                                               fingerprint of inputs+spec,
                                               row count, per-stage lineage)

``snapshot`` ids are deterministic fingerprints of (spec version, upstream
snapshot ids, stage name), so resume only reuses a checkpoint whose whole
upstream lineage is unchanged — the Iceberg-snapshot semantics that matter
for correctness. Swapping in a real catalog is a config change, not code.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def fingerprint(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._dir(table), "_manifest.json")

    # -- manifest ---------------------------------------------------------
    def manifest(self, table: str) -> dict | None:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def has_snapshot(self, table: str, snapshot: str) -> bool:
        m = self.manifest(table)
        return bool(m) and m.get("snapshot") == snapshot

    # -- io ----------------------------------------------------------------
    def write(self, table: str, df: DataFrame, snapshot: str,
              lineage: dict | None = None,
              observation=None) -> DataFrame:
        """Write + manifest. ``observation``: a pyspark Observation
        already attached to ``df`` via ``df.observe`` — its metrics are
        collected AFTER the parquet write (the action that populates
        it) and recorded as ``counters``, costing zero extra jobs.
        The manifest also records per-FILE row counts (``partitions``)
        straight from the parquet footers pyarrow already reads for the
        total, so a resume after a partial failure can localize skew or
        a short-written partition, not just verify the stage total —
        the Iceberg per-manifest-entry stats analog (north_rule
        "per-partition lineage + metrics"; reference analog: the
        inspectable per-block files of extract_blocks.py:64-71)."""
        d = self._dir(table)
        data = os.path.join(d, "data")
        if os.path.exists(d):
            shutil.rmtree(d)
        df.write.mode("overwrite").parquet(data)
        # read back with the schema just written: inferring it would
        # launch one more Spark job (a parquet footer read) per write
        out = self.spark.read.schema(df.schema).parquet(data)
        # row counts from parquet footers (pyarrow metadata) — a full
        # Spark re-scan per stage was pure flat overhead
        import pyarrow.dataset as pads
        parts = []
        n = 0
        for frag in pads.dataset(data, format="parquet").get_fragments():
            rows = frag.count_rows()  # footer metadata, no data scan
            parts.append({"path": os.path.relpath(frag.path, data),
                          "rows": rows})
            n += rows
        parts.sort(key=lambda x: x["path"])
        counters = {}
        if observation is not None:
            counters = {k: (int(v) if isinstance(v, (int, bool)) else v)
                        for k, v in observation.get.items()}
        man = {
            "table": table,
            "snapshot": snapshot,
            "rows": n,
            "partitions": parts,
            "counters": counters,
            "schema": out.schema.json(),
            "lineage": lineage or {},
            "written_unix": int(time.time()),
        }
        with open(self._manifest_path(table), "w") as f:
            json.dump(man, f, indent=1)
        return out

    def read(self, table: str) -> DataFrame:
        """Read a table back; with a manifest, under its recorded schema
        (inferring it would launch a parquet footer-read job)."""
        data = os.path.join(self._dir(table), "data")
        m = self.manifest(table)
        if m is None:
            return self.spark.read.parquet(data)
        return self.spark.read.schema(
            StructType.fromJson(json.loads(m["schema"]))).parquet(data)

    def merge(self, table: str, df: DataFrame, keys: list[str],
              snapshot: str, lineage: dict | None = None) -> DataFrame:
        """MERGE/upsert by key (K4: ref import_clusters.py:36-69,83-194
        INSERTs canonical rows and UPDATEs matching cluster assignments in
        place; the Iceberg analog is MERGE INTO ... WHEN MATCHED UPDATE
        WHEN NOT MATCHED INSERT). Incoming rows replace existing rows with
        the same key tuple; everything else is kept. A missing table is
        merged as an empty one. The new manifest records the replaced
        snapshot as ``parent`` (None for a new table) — snapshot lineage
        stays a chain, so resume logic still refuses stale upstreams.

        Distributed shape: the union of existing and incoming rows keeps,
        per key tuple, the rows of the newer side (a window over the
        keys) — no collect, scales with the table, and the incoming plan
        is evaluated once. On a real catalog this maps to MERGE INTO and
        this facade keeps the call shape."""
        import pyspark.sql.functions as F
        from pyspark.sql import Window
        final = self._dir(table)
        backup = f"{final}__old"
        # a crash between the swap's two renames (below) left the table
        # only under __old: roll it back before reading, or this merge
        # would take the table for missing and delete those rows
        if not os.path.exists(final) and os.path.exists(backup):
            os.rename(backup, final)
        cur = self.manifest(table)
        merged = df  # merging into a missing (empty) table
        if cur is not None:
            existing = self.read(table)
            both = (existing.withColumn("__new", F.lit(False))
                    .unionByName(df.select(existing.columns)
                                 .withColumn("__new", F.lit(True))))
            merged = (both.withColumn("__top", F.max("__new").over(
                          Window.partitionBy(*keys)))
                      .where(F.col("__new") == F.col("__top"))
                      .drop("__new", "__top"))
        # stage through a sibling dir: the merged plan lazily reads the
        # files write() would delete
        tmp = f"{table}__merge_tmp"
        lin = dict(lineage or {})
        lin["parent"] = cur["snapshot"] if cur is not None else None
        lin["merge_keys"] = keys
        staged = self.write(tmp, merged, snapshot, lin)
        # MERGE semantics need one row per key tuple. existing is
        # key-unique by induction (every merge through this facade is
        # checked), so duplicate keys in the staged result can only come
        # from duplicated incoming rows — fail loudly instead of silently
        # inserting twice. The check scans the MATERIALIZED parquet (one
        # cheap key-column scan), never the incoming lazy plan, which
        # would re-run the whole upstream computation a second time.
        if (staged.groupBy(keys).agg(F.count("*").alias("__n"))
                .where(F.col("__n") > 1).limit(1).count()):
            self.drop(tmp)
            raise ValueError(
                f"merge into {table!r}: incoming rows are not unique on "
                f"key {keys} — dedupe deterministically before merging")
        # fix the staged manifest's table name BEFORE the swap, so the
        # final state lands in ONE rename of a fully-consistent dir
        man = self.manifest(tmp)
        man["table"] = table
        with open(self._manifest_path(tmp), "w") as f:
            json.dump(man, f, indent=1)
        # crash-safe swap: old table stays intact under __old until the
        # staged dir is in place — a failure window leaves either the old
        # table (pre-first-rename) or an __old backup that the next merge
        # rolls back, never a table with no data and no manifest
        shutil.rmtree(backup, ignore_errors=True)
        if os.path.exists(final):
            os.rename(final, backup)
        os.rename(self._dir(tmp), final)
        shutil.rmtree(backup, ignore_errors=True)
        return self.read(table)

    def drop(self, table: str) -> None:
        d = self._dir(table)
        if os.path.exists(d):
            shutil.rmtree(d)

    # -- stage runner (resume point) ---------------------------------------
    def stage(self, table: str, snapshot: str, build,
              lineage: dict | None = None,
              observation=None) -> DataFrame:
        """Return checkpointed stage output; rebuild only when the
        snapshot fingerprint (spec + upstream lineage) changed.
        ``observation`` is only consumed when the stage actually
        rebuilds (a resumed checkpoint never triggered the action)."""
        if self.has_snapshot(table, snapshot):
            return self.read(table)
        try:
            out = self.write(table, build(), snapshot, lineage,
                             observation=observation)
        except Exception as e:
            # name the stage on the error itself, keeping its type: under
            # overlapped branches the traceback alone does not say which
            # stage's job failed
            if hasattr(e, "add_note"):  # Python >= 3.11
                e.add_note(f"webr: stage {table!r} failed")
            raise
        return out
