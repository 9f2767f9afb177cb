"""Warehouse facade: Iceberg-shaped API over local Parquet + JSON manifests.

North_rule requires every stage to checkpoint with lineage + counters so a
killed job resumes mid-pipeline. The real deployment writes Iceberg tables
(`spark.catalog`/`writeTo(...)`); this sandbox has no Iceberg runtime jar
(SURVEY §7.0), so the facade keeps the same call shape and persists:

  <warehouse>/<table>/data-<uuid>/*.parquet   (the rows of one commit)
  <warehouse>/<table>/_manifest.json          (names the data dir; schema,
                                               snapshot id = content
                                               fingerprint of inputs+spec,
                                               row count, per-stage lineage)

A commit is one atomic ``os.replace`` of the manifest (Iceberg's
metadata-pointer swap).

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
import uuid

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
        # no "data": a manifest of the old layout, so the stage rebuilds
        return bool(m) and "data" in m and m["snapshot"] == snapshot

    # -- io ----------------------------------------------------------------
    def _write_rows(self, table: str, df: DataFrame):
        """-> (a fresh uncommitted data dir holding ``df``, its rows).
        Unique per commit, not per snapshot: a replayed merge under the
        same snapshot id reads the live dir while it writes its own."""
        data = os.path.join(self._dir(table), f"data-{uuid.uuid4().hex}")
        df.write.parquet(data)
        # read back under the schema just written: inferring it would
        # launch one more Spark job (a parquet footer read) per write
        return data, self.spark.read.schema(df.schema).parquet(data)

    def _commit(self, table: str, data: str, out: DataFrame, snapshot: str,
                lineage: dict | None, observation=None) -> DataFrame:
        """Publish ``data`` as the table's snapshot by one atomic replace
        of the manifest: a crash leaves the old snapshot or the new one
        whole. Only then are the other data dirs removed (the superseded
        one, any a crash orphaned). ``partitions``: per-FILE row counts
        from the parquet footers, so a resume can localize skew or a
        short-written partition (Iceberg per-manifest-entry stats)."""
        # row counts from parquet footers (pyarrow metadata, no data
        # scan) — a full Spark re-scan per stage was pure flat overhead
        import pyarrow.dataset as pads
        parts = sorted(
            ({"path": os.path.relpath(f.path, data), "rows": f.count_rows()}
             for f in pads.dataset(data, format="parquet").get_fragments()),
            key=lambda x: x["path"])
        counters = {}
        if observation is not None:
            counters = {k: (int(v) if isinstance(v, (int, bool)) else v)
                        for k, v in observation.get.items()}
        man = {
            "table": table,
            "snapshot": snapshot,
            "data": os.path.basename(data),
            "rows": sum(p["rows"] for p in parts),
            "partitions": parts,
            "counters": counters,
            "schema": out.schema.json(),
            "lineage": lineage or {},
            "written_unix": int(time.time()),
        }
        path = self._manifest_path(table)
        with open(f"{path}.tmp", "w") as f:
            json.dump(man, f, indent=1)
        os.replace(f"{path}.tmp", path)
        d = self._dir(table)
        for name in os.listdir(d):
            if name.startswith("data") and name != man["data"]:
                shutil.rmtree(os.path.join(d, name))
        return out

    def write(self, table: str, df: DataFrame, snapshot: str,
              lineage: dict | None = None,
              observation=None) -> DataFrame:
        """Write ``df`` as the table's new snapshot. ``observation``: a
        pyspark Observation already attached to ``df`` via
        ``df.observe`` — its metrics are collected AFTER the parquet write
        (the action that populates it) and recorded as ``counters``,
        costing zero extra jobs."""
        return self._commit(table, *self._write_rows(table, df), snapshot,
                            lineage, observation)

    def read(self, table: str) -> DataFrame:
        """Read the committed snapshot under its recorded schema
        (inferring it would launch a parquet footer-read job)."""
        m = self.manifest(table)
        if m is None:
            raise FileNotFoundError(f"no table {table!r} in {self.root}")
        return self.spark.read.schema(
            StructType.fromJson(json.loads(m["schema"]))).parquet(
                os.path.join(self._dir(table), m["data"]))

    def merge(self, table: str, df: DataFrame, keys: list[str],
              snapshot: str, lineage: dict | None = None) -> DataFrame:
        """MERGE/upsert by key (K4: ref import_clusters.py:36-69,83-194
        INSERTs canonical rows and UPDATEs matching cluster assignments in
        place; the Iceberg analog is MERGE INTO ... WHEN MATCHED UPDATE
        WHEN NOT MATCHED INSERT). Incoming rows replace existing rows with
        the same key tuple; everything else is kept. A missing table is
        merged as an empty one. The new manifest records the replaced
        snapshot as ``parent`` (None for a new table) — snapshot lineage
        stays a chain, so resume logic still refuses stale upstreams. A
        replay under the snapshot id already committed replaces that
        snapshot and keeps its parent.

        Distributed shape: the union of existing and incoming rows keeps,
        per key tuple, the rows of the newer side (a window over the
        keys) — no collect, scales with the table, and the incoming plan
        is evaluated once, into a new data dir committed as ``write``
        does. On a real catalog this maps to MERGE INTO and this facade
        keeps the call shape."""
        import pyspark.sql.functions as F
        from pyspark.sql import Window
        cur = self.manifest(table)
        merged = df  # merging into a missing (empty) table
        lin = dict(lineage or {}, parent=None, merge_keys=keys)
        if cur is not None:
            existing = self.read(table)
            both = (existing.withColumn("__new", F.lit(False))
                    .unionByName(df.select(existing.columns)
                                 .withColumn("__new", F.lit(True))))
            merged = (both.withColumn("__top", F.max("__new").over(
                          Window.partitionBy(*keys)))
                      .where(F.col("__new") == F.col("__top"))
                      .drop("__new", "__top"))
            lin["parent"] = (cur["lineage"].get("parent")
                             if cur["snapshot"] == snapshot
                             else cur["snapshot"])
        data, staged = self._write_rows(table, merged)
        # MERGE semantics need one row per key tuple. existing is
        # key-unique by induction (every merge through this facade is
        # checked), so duplicate keys in the merged rows can only come
        # from duplicated incoming rows — fail loudly instead of silently
        # inserting twice. The check scans the uncommitted parquet (one
        # cheap key-column scan), never the incoming lazy plan, which
        # would re-run the whole upstream computation a second time.
        if (staged.groupBy(keys).agg(F.count("*").alias("__n"))
                .where(F.col("__n") > 1).limit(1).count()):
            shutil.rmtree(data)
            if cur is None:
                self.drop(table)
            raise ValueError(
                f"merge into {table!r}: incoming rows are not unique on "
                f"key {keys} — dedupe deterministically before merging")
        return self._commit(table, data, staged, snapshot, lin)

    def drop(self, table: str) -> None:
        shutil.rmtree(self._dir(table), ignore_errors=True)

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
