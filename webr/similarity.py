"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k via JVM-side zip_with/aggregate
  (the correctness baseline; also exposed with a DuckDB oracle in
  webr.queries.dataops.q_ann_cosine_topk).
- lsh_topk: random-hyperplane (sign) LSH — the 100TB scale path. The
  hyperplanes are DETERMINISTIC pseudo-planes derived from md5 bytes, so
  any executor regenerates them without broadcast of real randomness, and
  reruns are reproducible. Bucket join + in-bucket exact rerank; probing
  neighbors at Hamming distance <= 1 trades recall for fan-out.
"""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def cosine_sql(a: str, b: str) -> str:
    """Spark SQL cosine of two array<double> columns, JVM-side. Every
    embedding cosine in webr is this one text, so the float fold order
    (and the rounded outputs the DuckDB oracles check) cannot drift
    apart between operators."""
    nrm = "sqrt(aggregate({c}, 0D, (acc, x) -> acc + x * x))"
    return (f"(aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, "
            f"(acc, x) -> acc + x)) / (({nrm.format(c=a)}) * "
            f"({nrm.format(c=b)}))")


_COS = cosine_sql("qv", "v")


def brute_force_topk(embeddings: DataFrame, queries: DataFrame,
                     k: int = 10) -> DataFrame:
    """embeddings: (vec_id, embedding); queries: (q_id, embedding).
    Exact cosine top-k per query. Query side broadcast."""
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = queries.select(
        "q_id", F.col("embedding").cast("array<double>").alias("qv"))
    pairs = (F.broadcast(q).crossJoin(e)
             .where(F.col("vec_id") != F.col("q_id"))
             .select("q_id", "vec_id", F.expr(_COS).alias("cosine")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (pairs.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k))


def _plane(bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from md5 bytes."""
    vals: list[float] = []
    i = 0
    while len(vals) < dim:
        h = hashlib.md5(f"webr-lsh:{bit}:{i}".encode()).digest()
        vals.extend(b / 127.5 - 1.0 for b in h)
        i += 1
    v = vals[:dim]
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def _sig_col(col: str, dim: int, table: int, n_bits: int):
    """Column expr: n_bits-bit sign signature of `col` for LSH table
    `table` (planes seeded per (table, bit))."""
    out = None
    for b in range(n_bits):
        plane = _plane(table * 64 + b, dim)
        dot = F.expr(
            f"aggregate(zip_with({col}, array("
            f"{', '.join(str(x) for x in plane)}), (x, y) -> x * y), 0D, "
            f"(acc, x) -> acc + x)")
        bit = F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        out = bit if out is None else out + bit
    return out


def _table_keys(col: str, dim: int, n_tables: int, n_bits: int):
    """array<long> of per-table bucket keys (table id packed in high bits)."""
    return F.array(*[
        (_sig_col(col, dim, t, n_bits) + F.lit(t * (1 << n_bits)))
        .cast("long")
        for t in range(n_tables)])


def lsh_topk(embeddings: DataFrame, queries: DataFrame, dim: int,
             k: int = 10, n_tables: int = 6, n_bits: int = 4,
             probe_hamming: int = 1) -> DataFrame:
    """Approximate cosine top-k via MULTI-TABLE sign LSH: L independent
    b-bit tables (recall amplification: p_hit = 1-(1-p^b)^L), query side
    additionally probes Hamming<=probe_hamming neighbor buckets, exact
    rerank on the union of candidates. At web scale this replaces the
    O(N·Q) cross join with an equi-join on bucket keys."""
    e = (embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("sig", F.explode(_table_keys("v", dim, n_tables,
                                                 n_bits)))
        .select("vec_id", "v", "sig"))
    q = (queries.select(
        "q_id", F.col("embedding").cast("array<double>").alias("qv"))
        .withColumn("base", _table_keys("qv", dim, n_tables, n_bits)))
    probes = [F.expr("transform(base, s -> s)")]
    if probe_hamming >= 1:
        probes += [F.expr(f"transform(base, s -> s ^ {1 << b})")
                   for b in range(n_bits)]
    q_probed = (q.withColumn("sig", F.explode(F.flatten(F.array(*probes))))
                .select("q_id", "qv", "sig"))
    cand = (q_probed.join(e, "sig")
            .where(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id", "qv", "v").distinct()
            .select("q_id", "vec_id", F.expr(_COS).alias("cosine")))
    # rank on the 6-decimal rounding so the DuckDB oracle (different
    # float summation order) ranks identically
    w = Window.partitionBy("q_id").orderBy(
        F.desc(F.round("cosine", 6)), F.asc("vec_id"))
    return (cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k))


def ivf_topk(embeddings: DataFrame, queries: DataFrame, dim: int,
             k: int = 10, n_lists: int = 16, n_probe: int = 4) -> DataFrame:
    """IVF-flat variant: coarse quantize to the nearest of n_lists
    deterministic centroid seeds (md5 pseudo-planes reused as centroids),
    probe the n_probe nearest lists, exact rerank. Same join shape as LSH
    but with tunable cell granularity."""
    cents = [(_i, _plane(1000 + _i, dim)) for _i in range(n_lists)]

    def assign(col: str, n: int):
        dots = [
            (i, F.expr(
                f"aggregate(zip_with({col}, array("
                f"{', '.join(str(x) for x in c)}), (x, y) -> x * y), 0D, "
                f"(acc, x) -> acc + x)"))
            for i, c in cents]
        arr = F.array(*[F.struct(d.alias("dot"), F.lit(i).alias("list_id"))
                        for i, d in dots])
        return F.slice(F.reverse(F.array_sort(arr)), 1, n)

    e = (embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("cell", assign("v", 1)[0]["list_id"]))
    q = (queries.select(
        "q_id", F.col("embedding").cast("array<double>").alias("qv"))
        .withColumn("cells", assign("qv", n_probe))
        .withColumn("cell", F.explode(
            F.expr("transform(cells, x -> x.list_id)")))
        .select("q_id", "qv", "cell"))
    cand = (q.join(e, "cell")
            .where(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id", F.expr(_COS).alias("cosine")))
    w = Window.partitionBy("q_id").orderBy(
        F.desc(F.round("cosine", 6)), F.asc("vec_id"))
    return (cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k))
