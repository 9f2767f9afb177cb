"""Distributed transitive clustering: connected components via a
union-find reduction ladder (SURVEY §2.8 C3 — with minPts=2 the
reference's DBSCAN is connected components; GraphFrames is unavailable,
so this is hand-rolled, SURVEY §7.4 item 4).

Algorithm: each partition runs union-find over its edges and emits its
spanning forest as (vertex -> local min-root) edges — at most one edge per
vertex, so each pass reduces the edge list to <= |V_partition| rows.
Partitions are then coalesced 8:1 and the pass repeats; the final single
partition resolves the global forest. Union always roots at the MINIMUM
id, so the final representative is the component min — matching the
oracle's union-by-min exactly, independent of partitioning and order.

Why not iterative hash-min / star-contraction DataFrame loops: profiling
showed sorted-neighborhood mega-block graphs (bounded-degree band graphs)
contract only ~20% per round, and Spark-side per-iteration overhead grows
with accumulated checkpoint state — the tail iterations dominated wall
time. The reduction ladder does O(log_8 P) passes of pure mapPartitions
work with total I/O O(E + V log P).

Scale note (10^12 docs): the ladder's second-to-last step leaves the
remaining forest (one entry per linked vertex per surviving partition).
Web-scale entity graphs reduce enormously (components are entity-sized),
so the single-task final pass is usually fine — but it is guarded: when
the residual forest exceeds ``CC_FINAL_ROWS_MAX`` rows, ``_resolve``
finishes the merge fully distributed (min-label propagation over the
partial forests to fixpoint). Partial forests are depth-1 stars, so the
label graph's diameter is bounded by the handful of partitions being
merged and propagation converges in a few rounds, each a plain shuffle —
no single task ever has to hold the forest.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, Window

from webr import spec


def _forest_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Union-find over ALL edge batches of one partition; emit (vertex,
    root) for every vertex seen. Roots are component minima (union-by-min
    + full path compression on emit). Arrow-batched both ways — the
    pickle-per-row DataFrame.rdd path this replaced was ~5x slower."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for pdf in batches:
        for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra == rb:
                continue
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    if parent:
        verts = list(parent)
        yield pd.DataFrame({"url": verts, "rep": [find(v) for v in verts]})


# residual-forest rows above which the ladder's final pass switches from
# one in-memory union-find task to distributed min-label propagation
CC_FINAL_ROWS_MAX = 50_000_000


def _resolve(forest: DataFrame) -> DataFrame:
    """Distributed final merge of conflicting partial forests: (url, rep)
    rows from several partitions may assign one vertex different local
    roots; those conflicts ARE the remaining merge edges. Min-label
    propagation over the undirected forest edges to fixpoint — every
    round one groupBy-min per direction — yields rep = global component
    min without any single task holding the forest. Partial forests are
    depth-1 stars (vertex -> local min), so rounds ~ number of merged
    partitions, not graph diameter."""
    # self rows (url == rep, roots) stay in: they guarantee every vertex
    # appears in the label table even if nothing else points at it
    e = (forest.select(F.col("url").alias("a"), F.col("rep").alias("b"))
         .distinct()
         .localCheckpoint(eager=True))
    und = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    lab = (und.groupBy("a").agg(F.min("b").alias("lab"))
           .select(F.col("a").alias("v"),
                   F.least("a", "lab").alias("lab"))
           .localCheckpoint(eager=True))
    while True:
        prop = (und.join(lab, und.a == lab.v)
                .select(F.col("b").alias("v"), "lab"))
        new = (prop.unionByName(lab)
               .groupBy("v").agg(F.min("lab").alias("lab"))
               .localCheckpoint(eager=True))
        changed = (new.join(lab.select(F.col("v").alias("v2"),
                                       F.col("lab").alias("old")),
                            new.v == F.col("v2"))
                   .where(F.col("lab") != F.col("old")).count())
        lab = new
        if changed == 0:
            break
    return lab.select(F.col("v").alias("url"), F.col("lab").alias("rep"))


def connected_components(edges: DataFrame, fanin: int = 8,
                         final_rows_max: int | None = None) -> DataFrame:
    """edges: (url_1, url_2). Returns (url, rep) for every url that appears
    in an edge; rep = min id of its component.

    Reduction ladder: each partition's spanning forest is ≤ one row per
    vertex; partitions coalesce fanin:1 and repeat until one partition
    resolves the global forest — O(log_fanin P) passes, Arrow-batched.
    If the residual forest entering the final single-partition pass
    exceeds ``final_rows_max`` rows, ``_resolve`` finishes distributed
    instead (identical output, tested).

    Each pass is materialized via eager localCheckpoint BEFORE the next
    coalesce: a narrow coalesce over a lazy plan would otherwise collapse
    the upstream passes into the final task and execute the whole ladder
    (parquet scan included) serially — the classic coalesce(1) trap."""
    if final_rows_max is None:
        final_rows_max = CC_FINAL_ROWS_MAX
    first = edges.schema.fields[0].dataType.simpleString()
    out_schema = f"url {first}, rep {first}"
    n = edges.rdd.getNumPartitions()
    out = (edges.mapInPandas(_forest_map, out_schema)
           .localCheckpoint(eager=True))
    while n > 1:
        # the residual forest shrinks fast (one row per vertex per
        # surviving partition); as soon as it fits the single-task
        # budget, one final pass resolves it — intermediate fanin rungs
        # would only add checkpoint round-trips. count() is cheap: out
        # is always an eager localCheckpoint.
        if out.count() <= final_rows_max:
            n = 1
        else:
            n = max(1, n // fanin)
            if n == 1:
                return _resolve(out)
        out = (out.coalesce(n).mapInPandas(_forest_map, out_schema)
               .localCheckpoint(eager=True))
    return out


def _constrained_refine(members: DataFrame, comp_edges: DataFrame,
                        ) -> DataFrame:
    """Per-component cannot-link replay (C2/W2): cogroup each component's
    members (with name fields) and edges, apply the SAME pure kernel the
    oracle uses (webr.constraints.constrained_components) -> (url, rep)
    where rep = min url of the constrained sub-cluster. Components are
    entity-sized (blocking + scoring bound them), so groups are small and
    the replay parallelizes across components."""
    def replay(memb_pdf: pd.DataFrame,
               edges_pdf: pd.DataFrame) -> pd.DataFrame:
        from webr.constraints import constrained_components
        names = {u: (f, m) for u, f, m in zip(
            memb_pdf["url"], memb_pdf["first"], memb_pdf["middle"])}
        rep = constrained_components(
            names, list(zip(edges_pdf["url_1"], edges_pdf["url_2"])))
        # MIN_PTS applied here (the kernel already sees every member of
        # the component): sub-clusters reduced to a single member by
        # vetoed unions are noise — emitting only clustered urls saves a
        # whole groupBy+join round downstream
        sizes: dict = {}
        for r in rep.values():
            sizes[r] = sizes.get(r, 0) + 1
        urls = sorted(u for u, r in rep.items()
                      if sizes[r] >= spec.MIN_PTS)
        return pd.DataFrame({"url": urls, "rep": [rep[u] for u in urls]})

    # comp_e, not comp: both cogroup branches descend from the same CC
    # frame, and sharing one attribute id trips the self-join ambiguity
    # check (same pattern as build_pair_scores_grouped's gk)
    return (members.groupby("comp")
            .cogroup(comp_edges.groupby("comp_e"))
            .applyInPandas(replay, "url string, rep string"))


def label_clusters(mentions: DataFrame, edges: DataFrame) -> DataFrame:
    """-> (url, cluster_id, is_noise). Non-linked mentions are noise with
    cluster_id 0 (ref clustering/dbscan.py:137-139); constrained
    sub-clusters keeping >= 2 members get dense ids 1..K by sorted
    representative (deterministic; enumeration via sorted zipWithIndex,
    not a single-partition window, so it scales).

    Two phases: unconstrained CC bounds each component, then the
    cannot-link replay (webr.constraints) splits components that merged
    name-incompatible mentions through an initial-only bridge.

    The replay is pay-per-use: a union is only ever vetoed when the
    merged cluster would contain an INCOMPATIBLE (first, middle) pair,
    so a component whose distinct signatures are pairwise compatible
    (the normal case: one author's full/initial variants) can never veto
    anything — the replay is provably the identity there and the
    component keeps its CC representative directly (rep = component min
    on both paths, union-by-min). Only components containing at least
    one incompatible signature pair go through the Python cogroup; the
    predicate is evaluated JVM-side over the collect_set of distinct
    signatures (a handful per entity-sized component, so the O(s^2)
    exists-exists is trivial)."""
    # materialize the CC result once — it feeds the refine cogroup AND the
    # noise anti-join; without this the union-find ladder re-runs per
    # consumer.
    comp = (connected_components(edges)
            .withColumnRenamed("rep", "comp")
            .localCheckpoint(eager=True))

    # SQL twin of textproc._part_compat: empty matches anything; initial
    # vs anything shares the initial; full vs full must be equal
    def _compat(a: str, b: str) -> str:
        return (f"(coalesce({a}, '') = '' OR coalesce({b}, '') = '' OR "
                f"IF(length({a}) > 1 AND length({b}) > 1, {a} = {b}, "
                f"substring({a}, 1, 1) = substring({b}, 1, 1)))")

    _incompat_pair = ("exists(sigs, x -> exists(sigs, y -> NOT ("
                      + _compat("x.f", "y.f") + " AND "
                      + _compat("x.m", "y.m") + ")))")
    # per-component signature stats via a window over comp: one shuffle
    # of the member table, no aggregate-then-join-back round trip (the
    # stats side is one row per component — at web scale that is itself
    # a huge table, so a broadcast was never an option)
    w = Window.partitionBy("comp")
    members = (comp.join(mentions.select("url", "first", "middle"), "url")
               .withColumn("sigs", F.collect_set(F.struct(
                   F.col("first").alias("f"),
                   F.col("middle").alias("m"))).over(w))
               .withColumn("csize", F.count("*").over(w))
               .withColumn("needs_replay", F.expr(_incompat_pair))
               .drop("sigs"))
    # compatible fast path: replay would union the whole component (no
    # veto possible) and keep it iff its size >= MIN_PTS
    hom = (members.where(~F.col("needs_replay")
                         & (F.col("csize") >= spec.MIN_PTS))
           .select("url", F.col("comp").alias("rep")))
    het = (members.where(F.col("needs_replay"))
           .select("comp", "url", "first", "middle"))
    het_comps = (het.select(F.col("comp").alias("comp_e")).distinct())
    comp_edges = (edges.join(
        comp.select(F.col("url").alias("url_1"),
                    F.col("comp").alias("comp_e")), "url_1")
        .join(het_comps, "comp_e", "left_semi"))
    # refine emits only urls whose constrained sub-cluster kept
    # >= MIN_PTS members (vetoed bridges drop out and become noise)
    labels = (hom.unionByName(_constrained_refine(het, comp_edges))
              .localCheckpoint(eager=True))
    reps = labels.select("rep").distinct()
    rep_ids = (reps.orderBy("rep").rdd
               .map(lambda r: r[0])
               .zipWithIndex()
               .map(lambda t: Row(rep=t[0], cluster_id=t[1] + 1))
               .toDF("rep string, cluster_id long"))
    linked = (labels.join(rep_ids, "rep")
              .select("url", "cluster_id", F.lit(False).alias("is_noise")))
    noise = (mentions.select("url").join(labels.select("url"), "url",
                                         "left_anti")
             .select("url", F.lit(0).cast("long").alias("cluster_id"),
                     F.lit(True).alias("is_noise")))
    return linked.unionByName(noise)
