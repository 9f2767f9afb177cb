"""Distributed transitive clustering: connected components via two
union-find passes (SURVEY §2.8 C3 — with minPts=2 the reference's DBSCAN
is connected components; GraphFrames is unavailable, so this is
hand-rolled, SURVEY §7.4 item 4).

Algorithm: each partition runs union-find over its edges and emits its
spanning forest as (vertex -> local min-root) edges — at most one edge per
vertex, so the first pass reduces the edge list to <= |V_partition| rows
per partition. One final single-partition pass then resolves the global
forest. Union always roots at the MINIMUM id, so the final representative
is the component min — matching the oracle's union-by-min exactly,
independent of partitioning and order.

Why not iterative hash-min / star-contraction DataFrame loops: profiling
showed sorted-neighborhood mega-block graphs (bounded-degree band graphs)
contract only ~20% per round, and Spark-side per-iteration overhead grows
with accumulated checkpoint state — the tail iterations dominated wall
time. The two passes are pure mapPartitions work with total I/O O(E + V).

Scale note (10^12 docs): the first pass leaves one forest row per linked
vertex per partition. Web-scale entity graphs reduce enormously
(components are entity-sized), so the single-task final pass is usually
fine — but it is guarded: when the first-pass forest exceeds
``CC_FINAL_ROWS_MAX`` rows, ``_resolve`` finishes the merge fully
distributed (min-label propagation over the partial forests to
fixpoint). Partial forests are depth-1 stars, so the label graph's
diameter is bounded by the number of partitions being merged and
propagation converges in a few rounds, each a plain shuffle — no single
task ever has to hold the forest. When the caller knows an upper bound
on the edges (the pipeline passes the pair_scores row count) and twice
that bound fits the budget, the final pass runs without counting a
forest.

Labelling (``label_clusters``) adds one cogroup per component — the
cannot-link replay, a pass-through for components whose name
signatures are all compatible — and dense cluster ids; in the pipeline
the whole clusters stage is the two union-find passes plus one write.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row

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


# first-pass forest rows above which the final pass switches from one
# in-memory union-find task to distributed min-label propagation
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


def connected_components(edges: DataFrame, edges_max: int | None = None
                         ) -> tuple[DataFrame, bool]:
    """edges: (url_1, url_2). -> ((url, rep) for every url that appears
    in an edge, whether the final pass ran in one task); rep = min id of
    its component.

    One per-partition ``_forest_map`` pass, then one finish: a single-task
    ``_forest_map`` pass over the whole forest when it fits
    ``CC_FINAL_ROWS_MAX`` rows, ``_resolve`` (identical output, tested)
    otherwise. ``edges_max``: an upper bound on the edge rows that the
    caller already knows (the pipeline passes the pair_scores row count).

    The first pass is materialized via eager localCheckpoint BEFORE the
    coalesce: a narrow coalesce over a lazy plan would otherwise collapse
    it into the final task and execute both passes (parquet scan
    included) serially — the classic coalesce(1) trap."""
    first = edges.schema.fields[0].dataType.simpleString()
    out_schema = f"url {first}, rep {first}"
    out = (edges.mapInPandas(_forest_map, out_schema)
           .localCheckpoint(eager=True))
    # one partition per input partition; asked of the checkpoint, whose
    # RDD already exists, not of the edges' plan
    if out.rdd.getNumPartitions() == 1:
        return out, True
    # a pass emits at most one row per vertex it saw, so no forest ever
    # exceeds 2 * edges: a known edge bound within the budget settles the
    # finish without a count (cheap anyway: out is an eager checkpoint)
    bounded = edges_max is not None and 2 * edges_max <= CC_FINAL_ROWS_MAX
    if not bounded and out.count() > CC_FINAL_ROWS_MAX:
        return _resolve(out), False
    return (out.coalesce(1).mapInPandas(_forest_map, out_schema)
            .localCheckpoint(eager=True)), True


def _refine(memb, comp_edges):
    """Cannot-link replay of one component (C2/W2), Arrow in and out:
    ``memb`` (comp, url, first, middle) holds every member, ``comp_edges``
    (comp_e, url_1, url_2) every edge. -> (url, rep) for every member;
    rep = min url of its constrained sub-cluster, or null when that
    sub-cluster kept fewer than MIN_PTS members (a vetoed bridge becomes
    noise).

    Pay-per-use: a union is only ever vetoed when the merged cluster
    would hold an INCOMPATIBLE (first, middle) pair, so a component whose
    distinct signatures are pairwise compatible (the normal case: one
    author's full/initial variants) can never veto anything — the replay
    is provably the identity there, every member keeps the CC
    representative (the component min on both paths, union-by-min), and
    the edges are never decoded. The check runs the kernel's own
    ``names_compatible`` over the handful of distinct signatures."""
    import pyarrow as pa

    from webr.constraints import constrained_components
    from webr.textproc import names_compatible

    urls = memb.column("url").to_pylist()
    if not urls:  # membership and edges derive from one CC frame
        return pa.table({"url": pa.array([], pa.string()),
                         "rep": pa.array([], pa.string())})
    names = dict(zip(urls, zip(memb.column("first").to_pylist(),
                               memb.column("middle").to_pylist())))
    sigs = list(set(names.values()))
    if all(names_compatible(fa, ma, fb, mb)
           for i, (fa, ma) in enumerate(sigs) for fb, mb in sigs[i + 1:]):
        rep = dict.fromkeys(urls, memb.column("comp")[0].as_py())
    else:
        rep = constrained_components(names, list(zip(
            comp_edges.column("url_1").to_pylist(),
            comp_edges.column("url_2").to_pylist())))
    sizes: dict = {}
    for r in rep.values():
        sizes[r] = sizes.get(r, 0) + 1
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "rep": pa.array([rep[u] if sizes[rep[u]] >= spec.MIN_PTS else None
                         for u in urls], pa.string())})


def _cluster_ids(labels: DataFrame, one_task: bool) -> DataFrame:
    """(url, rep) -> (url, cluster_id, is_noise): dense ids 1..K by sorted
    representative, 0 for noise (null rep).

    When the final union-find pass ran in one task, one task may rank the
    labels too: they are at most the linked urls that pass already held
    (one window, one exchange). After a distributed ``_resolve`` no
    single task may hold them, so the ids come from a sorted
    ``zipWithIndex`` over the distinct representatives instead."""
    if one_task:
        return labels.selectExpr(
            "url", "CAST(CASE WHEN rep IS NULL THEN 0 ELSE dense_rank() "
            "OVER (ORDER BY rep ASC NULLS LAST) END AS long) AS cluster_id",
            "rep IS NULL AS is_noise")
    rep_ids = (labels.where("rep IS NOT NULL").select("rep").distinct()
               .orderBy("rep").rdd
               .map(lambda r: r[0])
               .zipWithIndex()
               .map(lambda t: Row(rep=t[0], cluster_id=t[1] + 1))
               .toDF("rep string, cluster_id long"))
    return (labels.join(rep_ids, "rep", "left")
            .selectExpr("url", "coalesce(cluster_id, 0L) AS cluster_id",
                        "rep IS NULL AS is_noise"))


def label_clusters(mentions: DataFrame, edges: DataFrame,
                   edges_max: int | None = None) -> DataFrame:
    """-> (url, cluster_id, is_noise) for every mention. Mentions in no
    edge, and members whose constrained sub-cluster kept fewer than
    MIN_PTS members, are noise with cluster_id 0 (ref
    clustering/dbscan.py:137-139); the other sub-clusters get dense ids
    1..K by sorted representative (deterministic).

    Two phases: unconstrained CC bounds each component (``edges_max``
    goes to ``connected_components``), then one cogroup per component
    replays its edges through the cannot-link kernel (``_refine``), which splits components that merged name-incompatible
    mentions through an initial-only bridge and passes every other
    component through as is.

    Job shape: the two checkpointed union-find passes, then one write
    whose plan broadcasts the (small) component table to the mention
    and edge scans, shuffles both by component into the cogroup, and
    ranks the representatives (``_cluster_ids``). Noise needs no
    anti-join: it is the left join's unmatched side plus the replay's
    dropped members."""
    forest, one_task = connected_components(edges, edges_max)
    # all three joins below use the SAME build side, so the plan
    # broadcasts the component table once and reuses it
    comp = forest.withColumnRenamed("rep", "comp")
    memb = mentions.select("url", "first", "middle").join(comp, "url")
    unlinked = (mentions.select("url").join(comp, "url", "left")
                .where("comp IS NULL")
                .selectExpr("url", "0L AS cluster_id", "true AS is_noise"))
    # comp_e, not comp: both cogroup branches descend from the same CC
    # frame, and sharing one attribute id trips the self-join ambiguity
    # check (same pattern as build_pair_scores_grouped's gk)
    comp_edges = (edges.withColumnRenamed("url_1", "url").join(comp, "url")
                  .selectExpr("url AS url_1", "url_2", "comp AS comp_e"))
    labels = (memb.groupby("comp").cogroup(comp_edges.groupby("comp_e"))
              .applyInArrow(_refine, "url string, rep string"))
    return _cluster_ids(labels, one_task).unionByName(unlinked)
