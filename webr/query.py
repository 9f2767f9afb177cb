"""Incremental record-based query (SURVEY §3.3, ref record_based_query.py):
match new page records against existing entity clusters without
re-clustering.

Two semantic stages, exactly the reference's shape:
  1. candidate clusters share the name key (last, first-initial)
     (ref record_based_query.py:24-25, J5) and pass a cluster-profile
     tf-idf cosine gate (CLUSTER_EPS analog, ref :72-93, C6 stage 1);
  2. survivors are re-ranked by member votes: count of members whose full
     pairwise score >= RECORD_EPS; clusters keep >=MIN_VOTES votes (>=1
     when the cluster has <2 members) (ref :95-127, A7), ranked by votes
     desc then stage-1 cosine, top-K (W1).

Request shape — two Python passes. A Python stage has a fixed cost
whatever its size, so the request is built around how many it runs. On
a 4-core host that cost was about 0.25 s per task (a JVM-only job about
0.02 s), mostly the worker re-reading the directories of pyspark.zip,
the py4j zip and the spark-core jar at the start of every task; with
the guard in ``webr/__init__.py`` a warm 4-task trivial ``mapInPandas``
takes about 0.26 s end to end (0.70 s without it):
  * ``prepare_query_mentions``: ONE Arrow pass derives the query pages'
    mentions and tf-idf weight arrays (the corpus's shared kernels, with
    the CORPUS idf — a query must not shift corpus statistics) and
    collects them to the driver; the query side comes back as a local
    DataFrame, so nothing downstream recomputes it.
  * JVM-only broadcast joins: the name-key candidates (query × entities)
    and their members (× non-noise clusters × mention_feats). No shuffle
    of the corpus-sized tables.
  * ONE grouped Arrow pass (cogroup on a coarse hash of q_url, so many
    queries share a group): profile-cosine gate, member scoring with
    ``score_pairs_indexed_vec`` (the pipeline's pair kernel), MIN_VOTES
    and the top-K rank.
A single-page request runs at most 7 Spark jobs once the idf broadcast
is warm (was 11); the first request against an idf table also counts
and collects its vocabulary. Both are pinned by tests/test_query.py.

The idf broadcast is memoized on the idf DataFrame's plan and its
``inputFiles()``. Every write of a Spark table gives its part files new
names (the write job's id is in each name), so a rebuilt idf table never
hits a stale entry: its new file set replaces the old entry, whose
broadcast is unpersisted. An idf that is not file-backed is collected on
every request.

A url repeated within one request is answered once: exact duplicate
pages collapse, and the same url with different content is an error
(like duplicate keys in ``Warehouse.merge``).
"""

from __future__ import annotations

import hashlib
import threading
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from webr import engine, schema, spec
from webr.mentions import derive_mentions

# cogroup key space of the grouped pass: coarse, so a batch request's
# queries share groups (fewer Python calls, members shipped once per
# group); the result never depends on it (per-query computation)
QUERY_GROUPS = 8

_FEAT_COLS = [f.name for f in schema.MENTION_FEATS.fields]
_CONTENT_COLS = ("warc_ts", "html", "text")  # what the match reads

# idf plan semantic hash -> (input files, idf DataFrame, broadcast or None)
_IDF_MEMO: dict = {}
_IDF_LOCK = threading.Lock()


def _idf_broadcast(idf: DataFrame):
    """token -> idf dict as a broadcast, or None when the vocabulary is
    over ``engine.VOCAB_BROADCAST_MAX`` (the query side then takes the
    distributed join path, like the corpus stage)."""
    files = tuple(sorted(idf.inputFiles()))
    key = idf.semanticHash()
    with _IDF_LOCK:
        hit = _IDF_MEMO.get(key)
        if hit and files and hit[0] == files and idf.sameSemantics(hit[1]):
            return hit[2]
        bc = None
        if idf.count() <= engine.VOCAB_BROADCAST_MAX:
            bc = idf.sparkSession.sparkContext.broadcast(
                {r["token"]: r["idf"]
                 for r in idf.select("token", "idf").collect()})
        if files:
            if hit and hit[2] is not None:
                hit[2].unpersist()
            _IDF_MEMO[key] = (files, idf, bc)
        return bc


def _content_digests(pdf: pd.DataFrame) -> list[str]:
    """Per page: sha256 over the columns the match reads besides the url
    (length-prefixed, so field boundaries cannot shift)."""
    out = []
    for vals in zip(*(pdf[c] for c in _CONTENT_COLS if c in pdf)):
        h = hashlib.sha256()
        for v in vals:
            b = v if isinstance(v, bytes) else repr(v).encode("utf-8")
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
        out.append(h.hexdigest())
    return out


def prepare_query_mentions(query_pages: DataFrame,
                           idf: DataFrame) -> DataFrame:
    """Query pages -> their mention_feats rows as a local DataFrame:
    same extract/normalize/weights kernels as the corpus, with the CORPUS
    idf. One Python pass, collected once through Arrow; one row per
    distinct url (see the module docstring)."""
    spark = query_pages.sparkSession
    bc = _idf_broadcast(idf)
    # warc_ts is optional, as in engine.build_mentions
    cols = [c for c in ("url", *_CONTENT_COLS) if c in query_pages.columns]
    if bc is None:
        out_fields = list(schema.MENTIONS.fields)
    else:
        out_fields = list(schema.MENTION_FEATS.fields)
    out_schema = StructType(
        out_fields + [StructField("digest", StringType(), False)])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        d = bc.value if bc is not None else None
        for pdf in batches:
            m = derive_mentions(pdf)
            out = m if d is None else engine.with_weights(m, d)
            out["digest"] = _content_digests(pdf)
            yield out

    tbl = query_pages.select(*cols).mapInPandas(gen, out_schema).toArrow()
    seen: dict[str, str] = {}
    keep = []
    for i, (u, dg) in enumerate(zip(tbl.column("url").to_pylist(),
                                    tbl.column("digest").to_pylist())):
        if u not in seen:
            seen[u] = dg
            keep.append(i)
        elif seen[u] != dg:
            raise ValueError(
                f"match_records: query url {u!r} arrives with different "
                f"content in one request — submit one version per url")
    tbl = tbl.take(keep).drop_columns(["digest"])
    if bc is None:  # vocabulary too big to broadcast: distributed join
        mentions = spark.createDataFrame(tbl, schema=schema.MENTIONS)
        tbl = engine.build_mention_feats_join(mentions, idf).toArrow()
    return spark.createDataFrame(tbl, schema=schema.MENTION_FEATS)


_MATCHES = StructType([
    StructField("q_url", StringType()),
    StructField("cluster_id", LongType()),
    StructField("votes", LongType()),
    StructField("cluster_cos", DoubleType()),
    StructField("rank", IntegerType()),
])
_MATCHES_ARROW = to_arrow_schema(_MATCHES)


def _match_group(cand, side):
    """One cogroup of the grouped pass (pyarrow tables in and out).

    ``cand``: one row per (query url, name-key candidate cluster) with
    the cluster's n_members and profile. ``side``: mention_feats rows —
    the group's queries (cluster_id null) and the members of their
    candidate clusters (a member repeats once per query of the group
    that names its cluster).
    -> (q_url, cluster_id, votes, cluster_cos, rank) rows."""
    import numpy as np
    import pyarrow.compute as pc

    from webr.features import (
        member_table, profile_arrays, score_pairs_indexed_vec,
        sparse_cosine_sorted,
    )

    is_query = pc.is_null(side.column("cluster_id"))
    qt = member_table(side.filter(is_query))
    q_pos = {u: j for j, u in enumerate(qt["url"])}
    q_urls = cand.column("url").to_pylist()
    cids = cand.column("cluster_id").to_pylist()
    n_members = cand.column("n_members").to_pylist()
    profiles = cand.column("profile").to_pylist()

    # stage 1: cluster-profile cosine gate (profiles hashed once per
    # cluster of the group)
    prof_memo: dict = {}
    surv, coss = [], []
    for k, cid in enumerate(cids):
        p = prof_memo.get(cid)
        if p is None:
            p = prof_memo[cid] = profile_arrays(profiles[k] or ())
        j = q_pos[q_urls[k]]
        cos = sparse_cosine_sorted(qt["w_toks"][j], qt["w_vals"][j],
                                   qt["w_norm"][j], *p)
        if cos >= spec.CLUSTER_EPS:
            surv.append(k)
            coss.append(cos)
    if not surv:
        return _MATCHES_ARROW.empty_table()

    # stage 2: every survivor's members scored in ONE kernel call over a
    # member table of the group's queries followed by the distinct
    # members of surviving clusters
    memb = side.filter(pc.invert(is_query))
    live = {cids[k] for k in surv}
    m_rows: dict = {}
    for i, (u, c) in enumerate(zip(memb.column("url").to_pylist(),
                                   memb.column("cluster_id").to_pylist())):
        if c in live:
            m_rows.setdefault(u, (i, c))
    mt = member_table(memb.take([i for i, _ in m_rows.values()]))
    table = {c: qt[c] + mt[c] for c in qt}
    by_cluster: dict = {}
    for j, (_, c) in enumerate(m_rows.values()):
        by_cluster.setdefault(c, []).append(len(q_pos) + j)
    i1, i2, owner = [], [], []
    for s, k in enumerate(surv):
        mem = by_cluster.get(cids[k], [])
        i1 += [q_pos[q_urls[k]]] * len(mem)
        i2 += mem
        owner += [s] * len(mem)
    votes = [0] * len(surv)
    if i1:
        score = score_pairs_indexed_vec(table, i1, i2)["score"]
        hit = np.asarray(owner, dtype=np.int64)[score >= spec.RECORD_EPS]
        votes = np.bincount(hit, minlength=len(surv)).tolist()

    # MIN_VOTES gate, then rank per query: votes desc, stage-1 cosine
    # desc, cluster_id asc; top-K
    ranked: dict = {}
    for s, k in enumerate(surv):
        need = 1 if n_members[k] < 2 else spec.MIN_VOTES
        if votes[s] >= need:
            ranked.setdefault(q_urls[k], []).append(
                (-votes[s], -coss[s], cids[k]))
    rows = []
    for u, hits in ranked.items():
        hits.sort()
        for r, (nv, nc, cid) in enumerate(hits[:spec.TOP_K], start=1):
            rows.append({"q_url": u, "cluster_id": cid, "votes": -nv,
                         "cluster_cos": -nc, "rank": r})
    return pa.Table.from_pylist(rows, schema=_MATCHES_ARROW)


def match_records(query_pages: DataFrame, idf: DataFrame,
                  entities: DataFrame, clusters: DataFrame,
                  mention_feats: DataFrame) -> DataFrame:
    """-> (q_url, cluster_id, votes, cluster_cos, rank): top-K existing
    clusters for each distinct query url; empty result for a query = no
    match (ref record_based_query_exp1.py:166-174 'no-match correct').
    Raises ValueError when one url arrives twice with different content.

    Batch-friendly by construction: pass MANY query pages in one call and
    the name-key candidate join against the entity table runs ONCE for
    the whole batch (the distributed analog of ref
    record_based_query_exp2.py:124-150's per-name-key profile cache —
    there the cache avoids refetching cluster profiles per query; here
    one broadcast join amortizes the same work across the batch), and
    the batch's queries share the grouped pass's groups. Tested with a
    100-query batch in tests/test_query.py."""
    qf = prepare_query_mentions(query_pages, idf)

    def gk():
        return F.pmod(F.xxhash64("url"), F.lit(QUERY_GROUPS)).alias("gk")

    # name-key candidates. Both uses below read the same (url, first,
    # last) columns of qf, so they share one broadcast of it
    q_fi = F.substring("first", 1, 1)
    cand = (F.broadcast(qf).join(
        entities.select(F.col("last").alias("e_last"), "first_initial",
                        "cluster_id", "n_members", "profile"),
        (F.col("last") == F.col("e_last"))
        & ((q_fi == F.col("first_initial")) | (q_fi == F.lit(""))
           | (F.col("first_initial") == F.lit(""))))
        .select(gk(), "url", "cluster_id", "n_members", "profile"))
    # members of every candidate cluster, tagged with the group of the
    # query that named it; the queries' own features ride along with a
    # null cluster_id. gk and cluster_id come from fresh expressions (not
    # re-used from ``cand``) so the cogroup's two branches don't share an
    # attribute id (self-join ambiguity)
    keys = cand.select(gk(), F.col("cluster_id").alias("k_cid"))
    member_urls = (keys.join(clusters.where(~F.col("is_noise")),
                             F.col("k_cid") == F.col("cluster_id"))
                   .select("gk", "cluster_id", "url"))
    side = (F.broadcast(member_urls).join(mention_feats, "url")
            .select("gk", *_FEAT_COLS, "cluster_id")
            .unionByName(qf.select(
                gk(), *_FEAT_COLS,
                F.lit(None).cast("long").alias("cluster_id"))))
    out = (cand.groupby("gk").cogroup(side.groupby("gk"))
           .applyInArrow(_match_group, schema=_MATCHES))
    return out.select("q_url", "cluster_id", "votes",
                      F.round("cluster_cos", 9).alias("cluster_cos"),
                      "rank")
