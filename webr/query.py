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

Request shape — no Spark job for a request built on the driver. A
small request's cost is mostly fixed (jobs, Python worker calls, py4j
round trips), not its own work, so it is built around how few of each
it runs:
  * ``prepare_query_mentions`` derives the query pages' mentions and
    tf-idf weight arrays with the corpus's shared kernels and the CORPUS
    idf rows of their body tokens (a query must not shift corpus
    statistics). A local relation (a request's ``createDataFrame``
    frame) is collected, which runs no job, and derived on the driver;
    any other plan (a parquet file, a stream micro-batch) is derived
    where its rows are, in one Arrow pass.
  * Three request-sized lookups read the committed parquet files of the
    warehouse tables on the driver (``pyarrow.dataset`` with the
    predicate pushed into the reader: no Spark job, no codegen): the
    name-key candidates (``entities`` whose ``last`` is one of the
    queries' last names), the non-noise rows of the clusters that pass
    stage 1 (``clusters``), and those members' ``mention_feats`` rows.
    The driver applies the first-initial rule and the profile-cosine
    gate (stage 1) to the candidates, and scores every (query, member)
    pair in ONE ``score_pairs_indexed_vec`` call (the pipeline's pair
    kernel) over a member table of the queries followed by the members.
  * The driver counts the votes, applies MIN_VOTES and the top-K rank,
    and returns the rows as a DataFrame over a local Arrow table (its
    ``round(cluster_cos, 9)`` is a JVM expression that runs no job).
A request holds no state between calls: every one reads the files the
tables name at that moment, so a rewritten ``idf`` is what the next
request reads, at any vocabulary size. Pinned by tests/test_query.py.

The lookup tables must be bare scans of committed parquet files
(``Warehouse.read`` or ``Pipeline.run`` outputs): a filtered, computed
or local frame raises ValueError naming the argument, since the lookups
read the files, not the frame's plan.

A url repeated within one request is answered once: exact duplicate
pages collapse, and the same url with different content is an error
(like duplicate keys in ``Warehouse.merge``).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from webr import engine, schema, spec
from webr.features import (
    MEMBER_COLUMNS, member_table, profile_arrays, score_pairs_indexed_vec,
    sparse_cosine_sorted,
)
from webr.mentions import derive_mentions

_CONTENT_COLS = ("warc_ts", "html", "text")  # what the match reads


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


def _query_feats(pdf: pd.DataFrame, idf: ds.Dataset) -> pd.DataFrame:
    """A batch of query pages (``warc_ts`` as unix micros) -> their
    mention_feats rows plus a content ``digest``: the corpus's extract,
    normalize and weights kernels, with the CORPUS idf rows of the
    batch's body tokens read from the committed idf files. The same code
    runs on the driver and in a Python worker."""
    if "warc_ts" in pdf:  # naive UTC, like the corpus stage's Arrow input
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"].astype("Int64"),
                                        unit="us")
    pdf["html"] = [h if h is None else bytes(h) for h in pdf["html"]]
    m = derive_mentions(pdf)
    toks = {t for ts in m["body_toks"] for t in ts}
    w = idf.to_table(
        columns=["token", "idf"],
        filter=ds.field("token").isin(pa.array(sorted(toks), pa.string())))
    out = engine.with_weights(m, dict(zip(w.column("token").to_pylist(),
                                          w.column("idf").to_pylist())))
    out["digest"] = _content_digests(pdf)
    return out


_PREPARED = StructType(list(schema.MENTION_FEATS.fields)
                       + [StructField("digest", StringType(), False)])
_PREPARED_ARROW = to_arrow_schema(_PREPARED)


def prepare_query_mentions(query_pages: DataFrame,
                           idf: DataFrame) -> pa.Table:
    """Query pages -> their mention_feats rows as an Arrow table on the
    driver: same extract/normalize/weights kernels as the corpus, with
    the CORPUS idf rows of the request's body tokens. One row per
    distinct url (see the module docstring)."""
    idf_ds = _committed(idf, "idf")
    # warc_ts is optional (engine.build_mentions); micros carry no zone
    cols = [c for c in ("url", *_CONTENT_COLS) if c in query_pages.columns]
    sel = query_pages.select(*(
        F.unix_micros(c).alias(c) if c == "warc_ts" else c
        for c in cols))
    plan = sel._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "LocalRelation":
        # pages already on the driver: collecting them runs no job
        rows = sel.collect()
        tbl = (pa.Table.from_pandas(
                   _query_feats(pd.DataFrame(rows, columns=cols,
                                             dtype=object), idf_ds),
                   schema=_PREPARED_ARROW, preserve_index=False)
               if rows else _PREPARED_ARROW.empty_table())
    else:
        # pages behind a scan: derive them where they are
        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf):
                    yield _query_feats(pdf, idf_ds)
        tbl = sel.mapInPandas(gen, _PREPARED).toArrow()
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
    return tbl.take(pa.array(keep, pa.int64())).drop_columns(["digest"])


_MATCHES = StructType([
    StructField("q_url", StringType()),
    StructField("cluster_id", LongType()),
    StructField("votes", LongType()),
    StructField("cluster_cos", DoubleType()),
    StructField("rank", IntegerType()),
])
_MATCHES_ARROW = to_arrow_schema(_MATCHES)


def _first_initial_ok(q_fi, e_fi) -> bool:
    """The name key's first-initial rule with SQL's three-valued OR:
    ``q_fi = e_fi OR q_fi = '' OR e_fi = ''`` holds when one disjunct is
    TRUE, so a null query initial still matches an entity initial ''."""
    return (q_fi is not None and q_fi == e_fi) or q_fi == "" or e_fi == ""


def _committed(df: DataFrame, arg: str) -> ds.Dataset:
    """The parquet files behind ``df`` as a dataset under ``df``'s
    schema, read on the driver: no Spark job, and a filtered read skips
    the row groups whose statistics exclude the filter. ``df`` must be a
    bare scan of committed parquet files; any other frame raises
    ValueError naming ``arg``."""
    plan = df._jdf.queryExecution().analyzed()
    rel = (plan.relation()
           if plan.getClass().getSimpleName() == "LogicalRelation" else None)
    if (rel is None or rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().shortName() != "parquet"):
        raise ValueError(
            f"match_records: {arg} must be a committed parquet table "
            f"(Warehouse.read or Pipeline.run output), not a derived or "
            f"local frame")
    # file: URIs, percent-escaped; from_uri decodes them
    paths = [pafs.FileSystem.from_uri(f)[1] for f in df.inputFiles()]
    return ds.dataset(paths, schema=to_arrow_schema(df.schema),
                      filesystem=pafs.LocalFileSystem(), format="parquet")


def _count_votes(qt: dict, named: dict, clusters: ds.Dataset,
                 mention_feats: ds.Dataset) -> dict:
    """-> {(q, cluster_id): votes}: for query row index ``q`` of the
    queries' member table ``qt`` and a cluster, how many of the
    cluster's non-noise members score >= RECORD_EPS against the query
    (pairs with no hit are absent). ``named``: cluster_id -> the query
    indexes whose stage-1 gate it passed.

    Reads only the named clusters' non-noise rows and those members'
    features, and scores every (query, member) pair in ONE kernel call
    over a member table of the queries followed by the members."""
    live = clusters.to_table(
        columns=["url", "cluster_id"],
        filter=ds.field("cluster_id").isin(pa.array(list(named), pa.int64()))
        & ~ds.field("is_noise"))
    of_url: dict = {}
    for u, c in zip(live.column("url").to_pylist(),
                    live.column("cluster_id").to_pylist()):
        of_url.setdefault(u, []).append(c)
    mt = member_table(mention_feats.to_table(
        columns=MEMBER_COLUMNS,
        filter=ds.field("url").isin(pa.array(list(of_url), pa.string()))))
    nq = len(qt["url"])
    i1, i2, cids = [], [], []
    for j, u in enumerate(mt["url"]):
        for c in of_url[u]:
            for q in named[c]:
                i1.append(q)
                i2.append(nq + j)
                cids.append(c)
    votes: dict = {}
    if not i1:
        return votes
    table = {c: qt[c] + mt[c] for c in qt}
    score = score_pairs_indexed_vec(table, i1, i2)["score"]
    for q, c, hit in zip(i1, cids, score >= spec.RECORD_EPS):
        if hit:
            votes[q, c] = votes.get((q, c), 0) + 1
    return votes


def match_records(query_pages: DataFrame, idf: DataFrame,
                  entities: DataFrame, clusters: DataFrame,
                  mention_feats: DataFrame) -> DataFrame:
    """-> (q_url, cluster_id, votes, cluster_cos, rank): top-K existing
    clusters for each distinct query url; empty result for a query = no
    match (ref record_based_query_exp1.py:166-174 'no-match correct').
    Raises ValueError when one url arrives twice with different content.

    Batch-friendly by construction: pass MANY query pages in one call and
    the name-key candidate lookup against the entity table runs ONCE for
    the whole batch (the analog of ref record_based_query_exp2.py:124-150's
    per-name-key profile cache — there the cache avoids refetching
    cluster profiles per query; here one read amortizes the same work
    across the batch), and one kernel call scores every query's
    survivors. Tested with a 100-query batch in tests/test_query.py.
    ``idf``, ``entities``, ``clusters`` and ``mention_feats`` must be
    committed parquet tables (see the module docstring)."""
    spark = query_pages.sparkSession
    ent_ds, cl_ds, mf_ds = (
        _committed(t, a) for t, a in ((entities, "entities"),
                                      (clusters, "clusters"),
                                      (mention_feats, "mention_feats")))
    # through the module global: a wrapper installed on the module sees
    # the call
    qtbl = prepare_query_mentions(query_pages, idf)
    q_last = qtbl.column("last").to_pylist()
    q_first = qtbl.column("first").to_pylist()

    # name-key candidates: entity rows sharing a query's last name
    ent = ent_ds.to_table(
        columns=["last", "first_initial", "cluster_id", "n_members",
                 "profile"],
        filter=ds.field("last").isin(pa.array(sorted(set(q_last) - {None}),
                                              pa.string())))
    by_last: dict = {}
    for last, *cand in zip(*(c.to_pylist() for c in ent.columns)):
        by_last.setdefault(last, []).append(cand)

    # stage 1: first-initial rule, then the cluster-profile cosine gate
    # (profiles hashed once per cluster of the request)
    qt = member_table(qtbl)
    prof_memo: dict = {}
    surv = []  # (query index, cluster_id, n_members, cosine)
    for q, (last, first) in enumerate(zip(q_last, q_first)):
        q_fi = None if first is None else first[:1]
        for e_fi, cid, n_members, profile in by_last.get(last, ()):
            if not _first_initial_ok(q_fi, e_fi):
                continue
            p = prof_memo.get(cid)
            if p is None:
                p = prof_memo[cid] = profile_arrays(profile or ())
            cos = sparse_cosine_sorted(qt["w_toks"][q], qt["w_vals"][q],
                                       qt["w_norm"][q], *p)
            if cos >= spec.CLUSTER_EPS:
                surv.append((q, cid, n_members, cos))

    # stage 2: member votes
    named: dict = {}
    for q, cid, _, _ in surv:
        named.setdefault(cid, []).append(q)
    votes = (_count_votes(qt, named, cl_ds, mf_ds)
             if named else {})

    # MIN_VOTES gate, then rank per query: votes desc, stage-1 cosine
    # desc, cluster_id asc; top-K
    ranked: dict = {}
    for q, cid, n_members, cos in surv:
        v = votes.get((q, cid), 0)
        if v >= (1 if n_members < 2 else spec.MIN_VOTES):
            ranked.setdefault(q, []).append((-v, -cos, cid))
    rows = []
    for q, hits in ranked.items():
        hits.sort()
        for r, (nv, nc, cid) in enumerate(hits[:spec.TOP_K], start=1):
            rows.append({"q_url": qt["url"][q], "cluster_id": cid,
                         "votes": -nv, "cluster_cos": -nc, "rank": r})
    res = spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=_MATCHES_ARROW), schema=_MATCHES)
    return res.select("q_url", "cluster_id", "votes",
                      F.round("cluster_cos", 9).alias("cluster_cos"),
                      "rank")
