"""Pandas twin of the incremental record query (webr.query.match_records):
the executable spec of its output, row for row.

Built from the scalar kernels only — ``profile_arrays`` and
``sparse_cosine_sorted`` for the stage-1 profile gate, ``score_pairs``
(one call per query over its sided member pairs) for the stage-2 votes —
so it pins the engine's grouped Arrow pass and vectorized pair kernel to
the semantics the query had before they existed. Inputs are the
warehouse tables as pandas frames (``toPandas()`` of entities, clusters
and mention_feats) plus the corpus idf as a dict.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from webr import spec
from webr.features import (
    MEMBER_COLUMNS, profile_arrays, score_pairs, sparse_cosine_sorted,
)
from webr.mentions import derive_mentions
from webr.oracle.oracle import attach_weight_arrays

COLUMNS = ["q_url", "cluster_id", "votes", "cluster_cos", "rank"]


def _spark_round(x: float, digits: int) -> float:
    """Spark's round(double, d): HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits),
                                           rounding=ROUND_HALF_UP))


def distinct_query_pages(pages: pd.DataFrame) -> pd.DataFrame:
    """One page per url: exact duplicates collapse; one url with
    different content is an error."""
    pages = pages.drop_duplicates(subset=["url", "warc_ts", "html", "text"])
    dup = pages["url"][pages["url"].duplicated()]
    if len(dup):
        raise ValueError(f"query url {dup.iloc[0]!r} arrives with "
                         f"different content in one request")
    return pages


def match_records(pages: pd.DataFrame, idf: dict, entities: pd.DataFrame,
                  clusters: pd.DataFrame,
                  mention_feats: pd.DataFrame) -> pd.DataFrame:
    """-> COLUMNS, sorted by (q_url, rank)."""
    q = attach_weight_arrays(derive_mentions(distinct_query_pages(pages)),
                             idf)
    q["q_fi"] = q["first"].str[:1]
    ent = entities[["cluster_id", "last", "first_initial", "n_members",
                    "profile"]]
    cand = q.merge(ent, on="last")
    cand = cand[(cand["q_fi"] == cand["first_initial"])
                | (cand["q_fi"] == "") | (cand["first_initial"] == "")]

    # stage 1: cluster-profile cosine gate
    profiles = {c: profile_arrays((p or {}).items())
                for c, p in zip(ent["cluster_id"], ent["profile"])}
    cand = cand.assign(cluster_cos=[
        sparse_cosine_sorted(t, v, n, *profiles[c]) for t, v, n, c in zip(
            cand["w_toks"], cand["w_vals"], cand["w_norm"],
            cand["cluster_id"])])
    surv = cand[cand["cluster_cos"] >= spec.CLUSTER_EPS]

    # stage 2: member votes — one scalar score_pairs call per query
    members = (clusters[~clusters["is_noise"]][["url", "cluster_id"]]
               .merge(mention_feats, on="url"))
    side2 = members[["cluster_id"] + MEMBER_COLUMNS].rename(
        columns={c: f"{c}_2" for c in MEMBER_COLUMNS})
    rows = []
    for url, qs in surv.groupby("url", sort=True):
        side1 = qs[["cluster_id", "n_members", "cluster_cos"]
                   + MEMBER_COLUMNS].rename(
            columns={c: f"{c}_1" for c in MEMBER_COLUMNS})
        pairs = side1.merge(side2, on="cluster_id")
        if len(pairs):
            scored = score_pairs(pairs)
            votes = (scored["score"] >= spec.RECORD_EPS).groupby(
                scored["cluster_id"]).sum()
        else:
            votes = pd.Series(dtype="int64")
        hits = []
        for c, n, cos in zip(qs["cluster_id"], qs["n_members"],
                             qs["cluster_cos"]):
            v = int(votes.get(c, 0))
            if v >= (1 if n < 2 else spec.MIN_VOTES):
                hits.append((-v, -cos, int(c)))
        for r, (nv, nc, c) in enumerate(sorted(hits)[:spec.TOP_K], start=1):
            rows.append((url, c, -nv, _spark_round(-nc, 9), r))
    return pd.DataFrame(rows, columns=COLUMNS)
