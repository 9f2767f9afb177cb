"""Pandas twin of ``webr.engine.build_entities``: one canonical record per
cluster, computed row by row in plain Python from the same three inputs
(mentions, idf, clusters). Tests compare the two row for row.

Vote rule (A6): the value with the highest member count wins, ties go to
the lowest value, and a null value sorts before every string (Spark's
ascending order). Strings compare by code point, which is Spark's UTF-8
byte order."""

from __future__ import annotations

from collections import Counter

import pandas as pd


def _order(item: tuple) -> tuple:
    val, cnt = item
    return (-cnt, val is not None, val or "")


def _vote(values) -> str | None:
    return min(Counter(values).items(), key=_order)[0]


def _top_hosts(hosts) -> list:
    """Ranked hosts, then the containment dedup of ref
    import_clusters.py:148-179: a host survives unless it contains, or is
    contained in, a host that already survived; at most three survive. A
    comparison involving a null host is unknown, never a match."""
    out: list = []
    for h, _ in sorted(Counter(hosts).items(), key=_order):
        if len(out) >= 3:
            break
        if not any(h is not None and y is not None and (h in y or y in h)
                   for y in out):
            out.append(h)
    return out


def build_entities(mentions: pd.DataFrame, idf: pd.DataFrame,
                   clusters: pd.DataFrame,
                   profile_top: int = 256) -> pd.DataFrame:
    idf_map = dict(zip(idf["token"], idf["idf"]))
    members = clusters[~clusters["is_noise"].astype(bool)].merge(
        mentions, on="url")
    rows = []
    for cid, g in members.groupby("cluster_id", sort=True):
        firsts = [None if f is None else f[:1] for f in g["first"]]
        occ: Counter = Counter()
        for toks in g["body_toks"]:
            occ.update(list(toks) if toks is not None else [])
        weights = [(t, c * idf_map[t]) for t, c in occ.items()
                   if t in idf_map]
        top = sorted(weights, key=lambda tw: (-tw[1], tw[0]))[:profile_top]
        rows.append({
            "cluster_id": int(cid),
            "canonical_name": _vote(g["name_norm"]),
            "last": _vote(g["last"]),
            "first_initial": _vote(firsts),
            "n_members": len(g),
            "hosts": _top_hosts(g["host"]),
            "profile": dict(top) if top else None,
        })
    return pd.DataFrame(rows, columns=[
        "cluster_id", "canonical_name", "last", "first_initial",
        "n_members", "hosts", "profile"])
