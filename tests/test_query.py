"""Incremental record-based query (C6): held-in pages must match their own
cluster at rank 1; unmatchable records must return no rows (the reference's
no-match-correct notion, record_based_query_exp1.py:166-174)."""

import datetime as dt
import random
import re

import pandas as pd
import pyspark.sql.functions as F
import pytest

from webr import schema
from webr.query import match_records


def test_query_matches_own_cluster(spark, pipeline_out, corpus_pd):
    clusters = pipeline_out["clusters"]
    non_noise = (clusters.where(~F.col("is_noise"))
                 .limit(500).toPandas())
    # pick 5 urls from distinct clusters
    picks = (non_noise.drop_duplicates("cluster_id").head(5))
    urls = list(picks.url)
    expected = dict(zip(picks.url, picks.cluster_id))

    qpages = spark.createDataFrame(
        corpus_pd[corpus_pd.url.isin(urls)]
        [["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES)
    res = match_records(qpages, pipeline_out["idf"],
                        pipeline_out["entities"], clusters,
                        pipeline_out["mention_feats"]).toPandas()
    top1 = res[res["rank"] == 1].set_index("q_url")["cluster_id"].to_dict()
    for u in urls:
        assert top1.get(u) == expected[u], (u, top1.get(u), expected[u])


def test_query_batch_shares_candidate_join(spark, pipeline_out, corpus_pd):
    """Batch query path (ref record_based_query_exp2.py:124-150 caches
    cluster profiles by name key across queries): 100 query pages in ONE
    match_records call share the stage-1 entity join and each still ranks
    its own cluster first."""
    clusters = pipeline_out["clusters"]
    non_noise = clusters.where(~F.col("is_noise")).toPandas()
    picks = non_noise.head(100)
    urls = list(picks.url)
    expected = dict(zip(picks.url, picks.cluster_id))
    qpages = spark.createDataFrame(
        corpus_pd[corpus_pd.url.isin(urls)]
        [["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES)
    res = match_records(qpages, pipeline_out["idf"],
                        pipeline_out["entities"], clusters,
                        pipeline_out["mention_feats"]).toPandas()
    top1 = res[res["rank"] == 1].set_index("q_url")["cluster_id"].to_dict()
    assert len(top1) == len(urls)
    for u in urls:
        assert top1.get(u) == expected[u], (u, top1.get(u), expected[u])


def test_query_eval_exact_counts(spark):
    """query_eval arithmetic on a hand-built result/gold table: every
    count and ratio is exact (ref exp1:320-345 accuracy@K / avg rank /
    no-match correctness)."""
    from webr.evalm import query_eval
    # q1: gold at rank 1; q2: gold at rank 3; q3: gold exists, absent
    # from results (miss, empty answer); q4: no gold, empty result
    # (correct no-match); q5: no gold but a result came back (incorrect
    # no-match); q6: gold exists but only WRONG clusters returned (miss
    # with a non-empty answer — must count the same as q3)
    res = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2),
         ("q2", 20, 1), ("q2", 21, 2), ("q2", 22, 3),
         ("q5", 50, 1), ("q6", 99, 1)],
        "q_url string, cluster_id long, rank long")
    gold = spark.createDataFrame(
        [("q1", 10), ("q2", 22), ("q3", 30), ("q4", None), ("q5", None),
         ("q6", 60)],
        "q_url string, cluster_id long")
    row = query_eval(res, gold, k=10).toPandas().iloc[0]
    assert row.n_queries == 6 and row.n_with_gold == 4
    assert row.acc_at_1 == round(1 / 4, 6)
    assert row.acc_at_k == round(2 / 4, 6)
    assert row.avg_rank == 2.0          # gold ranks found: 1 and 3
    assert row.n_missed == 2            # q3 (empty) + q6 (wrong clusters)
    assert row.no_match_correct == 0.5  # q4 yes, q5 no
    # tighter k drops q2's rank-3 gold hit (q2 becomes a miss too)
    row2 = query_eval(res, gold, k=2).toPandas().iloc[0]
    assert row2.acc_at_k == round(1 / 4, 6) and row2.avg_rank == 1.0
    assert row2.n_missed == 3


def test_query_eval_pipeline_perfect(spark, pipeline_out, corpus_pd):
    """Held-in pages evaluated against their own clusters: accuracy@1 = 1,
    avg rank = 1, and the unmatchable record counts as a correct
    no-match."""
    from webr import spec
    from webr.evalm import query_eval
    clusters = pipeline_out["clusters"]
    non_noise = clusters.where(~F.col("is_noise")).limit(500).toPandas()
    picks = non_noise.drop_duplicates("cluster_id").head(4)
    urls = list(picks.url)
    import pandas as pd
    nm_url = "https://nowhere.example/eval-nomatch"
    nomatch = pd.DataFrame([{
        "url": nm_url, "warc_ts": pd.Timestamp("2024-01-01"),
        "html": (b"<html><head><title>zzz</title></head><body>"
                 b"<h1>Xqz Vvkw</h1><p>unseen tokens qqq www eee</p>"
                 b"</body></html>"),
        "text": "", "lang": "eng"}])
    qpd = pd.concat(
        [corpus_pd[corpus_pd.url.isin(urls)]
         [["url", "warc_ts", "html", "text", "lang"]], nomatch],
        ignore_index=True)
    qpages = spark.createDataFrame(qpd, schema=schema.PAGES)
    res = match_records(qpages, pipeline_out["idf"],
                        pipeline_out["entities"], clusters,
                        pipeline_out["mention_feats"])
    gold = spark.createDataFrame(
        [(u, int(c)) for u, c in zip(picks.url, picks.cluster_id)]
        + [(nm_url, None)], "q_url string, cluster_id long")
    row = query_eval(res, gold, k=spec.TOP_K).toPandas().iloc[0]
    assert row.n_queries == 5 and row.n_with_gold == 4
    assert row.acc_at_1 == 1.0 and row.acc_at_k == 1.0
    assert row.avg_rank == 1.0 and row.n_missed == 0
    assert row.no_match_correct == 1.0


def test_query_no_match(spark, pipeline_out):
    html = (b"<html><head><title>zzz</title></head><body>"
            b"<h1>Xqz Vvkw</h1><p>unseen tokens qqq www eee</p>"
            b"</body></html>")
    qpages = spark.createDataFrame(
        [("https://nowhere.example/1", dt.datetime(2024, 1, 1), html, "",
          "eng")], schema=schema.PAGES)
    res = match_records(qpages, pipeline_out["idf"],
                        pipeline_out["entities"], pipeline_out["clusters"],
                        pipeline_out["mention_feats"]).toPandas()
    assert len(res) == 0


# -- Q3 output pinned row for row against the pandas twin ------------------

_PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
_BODY_RE = re.compile(r"(<p>)(.*?)(</p>)", re.I | re.S)
_NAME_DECOR_RE = re.compile(r"^(dr\.|prof)\s+|,\s*ph\.d$|\s*\(editor\)$")


def _initial_only(author_name: str) -> bool:
    name = _NAME_DECOR_RE.sub("", author_name.strip().lower())
    return len(name.split()[0]) == 1


def _perturbed(page, url: str, rng: random.Random) -> dict:
    """``page`` under ``url`` with ~20% of its first body paragraph's
    words dropped."""
    def drop(m: re.Match) -> str:
        words = [w for w in m.group(2).split() if rng.random() >= 0.2]
        return m.group(1) + " ".join(words) + m.group(3)
    html = _BODY_RE.sub(drop, page["html"].decode("utf-8"), count=1)
    return {"url": url, "warc_ts": page["warc_ts"],
            "html": html.encode("utf-8"), "text": "", "lang": page["lang"]}


def _fabricated(k: int, rng: random.Random) -> dict:
    """A page by an author no corpus entity shares a last name with."""
    first = rng.choice(["zebulon", "ottoline", "barnaby"])
    last = rng.choice(["quixote", "brambleworth", "fennimore"])
    body = " ".join(f"qz{rng.randrange(500):03d}" for _ in range(60))
    html = (f"<html><head><title>unseen {last}</title></head><body>"
            f"<h1>{first.title()} {last.title()}</h1><p>{body}</p>"
            f"</body></html>")
    return {"url": f"https://nomatch.example.net/p/{last}-{k}",
            "warc_ts": pd.Timestamp("2024-06-01"),
            "html": html.encode("utf-8"), "text": "", "lang": "eng"}


def _two_cluster_page(corpus_pd, clusters_pd, entities_pd) -> dict:
    """A page under the shared first + last name of two clusters (their
    middle names differ), whose body joins one page of each: it gets an
    answer from both, so the rank order is exercised."""
    names = entities_pd.canonical_name.str.split()
    key = names.str[0] + " " + names.str[-1]
    (a, b), shared = next((sorted(g.cluster_id)[:2], k) for k, g in
                          entities_pd.groupby(key) if len(g) >= 2)
    pages = corpus_pd.merge(clusters_pd, on="url").sort_values("url")
    bodies = [_BODY_RE.search(pages[pages.cluster_id == c].html.iloc[0]
                              .decode("utf-8")).group(2) for c in (a, b)]
    html = (f"<html><head><title>x</title></head><body>"
            f"<h1>{shared.title()}</h1><p>{' '.join(bodies)}</p>"
            f"</body></html>")
    return {"url": "https://mixed.example.org/p/1",
            "warc_ts": pd.Timestamp("2024-06-01"),
            "html": html.encode("utf-8"), "text": "", "lang": "eng"}


def _diluted(by_url, base: str, other: str, k: int, url: str) -> dict:
    """``base`` under ``url`` with the first ``k`` body words of
    ``other`` (a page of another entity, repeated) appended."""
    words = _BODY_RE.search(by_url.loc[other, "html"].decode("utf-8")) \
        .group(2).split() * 4
    html = _BODY_RE.sub(
        lambda m: m.group(1) + m.group(2) + " " + " ".join(words[:k])
        + m.group(3), by_url.loc[base, "html"].decode("utf-8"), count=1)
    return {"url": url, "warc_ts": by_url.loc[base, "warc_ts"],
            "html": html.encode("utf-8"), "text": "", "lang": "eng"}


def _query_fixture(kind: str, corpus_pd, warehouse_pd) -> pd.DataFrame:
    clusters_pd = warehouse_pd[2]
    by_url = corpus_pd.set_index("url", drop=False)
    full = set(corpus_pd.url[~corpus_pd.author_name.map(_initial_only)])
    held = sorted(u for u, noise in zip(clusters_pd.url, clusters_pd.is_noise)
                  if not noise and u in full)
    rng = random.Random(5)
    if kind == "single":
        rows = [by_url.loc[held[3], _PAGE_COLS].to_dict()]
    elif kind == "mix64":  # the benchmark's batch shape
        rows = ([by_url.loc[u, _PAGE_COLS].to_dict()
                 for u in rng.sample(held, 40)]
                + [_perturbed(by_url.loc[u], f"{u}-r{k}", rng)
                   for k, u in enumerate(rng.sample(held, 12))]
                + [_fabricated(k, rng) for k in range(12)])
    elif kind == "initial_only":
        u = sorted(set(corpus_pd.url) - full)[0]
        rows = [by_url.loc[u, _PAGE_COLS].to_dict()]
    elif kind == "two_clusters":
        rows = [_two_cluster_page(corpus_pd, clusters_pd, warehouse_pd[1])]
    elif kind == "near_thresholds":
        # pages of the conftest corpus diluted until one candidate sits
        # just past a threshold (found with the oracle twin): cosine 0.31
        # with ONE member vote (MIN_VOTES drops it), and cosine 0.29 with
        # two votes (the CLUSTER_EPS gate drops it)
        rows = [by_url.loc[held[3], _PAGE_COLS].to_dict(),
                _diluted(by_url, "https://site04.example.org/p/chen-000010",
                         "https://mirror.example.net/p/smith-000049", 408,
                         "https://dilute.example.org/p/votes"),
                _diluted(by_url, "https://mirror.example.net/p/chen-000105",
                         "https://site08.example.org/p/petrov-000176", 420,
                         "https://dilute.example.org/p/gate")]
    elif kind == "recrawl":  # an existing url whose body changed
        rows = [_perturbed(by_url.loc[held[7]], held[7], rng)]
    return pd.DataFrame(rows)[_PAGE_COLS]


@pytest.fixture(scope="module")
def warehouse_pd(pipeline_out):
    idf = pipeline_out["idf"].toPandas()
    return (dict(zip(idf.token, idf.idf)),
            pipeline_out["entities"].toPandas(),
            pipeline_out["clusters"].toPandas(),
            pipeline_out["mention_feats"].toPandas())


def _engine_rows(spark, pipeline_out, qpd: pd.DataFrame) -> list[tuple]:
    res = match_records(spark.createDataFrame(qpd, schema=schema.PAGES),
                        pipeline_out["idf"], pipeline_out["entities"],
                        pipeline_out["clusters"],
                        pipeline_out["mention_feats"])
    return sorted(tuple(r) for r in res.collect())


@pytest.mark.parametrize("kind", ["single", "mix64", "initial_only",
                                  "recrawl", "two_clusters",
                                  "near_thresholds"])
def test_query_matches_oracle_rows(spark, pipeline_out, corpus_pd,
                                   warehouse_pd, kind):
    """Full rows (q_url, cluster_id, votes, cluster_cos, rank) equal the
    pandas twin built from the scalar kernels."""
    from webr.oracle import record_query
    qpd = _query_fixture(kind, corpus_pd, warehouse_pd)
    want = record_query.match_records(qpd, *warehouse_pd)
    got = _engine_rows(spark, pipeline_out, qpd)
    assert got == sorted(tuple(r) for r in want.itertuples(index=False))
    assert got, kind  # every fixture kind gets at least one answer
    if kind == "two_clusters":
        assert sorted(r[4] for r in got) == [1, 2]
    if kind == "near_thresholds":
        assert {r[0] for r in got} == {qpd.url.iloc[0]}
    if kind == "mix64":
        answered = {r[0] for r in got}
        assert not any(u.startswith("https://nomatch.") for u in answered)


def test_query_repeated_url_answered_once(spark, pipeline_out, corpus_pd,
                                          warehouse_pd):
    """A page submitted twice gets the answer it gets alone: one row per
    (url, cluster), votes not inflated."""
    qpd = _query_fixture("single", corpus_pd, warehouse_pd)
    once = _engine_rows(spark, pipeline_out, qpd)
    twice = _engine_rows(spark, pipeline_out,
                         pd.concat([qpd, qpd], ignore_index=True))
    assert twice == once and len(once) == len({r[1] for r in once})


def test_query_repeated_url_with_new_content_raises(spark, pipeline_out,
                                                    corpus_pd, warehouse_pd):
    qpd = _query_fixture("single", corpus_pd, warehouse_pd)
    url = qpd.url.iloc[0]
    changed = pd.DataFrame([_perturbed(qpd.iloc[0], url, random.Random(1))])
    with pytest.raises(ValueError, match=re.escape(url)):
        match_records(
            spark.createDataFrame(pd.concat([qpd, changed]),
                                  schema=schema.PAGES),
            pipeline_out["idf"], pipeline_out["entities"],
            pipeline_out["clusters"], pipeline_out["mention_feats"])


def _request_jobs(spark, pipeline_out, qpd, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        _engine_rows(spark, pipeline_out, qpd)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_job_budget_and_idf_memo(spark, pipeline_out, corpus_pd,
                                       warehouse_pd, monkeypatch):
    """A single-page request runs at most 7 Spark jobs (11 with the
    per-pair sided join it replaced); a repeat request against the same
    idf files reuses the memoized broadcast instead of counting and
    collecting the vocabulary again."""
    from webr import query
    monkeypatch.setattr(query, "_IDF_MEMO", {})
    qpd = _query_fixture("single", corpus_pd, warehouse_pd)
    first = _request_jobs(spark, pipeline_out, qpd, "q3-budget-1")
    (entry,) = query._IDF_MEMO.values()
    second = _request_jobs(spark, pipeline_out, qpd, "q3-budget-2")
    (again,) = query._IDF_MEMO.values()
    assert again[2] is entry[2] and entry[2] is not None
    assert second <= 7, second
    assert first >= second + 2, (first, second)  # idf count + collect


def test_query_idf_memo_replaced_on_rewrite(spark, pipeline_out,
                                            warehouse_dir, monkeypatch):
    """Rewriting the idf table gives new part-file names, so the next
    request misses and its entry replaces the stale one."""
    from webr import query
    monkeypatch.setattr(query, "_IDF_MEMO", {})
    path = f"{warehouse_dir}/idf"
    pipeline_out["idf"].write.parquet(path)
    query._idf_broadcast(spark.read.parquet(path))
    (old,) = query._IDF_MEMO.values()
    assert query._idf_broadcast(spark.read.parquet(path)) is old[2]
    pipeline_out["idf"].write.mode("overwrite").parquet(path)
    bc = query._idf_broadcast(spark.read.parquet(path))
    (new,) = query._IDF_MEMO.values()
    assert bc is new[2] and bc is not old[2] and new[0] != old[0]


def test_query_vocab_fallback_identical(spark, pipeline_out, corpus_pd,
                                        warehouse_pd, monkeypatch):
    """Over the broadcast cap the query side takes the distributed idf
    join; answers are identical."""
    from webr import engine, query
    qpd = _query_fixture("mix64", corpus_pd, warehouse_pd)
    fast = _engine_rows(spark, pipeline_out, qpd)
    monkeypatch.setattr(query, "_IDF_MEMO", {})
    monkeypatch.setattr(engine, "VOCAB_BROADCAST_MAX", 0)
    assert _engine_rows(spark, pipeline_out, qpd) == fast
