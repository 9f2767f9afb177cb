"""Incremental record-based query (C6): held-in pages must match their own
cluster at rank 1; unmatchable records must return no rows (the reference's
no-match-correct notion, record_based_query_exp1.py:166-174)."""

import datetime as dt
import random
import re
import tempfile
import time

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


def _renamed(page, url: str, name: str) -> dict:
    """``page`` under ``url`` with its author heading replaced by
    ``name``."""
    html = re.sub(r"<h1>.*?</h1>", f"<h1>{name}</h1>",
                  page["html"].decode("utf-8"), count=1)
    return {"url": url, "warc_ts": page["warc_ts"],
            "html": html.encode("utf-8"), "text": "", "lang": page["lang"]}


def _blank_initial_cluster(corpus_pd, warehouse_pd) -> int:
    """The cluster of the ``blank_first`` fixture's pages: its entity row
    gets first_initial '' in that fixture's warehouse."""
    clusters_pd = warehouse_pd[2]
    return int(clusters_pd.set_index("url").cluster_id[
        _held(corpus_pd, clusters_pd)[3]])


def _held(corpus_pd, clusters_pd) -> list[str]:
    full = set(corpus_pd.url[~corpus_pd.author_name.map(_initial_only)])
    return sorted(u for u, noise in zip(clusters_pd.url, clusters_pd.is_noise)
                  if not noise and u in full)


def _query_fixture(kind: str, corpus_pd, warehouse_pd) -> pd.DataFrame:
    clusters_pd = warehouse_pd[2]
    by_url = corpus_pd.set_index("url", drop=False)
    full = set(corpus_pd.url[~corpus_pd.author_name.map(_initial_only)])
    held = _held(corpus_pd, clusters_pd)
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
    elif kind == "blank_first":
        # a page under its last name only (parsed first name ''); the
        # warehouse of this fixture blanks the first_initial of its
        # cluster's entity
        page = by_url.loc[held[3]]
        rows = [_renamed(page, f"{held[3]}-nofirst",
                         page["author_name"].split()[-1])]
    elif kind == "shared_cluster":
        # two pages of one cluster in one batch: every member of that
        # cluster is scored once against each
        c = clusters_pd.set_index("url").cluster_id
        twin = next(u for u in held if u != held[3] and c[u] == c[held[3]])
        rows = [by_url.loc[u, _PAGE_COLS].to_dict() for u in (held[3], twin)]
    return pd.DataFrame(rows)[_PAGE_COLS]


@pytest.fixture(scope="module")
def warehouse_pd(pipeline_out):
    idf = pipeline_out["idf"].toPandas()
    return (dict(zip(idf.token, idf.idf)),
            pipeline_out["entities"].toPandas(),
            pipeline_out["clusters"].toPandas(),
            pipeline_out["mention_feats"].toPandas())


def _engine_rows(spark, pipeline_out, qpd: pd.DataFrame,
                 entities=None) -> list[tuple]:
    """match_records rows; an ``entities`` frame of the test's own is
    committed first (the lookups read committed tables only)."""
    with tempfile.TemporaryDirectory(prefix="webr_ent_") as d:
        if entities is None:
            entities = pipeline_out["entities"]
        else:
            entities.write.parquet(f"{d}/entities")
            entities = spark.read.schema(entities.schema).parquet(
                f"{d}/entities")
        res = match_records(spark.createDataFrame(qpd, schema=schema.PAGES),
                            pipeline_out["idf"], entities,
                            pipeline_out["clusters"],
                            pipeline_out["mention_feats"])
        return sorted(tuple(r) for r in res.collect())


@pytest.mark.parametrize("kind", ["single", "mix64", "initial_only",
                                  "recrawl", "two_clusters",
                                  "near_thresholds", "blank_first",
                                  "shared_cluster"])
def test_query_matches_oracle_rows(spark, pipeline_out, corpus_pd,
                                   warehouse_pd, kind):
    """Full rows (q_url, cluster_id, votes, cluster_cos, rank) equal the
    pandas twin built from the scalar kernels."""
    from webr.oracle import record_query
    qpd = _query_fixture(kind, corpus_pd, warehouse_pd)
    entities = None
    if kind == "blank_first":
        cid = _blank_initial_cluster(corpus_pd, warehouse_pd)
        entities = pipeline_out["entities"].withColumn(
            "first_initial", F.when(F.col("cluster_id") == cid, F.lit(""))
            .otherwise(F.col("first_initial")))
        ent_pd = warehouse_pd[1].copy()
        ent_pd.loc[ent_pd.cluster_id == cid, "first_initial"] = ""
        warehouse_pd = (warehouse_pd[0], ent_pd, *warehouse_pd[2:])
    want = record_query.match_records(qpd, *warehouse_pd)
    got = _engine_rows(spark, pipeline_out, qpd, entities)
    assert got == sorted(tuple(r) for r in want.itertuples(index=False))
    assert got, kind  # every fixture kind gets at least one answer
    if kind == "two_clusters":
        assert sorted(r[4] for r in got) == [1, 2]
    if kind == "near_thresholds":
        assert {r[0] for r in got} == {qpd.url.iloc[0]}
    if kind == "mix64":
        answered = {r[0] for r in got}
        assert not any(u.startswith("https://nomatch.") for u in answered)
    top1 = {r[0]: r[1] for r in got if r[4] == 1}
    if kind == "blank_first":
        assert list(top1.values()) == [
            _blank_initial_cluster(corpus_pd, warehouse_pd)], got
    if kind == "shared_cluster":
        assert len(top1) == 2 and len(set(top1.values())) == 1, got


def test_first_initial_rule_is_sql_or(spark):
    """The driver's first-initial rule equals the SQL predicate it
    replaced on every null/empty/letter combination: a null query
    initial still matches an entity initial '' (three-valued OR)."""
    from webr.query import _first_initial_ok
    vals = [None, "", "a", "b"]
    combos = [(q, e) for q in vals for e in vals]
    df = spark.createDataFrame(combos, "q string, e string")
    sql = {(r.q, r.e): bool(r.ok) for r in df.select(
        "q", "e", F.expr("coalesce((q = e) OR q = '' OR e = '', false)")
        .alias("ok")).collect()}
    assert {c: _first_initial_ok(*c) for c in combos} == sql
    assert _first_initial_ok(None, "") and not _first_initial_ok(None, None)


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


def test_query_rows_independent_of_process_timezone(
        spark, pipeline_out, corpus_pd, warehouse_pd, monkeypatch):
    """The query pages reach the driver with ``warc_ts`` in UTC whatever
    the Python process's time zone (a collected timestamp would arrive
    in process-local time), so the prepared rows and the answer rows in
    New York equal the UTC ones."""
    from webr import query
    qpd = _query_fixture("mix64", corpus_pd, warehouse_pd)

    def run():
        df = spark.createDataFrame(qpd, schema=schema.PAGES)
        return (query.prepare_query_mentions(df, pipeline_out["idf"]),
                _engine_rows(spark, pipeline_out, qpd))
    utc_tbl, utc_rows = run()
    want_us = [t.value // 1000 for t in qpd.warc_ts]
    assert utc_tbl.column("warc_ts").cast("int64").to_pylist() == want_us
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        ny_tbl, ny_rows = run()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert ny_tbl.equals(utc_tbl) and ny_rows == utc_rows and utc_rows


def _request_jobs(spark, group: str, pages, **tables):
    """-> (rows of ``match_records(pages(), **tables)``, stage count of
    each Spark job that making the request frame and answering it
    ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = match_records(pages(), **tables)
        rows = sorted(tuple(r) for r in res.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    return rows, [len(st.getJobInfo(j).stageIds)
                  for j in st.getJobIdsForGroup(group)]


def test_query_job_budget(spark, pipeline_out, corpus_pd, warehouse_pd,
                          warehouse_dir):
    """A warm single-page request runs no Spark job (1 with the Arrow
    prepare pass it replaced, 4 with the broadcast-joined member pass
    before that): the request frame is a local relation, whose collect
    runs no job, and the lookups and the scoring run on the driver. So
    does the first request against a freshly written idf table (no
    count or collect of the vocabulary) and a request whose last name
    matches no entity. An empty request answers no rows; PySpark builds
    an empty pandas frame as an RDD, not a local relation, so collecting
    it is its one job. Query pages read from parquet run one job of one
    stage, the scan and its Arrow pass, and get the rows the local frame
    gets."""
    from webr.catalog import Warehouse
    qpd = _query_fixture("single", corpus_pd, warehouse_pd)
    tables = {t: pipeline_out[t] for t in
              ("idf", "entities", "clusters", "mention_feats")}

    def local():
        return spark.createDataFrame(qpd, schema=schema.PAGES)
    rows, jobs = _request_jobs(spark, "q3-budget-warm", local, **tables)
    assert rows and jobs == [], jobs

    wh = Warehouse(spark, warehouse_dir)
    wh.write("idf", pipeline_out["idf"], snapshot="fresh")
    fresh, jobs = _request_jobs(spark, "q3-budget-fresh-idf", local,
                                **{**tables, "idf": wh.read("idf")})
    assert fresh == rows and jobs == [], jobs

    stranger = pd.DataFrame([_fabricated(0, random.Random(3))])[_PAGE_COLS]
    none, jobs = _request_jobs(
        spark, "q3-budget-stranger",
        lambda: spark.createDataFrame(stranger, schema=schema.PAGES),
        **tables)
    assert none == [] and jobs == [], jobs
    empty, jobs = _request_jobs(
        spark, "q3-budget-empty",
        lambda: spark.createDataFrame(qpd.iloc[:0], schema=schema.PAGES),
        **tables)
    assert empty == [] and len(jobs) <= 1, jobs

    mix = _query_fixture("mix64", corpus_pd, warehouse_pd)
    path = f"{warehouse_dir}/query_pages"
    spark.createDataFrame(mix, schema=schema.PAGES).write.parquet(path)
    scanned, jobs = _request_jobs(
        spark, "q3-budget-parquet",
        lambda: spark.read.schema(schema.PAGES).parquet(path), **tables)
    assert jobs == [1], jobs
    assert scanned == _engine_rows(spark, pipeline_out, mix)


def test_query_prepare_path_follows_plan(spark, pipeline_out, corpus_pd,
                                         warehouse_pd, warehouse_dir,
                                         monkeypatch):
    """A local request frame is derived on the driver; query pages behind
    a scan (a parquet file, a stream micro-batch, of any size) are
    derived in the Python workers, so their pages never reach the
    driver. Both give the same prepared rows."""
    from webr import query
    calls = []
    feats = query._query_feats

    def on_driver(pdf, idf):
        calls.append(len(pdf))
        return feats(pdf, idf)
    monkeypatch.setattr(query, "_query_feats", on_driver)
    mix = _query_fixture("mix64", corpus_pd, warehouse_pd)
    path = f"{warehouse_dir}/query_pages_plan"
    spark.createDataFrame(mix, schema=schema.PAGES).repartition(2) \
        .write.parquet(path)

    local = query.prepare_query_mentions(
        spark.createDataFrame(mix, schema=schema.PAGES), pipeline_out["idf"])
    assert calls == [len(mix)]
    scanned = query.prepare_query_mentions(
        spark.read.schema(schema.PAGES).parquet(path), pipeline_out["idf"])
    assert calls == [len(mix)]  # the scan's pages stayed in the workers
    assert scanned.sort_by("url").equals(local.sort_by("url"))


def test_query_new_clusters_compile_no_class(spark, pipeline_out, corpus_pd,
                                             warehouse_pd, compiled):
    """A warm request naming other clusters and last names reuses the
    classes the first request compiled: the candidate and member
    predicates hold their values as an array literal (a reference in the
    generated code), not as inlined literals, which at warehouse scale
    would compile new classes for almost every request."""
    ent = warehouse_pd[1].set_index("cluster_id")["last"]
    cl = warehouse_pd[2]
    members = cl[~cl.is_noise].drop_duplicates("cluster_id")
    # one page each of three clusters with three different last names
    picks = members[~members.cluster_id.map(ent).duplicated()].iloc[:3]
    assert len(picks) == 3
    by_url = corpus_pd.set_index("url", drop=False)
    first = _engine_rows(spark, pipeline_out,
                         by_url.loc[picks.url.iloc[:1], _PAGE_COLS])
    before = compiled()
    second = _engine_rows(spark, pipeline_out,
                          by_url.loc[picks.url.iloc[1:], _PAGE_COLS])
    assert compiled() == before
    top1 = {r[0]: r[1] for r in second if r[4] == 1}
    assert top1 == dict(zip(picks.url.iloc[1:], picks.cluster_id.iloc[1:]))
    assert {r[1] for r in first}.isdisjoint(top1.values())


def test_query_reads_only_candidate_rows(spark, pipeline_out, corpus_pd,
                                         warehouse_pd, monkeypatch):
    """A single-page request reads exactly the idf rows of the query's
    body tokens, the entity rows of the query's last name, the non-noise
    rows of the clusters that pass stage 1 (a subset of those
    candidates, holding the answer) and exactly those members'
    mention_feats rows: its reads are bounded by the request and its
    candidates, not by the warehouse."""
    from webr import query
    from webr.mentions import derive_mentions
    reads: dict = {}

    class Recorded:
        def __init__(self, dset, arg):
            self.dset, self.arg = dset, arg

        def to_table(self, **kw):
            t = self.dset.to_table(**kw)
            reads.setdefault(self.arg, []).append(t.to_pandas())
            return t

    committed = query._committed
    monkeypatch.setattr(query, "_committed",
                        lambda df, arg: Recorded(committed(df, arg), arg))
    qpd = _query_fixture("single", corpus_pd, warehouse_pd)
    rows = _engine_rows(spark, pipeline_out, qpd)
    idf_d, ent_pd, cl_pd, mf_pd = warehouse_pd
    (idf,), (ent,), (cl,), (mf,) = (reads[a] for a in (
        "idf", "entities", "clusters", "mention_feats"))

    toks = set(derive_mentions(qpd).body_toks.iloc[0])
    assert sorted(idf.token) == sorted(toks & set(idf_d))
    assert idf.idf.tolist() == [idf_d[t] for t in idf.token]
    assert 0 < len(idf) < len(idf_d)

    own = next(r[1] for r in rows if r[4] == 1)
    last = ent_pd.set_index("cluster_id").at[own, "last"]
    assert set(ent["last"]) == {last}
    assert len(ent) == (ent_pd["last"] == last).sum() < len(ent_pd)

    named = set(cl.cluster_id)
    assert {r[1] for r in rows} <= named <= set(ent.cluster_id)
    live = cl_pd[~cl_pd.is_noise & cl_pd.cluster_id.isin(named)]
    assert sorted(cl.url) == sorted(live.url)
    want = mf_pd[mf_pd.url.isin(live.url)]
    assert sorted(mf.url) == sorted(want.url) and len(mf) < len(mf_pd)


@pytest.mark.parametrize("arg", ["idf", "entities", "clusters"])
def test_query_lookup_tables_must_be_committed(spark, pipeline_out,
                                              corpus_pd, warehouse_pd, arg):
    """The lookups read the files behind a table, not its plan: a
    filtered frame or a local copy raises instead of being answered
    from rows it does not hold."""
    tables = {t: pipeline_out[t] for t in
              ("idf", "entities", "clusters", "mention_feats")}
    if arg == "idf":
        tables[arg] = tables[arg].where("df > 0")
    elif arg == "entities":
        tables[arg] = tables[arg].where("n_members > 0")
    else:
        tables[arg] = spark.createDataFrame(warehouse_pd[2],
                                            schema=tables[arg].schema)
    qpd = _query_fixture("single", corpus_pd, warehouse_pd)
    with pytest.raises(ValueError, match=f"match_records: {arg} must be"):
        match_records(spark.createDataFrame(qpd, schema=schema.PAGES),
                      *tables.values())


def test_query_warehouse_path_with_escapes(spark, pipeline_out, corpus_pd,
                                          warehouse_pd, warehouse_dir):
    """A warehouse under a root whose name holds a space and a '%' (the
    part files' URIs percent-escape both) answers like the shared one."""
    from webr.catalog import Warehouse
    wh = Warehouse(spark, f"{warehouse_dir}/a b%25c")
    names = ("idf", "entities", "clusters", "mention_feats")
    for t in names:
        wh.write(t, pipeline_out[t], snapshot="copy")
    assert "/a%20b%2525c/" in wh.read("entities").inputFiles()[0]
    qpd = _query_fixture("mix64", corpus_pd, warehouse_pd)
    res = match_records(spark.createDataFrame(qpd, schema=schema.PAGES),
                        *map(wh.read, names))
    assert sorted(tuple(r) for r in res.collect()) == _engine_rows(
        spark, pipeline_out, qpd)


def test_query_reads_rewritten_idf(spark, pipeline_out, corpus_pd,
                                   warehouse_pd, warehouse_dir):
    """A request reads the idf files the table names at that moment: after
    the table is rewritten (here with every idf squared), the next
    request answers like the pandas twin given the new idf, not like
    the first request."""
    from webr.catalog import Warehouse
    from webr.oracle import record_query
    wh = Warehouse(spark, warehouse_dir)
    qpd = _query_fixture("mix64", corpus_pd, warehouse_pd)
    tables = [pipeline_out[t] for t in
              ("entities", "clusters", "mention_feats")]

    def request():
        res = match_records(spark.createDataFrame(qpd, schema=schema.PAGES),
                            wh.read("idf"), *tables)
        return sorted(tuple(r) for r in res.collect())
    wh.write("idf", pipeline_out["idf"], snapshot="v1")
    first = request()
    assert first == _engine_rows(spark, pipeline_out, qpd)
    idf = pipeline_out["idf"]
    wh.write("idf", idf.withColumn("idf", idf.idf * idf.idf), snapshot="v2")
    squared = {t: v * v for t, v in warehouse_pd[0].items()}
    want = record_query.match_records(qpd, squared, *warehouse_pd[1:])
    second = request()
    assert second == sorted(tuple(r) for r in want.itertuples(index=False))
    assert second and second != first
