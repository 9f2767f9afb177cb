"""The pipeline tail — pair_scores, clusters, entities — in few Spark jobs,
with outputs pinned to the oracle and to the pandas entities twin.

- job budget per stage, counted from Spark's own job groups;
- a second run in the session compiles no generated class;
- the pair-scoring kernel spread over the session's cores;
- both connected-components finishes (count-free single task,
  distributed ``_resolve``) give the same labels on a multi-file
  pair_scores table, and ``label_clusters`` equals the oracle on each;
- ``build_entities`` equals ``webr.oracle.entities`` row for row,
  planted vote ties and host containment included.
"""

from __future__ import annotations

import pandas as pd

CLUSTERS_JOBS_MAX = 10
ENTITIES_JOBS_MAX = 6
PIPELINE_JOBS_MAX = 32


def _stage_jobs(spark, monkeypatch, run):
    """Run ``run()`` with every Warehouse.stage in a job group of its own
    -> {stage: [job ids]}."""
    import uuid

    from webr.catalog import Warehouse
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    orig = Warehouse.stage
    seen: list = []

    def stage(wh, table, *args, **kwargs):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"{tag}-{table}")
        seen.append(table)
        try:
            return orig(wh, table, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    monkeypatch.setattr(Warehouse, "stage", stage)
    run()
    st = sc.statusTracker()
    return {t: sorted(st.getJobIdsForGroup(f"{tag}-{t}")) for t in seen}


def test_stage_job_budget(spark, pages_df, warehouse_dir, monkeypatch):
    """A cold Pipeline.run stays inside the tail's job budget, and the
    pair-scoring kernel runs on every core instead of the single task
    AQE would coalesce its small shuffle into."""
    from webr.engine import Pipeline
    jobs = _stage_jobs(spark, monkeypatch, lambda: Pipeline(
        spark, warehouse_dir, input_id="budget-v1").run(pages_df))
    n = {t: len(j) for t, j in jobs.items()}
    assert set(n) == set(Pipeline.STAGES), n
    assert n["clusters"] <= CLUSTERS_JOBS_MAX, n
    assert n["entities"] <= ENTITIES_JOBS_MAX, n
    assert sum(n.values()) <= PIPELINE_JOBS_MAX, n

    # the stage's last job is its write; that job's result stage runs the
    # cogroup kernel, one task per cogroup partition
    st = spark.sparkContext.statusTracker()
    result_stage = max(st.getJobInfo(jobs["pair_scores"][-1]).stageIds)
    tasks = st.getStageInfo(result_stage).numTasks
    assert tasks >= min(4, spark.sparkContext.defaultParallelism), tasks


def test_second_run_compiles_no_class(spark, pages_df, warehouse_dir,
                                      compiled):
    """A second Pipeline.run in the session, into a fresh warehouse,
    compiles no generated class: the codegen cache holds a run's working
    set (webr.session.CODEGEN_CACHE_CONF; Spark's default of 100 is
    flushed by every run), and no stage plan inlines an input-dependent
    literal."""
    from webr.engine import Pipeline
    counts = []
    for name in ("a", "b"):
        before = compiled()
        Pipeline(spark, f"{warehouse_dir}/{name}",
                 input_id="compile-v1").run(pages_df)
        counts.append(compiled() - before)
    assert counts[1] == 0, counts


def _sorted(df, *cols) -> pd.DataFrame:
    return df.toPandas().sort_values(list(cols)).reset_index(drop=True)


def test_cc_paths_agree_on_multi_file_scores(spark, pipeline_out,
                                             oracle_result, monkeypatch):
    """Once pair_scores spans several files, the count-free single-task
    finish and the distributed ``_resolve`` finish give identical
    (url, rep); label_clusters equals the oracle on the count-free path
    (window ids) and on the ``_resolve`` path (zipWithIndex ids)."""
    from webr import cluster
    from webr.cluster import connected_components, label_clusters
    ps = pipeline_out["pair_scores"]
    assert len(ps.inputFiles()) >= 4
    n_scored = ps.count()
    edges = ps.where("is_edge").select("url_1", "url_2")

    free, one_task = connected_components(edges, n_scored)
    assert one_task
    free = _sorted(free, "url")
    gold = oracle_result.clusters.sort_values("url").reset_index(drop=True)
    mentions = pipeline_out["mentions"]
    free_cl = _sorted(label_clusters(mentions, edges, edges_max=n_scored),
                      "url")
    monkeypatch.setattr(cluster, "CC_FINAL_ROWS_MAX", 0)
    resolve, one_task = connected_components(edges)
    assert not one_task
    resolve = _sorted(resolve, "url")
    assert len(free) > 0
    assert list(free.url) == list(resolve.url)
    assert list(free.rep) == list(resolve.rep)
    resolve_cl = _sorted(label_clusters(mentions, edges), "url")
    for cl in (free_cl, resolve_cl):
        assert list(cl.url) == list(gold.url)
        assert (cl.cluster_id.values == gold.cluster_id.values).all()
        assert (cl.is_noise.values == gold.is_noise.values).all()


def _entity_rows(df: pd.DataFrame) -> list:
    return sorted(
        (r.cluster_id, r.canonical_name, r.last, r.first_initial,
         r.n_members, list(r.hosts),
         None if r.profile is None else sorted(dict(r.profile).items()))
        for r in df.itertuples())


def test_entities_match_pandas_twin(pipeline_out):
    from webr.engine import build_entities
    from webr.oracle.entities import build_entities as twin
    got = pipeline_out["entities"].toPandas()
    want = twin(pipeline_out["mentions"].toPandas(),
                pipeline_out["idf"].toPandas(),
                pipeline_out["clusters"].toPandas())
    assert len(got) == len(want) > 0
    assert _entity_rows(got) == _entity_rows(want)
    # a small profile cut exercises the top-N boundary as well
    small = build_entities(pipeline_out["mentions"], pipeline_out["idf"],
                           pipeline_out["clusters"], profile_top=3)
    assert _entity_rows(small.toPandas()) == _entity_rows(twin(
        pipeline_out["mentions"].toPandas(), pipeline_out["idf"].toPandas(),
        pipeline_out["clusters"].toPandas(), profile_top=3))


def test_entities_votes_ties_and_nulls(spark):
    """Planted ties: every vote ties two values on count and the lowest
    wins; a null name that out-counts the others wins its vote (nulls
    are values, as in an ascending sort); token weights tie at the
    profile cut; the host list keeps the containment dedup. Spark and
    the pandas twin agree on every row."""
    from webr.engine import build_entities
    from webr.oracle.entities import build_entities as twin
    rows = []

    def add(cid, name, first, last, host, toks):
        u = f"u{len(rows):03d}"
        rows.append((cid, (u, u, host, name, first, "", last, ["t"], toks)))

    # cluster 1: name/last/initial/host ties, equal token weights
    for name, first, last, host in [("ann lee", "ann", "lee", "b.org"),
                                    ("ann lee", "ann", "lee", "a.org"),
                                    ("bob ray", "bob", "ray", "b.org"),
                                    ("bob ray", "bob", "ray", "a.org")]:
        add(1, name, first, last, host, ["x", "y", "z"])
    # cluster 2: the null name wins on count; tokens unknown to idf
    for name in [None, None, "cy do"]:
        add(2, name, "cy" if name else None, "do", "c.net", ["nope"])
    # cluster 3: the host-containment case
    hosts = (["mega.org"] * 5 + ["a.mega.org"] * 4 + ["other.net"] * 3
             + ["b.mega.org"] * 2 + ["x.other.net", "unrelated.io"])
    for h in hosts:
        add(3, "jane doe", "jane", "doe", h, ["tok", "x"])
    mentions_pd = pd.DataFrame(
        [r for _, r in rows],
        columns=["url", "doc_id", "host", "name_norm", "first", "middle",
                 "last", "title_toks", "body_toks"])
    clusters_pd = pd.DataFrame({
        "url": mentions_pd.url, "cluster_id": [c for c, _ in rows],
        "is_noise": False})
    idf_pd = pd.DataFrame({"token": ["tok", "x", "y", "z"],
                           "idf": [0.5, 1.0, 1.0, 1.0]})
    mentions = spark.createDataFrame(
        mentions_pd, "url string, doc_id string, host string, "
                     "name_norm string, first string, middle string, "
                     "last string, title_toks array<string>, "
                     "body_toks array<string>")
    clusters = spark.createDataFrame(
        clusters_pd, "url string, cluster_id long, is_noise boolean")
    idf = spark.createDataFrame(idf_pd, "token string, idf double")
    for top in (256, 2):
        got = build_entities(mentions, idf, clusters,
                             profile_top=top).toPandas()
        want = twin(mentions_pd, idf_pd, clusters_pd, profile_top=top)
        assert _entity_rows(got) == _entity_rows(want), top
    by_id = {r.cluster_id: r for r in got.itertuples()}
    assert (by_id[1].canonical_name, by_id[1].last,
            by_id[1].first_initial) == ("ann lee", "lee", "a")
    assert list(by_id[1].hosts) == ["a.org", "b.org"]
    assert dict(by_id[1].profile) == {"x": 4.0, "y": 4.0}
    assert by_id[2].canonical_name is None and by_id[2].profile is None
    assert by_id[2].n_members == 3
    assert list(by_id[3].hosts) == ["mega.org", "other.net", "unrelated.io"]
