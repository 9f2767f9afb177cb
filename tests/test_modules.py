"""Modules without a test file of their own: streaming ingest and record
assignment, ANN similarity, learned blocking, connected components, the
warehouse commit, the CLI, the pair kernels and media sniffing."""

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest


# --- streaming ---------------------------------------------------------------

def test_streaming_ingest_and_window_counts(spark, corpus_pd):
    """Staging ingest lands every page once; a re-run on the same
    checkpoint appends nothing."""
    from webr import schema
    from webr.streaming import ingest_to_staging

    d = tempfile.mkdtemp(prefix="webr_stream_")
    in_dir = os.path.join(d, "in")
    staging = os.path.join(d, "staging")
    ckpt = os.path.join(d, "ckpt")
    pages = spark.createDataFrame(
        corpus_pd[["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES)
    pages.repartition(4).write.parquet(in_dir)

    q = ingest_to_staging(spark, in_dir, staging, ckpt)
    q.awaitTermination(120)
    staged = spark.read.parquet(staging)
    assert staged.count() == len(corpus_pd)
    assert "_epoch" in staged.columns

    # re-run with same checkpoint: no duplicate ingestion (exactly-once)
    q2 = ingest_to_staging(spark, in_dir, staging, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(staging).count() == len(corpus_pd)


def test_streaming_staging_replayed_epoch_lands_once(spark, corpus_pd):
    """A crash after the staging write but before the stream's commit log
    entry replays the epoch; the replay replaces the epoch's rows instead
    of appending them a second time."""
    from webr import schema
    from webr.streaming import ingest_to_staging

    d = tempfile.mkdtemp(prefix="webr_stage_replay_")
    in_dir, staging, ckpt = (os.path.join(d, n)
                             for n in ("in", "staging", "ckpt"))
    (spark.createDataFrame(
        corpus_pd[["url", "warc_ts", "html", "text", "lang"]].iloc[:13],
        schema=schema.PAGES).coalesce(1).write.parquet(in_dir))
    for replay in (False, True):
        if replay:  # the commit log entry of epoch 0 never got written
            for name in ("0", ".0.crc"):
                os.remove(os.path.join(ckpt, "commits", name))
        assert ingest_to_staging(spark, in_dir, staging,
                                 ckpt).awaitTermination(120)
        staged = spark.read.parquet(staging)
        assert staged.count() == staged.select("url").distinct().count() \
            == 13
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_assign_matches_record_query(spark, corpus_pd,
                                               warehouse_dir):
    """Streamed pages get the cluster ``match_records`` ranks first on the
    same warehouse (one rule for the stream, ``webr query`` and Q3),
    upserted by url into ``assignments``. Two drops, restarts on one
    checkpoint: a restart without new files merges nothing, the second
    drop's merge chains to the first. Two more drops, each through a
    fresh checkpoint, are two more streams whose epoch 0 commits must not
    pass for replays of another's. The drops carry held-out corpus
    pages, a page that matches nothing (noise 0), John/Jane Brookstone
    pages behind initial-only 'J Brookstone' pages that sort first (a
    first-compatible-representative rule would put John and Jane in
    one cluster), and a re-crawl whose latest version must win."""
    import datetime as dt

    import pandas as pd

    from webr import schema
    from webr.catalog import Warehouse
    from webr.engine import Pipeline
    from webr.query import match_records
    from webr.streaming import assign_stream
    from webr.synth import (
        BRIDGE_INITIAL, BRIDGE_JANE, BRIDGE_JOHN, generate_bridge_pages,
        pages_to_pandas,
    )

    cols = ["url", "warc_ts", "html", "text", "lang"]
    bridge = pages_to_pandas(generate_bridge_pages())
    bridge = bridge[bridge.url.str.contains("/b/brookstone-")]
    bridge["url"] = [u.replace("/b/", "/a/") if e == BRIDGE_INITIAL else u
                     for u, e in zip(bridge.url, bridge.entity_id)]
    b_held = ((bridge.groupby("entity_id").cumcount() >= 4)
              | (bridge.entity_id == BRIDGE_INITIAL)).values
    c_held = (pd.RangeIndex(len(corpus_pd)) % 5 == 0)
    base = pd.concat([corpus_pd[~c_held][cols], bridge[~b_held][cols]])
    Pipeline(spark, warehouse_dir, input_id="assign-v1").run(
        spark.createDataFrame(base, schema=schema.PAGES))
    wh = Warehouse(spark, warehouse_dir)

    held = corpus_pd[c_held][cols].sort_values("url")
    nomatch = held.iloc[:1].assign(
        url="https://nowhere.example/1",
        html=[b"<html><body><h1>Xqz Vvkw</h1><p>qqq</p></body></html>"])
    stale = held.iloc[-1:].assign(
        warc_ts=held.warc_ts.iloc[-1] - dt.timedelta(days=3),
        html=nomatch.html.values)
    drop1 = pd.concat([bridge[b_held][cols], nomatch,
                       held.iloc[:len(held) // 2]])
    drop2 = pd.concat([stale, held.iloc[len(held) // 2:]])
    assert drop1.url.min().startswith("https://bridge.example.org/a/")

    d = tempfile.mkdtemp(prefix="webr_assign_")
    in_dir, ckpt = os.path.join(d, "in"), os.path.join(d, "ckpt")

    def drain(drop=None, name=None, src="drop*", ckpt=ckpt):
        if drop is not None:  # one file per drop: one micro-batch
            (spark.createDataFrame(drop, schema=schema.PAGES).coalesce(1)
             .write.parquet(os.path.join(in_dir, name)))
        q = assign_stream(spark, os.path.join(in_dir, src), warehouse_dir,
                          ckpt)
        assert q.awaitTermination(300)
        return wh.manifest("assignments")

    m1 = drain(drop1, "drop1")
    assert m1["rows"] == len(drop1)
    assert m1["lineage"]["parent"] is None
    assert m1["lineage"]["clusters"] == wh.manifest("clusters")["snapshot"]
    assert drain() == m1  # restart, nothing new: nothing merged
    m2 = drain(drop2, "drop2")
    assert m2["lineage"]["parent"] == m1["snapshot"]
    assert m2["lineage"]["epoch"] > m1["lineage"]["epoch"]
    assert m2["lineage"]["stream"] == m1["lineage"]["stream"]

    got = (wh.read("assignments").toPandas()
           .sort_values("url").reset_index(drop=True))
    streamed = pd.concat([drop1, drop2.iloc[1:]])  # the stale one lost
    assert len(got) == len(streamed) == m2["rows"]
    top = (match_records(spark.createDataFrame(streamed, schema=schema.PAGES),
                         *map(wh.read, ("idf", "entities", "clusters",
                                        "mention_feats")))
           .where("rank = 1").toPandas())
    want = dict(zip(top.q_url, top.cluster_id))
    assert list(got.url) == sorted(streamed.url)
    assert list(got.cluster_id) == [want.get(u, 0) for u in got.url]
    assert list(got.is_noise) == [u not in want for u in got.url]
    # the re-crawl kept its latest version, which matches a cluster
    recrawl = got[got.url == stale.url.iloc[0]].iloc[0]
    assert recrawl.warc_ts == held.warc_ts.iloc[-1] and not recrawl.is_noise
    assert got[got.url == nomatch.url.iloc[0]].cluster_id.tolist() == [0]
    ent = dict(zip(bridge.url, bridge.entity_id))
    by_ent = got.assign(entity=got.url.map(ent)).groupby("entity")
    john = set(by_ent.get_group(BRIDGE_JOHN).cluster_id)
    jane = set(by_ent.get_group(BRIDGE_JANE).cluster_id)
    assert 0 not in john | jane and not (john & jane)
    # two versions of one url with one warc_ts: the batch fails, as a
    # record query with them fails, and merges nothing
    clash = pd.concat([nomatch,
                       nomatch.assign(html=held.html.iloc[:1].values)])
    with pytest.raises(Exception, match="different content"):
        drain(clash.assign(url="https://nowhere.example/2"), "drop3")
    assert wh.manifest("assignments") == m2
    # a fresh checkpoint starts another stream: its epoch 0 is a new
    # snapshot chained to the last commit, not a replay of the epoch 0 of
    # an earlier stream
    m3 = drain(held.iloc[:2], "fresh1", "fresh1", os.path.join(d, "ckpt1"))
    m4 = drain(held.iloc[2:4], "fresh2", "fresh2", os.path.join(d, "ckpt2"))
    assert m3["lineage"]["epoch"] == m4["lineage"]["epoch"] == 0
    assert m3["snapshot"] not in (m1["snapshot"], m2["snapshot"])
    assert m3["lineage"]["parent"] == m2["snapshot"]
    assert m4["snapshot"] != m3["snapshot"]
    assert m4["lineage"]["parent"] == m3["snapshot"]
    assert m4["rows"] == m2["rows"]  # the same pages, upserted again
    shutil.rmtree(d, ignore_errors=True)


# --- similarity: LSH vs brute force ------------------------------------------

@pytest.fixture(scope="module")
def embeddings_df(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_lsh_recall_vs_brute_force(spark, embeddings_df):
    from webr.similarity import brute_force_topk, lsh_topk
    queries = (embeddings_df.where(F.col("vec_id") % 100 == 0)
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    exact = brute_force_topk(embeddings_df, queries, k=5).toPandas()
    approx = lsh_topk(embeddings_df, queries, dim=64, k=5,
                      n_tables=6, n_bits=4, probe_hamming=1).toPandas()
    exact_sets = exact.groupby("q_id")["vec_id"].apply(set)
    approx_sets = approx.groupby("q_id")["vec_id"].apply(set)
    recalls = [len(exact_sets[q] & approx_sets.get(q, set()))
               / len(exact_sets[q]) for q in exact_sets.index]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_ivf_runs_and_ranks(spark, embeddings_df):
    from webr.similarity import ivf_topk
    queries = (embeddings_df.where(F.col("vec_id") % 250 == 0)
               .select(F.col("vec_id").alias("q_id"), "embedding"))
    res = ivf_topk(embeddings_df, queries, dim=64, k=3).toPandas()
    assert set(res.columns) == {"q_id", "vec_id", "cosine", "rk"}
    assert (res.groupby("q_id")["rk"].max() <= 3).all()
    assert len(res) > 0


# --- learned blocking (A11/M4) -------------------------------------------------

def test_learned_blocking_dnf(spark):
    from webr.blocking_learn import evaluate_scheme, learn_dnf
    # 400 labeled pairs; pred_good covers most matches tightly, pred_extra
    # adds the remaining matches plus some noise, pred_all covers everything
    # (rr=0 => adding it must never help).
    rows = []
    for i in range(400):
        match = i % 10 == 0                      # 40 matches
        pred_good = match and i % 20 == 0        # half the matches, 0 noise
        pred_extra = match or (i % 7 == 0)       # all matches + noise
        rows.append((match, pred_good, pred_extra, True))
    pairs = spark.createDataFrame(
        rows, "match boolean, pred_good boolean, pred_extra boolean, "
              "pred_all boolean")
    steps = learn_dnf(pairs, ["pred_good", "pred_extra", "pred_all"])
    assert steps, "learner must pick at least one term"
    final = steps[-1]
    assert "pred_all" not in final.predicates     # rr=0 term never helps
    # F must be monotonically non-decreasing across greedy steps
    fs = [s.f for s in steps]
    assert fs == sorted(fs)
    # the scheme must beat each single weaker predicate it extends
    ev_extra = evaluate_scheme(pairs, ["pred_extra"])
    assert final.f >= ev_extra.f
    assert 0.0 <= final.rr <= 1.0 and 0.0 <= final.pc <= 1.0
    # sanity of the metric definitions on a known scheme
    ev_good = evaluate_scheme(pairs, ["pred_good"])
    assert ev_good.pc == 0.5 and ev_good.rr == 1.0 - 20 / 400


# --- connected components: distributed final pass (_resolve) ------------------

def test_cc_resolve_matches_single_task(spark, monkeypatch):
    """Force the forest budget to 0 so connected components finishes via
    the distributed min-label propagation instead of the single final
    task; the labels must be identical. Graph: chains + stars +
    cross-partition bridges scattered over many partitions."""
    from webr import cluster
    from webr.cluster import connected_components
    edges = []
    # 40 chains of length 6 (urls interleaved so partitions cut chains)
    for c in range(40):
        for i in range(5):
            edges.append((f"u{i * 40 + c:04d}", f"u{(i + 1) * 40 + c:04d}"))
    # a star and a bridge merging two chains
    for i in range(10):
        edges.append(("star-center", f"star-leaf-{i}"))
    edges.append(("u0000", "u0001"))
    df = (spark.createDataFrame(edges, "url_1 string, url_2 string")
          .repartition(16))
    single, one_task = connected_components(df)
    assert one_task
    single = single.toPandas().sort_values("url").reset_index(drop=True)
    monkeypatch.setattr(cluster, "CC_FINAL_ROWS_MAX", 0)
    dist, one_task = connected_components(df)
    assert not one_task
    dist = dist.toPandas().sort_values("url").reset_index(drop=True)
    assert list(single.url) == list(dist.url)
    assert list(single.rep) == list(dist.rep)
    # reps are component minima
    mins = single.groupby("rep")["url"].min()
    assert (mins.index == mins.values).all()


# --- warehouse MERGE/upsert (K4) ----------------------------------------------

def test_warehouse_merge_upsert(spark, warehouse_dir):
    """K4 MERGE semantics: incoming rows replace same-key rows, others are
    kept, new keys insert; the manifest chains the parent snapshot."""
    from webr.catalog import Warehouse
    wh = Warehouse(spark, warehouse_dir)
    v1 = spark.createDataFrame(
        [(1, "alice", 3), (2, "bob", 5), (3, "carol", 2)],
        "cluster_id long, canonical_name string, n_members long")
    wh.write("entities", v1, snapshot="snap-v1")
    upd = spark.createDataFrame(
        [(2, "robert", 6), (4, "dave", 2)],
        "cluster_id long, canonical_name string, n_members long")
    out = (wh.merge("entities", upd, keys=["cluster_id"],
                    snapshot="snap-v2").toPandas()
           .sort_values("cluster_id").reset_index(drop=True))
    assert list(out.cluster_id) == [1, 2, 3, 4]
    assert list(out.canonical_name) == ["alice", "robert", "carol", "dave"]
    assert list(out.n_members) == [3, 6, 2, 2]
    man = wh.manifest("entities")
    assert man["table"] == "entities"
    assert man["snapshot"] == "snap-v2"
    assert man["lineage"]["parent"] == "snap-v1"
    assert man["lineage"]["merge_keys"] == ["cluster_id"]
    assert man["rows"] == 4
    # merging into a missing table degrades to a plain write
    wh.merge("fresh", upd, keys=["cluster_id"], snapshot="snap-f1")
    assert wh.manifest("fresh")["snapshot"] == "snap-f1"
    # duplicate key tuples in the incoming df must be rejected, not
    # silently inserted twice
    dup = spark.createDataFrame(
        [(5, "eve", 1), (5, "evelyn", 2)],
        "cluster_id long, canonical_name string, n_members long")
    with pytest.raises(ValueError, match="not unique"):
        wh.merge("entities", dup, keys=["cluster_id"], snapshot="snap-v3")
    # the failed merge left the table untouched
    assert wh.manifest("entities")["snapshot"] == "snap-v2"
    assert wh.read("entities").count() == 4


def test_warehouse_merge_replay_and_new_table(spark, warehouse_dir):
    """Merging the same rows twice (a replayed stream epoch) leaves the
    table's content unchanged; a missing table takes the same staged
    path, duplicate-key check included."""
    from webr.catalog import Warehouse
    wh = Warehouse(spark, warehouse_dir)
    ddl = "url string, cluster_id long, is_noise boolean"
    dup = spark.createDataFrame([("u1", 1, False), ("u1", 2, False)], ddl)
    with pytest.raises(ValueError, match="not unique"):
        wh.merge("t", dup, keys=["url"], snapshot="s0")
    assert wh.manifest("t") is None
    assert os.listdir(warehouse_dir) == []
    rows = spark.createDataFrame([("u1", 1, False), ("u2", 0, True)], ddl)

    def content():
        return sorted(wh.read("t").collect())

    wh.merge("t", rows, keys=["url"], snapshot="s1")
    once = content()
    assert wh.manifest("t")["lineage"]["parent"] is None
    wh.merge("t", rows, keys=["url"], snapshot="s2")
    assert content() == once and len(once) == 2
    assert wh.manifest("t")["lineage"]["parent"] == "s1"


def test_warehouse_merge_evaluates_input_once(spark, warehouse_dir):
    """Merging into an existing table runs the incoming plan once: a
    100-row Python input sends 100 rows through Python, not one pass per
    use (the anti-join keys and the union read it twice before)."""
    from webr.catalog import Warehouse
    wh = Warehouse(spark, warehouse_dir)
    ddl = "url string, cluster_id long, is_noise boolean"
    wh.merge("t", spark.createDataFrame(
        [(f"u{i}", 1, False) for i in range(0, 150, 3)], ddl),
        keys=["url"], snapshot="s1")
    seen = spark.sparkContext.accumulator(0)

    def tag(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf.assign(cluster_id=2)

    incoming = spark.range(100).selectExpr(
        "concat('u', id) as url", "0L as cluster_id",
        "false as is_noise").mapInPandas(tag, ddl)
    out = wh.merge("t", incoming, keys=["url"], snapshot="s2")
    assert seen.value == 100
    got = {r.url: r.cluster_id for r in out.collect()}
    # 100 incoming rows replace or add; the 17 old keys >= 100 stay
    assert len(got) == 100 + len(range(102, 150, 3))
    assert {got[f"u{i}"] for i in range(100)} == {2}
    assert {got[f"u{i}"] for i in range(102, 150, 3)} == {1}


def test_warehouse_merge_replay_after_failed_swap(spark, warehouse_dir,
                                                  monkeypatch):
    """A merge that fails at the manifest replace (its commit) leaves the
    old snapshot readable; the replayed merge keeps the old rows, and a
    second replay under the same snapshot id (a stream epoch replayed
    after its commit) changes neither the rows nor the parent."""
    from webr.catalog import Warehouse
    wh = Warehouse(spark, warehouse_dir)
    ddl = "url string, cluster_id long, is_noise boolean"
    wh.merge("t", spark.createDataFrame(
        [(f"u{i}", 1, False) for i in range(10)], ddl),
        keys=["url"], snapshot="s1")
    one = spark.createDataFrame([("new", 2, False)], ddl)
    replace = os.replace

    def failing(src, dst):
        if dst.endswith("_manifest.json"):
            raise OSError("crash at the manifest replace")
        replace(src, dst)

    monkeypatch.setattr(os, "replace", failing)
    with pytest.raises(OSError, match="crash"):
        wh.merge("t", one, keys=["url"], snapshot="s2")
    monkeypatch.setattr(os, "replace", replace)
    assert wh.manifest("t")["snapshot"] == "s1"
    assert wh.read("t").count() == 10
    want = {**{f"u{i}": 1 for i in range(10)}, "new": 2}
    for _ in range(2):
        wh.merge("t", one, keys=["url"], snapshot="s2")
        got = {r.url: r.cluster_id for r in wh.read("t").collect()}
        assert got == want
        assert wh.manifest("t")["lineage"]["parent"] == "s1"
    assert sorted(os.listdir(warehouse_dir)) == ["t"]
    assert sorted(os.listdir(os.path.join(warehouse_dir, "t"))) == [
        "_manifest.json", wh.manifest("t")["data"]]


class _Crash(Exception):
    pass


@pytest.mark.parametrize("point", ["build", "before_replace", "replace",
                                   "cleanup"])
@pytest.mark.parametrize("op", ["write", "merge", "merge_new"])
def test_warehouse_commit_fault_injection(spark, warehouse_dir, monkeypatch,
                                          op, point):
    """A write, a merge into an existing table or a merge into a missing
    one, crashed in its build, between its data write and the manifest
    replace (mid-``json.dump``), at the replace, or while it removes the
    old data dirs. Before the replace the table reads as the old snapshot
    (or is missing); after it, as the new one: never empty or mixed. The
    replayed call gives the rows and parent of an uncrashed one and
    leaves only the data dir its manifest names."""
    import json
    import shutil

    from webr.catalog import Warehouse
    wh = Warehouse(spark, warehouse_dir)
    ddl = "url string, cluster_id long, is_noise boolean"
    old = [(f"u{i}", 1, False) for i in range(6)]
    new = [("u0", 2, False), ("new", 3, True)]
    want, parent = {
        "write": (new, None),
        "merge": (new + old[1:], "s1"),
        "merge_new": (new, None)}[op]
    if op != "merge_new":
        wh.write("t", spark.createDataFrame(old, ddl), snapshot="s1")
    # a data dir orphaned by a crash before some earlier commit
    os.makedirs(os.path.join(warehouse_dir, "t", "data-orphan"))

    def call(df):
        if op == "write":
            return wh.write("t", df, snapshot="s2")
        return wh.merge("t", df, keys=["url"], snapshot="s2")

    def boom(batches):
        for _ in batches:
            raise RuntimeError("crash in the build")
        yield from ()

    def dump(obj, f, **kw):
        f.write(json.dumps(obj)[:20])  # a truncated temp manifest
        raise _Crash("crash in json.dump")

    def replace(src, dst):
        raise _Crash("crash at os.replace")

    def rmtree(path, *a, **kw):
        raise _Crash("crash in the cleanup")

    df = spark.createDataFrame(new, ddl)
    if point == "build":
        df = df.mapInPandas(boom, ddl)
    else:
        target, name, fake = {"before_replace": (json, "dump", dump),
                              "replace": (os, "replace", replace),
                              "cleanup": (shutil, "rmtree", rmtree)}[point]
        monkeypatch.setattr(target, name, fake)
    with pytest.raises(Exception, match="crash"):
        call(df)
    monkeypatch.undo()
    if point == "cleanup":  # the replace committed the new snapshot
        assert sorted(wh.read("t").collect()) == sorted(want)
    elif op == "merge_new":
        assert wh.manifest("t") is None
    else:
        assert wh.manifest("t")["snapshot"] == "s1"
        assert sorted(wh.read("t").collect()) == sorted(old)

    out = call(spark.createDataFrame(new, ddl))
    assert sorted(out.collect()) == sorted(wh.read("t").collect()) \
        == sorted(want)
    man = wh.manifest("t")
    assert (man["snapshot"], man["lineage"].get("parent")) == ("s2", parent)
    assert sorted(os.listdir(os.path.join(warehouse_dir, "t"))) == [
        "_manifest.json", man["data"]]


def test_warehouse_old_layout_manifest_rebuilds(spark, warehouse_dir):
    """A manifest without ``data`` (the old single ``data/`` dir layout)
    counts as absent: the stage rebuilds it instead of failing, and the
    commit removes the old dir."""
    import json

    from webr.catalog import Warehouse
    wh = Warehouse(spark, warehouse_dir)
    wh.stage("t", "snap-1", lambda: spark.range(5))
    t = os.path.join(warehouse_dir, "t")
    man = wh.manifest("t")
    os.rename(os.path.join(t, man.pop("data")), os.path.join(t, "data"))
    with open(os.path.join(t, "_manifest.json"), "w") as f:
        json.dump(man, f)
    assert not wh.has_snapshot("t", "snap-1")
    out = wh.stage("t", "snap-1", lambda: spark.range(7))
    assert out.count() == 7
    assert sorted(os.listdir(t)) == ["_manifest.json",
                                     wh.manifest("t")["data"]]


def test_learned_blocking_cnf(spark):
    from webr.blocking_learn import evaluate_scheme, learn_cnf
    # pred_a / pred_b each admit all matches plus DIFFERENT noise slices;
    # their conjunction keeps PC=1 while shrinking candidates (RR up).
    rows = []
    for i in range(600):
        match = i % 12 == 0                       # 50 matches
        pred_a = match or (i % 5 == 1)            # matches + noise A
        pred_b = match or (i % 7 == 2)            # matches + noise B
        pred_none = True                          # admits everything
        rows.append((match, pred_a, pred_b, pred_none))
    pairs = spark.createDataFrame(
        rows, "match boolean, pred_a boolean, pred_b boolean, "
              "pred_none boolean")
    steps = learn_cnf(pairs, ["pred_a", "pred_b", "pred_none"])
    assert steps, "learner must conjoin at least one predicate"
    final = steps[-1]
    assert set(final.predicates) == {"pred_a", "pred_b"}
    assert "pred_none" not in final.predicates    # rr gain 0: never helps
    assert final.pc == 1.0                        # conjunction kept matches
    # conjunction beats each single predicate
    assert final.rr > evaluate_scheme(pairs, ["pred_a"]).rr
    assert final.f >= evaluate_scheme(pairs, ["pred_a"]).f
    # rr_at_pc gain: maximize RR subject to PC floor
    steps2 = learn_cnf(pairs, ["pred_a", "pred_b", "pred_none"],
                       gain="rr_at_pc", min_pc=0.99)
    assert steps2 and steps2[-1].pc >= 0.99
    assert steps2[-1].rr >= final.rr - 1e-12


def test_entities_host_containment_dedup(spark):
    """A6: top hosts are deduped by substring containment in rank order
    (ref import_clusters.py:148-166) — 'a.mega.org' collapses into the
    higher-ranked 'mega.org'; an unrelated host survives."""
    from webr.engine import build_entities
    rows = []
    hosts = (["mega.org"] * 5 + ["a.mega.org"] * 4 + ["other.net"] * 3
             + ["b.mega.org"] * 2)
    # transitive case: 'x.other.net' is dropped against the SURVIVOR
    # 'other.net', but 'unrelated.io' must not be dropped through an
    # already-dropped middleman
    hosts += ["x.other.net", "unrelated.io"]
    for i, h in enumerate(hosts):
        rows.append((f"u{i:02d}", f"u{i:02d}", h, "jane doe", "jane", "",
                     "doe", ["t"], ["tok"]))
    mentions = spark.createDataFrame(
        rows, "url string, doc_id string, host string, name_norm string, "
              "first string, middle string, last string, "
              "title_toks array<string>, body_toks array<string>")
    idf = spark.createDataFrame([("tok", 0.5)], "token string, idf double")
    clusters = spark.createDataFrame(
        [(f"u{i:02d}", 1, False) for i in range(len(hosts))],
        "url string, cluster_id long, is_noise boolean")
    ents = build_entities(mentions, idf, clusters).toPandas()
    assert len(ents) == 1
    assert list(ents.hosts[0]) == ["mega.org", "other.net", "unrelated.io"]


def test_oversample_minority(spark):
    from webr.blocking_learn import oversample_minority
    pairs = spark.createDataFrame(
        [(i, i % 10 == 0) for i in range(200)], "id long, match boolean")
    out = oversample_minority(pairs).toPandas()
    pos = int(out.match.sum())
    neg = len(out) - pos
    # 20 pos / 180 neg -> factor 9 -> 180/180
    assert pos == 180 and neg == 180
    # every original row survives; replication is exact per-row
    assert out[out.match].id.value_counts().eq(9).all()
    # balanced input is untouched
    bal = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(100)], "id long, match boolean")
    assert oversample_minority(bal).count() == 100


def test_sessionize_fractional_gaps_agree(spark):
    """Sub-second event times around the 1800 s gap: the DuckDB twin and
    the Spark batch query must give the same sessions. Gaps straddle the
    threshold (exactly 1800 s stays, 1800.5 s splits) from start times on
    both sides of a half second, so whole-second truncation of either
    side shows up as a mismatch."""
    import datetime as dt

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from webr.queries.relational import (
        SQL_SESSIONIZE_EVENTS, q_sessionize_events,
    )

    gaps = [1799.5, 1800.0, 1800.5, 1801.0, 1801.5]
    base = dt.datetime(2024, 1, 1)
    rows = []

    def chain(user, start, steps):
        t = base + dt.timedelta(seconds=start)
        for i, g in enumerate([0.0] + steps):
            t += dt.timedelta(seconds=g)
            rows.append((len(rows), t, user, "click", 0.25 * (i + 1), ""))

    user = 0
    for frac in (0.1, 0.7):
        for g in gaps:
            chain(user, user * 100_000 + frac, [g, g])
            user += 1
    chain(user, user * 100_000 + 0.3, gaps)
    sch = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                     ("user_id", pa.int64()), ("event_type", pa.string()),
                     ("value", pa.float64()), ("props", pa.string())])

    d = tempfile.mkdtemp(prefix="webr_sessfrac_")
    try:
        pq.write_table(pa.Table.from_pylist(
            [dict(zip(sch.names, r)) for r in rows], schema=sch),
            os.path.join(d, "events.parquet"))
        con = duckdb.connect()
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                    f"'{d}/events.parquet')")
        cols = ["user_id", "session_no", "n_events", "session_cents"]
        want = con.sql(SQL_SESSIONIZE_EVENTS).df()[cols]
        batch = q_sessionize_events(spark, d).toPandas()[cols]
    finally:
        shutil.rmtree(d, ignore_errors=True)

    def canon(df):
        return (df.astype("int64").sort_values(["user_id", "session_no"])
                .reset_index(drop=True))

    # gaps > 1800 s split: per two-gap chain 1/1/3/3/3 sessions, twice,
    # plus 4 for the mixed chain
    assert len(want) == 2 * (1 + 1 + 3 + 3 + 3) + 4
    pd.testing.assert_frame_equal(canon(batch), canon(want))


# --- CLI entrypoints (ref author_disambiguation.py / record_based_query.py) --

def test_cli_run_and_query(spark, corpus_pd, warehouse_dir, capsys):
    import os
    from webr import schema
    from webr.__main__ import main

    pages_dir = os.path.join(warehouse_dir, "pages_in")
    (spark.createDataFrame(
        corpus_pd[["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES).write.parquet(pages_dir))
    wh = os.path.join(warehouse_dir, "wh")
    rc = main(["run", "--input", pages_dir, "--warehouse", wh,
               "--input-id", "cli-test"])
    assert rc == 0
    out1 = capsys.readouterr().out
    assert "clusters=" in out1 and "warehouse=" in out1
    assert os.path.exists(os.path.join(wh, "entities", "_manifest.json"))

    # resume: a second run with the same input-id reuses every stage
    rc = main(["run", "--input", pages_dir, "--warehouse", wh,
               "--input-id", "cli-test"])
    assert rc == 0

    # query: resubmit two corpus pages; each must match its own cluster
    q_dir = os.path.join(warehouse_dir, "q_in")
    urls = sorted(corpus_pd.url)[:2]
    (spark.createDataFrame(
        corpus_pd[corpus_pd.url.isin(urls)]
        [["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES).write.parquet(q_dir))
    q_out = os.path.join(warehouse_dir, "q_out")
    rc = main(["query", "--warehouse", wh, "--pages", q_dir,
               "--out", q_out])
    assert rc == 0
    res = spark.read.parquet(q_out).toPandas()
    assert set(res.q_url) <= set(urls) and len(res) >= 1
    assert (res[res["rank"] == 1].votes >= 1).all()


def test_cli_auto_input_id_tracks_content():
    from webr.__main__ import _auto_input_id
    d = tempfile.mkdtemp(prefix="webr_autoid_")
    p = os.path.join(d, "part-0.parquet")
    open(p, "wb").write(b"A" * 100)
    a = _auto_input_id(d)
    assert a == _auto_input_id(d)          # deterministic
    open(p, "wb").write(b"B" * 101)        # content change -> new id
    b = _auto_input_id(d)
    assert b != a
    # SAME-SIZE rewrite must still change the id (mtime in fingerprint)
    os.utime(p, ns=(1, 1))
    c = _auto_input_id(d)
    open(p, "wb").write(b"C" * 101)
    os.utime(p, ns=(2, 2))
    assert _auto_input_id(d) != c
    # real parquet: row count from the footer reaches the fingerprint
    import pandas as pd
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(p)
    os.utime(p, ns=(3, 3))
    r3 = _auto_input_id(d)
    pd.DataFrame({"x": [1, 2]}).to_parquet(p)
    os.utime(p, ns=(3, 3))
    assert _auto_input_id(d) != r3
    shutil.rmtree(d, ignore_errors=True)


def test_classification_report_and_pr_curve(spark):
    from webr.evalm import classification_report, pr_curve
    rows = [(0.9, True)] * 8 + [(0.9, False)] * 2 \
         + [(0.2, True)] * 1 + [(0.2, False)] * 9
    scored = spark.createDataFrame(rows, "score double, match boolean")
    rep = classification_report(scored, threshold=0.5).toPandas().iloc[0]
    assert (rep.tp, rep.fp, rep.fn, rep.tn) == (8, 2, 1, 9)
    assert rep.precision == 0.8 and rep.f1 == round(2*0.8*(8/9)/(0.8+8/9), 6)
    curve = pr_curve(scored).toPandas()
    assert list(curve.thr) == [0.9, 0.2]
    assert list(curve.n_pred) == [10, 20]
    assert list(curve.n_tp) == [8, 9]
    assert curve.recall.iloc[-1] == 1.0  # lowest threshold recalls all


def test_time_features_missing_ts_markers():
    """A pair with a missing crawl timestamp gets ts_day_diff = -1 and
    era_match = NULL (None) — never a fake 'different era' False."""
    import pandas as pd

    from webr.features import MEMBER_COLUMNS, score_pairs_indexed
    base = {
        "url": ["u0", "u1", "u2"],
        "warc_ts": [pd.Timestamp("2021-03-01"), None,
                    pd.Timestamp("2021-04-15")],
        "doc_id": ["d0", "d1", "d2"],
        "name_norm": ["ann lee", "ann lee", "ann lee"],
        "first": ["ann"] * 3, "middle": [""] * 3, "last": ["lee"] * 3,
        "title_toks": [["x"], ["x"], ["y"]],
        "host": ["a.example"] * 3,
        "w_toks": [[1], [1], [2]], "w_vals": [[1.0], [1.0], [1.0]],
        "w_norm": [1.0, 1.0, 1.0],
    }
    assert set(base) == set(MEMBER_COLUMNS)
    out = score_pairs_indexed(base, [0, 0], [1, 2])
    # (u0, u1): u1 lacks warc_ts -> markers
    assert out["ts_day_diff"][0] == -1 and out["era_match"][0] is None
    # (u0, u2): both present -> real values (45 days apart, same era)
    assert out["ts_day_diff"][1] == 45 and out["era_match"][1] is True


def test_pyfiles_zip_is_zipimportable():
    """The spark-submit --py-files path (north_rule; tools/submit_er.py)
    ships webr as a zip. zipimport does NOT support PEP-420 namespace
    packages, so webr/__init__.py must exist and the zip must import in
    a clean interpreter with ONLY the zip on sys.path — this is exactly
    what a cluster executor (or a cluster-mode driver) sees."""
    import subprocess
    import sys

    from webr.session import _package_zip
    z = _package_zip()
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import webr, webr.engine, webr.queries.dataops, webr.synth; "
        "assert 'webr_pyfiles' in webr.__file__, webr.__file__; "
        "print('zipimport-ok')")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH",)}
    out = subprocess.run([sys.executable, "-c", probe, z],
                         capture_output=True, text=True, env=env,
                         cwd=tempfile.gettempdir())
    assert out.returncode == 0, out.stderr
    assert "zipimport-ok" in out.stdout


def test_submit_er_sets_every_get_spark_sql_conf(monkeypatch, capsys):
    """tools/submit_er.py attaches to the session spark-submit built and
    sets the runtime SQL confs itself: every spark.sql.* conf get_spark
    sets must be among them, with the same value (a missed one, e.g. the
    broadcast-join threshold, plans a submitted run differently). The
    static codegen cache size cannot be set on a running session: it is
    not among the runtime confs, and submit_er warns once when the
    session's value differs."""
    import importlib.util
    import pathlib

    from pyspark.sql import SparkSession

    from webr.session import CODEGEN_CACHE_CONF, get_spark, sql_confs

    class Stop(Exception):
        pass

    class Recorder:
        """Stands in for SparkSession.builder and for the session."""

        def __init__(self):
            self.confs = {}
            self.conf = self

        def appName(self, _):
            return self

        master = appName

        def config(self, k, v):
            self.confs[k] = v
            return self

        def set(self, k, v):
            self.confs[k] = v

        def get(self, k):
            return self.confs.get(k, "100")  # Spark's default cache size

        def getOrCreate(self):
            return self

        @property
        def read(self):  # submit_er's first use of the session
            raise Stop

    built, submitted = Recorder(), Recorder()
    monkeypatch.setattr(SparkSession, "builder", built)
    get_spark(master="local[1]")
    monkeypatch.setattr(SparkSession, "builder", submitted)
    tools = pathlib.Path(__file__).resolve().parent.parent / "tools"
    spec = importlib.util.spec_from_file_location(
        "submit_er", tools / "submit_er.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with pytest.raises(Stop):
        mod.main(["--input", "unused", "--warehouse", "unused"])
    static_key, static_val = CODEGEN_CACHE_CONF
    assert static_key not in sql_confs()
    assert built.confs[static_key] == static_val
    sql = {k: v for k, v in built.confs.items()
           if k.startswith("spark.sql.") and k != static_key}
    assert sql == sql_confs()
    assert "spark.sql.autoBroadcastJoinThreshold" in sql
    assert sql.items() <= submitted.confs.items(), (
        set(sql.items()) - set(submitted.confs.items()))
    assert static_key not in submitted.confs
    warned = capsys.readouterr().err.splitlines()
    assert len(warned) == 1 and f"--conf {static_key}=" in warned[0], warned


def test_vec_kernel_bitwise():
    """score_pairs_indexed_vec (the engine's kernel) must reproduce the
    scalar oracle-twin kernel cell-for-cell — bitwise floats, identical
    None/bool cells — on a randomized member table that exercises every
    edge: repeated names/hosts/titles (the distinct-pair reduction),
    empty strings, missing timestamps, empty titles, zero-norm weight
    vectors, same-doc pairs, and self-pairs."""
    import random

    import pandas as pd

    from webr.features import (
        FEATURE_COLUMNS, score_pairs_indexed, score_pairs_indexed_vec,
        weight_arrays,
    )
    rng = random.Random(20260818)
    firsts = ["ann", "a", "bob", "", "carol"]
    middles = ["", "j", "jane", "k"]
    lasts = ["lee", "li", "smith", "", "zhao"]
    hosts = ["a.example", "b.example", "", "news.example.org"]
    titles = [[], ["deep", "nets"], ["deep", "nets", "win"], ["x"]]
    toks = ["alpha", "beta", "gamma", "delta", "eps"]
    idf = {t: 1.0 + i * 0.37 for i, t in enumerate(toks)}
    m = 60
    memb = {c: [] for c in ("url", "warc_ts", "doc_id", "name_norm",
                            "first", "middle", "last", "title_toks",
                            "host", "w_toks", "w_vals", "w_norm")}
    for k in range(m):
        f, mi, la = (rng.choice(firsts), rng.choice(middles),
                     rng.choice(lasts))
        memb["url"].append(f"u{k}")
        memb["warc_ts"].append(
            None if rng.random() < 0.2
            else pd.Timestamp("2019-01-01")
            + pd.Timedelta(days=rng.randrange(0, 2500)))
        memb["doc_id"].append(f"d{rng.randrange(0, 40)}")
        memb["name_norm"].append(" ".join(x for x in (f, mi, la) if x))
        memb["first"].append(f)
        memb["middle"].append(mi)
        memb["last"].append(la)
        memb["title_toks"].append(rng.choice(titles))
        memb["host"].append(rng.choice(hosts))
        body = [rng.choice(toks)
                for _ in range(rng.randrange(0, 8))]
        t, v, nm = weight_arrays(body, idf if rng.random() < 0.9 else {})
        memb["w_toks"].append(t)
        memb["w_vals"].append(v)
        memb["w_norm"].append(nm)
    i1 = [rng.randrange(0, m) for _ in range(800)] + [0]
    i2 = [rng.randrange(0, m) for _ in range(800)] + [0]  # self-pair too
    ref = score_pairs_indexed(memb, i1, i2)
    vec = score_pairs_indexed_vec(memb, i1, i2)
    n_edges = 0
    for c in FEATURE_COLUMNS:
        r, v = list(ref[c]), list(vec[c])
        assert len(r) == len(v) == len(i1), c
        for p in range(len(r)):
            if r[p] is None:
                assert v[p] is None, (c, p)
            elif isinstance(r[p], float):
                assert repr(r[p]) == repr(v[p]), (c, p, r[p], v[p])
            else:
                assert r[p] == v[p], (c, p, r[p], v[p])
    n_edges = sum(ref["is_edge"])
    assert sum(1 for x in ref["era_match"] if x is None) > 0
    assert any(ref["compat"]) and any(ref["same_doc"])

    # empty batch: both kernels agree on shape
    e1 = score_pairs_indexed(memb, [], [])
    e2 = score_pairs_indexed_vec(memb, [], [])
    assert all(len(e1[c]) == 0 and len(e2[c]) == 0
               for c in FEATURE_COLUMNS)


def test_sniff_media_formats_and_edges():
    """Pure header parser: real PNG/JPEG/GIF dims round-trip through the
    byte builders; truncated / garbage / dimension-less containers
    degrade to NULLs, never raise."""
    from webr.multimodal import (
        gif_bytes, jpeg_bytes, png_bytes, sniff_media,
    )
    assert sniff_media(png_bytes(640, 480)) == ("png", 640, 480)
    assert sniff_media(jpeg_bytes(1920, 1080)) == ("jpeg", 1920, 1080)
    assert sniff_media(gif_bytes(320, 200)) == ("gif", 320, 200)
    assert sniff_media(b"") == (None, None, None)
    assert sniff_media(b"<html>not media</html>") == (None, None, None)
    assert sniff_media(png_bytes(9, 9)[:20]) == (None, None, None)
    # recognized JPEG whose SOF was truncated away: format, NULL dims
    assert sniff_media(jpeg_bytes(9, 9)[:6]) == ("jpeg", None, None)
    # JPEG with a restart marker before SOF still walks to the dims
    j = jpeg_bytes(33, 44)
    assert sniff_media(j[:2] + b"\xff\xd0" + j[2:]) == ("jpeg", 33, 44)
    # GIF87a variant
    g = bytearray(gif_bytes(12, 34))
    g[3:6] = b"87a"
    assert sniff_media(bytes(g)) == ("gif", 12, 34)
