"""End-to-end correctness: Spark pipeline vs NumPy oracle (SURVEY §5).

Gates (BASELINE.json): pairwise F1 >= 0.99 on labeled pairs sharing a
blocking key (in practice exact equality), byte-identical extracted text
per url, invariance under partitioning, and checkpoint resume.
"""

import hashlib

import pandas as pd
import pytest

from webr.oracle.oracle import pairwise_f1


def _clusters_pd(out):
    return (out["clusters"].toPandas()
            .sort_values("url").reset_index(drop=True))


def test_cluster_parity_and_f1(pipeline_out, oracle_result, corpus_pd):
    cl = _clusters_pd(pipeline_out)
    gold = oracle_result.clusters.sort_values("url").reset_index(drop=True)
    merged = cl.merge(gold, on="url", suffixes=("_s", "_o"))
    assert len(merged) == len(gold) == len(corpus_pd)
    # exact parity (stronger than the F1 gate)
    assert (merged.cluster_id_s == merged.cluster_id_o).all()
    assert (merged.is_noise_s == merged.is_noise_o).all()
    # the headline metric: pairwise F1 over labeled pairs sharing a block key
    labeled = oracle_result.pairs[["url_1", "url_2", "block_key"]]
    f1 = pairwise_f1(cl, gold, labeled)
    assert f1 >= 0.99, f1


def test_truth_quality_informational(oracle_result, corpus_pd):
    """The scoring rule should also track the generator's ground truth —
    guards against a degenerate spec where parity is trivially 1.0."""
    truth = dict(zip(corpus_pd.url, corpus_pd.entity_id))
    gold = pd.DataFrame({
        "url": oracle_result.clusters.url,
        "cluster_id": [truth[u] for u in oracle_result.clusters.url],
        "is_noise": False,
    })
    f1 = pairwise_f1(oracle_result.clusters, gold,
                     oracle_result.pairs[["url_1", "url_2"]])
    assert f1 >= 0.95, f1


def test_extracted_text_byte_identity(pipeline_out, oracle_result):
    """input_hint invariant: per-url extracted text byte-identical."""
    m = (pipeline_out["mentions"].select("url", "text").toPandas()
         .sort_values("url").reset_index(drop=True))
    g = oracle_result.golden_text.sort_values("url").reset_index(drop=True)
    assert list(m.url) == list(g.url)
    sha = [hashlib.sha256(t.encode("utf-8")).hexdigest() for t in m.text]
    assert sha == list(g.text_sha256)


def test_pair_scores_bitwise(pipeline_out, oracle_result):
    sp = (pipeline_out["pair_scores"]
          .select("url_1", "url_2", "score", "is_edge").toPandas()
          .sort_values(["url_1", "url_2"]).reset_index(drop=True))
    op = (oracle_result.pairs[["url_1", "url_2", "score", "is_edge"]]
          .sort_values(["url_1", "url_2"]).reset_index(drop=True))
    assert len(sp) == len(op)
    j = sp.merge(op, on=["url_1", "url_2"], suffixes=("_s", "_o"),
                 how="outer", indicator=True)
    assert (j._merge == "both").all()
    assert (j.score_s == j.score_o).all()          # bitwise float64
    assert (j.is_edge_s == j.is_edge_o).all()


def test_same_doc_never_links(pipeline_out):
    """ref dao/author_block.py:386-389: same-document mentions get score 0."""
    ps = pipeline_out["pair_scores"].toPandas()
    same = ps[ps.same_doc]
    if len(same):
        assert (same.score == 0.0).all()
        assert (~same.is_edge).all()


def test_partition_invariance(spark, pages_df, oracle_result, warehouse_dir):
    """Clusters must not depend on spark.sql.shuffle.partitions
    (FIXTURES.md e2e tier)."""
    from webr.engine import Pipeline
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        out = Pipeline(spark, warehouse_dir, input_id="parts3").run(pages_df)
        cl = _clusters_pd(out)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    gold = oracle_result.clusters.sort_values("url").reset_index(drop=True)
    assert (cl.cluster_id.values == gold.cluster_id.values).all()


def test_resume_from_checkpoint(spark, pages_df, oracle_result,
                                warehouse_dir):
    """north_rule: kill after stage k, re-run, identical output. We emulate
    the kill by dropping downstream tables; the rerun must reuse upstream
    snapshots (same manifest fingerprint) and rebuild only what is missing."""
    from webr.engine import Pipeline
    pipe = Pipeline(spark, warehouse_dir, input_id="resume-v1")
    out1 = pipe.run(pages_df)
    cl1 = _clusters_pd(out1)
    man_pairs_before = pipe.wh.manifest("pair_scores")

    # per-partition counters (north_rule "per-partition lineage +
    # metrics"): every stage manifest carries per-FILE row counts that
    # sum to the stage total, and the mentions stage records the P3
    # parse_ok/parse_fail observe counters collected from the write
    # action itself
    for tbl in ("mentions", "pairs", "pair_scores", "clusters"):
        man = pipe.wh.manifest(tbl)
        assert man["partitions"], tbl
        assert sum(p["rows"] for p in man["partitions"]) == man["rows"]
        assert all(p["path"] and not p["path"].startswith("/")
                   for p in man["partitions"])
    cnt = pipe.wh.manifest("mentions")["counters"]
    assert cnt["rows_out"] == pipe.wh.manifest("mentions")["rows"]
    assert cnt["parse_ok"] + cnt["parse_fail"] == cnt["rows_out"]
    assert cnt["parse_ok"] > 0

    # "kill" after pair_scores: downstream tables are lost
    pipe.wh.drop("clusters")
    pipe.wh.drop("entities")

    pipe2 = Pipeline(spark, warehouse_dir, input_id="resume-v1")
    out2 = pipe2.run(pages_df)
    cl2 = _clusters_pd(out2)
    # upstream checkpoint untouched (same snapshot => not rebuilt)
    man_pairs_after = pipe2.wh.manifest("pair_scores")
    assert man_pairs_before["written_unix"] == man_pairs_after["written_unix"]
    assert man_pairs_before["snapshot"] == man_pairs_after["snapshot"]
    assert (cl1.cluster_id.values == cl2.cluster_id.values).all()
    assert (cl1.url.values == cl2.url.values).all()


_CRASH_AT_CLUSTERS_COMMIT = """
import os, signal, sys
from webr import schema
from webr.engine import Pipeline
from webr.session import get_spark
from webr.synth import generate_pages, pages_to_pandas

spark = get_spark(app="webr-crash", master="local[2]")
pages = pages_to_pandas(generate_pages(n_entities=12, pages_per_entity=15,
                                       seed=7))
replace = os.replace

def crash(src, dst):
    if dst.endswith(os.path.join("clusters", "_manifest.json")):
        os.kill(os.getpid(), signal.SIGKILL)
    replace(src, dst)

os.replace = crash
Pipeline(spark, sys.argv[1], input_id="crash-v1").run(spark.createDataFrame(
    pages[["url", "warc_ts", "html", "text", "lang"]], schema=schema.PAGES))
"""


def test_resume_after_kill_at_commit(spark, pages_df, pipeline_out,
                                     corpus_pd, warehouse_dir):
    """A process SIGKILLed at the clusters stage's manifest replace: a
    resumed run in the same warehouse gives the clusters of an uncrashed
    run, and every table holds its manifest and the one data dir it
    names."""
    import os
    import signal
    import subprocess
    import sys

    from webr.catalog import Warehouse
    from webr.engine import Pipeline
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run(
        [sys.executable, "-c", _CRASH_AT_CLUSTERS_COMMIT, warehouse_dir],
        cwd=repo, capture_output=True, text=True, timeout=900,
        env={**os.environ, "WEBR_DRIVER_MEM": "2g"})
    assert child.returncode == -signal.SIGKILL, child.stderr[-3000:]
    wh = Warehouse(spark, warehouse_dir)
    assert wh.manifest("clusters") is None
    assert wh.manifest("pair_scores") is not None
    out = Pipeline(spark, warehouse_dir, input_id="crash-v1").run(pages_df)
    cl = _clusters_pd(out)[["url", "cluster_id"]]
    assert cl.equals(_clusters_pd(pipeline_out)[["url", "cluster_id"]])
    assert len(cl) == len(corpus_pd)
    assert sorted(os.listdir(warehouse_dir)) == sorted(out)
    for table in out:
        assert sorted(os.listdir(os.path.join(warehouse_dir, table))) == [
            "_manifest.json", wh.manifest(table)["data"]], table


def test_entities_canonical(pipeline_out, oracle_result, corpus_pd):
    ents = pipeline_out["entities"].toPandas()
    cl = oracle_result.clusters
    n_clusters = cl[~cl.is_noise].cluster_id.nunique()
    assert len(ents) == n_clusters
    assert (ents.n_members >= 2).all()  # minPts=2: no singleton clusters
    assert ents.canonical_name.notna().all()
    # profile maps exist and are bounded
    assert ents.profile.map(lambda m: 0 < len(m) <= 256).all()


def test_mention_feats_join_fallback_bitwise(pipeline_out):
    """The huge-vocab distributed path (build_mention_feats_join) must be
    bitwise-identical to the broadcast-dict fast path: same token hash,
    same sort, same in-order norm fold."""
    from webr.engine import build_mention_feats
    mentions = pipeline_out["mentions"]
    idf = pipeline_out["idf"]
    fast = (build_mention_feats(mentions, idf, vocab_rows=1)
            .toPandas().sort_values("url").reset_index(drop=True))
    slow = (build_mention_feats(mentions, idf, vocab_rows=10**9)
            .toPandas().sort_values("url").reset_index(drop=True))
    assert list(fast.url) == list(slow.url)
    assert all(list(a) == list(b)
               for a, b in zip(fast.w_toks, slow.w_toks))
    assert all(list(a) == list(b)      # bitwise float64 equality
               for a, b in zip(fast.w_vals, slow.w_vals))
    assert list(fast.w_norm) == list(slow.w_norm)


def test_mega_block_bounded(pipeline_out):
    """Skew rule: no block contributes O(n^2) pairs. The fixture corpus
    has no block above MAX_BLOCK_SIZE, so this only checks the all-pairs
    branch; test_mega_block_pairs_match_oracle runs the window."""
    pairs = pipeline_out["pairs"].toPandas()
    per_block = pairs.groupby("block_key").size()
    from webr import spec
    cap = max(spec.MAX_BLOCK_SIZE * (spec.MAX_BLOCK_SIZE - 1) // 2,
              1) # small blocks bounded by all-pairs of MAX_BLOCK_SIZE
    # sorted-neighborhood blocks contribute <= n*W pairs; with the corpus
    # sizes here every block must sit far below the quadratic blowup
    assert (per_block <= cap).all(), per_block.sort_values().tail()


def test_mega_block_pairs_match_oracle(spark):
    """The sorted-neighborhood branch of build_pairs: 3 entities x 40
    pages gives blocks above MAX_BLOCK_SIZE, and the engine's pair table
    equals the oracle's row for row."""
    from webr import schema, spec
    from webr.engine import build_mentions, build_pairs
    from webr.mentions import derive_mentions
    from webr.oracle.oracle import enumerate_pairs
    from webr.synth import generate_pages, pages_to_pandas

    pd_pages = pages_to_pandas(
        generate_pages(n_entities=3, pages_per_entity=40, seed=7))
    mentions = derive_mentions(pd_pages)
    biggest = mentions.block_keys.explode().value_counts().max()
    assert biggest > spec.MAX_BLOCK_SIZE, biggest
    want = enumerate_pairs(mentions)
    pages = spark.createDataFrame(
        pd_pages[["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES)
    got = (build_pairs(build_mentions(pages)).toPandas()
           [["url_1", "url_2", "block_key"]]
           .sort_values(["url_1", "url_2"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want.reset_index(drop=True))


def test_cannot_link_bridge_split(spark, warehouse_dir):
    """C2/W2 parity: an initial-only 'J Smith' bridge must NOT transitively
    merge 'John Smith' and 'Jane Smith' (same host, same topics). Engine
    and oracle run the same constrained replay and must agree exactly."""
    from webr import schema
    from webr.engine import Pipeline
    from webr.oracle import run_oracle
    from webr.synth import (
        BRIDGE_INITIAL, BRIDGE_JANE, BRIDGE_JOHN, generate_bridge_pages,
        pages_to_pandas,
    )

    pd_pages = pages_to_pandas(generate_bridge_pages())
    pages = spark.createDataFrame(
        pd_pages[["url", "warc_ts", "html", "text", "lang"]],
        schema=schema.PAGES)
    out = Pipeline(spark, warehouse_dir, input_id="bridge-v1").run(pages)
    cl = _clusters_pd(out)
    gold = run_oracle(pd_pages)
    g = gold.clusters.sort_values("url").reset_index(drop=True)
    assert (cl.cluster_id.values == g.cluster_id.values).all()
    assert (cl.is_noise.values == g.is_noise.values).all()

    # the fixture must actually exercise the bridge: john<->bridge and
    # jane<->bridge candidate edges exist pre-constraint
    truth = dict(zip(pd_pages.url, pd_pages.entity_id))
    edges = gold.pairs[gold.pairs.is_edge]
    kinds = {frozenset((truth[a], truth[b]))
             for a, b in zip(edges.url_1, edges.url_2)}
    assert frozenset((BRIDGE_JOHN, BRIDGE_INITIAL)) in kinds
    assert frozenset((BRIDGE_JANE, BRIDGE_INITIAL)) in kinds

    # and the constraint must hold: no cluster mixes john and jane
    merged = cl.assign(entity=[truth[u] for u in cl.url])
    for cid, grp in merged[~merged.is_noise].groupby("cluster_id"):
        ents = set(grp.entity)
        assert not ({BRIDGE_JOHN, BRIDGE_JANE} <= ents), \
            f"cluster {cid} merged john+jane"
    # both real entities survive as clusters
    ids_john = set(merged[merged.entity == BRIDGE_JOHN].cluster_id) - {0}
    ids_jane = set(merged[merged.entity == BRIDGE_JANE].cluster_id) - {0}
    assert ids_john and ids_jane and ids_john.isdisjoint(ids_jane)


def test_name_part_match_features(pipeline_out):
    """F7/F8: categorical first/middle match levels ride the pair_scores
    table and agree with the compat gate (a mismatch on either part with
    equal last names implies compat=false)."""
    ps = pipeline_out["pair_scores"].toPandas()
    assert set(ps.first_match) <= {"exact", "initial", "missing",
                                   "mismatch"}
    bad = ps[(ps.first_match == "mismatch") & ps.compat]
    assert len(bad) == 0
    bad_m = ps[(ps.middle_match == "mismatch") & ps.compat]
    assert len(bad_m) == 0
    # the corpus's initial-only variants must actually exercise 'initial'
    assert (ps.first_match == "initial").any()


def test_time_pair_features(pipeline_out, oracle_result, corpus_pd):
    """F10/F11 analogs: ts_day_diff (capped) and era_match ride the
    pair_scores table, agree with the oracle exactly, and match a direct
    recomputation from the corpus warc_ts values."""
    from webr import spec
    cols = ["url_1", "url_2", "ts_day_diff", "era_match"]
    sp = (pipeline_out["pair_scores"].select(cols).toPandas()
          .sort_values(["url_1", "url_2"]).reset_index(drop=True))
    op = (oracle_result.pairs[cols]
          .sort_values(["url_1", "url_2"]).reset_index(drop=True))
    assert (sp.ts_day_diff.values == op.ts_day_diff.values).all()
    assert (sp.era_match.values == op.era_match.values).all()
    # direct recomputation from the pages table (independent arithmetic)
    ts = dict(zip(corpus_pd.url, corpus_pd.warc_ts))
    NS_DAY = 86_400_000_000_000
    for r in sp.head(200).itertuples():
        a, b = ts[r.url_1], ts[r.url_2]
        want = min(spec.TS_DAY_DIFF_CAP,
                   abs(a.value // NS_DAY - b.value // NS_DAY))
        assert r.ts_day_diff == want
        assert r.era_match == ((a.year // spec.TS_ERA_YEARS)
                               == (b.year // spec.TS_ERA_YEARS))
    # every corpus page carries warc_ts -> no missing markers
    assert (sp.ts_day_diff >= 0).all()


def test_er_pipeline_f1_driver_row(spark):
    """The er_pipeline_f1 driver row must equal the NumPy pairwise_f1
    twin computed over the same (clusters, truth, distinct labeled
    pairs) — and clear the BASELINE.json >= 0.99 gate."""
    from webr.queries.er_pipeline import (
        _N_ENTITIES, _PAGES_PER_ENTITY, _SEED, _run, q_er_pipeline_f1,
    )
    from webr.synth import generate_pages, pages_to_pandas

    row = q_er_pipeline_f1(spark, "").toPandas().iloc[0]
    pages_pd = pages_to_pandas(generate_pages(
        n_entities=_N_ENTITIES, pages_per_entity=_PAGES_PER_ENTITY,
        seed=_SEED))
    out = _run(spark)
    cl = out["clusters"].toPandas()
    pairs = (out["pairs"].select("url_1", "url_2").distinct()
             .toPandas())
    truth = dict(zip(pages_pd.url, pages_pd.entity_id))
    gold = pd.DataFrame({"url": cl.url,
                         "cluster_id": [truth[u] for u in cl.url],
                         "is_noise": False})
    f1 = pairwise_f1(cl, gold, pairs)
    assert abs(row.pairwise_f1 - round(f1, 9)) < 1e-12
    assert row.pairwise_f1 >= 0.99
    assert row.n_labeled_pairs == len(pairs)
    assert row.tp > 0 and row.fn == 0


def test_stage_write_reads_back_without_schema_job(spark, warehouse_dir):
    """A stage rebuild is ONE Spark job, the parquet write: the
    checkpoint is read back with the schema just written instead of
    inferring it from the footers (one more job per stage), and the
    manifest still records the schema inference would give."""
    import os

    from webr.catalog import Warehouse
    wh = Warehouse(spark, warehouse_dir)
    df = spark.range(50).selectExpr("id", "cast(id AS string) AS s",
                                    "array(id, id + 1) AS a",
                                    "id % 2 = 0 AS even")
    sc = spark.sparkContext
    group = "stage-rebuild-jobs"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = wh.stage("t", "snap-1", lambda: df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    inferred = spark.read.parquet(
        os.path.join(warehouse_dir, "t", wh.manifest("t")["data"]))
    assert wh.manifest("t")["schema"] == inferred.schema.json()
    assert out.schema == inferred.schema
    assert sorted(out.collect()) == sorted(inferred.collect())


def test_read_uses_manifest_schema(spark, warehouse_dir):
    """Reading a table that has a manifest, directly or through a
    resumed stage, runs no Spark job: the schema comes from the
    manifest, not from a parquet footer read."""
    import os

    from webr.catalog import Warehouse
    wh = Warehouse(spark, warehouse_dir)
    wh.stage("t", "snap-1", lambda: spark.range(50).selectExpr(
        "id", "cast(id AS string) AS s", "array(id, id + 1) AS a"))
    sc = spark.sparkContext
    group = "manifest-read-jobs"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        read = wh.read("t")
        resumed = wh.stage("t", "snap-1", lambda: 1 / 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    inferred = spark.read.parquet(
        os.path.join(warehouse_dir, "t", wh.manifest("t")["data"]))
    assert read.schema == resumed.schema == inferred.schema
    assert sorted(read.collect()) == sorted(inferred.collect())


def test_manifest_schema_equals_inferred(spark, pipeline_out):
    """Every stage manifest records byte-for-byte the schema Spark infers
    from the checkpoint's parquet files."""
    import json
    import os
    from urllib.parse import urlparse
    for table, df in pipeline_out.items():
        data = os.path.dirname(urlparse(df.inputFiles()[0]).path)
        with open(os.path.join(os.path.dirname(data),
                               "_manifest.json")) as f:
            man = json.load(f)
        assert man["table"] == table
        assert man["schema"] == spark.read.parquet(data).schema.json(), table
        assert df.schema == spark.read.parquet(data).schema, table


def test_overlapped_branch_failure_is_prompt(spark, pages_df, warehouse_dir,
                                             monkeypatch):
    """A failure in the pairs branch surfaces at once, naming its stage,
    while the concurrent idf -> mention_feats branch is still inside a
    slow Spark job; that job is cancelled and nothing after it runs."""
    import time

    from webr import engine, schema
    slow_s = 90
    orig_idf = engine.build_idf

    def slow_idf(mentions, n_mentions):
        def sleepy(batches):
            import time
            time.sleep(slow_s)
            yield from batches
        return orig_idf(mentions, n_mentions).mapInPandas(
            sleepy, schema=schema.IDF)

    failed_at = []

    def failing_pairs(mentions):
        time.sleep(3)  # the feats branch's slow job is running by now
        failed_at.append(time.monotonic())
        raise RuntimeError("injected pairs failure")

    monkeypatch.setattr(engine, "build_idf", slow_idf)
    monkeypatch.setattr(engine, "build_pairs", failing_pairs)
    pipe = engine.Pipeline(spark, warehouse_dir, input_id="branch-fail-v1")
    with pytest.raises(RuntimeError, match="injected pairs failure") as ei:
        pipe.run(pages_df)
    waited = time.monotonic() - failed_at[0]
    assert waited < slow_s / 3, waited
    assert "webr: stage 'pairs' failed" in ei.value.__notes__
    assert pipe.wh.manifest("mentions") is not None
    for table in ("idf", "mention_feats", "pairs"):
        assert pipe.wh.manifest(table) is None, table
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 30
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.2)
    assert tracker.getActiveJobsIds() == []
