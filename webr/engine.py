"""The distributed pipeline (SURVEY §3.1 re-design):

pages -> mentions (Arrow mapInPandas, shared kernel)
      -> idf (explode + groupBy, A4)
      -> mentions+idf weights (the idf table broadcast as a driver dict
         into one Arrow pass; a distributed token join above
         VOCAB_BROADCAST_MAX tokens)
      -> candidate pairs (block explode; J1 self-join for small blocks,
         sorted-neighborhood window for mega-blocks = explicit skew rule)
      -> pair scores (cogroup applyInArrow, shared batched kernel, A8)
      -> edges (score >= EPS) -> union-find connected components (C3)
         + per-component cannot-link replay -> clusters
      -> entities (A6 majority vote, two aggregations)

Every stage checkpoints through the Warehouse facade with a lineage
fingerprint, so a killed job resumes from the last complete stage
(north_rule). Stage boundaries == shuffle boundaries.
"""

from __future__ import annotations

import math
import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from webr import schema, spec
from webr.catalog import Warehouse, fingerprint
from webr.cluster import label_clusters
from webr.features import weight_arrays
from webr.mentions import derive_mentions

# Arrow twin of schema.PAIR_SCORES for the applyInArrow pair-scoring
# path — derived via Spark's own converter so the two can never drift.
from pyspark.sql.pandas.types import to_arrow_schema  # noqa: E402

_PAIR_ARROW = to_arrow_schema(schema.PAIR_SCORES)


# --------------------------------------------------------------------------
# stage builders (each returns a lazily-planned DataFrame)

def build_mentions(pages: DataFrame) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield derive_mentions(pdf)
    cols = ["url", "html", "text"]
    if "warc_ts" in pages.columns:  # crawl time feeds the F10/F11 analogs
        cols.append("warc_ts")
    return pages.select(*cols).mapInPandas(gen, schema=schema.MENTIONS)


def build_idf(mentions: DataFrame, n_mentions: int) -> DataFrame:
    """idf = ln(N/df) (A4/F18). df(token) = #docs containing the token, so
    per-row ``array_distinct`` FIRST, then explode straight into a token
    groupBy — partial (map-side) aggregation collapses the stream to one
    row per vocab term and the shuffle never carries the doc id (this
    replaced a 90M-row (url, token) distinct that dominated the stage).
    The log runs in Python (math.log) inside an Arrow batch so the doubles
    are bitwise-identical to the oracle's."""
    tok = mentions.select(
        F.explode(F.array_distinct("body_toks")).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("df"))

    def add_idf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["idf"] = [math.log(n_mentions / c) for c in pdf["df"]]
            yield pdf
    return counts.mapInPandas(add_idf, schema=schema.IDF)


# Q1's mention_feats stage: vocab sizes up to this broadcast as a plain
# dict into the Python pass (zero shuffles); above it, the distributed
# join fallback runs instead. (A record query reads only its own
# tokens' idf rows, whatever the vocabulary size.)
# 1M entries ~ 100-200 MB as a Python dict PER python worker process —
# with 32 workers per host that is the practical executor-memory ceiling
# (a 5M cap measured ~0.5-1 GB/worker). The fallback is bitwise-identical
# (tested), so the cap trades only a little speed, never correctness.
VOCAB_BROADCAST_MAX = 1_000_000


def build_mention_feats(mentions: DataFrame, idf: DataFrame,
                        vocab_rows: int) -> DataFrame:
    """Slim per-mention pair-kernel payload with PRECOMPUTED sorted tf-idf
    weight arrays + norm (int64 token ids — see features.token_hash).

    Fast path (vocab fits executor memory): broadcast the idf table as a
    dict into ONE Arrow mapInPandas pass over mentions calling the shared
    ``weight_arrays`` kernel — zero shuffles (the reference's module-global
    idf dict, ref util/utils.py:45-122, done properly as a broadcast
    variable). Scale path (vocab > VOCAB_BROADCAST_MAX, e.g. 10^12-doc
    corpora): distributed explode + broadcast-hash token join + sorted
    struct re-aggregation, bit-identical by construction (same hash, same
    sort order, same in-order fold). ``vocab_rows``: the idf table's row
    count, which picks the path."""
    if vocab_rows <= VOCAB_BROADCAST_MAX:
        idf_map = {r["token"]: r["idf"] for r in
                   idf.select("token", "idf").collect()}
        bc = mentions.sparkSession.sparkContext.broadcast(idf_map)
        slim = mentions.select(
            "url", "warc_ts", "doc_id", "host", "first", "middle", "last",
            "name_norm", "title_toks", "body_toks")

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            d = bc.value
            for pdf in batches:
                yield with_weights(pdf, d)

        return slim.mapInPandas(gen, schema=schema.MENTION_FEATS)
    return build_mention_feats_join(mentions, idf)


def with_weights(mentions: pd.DataFrame, idf_map: dict) -> pd.DataFrame:
    """A batch of mentions -> its mention_feats rows: the body tokens
    become ``weight_arrays`` (sorted token ids, tf-idf values, norm).
    Shared by the corpus stage and the record query's query side."""
    arrays = [weight_arrays(list(t), idf_map) for t in mentions["body_toks"]]
    out = mentions.drop(columns=["body_toks"])
    out["w_toks"] = [a[0] for a in arrays]
    out["w_vals"] = [a[1] for a in arrays]
    out["w_norm"] = [a[2] for a in arrays]
    return out[[f.name for f in schema.MENTION_FEATS.fields]]


def build_mention_feats_join(mentions: DataFrame,
                             idf: DataFrame) -> DataFrame:
    """Distributed fallback for huge vocabularies. JVM twin of
    ``weight_arrays``: conv(md5) token hash == features.token_hash; struct
    sort by (hash, weight) == the Python tuple sort; in-order ``aggregate``
    fold == the Python loop => bitwise-identical float64 arrays."""
    h = ("cast(conv(substring(md5(token), 1, 15), 16, 10) as bigint)")
    tf = (mentions.select("url", F.explode("body_toks").alias("token"))
          .groupBy("url", "token").agg(F.count("*").alias("tf")))
    # second groupBy on the hash: distinct tokens colliding under the
    # 60-bit hash merge into one entry (sum of weights), mirroring
    # weight_arrays so the arrays are truly unique per url
    w = (tf.join(F.broadcast(idf.select("token", "idf")), "token", "left")
         .select("url", F.expr(h).alias("h"),
                 (F.col("tf") * F.coalesce("idf", F.lit(0.0))).alias("wv"))
         .groupBy("url", "h").agg(F.sum("wv").alias("wv")))
    arrays = (w.groupBy("url")
              .agg(F.sort_array(F.collect_list(
                  F.struct("h", "wv"))).alias("tw"))
              .select(
                  "url",
                  F.expr("transform(tw, x -> x.h)").alias("w_toks"),
                  F.expr("transform(tw, x -> x.wv)").alias("w_vals"),
                  F.expr("sqrt(aggregate(transform(tw, x -> x.wv), 0D, "
                         "(a, v) -> a + v * v))").alias("w_norm")))
    slim = mentions.select(
        "url", "warc_ts", "doc_id", "host", "first", "middle", "last",
        "name_norm", "title_toks")
    # shuffle_hash: sorting the fat weight-array rows for a sort-merge
    # join is pure overhead; scoped here, not session-wide
    out = (slim.join(arrays.hint("shuffle_hash"), "url", "left")
           .select("url", "warc_ts", "doc_id", "host", "first", "middle",
                   "last", "name_norm", "title_toks",
                   F.coalesce("w_toks", F.array().cast("array<bigint>"))
                   .alias("w_toks"),
                   F.coalesce("w_vals", F.array().cast("array<double>"))
                   .alias("w_vals"),
                   F.coalesce("w_norm", F.lit(0.0)).alias("w_norm")))
    return out.select([f.name for f in schema.MENTION_FEATS.fields])


def bounded_pairs(memb: DataFrame, key: str, id_col: str,
                  order: tuple[str, ...] | None = None) -> DataFrame:
    """``(key, {id_col}_1, {id_col}_2)`` candidate pairs under the
    mega-block guard, the one Spark spelling of the blocking rule (J1/P10
    plus the explicit skew rule of SURVEY §4). Blocks of 2 to
    MAX_BLOCK_SIZE members pair all i<j by ``id_col``; a larger block
    sorts by ``order`` (default: ``id_col``) and pairs each member with
    its next SN_WINDOW neighbours, so any block costs O(n·W) pairs.
    A pair is written ``{id}_1 < {id}_2`` and repeats once per block it
    shares.

    Ids only: callers join the wide columns back per side
    (``webr.queries.common.with_sides``). No exchange is added here:
    ``build_pairs`` hash-partitions ``memb`` by ``key`` itself, and the
    driver queries leave the window's small shuffle to AQE, which
    coalesces it."""
    order = order or (id_col,)
    # SQL strings, not Column builders: each builder call is one py4j
    # round trip, and a stage's plan is built on the driver before any of
    # its jobs can start
    # NULL keys pair with nothing, as in an equi-join (and the DuckDB
    # twin); unfiltered, the window would lead-pair a NULL mega-block
    m = (memb.selectExpr(*dict.fromkeys((id_col, *order, key)))
         .where(f"{key} IS NOT NULL")
         # singleton blocks die via {key}_n >= 2
         .selectExpr("*", f"count(*) OVER (PARTITION BY {key}) AS {key}_n"))

    small = m.where(f"{key}_n BETWEEN 2 AND {spec.MAX_BLOCK_SIZE}")
    # merge join: both sides share the window's partitioning by key (a
    # broadcast would cost one more job)
    pairs_small = (small.alias("a")
                   .join(small.alias("b").hint("merge"),
                         F.expr(f"a.{key} = b.{key} "
                                f"AND a.{id_col} < b.{id_col}"))
                   .selectExpr(f"a.{key} AS {key}",
                               f"a.{id_col} AS {id_col}_1",
                               f"b.{id_col} AS {id_col}_2"))

    leads = ", ".join(
        f"lead({id_col}, {o}) OVER (PARTITION BY {key} "
        f"ORDER BY {', '.join(order)})"
        for o in range(1, spec.SN_WINDOW + 1))
    pairs_big = (m.where(f"{key}_n > {spec.MAX_BLOCK_SIZE}")
                 .selectExpr(key, id_col, f"array({leads}) AS nbrs")
                 .selectExpr(key, id_col, "explode(nbrs) AS nbr")
                 .where("nbr IS NOT NULL")
                 .selectExpr(key, f"least({id_col}, nbr) AS {id_col}_1",
                             f"greatest({id_col}, nbr) AS {id_col}_2"))
    return pairs_small.unionByName(pairs_big)


def build_pairs(mentions: DataFrame) -> DataFrame:
    """Candidate pair generation: ``bounded_pairs`` over the exploded
    block keys, sorted-neighbourhood order (name_norm, url). The blocks
    run inside one hash partitioning by block key with the session's
    default parallelism; one more by pair dedups the pairs that share
    several blocks (four jobs in all)."""
    # one explicit hash partitioning by block key serves the block sizes,
    # the self-join and the window without another exchange; AQE would
    # coalesce this small shuffle into one task, but never coalesces a
    # repartition by number
    n = mentions.sparkSession.sparkContext.defaultParallelism
    memb = (mentions
            .where("parse_ok AND size(block_keys) > 0")
            .selectExpr("url", "name_norm", "explode(block_keys) AS bk")
            .repartition(n, "bk"))
    # a pair repeats once per block it shares, and those blocks sit in
    # different bk partitions: a map-side partial min would find nothing
    # to fold, so hash by pair once (n tasks, none coalesced) and reduce
    return (bounded_pairs(memb, "bk", "url", order=("name_norm", "url"))
            .repartition(n, "url_1", "url_2")
            .groupBy("url_1", "url_2")
            .agg(F.expr("min(bk) AS block_key")))


# coarse cogroup salt: pair-scoring tasks each handle ~(pairs/GROUPS)
# pairs. This is the floor: Pipeline.run raises it from the pairs
# stage row count so a group stays ~10^5 pairs; block integrity is NOT
# required by the kernel, so the salt can split arbitrarily fine.
PAIR_SCORE_GROUPS = 1024


def build_pair_scores_grouped(pairs: DataFrame, mention_feats: DataFrame,
                              groups: int = PAIR_SCORE_GROUPS) -> DataFrame:
    """Pair scoring without the per-pair feature blow-up.

    Joining both mentions' features onto every pair would ship each
    mention's weight arrays once per pair — with avg pair-degree ~25 that
    is a ~25x amplification of the fat array payload through the join
    shuffle AND the JVM→Arrow→Python hop, which makes the stage
    memory-bandwidth-bound (it stops scaling with cores, and at 100 TB it
    is the dominant shuffle).

    Instead: key every pair by a coarse group (hash of its block_key),
    build the distinct (group, url) membership, join mention_feats ONCE
    per member, and cogroup(pairs, member_feats) → applyInArrow. Each
    mention's arrays cross the wire once per block it actually pairs in
    (~1-3x) instead of once per pair (~25x). The Python side indexes the
    pairs into the member table and calls ``score_pairs_indexed_vec``,
    the bitwise twin of the oracle's scalar ``score_pairs``.

    The coarse salt bounds per-task group size: blocks hashing to the
    same group are scored together (the kernel is per-pair, so group
    composition is semantically irrelevant); the largest single block
    is already bounded by the sorted-neighborhood rule (O(n·W) pairs).
    """
    names = [f.name for f in schema.PAIR_SCORES.fields]

    # explicit partition counts on both cogroup sides: AQE would coalesce
    # this ~MB shuffle into one partition (the kernel's CPU then runs in
    # one task), but never coalesces a repartition by number; hash
    # partitioning on gk already satisfies the cogroup
    n = pairs.sparkSession.sparkContext.defaultParallelism
    gk = f"pmod(xxhash64(block_key), {int(groups)}) AS gk"
    p = pairs.selectExpr("url_1", "url_2", "block_key", gk)
    # gk recomputed from `pairs` (not re-used from `p`) so the cogroup's
    # two branches don't share one attribute id (self-join ambiguity)
    urls = (pairs.selectExpr(gk, "explode(array(url_1, url_2)) AS url")
            .distinct())
    # shuffle_hash: never sort the fat weight-array side (scoped hint —
    # see webr/session.py note)
    side = urls.join(mention_feats.hint("shuffle_hash"), "url")

    def score_group(pairs_tbl, memb_tbl):
        import numpy as np
        import pyarrow as pa

        from webr.features import (
            FEATURE_COLUMNS, member_table, score_pairs_indexed_vec,
        )

        memb = member_table(memb_tbl)
        pos = {u: i for i, u in enumerate(memb["url"])}

        def pair_index(col_name: str) -> list:
            # dictionary-encode first: each url repeats ~pair-degree
            # times (~25x), so the Python dict lookup and string
            # materialization happen once per DISTINCT url and the
            # per-pair fan-out is one C-level numpy take
            enc = pairs_tbl.column(col_name).combine_chunks() \
                .dictionary_encode()
            lut = np.asarray([pos[u] for u in enc.dictionary.to_pylist()],
                             dtype=np.int64)
            return lut[enc.indices.to_numpy(zero_copy_only=False)].tolist()

        try:
            i1 = pair_index("url_1")
            i2 = pair_index("url_2")
        except KeyError as e:  # membership derives from this same pairs
            # frame so it cannot happen today — keep it that way loudly
            raise ValueError(
                f"pair url missing from group membership: {e}") from e
        # vectorized kernel (bitwise twin of the scalar oracle kernel —
        # gated by tests/test_modules.py::test_vec_kernel_bitwise and
        # the end-to-end engine-vs-oracle parity suite)
        out = score_pairs_indexed_vec(memb, i1, i2)
        cols = {"url_1": pairs_tbl.column("url_1"),
                "url_2": pairs_tbl.column("url_2"),
                "block_key": pairs_tbl.column("block_key")}
        for c in FEATURE_COLUMNS:
            cols[c] = pa.array(out[c], type=_PAIR_ARROW.field(c).type)
        return pa.table(
            {n: cols[n] for n in names}).cast(_PAIR_ARROW)

    return (p.repartition(n, "gk").groupby("gk")
            .cogroup(side.repartition(n, "gk").groupby("gk"))
            .applyInArrow(score_group, schema=schema.PAIR_SCORES))


def build_entities(mentions: DataFrame, idf: DataFrame,
                   clusters: DataFrame,
                   profile_top: int = 256) -> DataFrame:
    """Canonical record per cluster (ref import_clusters.py:86-194, A6/W3):
    majority-vote name, last name and first initial, the member count,
    top-3 hosts and the top-N tf-idf profile tokens. Pandas twin:
    ``webr.oracle.entities.build_entities``.

    Two aggregations for everything. Each member melts into (kind, val)
    rows — its name, last name, first initial, host and every body
    token — and ONE count per (cluster, kind, val) folds them map-side;
    the idf joins the token rows by broadcast; ONE group-by per cluster
    then takes every vote from those counts. A vote is the value with
    the highest count, ties to the lowest value (``min_by`` over
    (-count, value), nulls first as in an ascending sort). The profile
    is the ``profile_top`` tokens by tf-idf weight (desc, then token):
    idf(token) is constant across members, so count * idf equals the
    per-member tf*idf sum. A cluster's distinct hosts and tokens are
    collected whole, which is safe because clusters are entity-sized."""
    # SQL strings, not Column builders: each builder call is one py4j
    # round trip, and the plan is built on the driver before any job runs
    def kv(kind: str, val: str) -> str:
        return f"named_struct('kind', '{kind}', 'val', {val})"

    melted = (clusters.where("NOT is_noise").join(mentions, "url")
              .selectExpr("cluster_id", "inline(concat(array("
                          + ", ".join([kv("name", "name_norm"),
                                       kv("last", "last"),
                                       kv("fi", "substring(first, 1, 1)"),
                                       kv("host", "host")])
                          + "), transform(coalesce(body_toks, "
                          "cast(array() AS array<string>)), t -> "
                          + kv("tok", "t") + ")))"))
    # tokens the idf table does not know get no weight (inner-join
    # semantics); a cluster left with none has a null profile
    counts = (melted.groupBy("cluster_id", "kind", "val")
              .agg(F.expr("count(*) AS cnt"))
              .join(F.broadcast(idf), F.expr("val = token"), "left"))
    rank = "named_struct('k', -cnt, 'v', val)"

    def top1(k: str, name: str):
        return F.expr(f"min_by(val, CASE WHEN kind = '{k}' THEN {rank} END)"
                      f" AS {name}")

    stats = counts.groupBy("cluster_id").agg(
        top1("name", "canonical_name"),
        top1("last", "last"),
        top1("fi", "first_initial"),
        F.expr("sum(CASE WHEN kind = 'name' THEN cnt ELSE 0 END) "
               "AS n_members"),
        F.expr(f"array_sort(collect_list(CASE WHEN kind = 'host' THEN "
               f"{rank} END)) AS hosts_ranked"),
        F.expr(f"slice(array_sort(collect_list(CASE WHEN kind = 'tok' AND "
               f"idf IS NOT NULL THEN named_struct('k', -(cnt * idf), "
               f"'v', val) END)), 1, {int(profile_top)}) AS top"))
    # top-3 hosts after substring-containment dedup in rank order (A6,
    # ref import_clusters.py:148-179 scans the FULL ranked list until 3
    # survive: 'sub.mega.example.com' and 'mega.example.com' collapse to
    # the higher-ranked one). The fold compares each host against the
    # SURVIVORS so far — not against already-dropped entries, which would
    # eliminate an unrelated host transitively through a dropped
    # middleman
    return stats.selectExpr(
        "cluster_id", "canonical_name", "last", "first_initial",
        "n_members",
        "aggregate(transform(hosts_ranked, x -> x.v), "
        "cast(array() AS array<string>), "
        "(acc, x) -> CASE WHEN size(acc) >= 3 OR exists(acc, "
        "y -> instr(y, x) > 0 OR instr(x, y) > 0) "
        "THEN acc ELSE array_append(acc, x) END) AS hosts",
        "CASE WHEN size(top) > 0 THEN map_from_entries(transform(top, "
        "x -> named_struct('t', x.v, 'w', -x.k))) END AS profile")


# --------------------------------------------------------------------------
# orchestrated, checkpointed run

def run_branches(spark: SparkSession, branches: list) -> list:
    """Run independent pipeline branches from one driver thread each and
    return their results in order.

    The first branch to fail ends the run at once: every other branch's
    Spark jobs, running or still to come, are cancelled through its own
    job group, the other branches are awaited (cancelled, they stop
    within seconds, so no thread is left writing checkpoints), and the
    first error is re-raised. ``Warehouse.stage`` has already named the
    failing stage on it."""
    sc = spark.sparkContext
    run_id = uuid.uuid4().hex[:12]
    groups = [f"webr-branch-{run_id}-{i}" for i in range(len(branches))]

    def run(group: str, branch):
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.interruptOnCancel", "true")
        try:
            return branch()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)

    with ThreadPoolExecutor(max_workers=len(branches)) as ex:
        futs = [ex.submit(run, g, b) for g, b in zip(groups, branches)]
        wait(futs, return_when=FIRST_EXCEPTION)
        failed = next((f for f in futs
                       if f.done() and f.exception() is not None), None)
        if failed is not None:
            for g, f in zip(groups, futs):
                if f is not failed:
                    sc._jsc.sc().cancelJobGroupAndFutureJobs(g)
            raise failed.exception()
    return [f.result() for f in futs]


class Pipeline:
    """Checkpointed ER pipeline over a Warehouse. ``input_id`` must change
    when the input data changes (e.g. path + row count); every stage
    snapshot fingerprints (scoring spec, input, upstream snapshots)."""

    STAGES = ["mentions", "idf", "mention_feats", "pairs", "pair_scores",
              "clusters", "entities"]

    def __init__(self, spark: SparkSession, warehouse_root: str,
                 input_id: str):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self.base = fingerprint(spec.SCORING_VERSION, input_id)

    def snap(self, stage: str, *upstream: str) -> str:
        return fingerprint(self.base, stage, *upstream)

    def run(self, pages: DataFrame) -> dict[str, DataFrame]:
        wh = self.wh
        s_m = self.snap("mentions")
        # P3 counters ride the write action via df.observe (zero extra
        # jobs) and land in the stage manifest — parse_ok/parse_fail
        # make a resumed run's extraction quality auditable per stage
        obs_m = Observation()
        mentions = wh.stage(
            "mentions", s_m,
            lambda: build_mentions(pages).observe(
                obs_m,
                F.count(F.lit(1)).alias("rows_out"),
                F.sum(F.col("parse_ok").cast("long")).alias("parse_ok"),
                F.sum((~F.col("parse_ok")).cast("long"))
                .alias("parse_fail")),
            lineage={"input": self.base}, observation=obs_m)
        n_mentions = wh.manifest("mentions")["rows"]

        # idf -> mention_feats and pairs both depend only on the
        # materialized mentions checkpoint — two independent DAG
        # branches. Build them from two driver threads so their Spark
        # jobs share the executor pool instead of running back-to-back:
        # serial stage latency costs the same wall at every cluster
        # width, so overlapping it is what keeps N -> 4N scaling honest
        # (concurrent actions on one SparkSession are supported; with
        # FIFO scheduling a later job fills whatever task slots the
        # front job leaves idle). Snapshots/lineage are unchanged, so
        # resume semantics and outputs are identical to the serial
        # order, and each branch is internally sequential.
        s_idf = self.snap("idf", s_m)
        s_mi = self.snap("mention_feats", s_m, s_idf)
        s_p = self.snap("pairs", s_m)

        def _branch_feats() -> tuple[DataFrame, DataFrame]:
            idf = wh.stage("idf", s_idf,
                           lambda: build_idf(mentions, n_mentions),
                           lineage={"mentions": s_m})
            n_vocab = wh.manifest("idf")["rows"]
            mf = wh.stage(
                "mention_feats", s_mi,
                lambda: build_mention_feats(mentions, idf,
                                            vocab_rows=n_vocab),
                lineage={"mentions": s_m, "idf": s_idf})
            return idf, mf

        def _branch_pairs() -> DataFrame:
            return wh.stage("pairs", s_p, lambda: build_pairs(mentions),
                            lineage={"mentions": s_m})

        (idf, mention_feats), pairs = run_branches(
            self.spark, [_branch_feats, _branch_pairs])

        # scoring salt sized from the MATERIALIZED pair count (the pairs
        # manifest already knows it — no extra job): ~100k pairs/group
        # keeps every task's member+pair batch bounded at any corpus
        # size; PAIR_SCORE_GROUPS remains the floor. Group
        # composition never changes output (the kernel is per-pair).
        n_pairs = wh.manifest("pairs")["rows"]
        groups = max(PAIR_SCORE_GROUPS, min(1 << 20, n_pairs // 100_000))
        s_ps = self.snap("pair_scores", s_p, s_mi)
        pair_scores = wh.stage(
            "pair_scores", s_ps,
            lambda: build_pair_scores_grouped(pairs, mention_feats,
                                              groups=groups),
            lineage={"pairs": s_p, "mention_feats": s_mi})

        s_c = self.snap("clusters", s_ps)
        clusters = wh.stage(
            "clusters", s_c,
            lambda: label_clusters(
                mentions,
                pair_scores.where("is_edge").select("url_1", "url_2"),
                edges_max=wh.manifest("pair_scores")["rows"]),
            lineage={"pair_scores": s_ps})

        s_e = self.snap("entities", s_c, s_m, s_idf)
        entities = wh.stage(
            "entities", s_e,
            lambda: build_entities(mentions, idf, clusters),
            lineage={"clusters": s_c, "mentions": s_m, "idf": s_idf})

        return {
            "mentions": mentions, "idf": idf, "mention_feats": mention_feats,
            "pairs": pairs, "pair_scores": pair_scores,
            "clusters": clusters, "entities": entities,
        }
