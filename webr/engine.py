"""The distributed pipeline (SURVEY §3.1 re-design):

pages -> mentions (Arrow mapInPandas, shared kernel)
      -> idf (explode + groupBy, A4)
      -> mentions+idf_map (distributed token join — no driver dict)
      -> candidate pairs (block explode; J1 self-join for small blocks,
         sorted-neighborhood window for mega-blocks = explicit skew rule)
      -> pair scores (Arrow mapInPandas, shared batched kernel, A8)
      -> edges (score >= EPS) -> hash-min connected components (C3)
      -> clusters, entities (A6 majority vote)

Every stage checkpoints through the Warehouse facade with a lineage
fingerprint, so a killed job resumes from the last complete stage
(north_rule). Stage boundaries == shuffle boundaries.
"""

from __future__ import annotations

import math
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession, Window

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


# vocab sizes up to this broadcast as a plain dict into the Python pass
# (zero shuffles); above it, the distributed join fallback runs instead.
# 1M entries ~ 100-200 MB as a Python dict PER python worker process —
# with 32 workers per host that is the practical executor-memory ceiling
# (a 5M cap measured ~0.5-1 GB/worker). The fallback is bitwise-identical
# (tested), so the cap trades only a little speed, never correctness.
VOCAB_BROADCAST_MAX = int(os.environ.get("WEBR_VOCAB_BROADCAST_MAX",
                                         "1000000"))


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
    return _build_mention_feats_join(mentions, idf)


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


def _build_mention_feats_join(mentions: DataFrame,
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


def build_pairs(mentions: DataFrame) -> DataFrame:
    """Candidate pair generation. Small blocks: all i<j pairs via self-join
    on block_key (J1/P10 — Catalyst picks the physical join, AQE handles
    residual skew). Blocks over MAX_BLOCK_SIZE: sorted-neighborhood window
    (orderBy name_norm,url; lead 1..SN_WINDOW) — bounds any block to O(n·W)
    pairs, which is the explicit mega-block/skew rule (SURVEY §4)."""
    memb = (mentions
            .where(F.col("parse_ok") & (F.size("block_keys") > 0))
            .select("url", "name_norm",
                    F.explode("block_keys").alias("bk")))
    sizes = memb.groupBy("bk").agg(F.count("*").alias("bk_n"))
    memb = memb.join(sizes, "bk")  # singleton blocks die via bk_n >= 2

    small = memb.where((F.col("bk_n") >= 2)
                       & (F.col("bk_n") <= spec.MAX_BLOCK_SIZE))
    a, b = small.alias("a"), small.alias("b")
    pairs_small = (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                          & (F.col("a.url") < F.col("b.url")))
                   .select(F.col("a.bk").alias("bk"),
                           F.col("a.url").alias("url_1"),
                           F.col("b.url").alias("url_2")))

    big = memb.where(F.col("bk_n") > spec.MAX_BLOCK_SIZE)
    w = Window.partitionBy("bk").orderBy("name_norm", "url")
    nbrs = F.array(*[F.lead("url", o).over(w)
                     for o in range(1, spec.SN_WINDOW + 1)])
    pairs_big = (big.select("bk", "url", nbrs.alias("nbrs"))
                 .select("bk", "url", F.explode("nbrs").alias("nbr"))
                 .where(F.col("nbr").isNotNull())
                 .select("bk",
                         F.least("url", "nbr").alias("url_1"),
                         F.greatest("url", "nbr").alias("url_2")))

    return (pairs_small.unionByName(pairs_big)
            .groupBy("url_1", "url_2")
            .agg(F.min("bk").alias("block_key")))


# coarse cogroup salt: pair-scoring tasks each handle ~(pairs/GROUPS)
# pairs. Scale note: at 100 TB raise via env (or derive from the pairs
# stage row count) so a group stays ~10^5 pairs; block integrity is NOT
# required by the kernel, so the salt can split arbitrarily fine.
PAIR_SCORE_GROUPS = int(os.environ.get("WEBR_PAIR_SCORE_GROUPS", "1024"))


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

    p = pairs.select(
        "url_1", "url_2", "block_key",
        F.pmod(F.xxhash64("block_key"), F.lit(groups)).alias("gk"))
    # gk recomputed from `pairs` (not re-used from `p`) so the cogroup's
    # two branches don't share one attribute id (self-join ambiguity)
    urls = (pairs.select(F.col("block_key").alias("bk"),
                         F.col("url_1").alias("url"))
            .unionByName(pairs.select(F.col("block_key").alias("bk"),
                                      F.col("url_2").alias("url")))
            .select(F.pmod(F.xxhash64("bk"), F.lit(groups)).alias("gk"),
                    "url")
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

    return (p.groupby("gk")
            .cogroup(side.groupby("gk"))
            .applyInArrow(score_group, schema=schema.PAIR_SCORES))


def build_entities(mentions: DataFrame, idf: DataFrame,
                   clusters: DataFrame,
                   profile_top: int = 256) -> DataFrame:
    """Canonical record per cluster (ref import_clusters.py:86-194, A6/W3):
    majority-vote name + top-3 hosts + top-N tf-idf profile tokens."""
    members = (clusters.where(~F.col("is_noise"))
               .join(mentions, "url"))

    # ONE scan + ONE count-shuffle + ONE ranked pass for all four
    # majority votes (name, last, first-initial, top-3 hosts) and the
    # member count — was 5 separate aggregation chains re-scanning the
    # members join, each with its own shuffle round (flat latency that
    # doesn't amortize at 1000 executors).
    melted = (members.select(
        "cluster_id",
        F.explode(F.array(
            F.struct(F.lit("name").alias("kind"),
                     F.col("name_norm").alias("val")),
            F.struct(F.lit("last").alias("kind"),
                     F.col("last").alias("val")),
            F.struct(F.lit("fi").alias("kind"),
                     F.substring("first", 1, 1).alias("val")),
            F.struct(F.lit("host").alias("kind"),
                     F.col("host").alias("val")),
        )).alias("kv"))
        .select("cluster_id", F.col("kv.kind").alias("kind"),
                F.col("kv.val").alias("val")))
    ranked = (melted.groupBy("cluster_id", "kind", "val")
              .agg(F.count("*").alias("cnt"))
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("cluster_id", "kind")
                  .orderBy(F.desc("cnt"), F.asc("val")))))

    def top1(kind: str):
        return F.max(F.when((F.col("kind") == kind) & (F.col("rn") == 1),
                            F.col("val")))

    stats = (ranked.groupBy("cluster_id").agg(
        top1("name").alias("canonical_name"),
        top1("last").alias("last"),
        top1("fi").alias("first_initial"),
        F.sum(F.when(F.col("kind") == "name", F.col("cnt"))
              .otherwise(F.lit(0))).alias("n_members"),
        F.expr("transform(array_sort(collect_list(case when kind = 'host' "
               "then struct(rn, val) end)), x -> x.val)")
        .alias("hosts_ranked")))
    # top-3 hosts after substring-containment dedup in rank order (A6,
    # ref import_clusters.py:148-179 scans the FULL ranked list until 3
    # survive: 'sub.mega.example.com' and 'mega.example.com' collapse to
    # the higher-ranked one). The ranked list is bounded by the cluster's
    # distinct-host count (entity-sized), so collecting it whole is safe.
    # The fold compares each host against the SURVIVORS so far — not
    # against already-dropped entries, which would eliminate an
    # unrelated host transitively through a dropped middleman
    stats = (stats.withColumn(
        "hosts",
        F.expr("aggregate(hosts_ranked, cast(array() as array<string>), "
               "(acc, x) -> CASE WHEN size(acc) >= 3 OR exists(acc, "
               "y -> instr(y, x) > 0 OR instr(x, y) > 0) "
               "THEN acc ELSE array_append(acc, x) END)"))
        .drop("hosts_ranked"))

    # cluster BoW profile: sum member tf*idf per token, keep top-N (A5).
    # idf(token) is constant across members, so sum(tf)*idf == the
    # per-member tf*idf sum — ONE occurrence-count shuffle (map-side
    # combine collapses it to |clusters|x|vocab|) replaces the former
    # (cluster,url,token) two-level aggregation. idf is broadcast (vocab
    # table is small relative to the corpus; for 10^9-term vocabularies
    # drop the hint and let AQE pick the join).
    occ = (members.select("cluster_id", F.explode("body_toks").alias("token"))
           .groupBy("cluster_id", "token")
           .agg(F.count("*").alias("cnt")))
    weights = (occ.join(F.broadcast(idf.select("token", "idf")), "token")
               .select("cluster_id", "token",
                       (F.col("cnt") * F.col("idf")).alias("w")))
    top_w = Window.partitionBy("cluster_id").orderBy(
        F.desc("w"), F.asc("token"))
    profile = (weights.withColumn("rn", F.row_number().over(top_w))
               .where(F.col("rn") <= profile_top)
               .groupBy("cluster_id")
               .agg(F.map_from_entries(F.collect_list(
                   F.struct("token", "w"))).alias("profile")))

    out = stats.join(profile, "cluster_id", "left")
    return out.select([f.name for f in schema.ENTITIES.fields])


# --------------------------------------------------------------------------
# orchestrated, checkpointed run

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

        if os.environ.get("WEBR_OVERLAP_STAGES", "1") != "0":
            with ThreadPoolExecutor(max_workers=2) as ex:
                fut_feats = ex.submit(_branch_feats)
                fut_pairs = ex.submit(_branch_pairs)
                idf, mention_feats = fut_feats.result()
                pairs = fut_pairs.result()
        else:
            idf, mention_feats = _branch_feats()
            pairs = _branch_pairs()

        # scoring salt sized from the MATERIALIZED pair count (the pairs
        # manifest already knows it — no extra job): ~100k pairs/group
        # keeps every task's member+pair batch bounded at any corpus
        # size; WEBR_PAIR_SCORE_GROUPS remains the floor. Group
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
                pair_scores.where("is_edge").select("url_1", "url_2")),
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
