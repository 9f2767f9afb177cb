"""ER-semantic operators re-expressed over the driver's ``documents`` table
(doc_id, text, lang, source, n_chars) so each one has a DuckDB oracle.
``source`` plays the hostname role, ``text`` the page text.

Covers SURVEY §2 lines: P1/P4/P5 (normalize), F13/A1/A2 (blocking keys +
singleton elimination), J1/P10 (in-block self-join, upper triangle),
F1/F3 (Jaccard/Levenshtein), F2 (Jaro-Winkler), A4/F18 (IDF), F5/J3/W1
(TF-IDF cosine top-k via broadcast-style token join), C3 (connected
components = the clustering core), A6/W3 (majority-vote mode).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from webr import spec
from webr.engine import bounded_pairs
from webr.queries.common import (
    doc_count, duck_tokens_nostop, read, spark_tokens_nostop, with_sides,
)

# shared fragments -----------------------------------------------------------

# try_element_at: plain element_at THROWS on an empty array under
# Spark 4's ANSI mode; DuckDB's toks[1] returns NULL on empty — NULL
# block keys then pair with nothing on both engines
_BK_SPARK = ("concat(source, ':', "
             "substring(try_element_at({toks}, 1), 1, 1))")
_BK_DUCK = "source || ':' || substr({toks}[1], 1, 1)"

def duck_bounded_pairs(docs_sql: str, key: str = "block_key",
                       id_col: str = "doc_id") -> str:
    """DuckDB CTE body mirroring ``webr.engine.bounded_pairs(d, key,
    id_col)``, the mega-block guard of every self-join in this family:
    within a block sorted by id, (rn_b - rn_a) in [1, W] == the
    lead-window pairs, and rn order == id order, so both engines emit the
    identical pair set."""
    cap, win = spec.MAX_BLOCK_SIZE, spec.SN_WINDOW
    return f"""
bm AS (SELECT {id_col}, {key},
              row_number() OVER (PARTITION BY {key} ORDER BY {id_col}) AS rn,
              count(*) OVER (PARTITION BY {key}) AS bn
       FROM ({docs_sql})),
cand AS (
  SELECT a.{key} AS {key}, a.{id_col} AS {id_col}_1, b.{id_col} AS {id_col}_2
  FROM bm a JOIN bm b ON a.{key} = b.{key}
   AND ((a.bn <= {cap} AND a.{id_col} < b.{id_col})
        OR (a.bn > {cap} AND b.rn > a.rn AND b.rn <= a.rn + {win})))
"""


def _docs_with_tokens(spark: SparkSession, sf: str) -> DataFrame:
    return (read(spark, sf, "documents")
            .withColumn("toks", F.expr(spark_tokens_nostop("text")))
            .withColumn("tset", F.array_sort(F.array_distinct("toks")))
            .withColumn("block_key",
                        F.expr(_BK_SPARK.format(toks="toks"))))


_DUCK_DOCS = f"""
  SELECT *, list_sort(list_distinct(toks)) AS tset,
         {_BK_DUCK.format(toks='toks')} AS block_key
  FROM (SELECT *, {duck_tokens_nostop('text')} AS toks FROM documents)
"""


# --- P1/P4/P5: normalization ---------------------------------------------------

def q_doc_normalize(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs_with_tokens(spark, sf)
    return (d.select("doc_id",
                     F.size("toks").alias("n_tokens"),
                     F.size("tset").alias("n_distinct"),
                     F.try_element_at("toks", F.lit(1))
                     .alias("first_token"))
            .orderBy("doc_id"))


SQL_DOC_NORMALIZE = f"""
SELECT doc_id, len(toks) AS n_tokens, len(tset) AS n_distinct,
       toks[1] AS first_token
FROM ({_DUCK_DOCS}) ORDER BY doc_id
"""


# --- F13/A1/A2: blocking keys + singleton elimination --------------------------

def q_doc_blocking(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs_with_tokens(spark, sf)
    return (d.groupBy("block_key").agg(F.count("*").alias("block_size"))
            .where(F.col("block_size") >= 2)
            .orderBy("block_key"))


SQL_DOC_BLOCKING = f"""
SELECT block_key, count(*) AS block_size
FROM ({_DUCK_DOCS})
GROUP BY block_key HAVING count(*) >= 2 ORDER BY block_key
"""


# --- J1/P10: in-block self-join, upper triangle --------------------------------

def q_doc_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs_with_tokens(spark, sf)
    return (bounded_pairs(d, "block_key", "doc_id")
            .groupBy("block_key")
            .agg(F.count("*").alias("n_pairs"))
            .orderBy("block_key"))


SQL_DOC_PAIRS = f"""
WITH {duck_bounded_pairs(_DUCK_DOCS)}
SELECT block_key, count(*) AS n_pairs
FROM cand GROUP BY block_key ORDER BY block_key
"""


# --- F1/F3: Jaccard + Levenshtein pair features --------------------------------

def q_doc_pair_features(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-arithmetic Jaccard (set sizes) + builtin levenshtein on
    30-char prefixes: exact cross-engine parity, no float summation."""
    d = (_docs_with_tokens(spark, sf)
         .withColumn("prefix", F.substring("text", 1, 30)))
    p = with_sides(bounded_pairs(d, "block_key", "doc_id"), d,
                   ["tset", "prefix", "n_chars"])
    inter = F.size(F.array_intersect("tset_1", "tset_2"))
    uni = (F.size("tset_1") + F.size("tset_2") - inter)
    return (p.select("doc_id_1", "doc_id_2",
                     F.round(inter / uni, 6).alias("jaccard"),
                     F.levenshtein("prefix_1", "prefix_2")
                     .alias("lev_prefix"),
                     F.abs(F.col("n_chars_1") - F.col("n_chars_2"))
                     .alias("len_diff"))
            .orderBy("doc_id_1", "doc_id_2"))


SQL_DOC_PAIR_FEATURES = f"""
WITH d AS (SELECT doc_id, block_key, tset, substr(text,1,30) AS prefix,
                  n_chars FROM ({_DUCK_DOCS})),
{duck_bounded_pairs("SELECT doc_id, block_key FROM d")}
SELECT c.doc_id_1, c.doc_id_2,
       round(len(list_intersect(a.tset, b.tset))::DOUBLE /
             (len(a.tset) + len(b.tset)
              - len(list_intersect(a.tset, b.tset))), 6) AS jaccard,
       levenshtein(a.prefix, b.prefix) AS lev_prefix,
       abs(a.n_chars - b.n_chars) AS len_diff
FROM cand c JOIN d a ON a.doc_id = c.doc_id_1
            JOIN d b ON b.doc_id = c.doc_id_2
ORDER BY doc_id_1, doc_id_2
"""


# --- M5 analog: ablation feature importance over the spec'd scoring rule.
# The reference prints the trained RF's feature_importances_
# (train_rf.py:153-162); its model pickle is absent from the repo, so the
# principled analog is ABLATION importance on the deterministic rule:
# for each feature, how many accepted edges flip when that feature's
# contribution is removed. All comparisons run on IEEE-identical doubles
# (same literal weights, same left-to-right summation order in BOTH
# engines) and every output is an exact integer count — hash-exact.

_FI_W = {"jaccard": 0.40, "lev_sim": 0.25, "len_sim": 0.15,
         "same_lang": 0.10, "same_source": 0.10}
_FI_THR = 0.55


def q_feature_importance(spark: SparkSession, sf: str) -> DataFrame:
    d = (_docs_with_tokens(spark, sf)
         .withColumn("prefix", F.substring("text", 1, 30)))
    p = with_sides(bounded_pairs(d, "block_key", "doc_id"), d,
                   ["tset", "prefix", "n_chars", "lang", "source"])
    inter = F.size(F.array_intersect("tset_1", "tset_2"))
    uni = F.size("tset_1") + F.size("tset_2") - inter
    feats = {
        "jaccard": inter.cast("double") / uni.cast("double"),
        "lev_sim": F.lit(1.0) - F.levenshtein("prefix_1", "prefix_2")
        .cast("double") / F.lit(30.0),
        "len_sim": F.lit(1.0)
        - F.abs(F.col("n_chars_1") - F.col("n_chars_2")).cast("double")
        / F.greatest("n_chars_1", "n_chars_2", F.lit(1)).cast("double"),
        "same_lang": F.when(F.col("lang_1") == F.col("lang_2"), 1.0)
        .otherwise(0.0),
        "same_source": F.when(F.col("source_1") == F.col("source_2"), 1.0)
        .otherwise(0.0),
    }
    contribs = {k: F.lit(w) * feats[k] for k, w in _FI_W.items()}
    raw = None
    for k in _FI_W:  # fixed left-to-right fold, mirrored in the SQL
        raw = contribs[k] if raw is None else raw + contribs[k]
    scored = p.select(raw.alias("raw"),
                      *[c.alias(f"c_{k}") for k, c in contribs.items()])
    agg = scored.agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("raw") >= _FI_THR).cast("long")).alias("n_edges"),
        *[F.sum(((F.col("raw") - F.col(f"c_{k}")) >= _FI_THR)
                .cast("long")).alias(f"wo_{k}") for k in _FI_W])
    rows = F.array(*[
        F.struct(F.lit(k).alias("feature"),
                 F.col("n_pairs"), F.col("n_edges"),
                 F.col(f"wo_{k}").alias("n_edges_ablated"),
                 (F.col("n_edges") - F.col(f"wo_{k}")).alias("n_flipped"))
        for k in _FI_W])
    return (agg.select(F.explode(rows).alias("r")).select("r.*")
            .orderBy("feature"))


def _fi_duck_feats() -> dict[str, str]:
    return {
        "jaccard": ("len(list_intersect(a.tset, b.tset))::DOUBLE / "
                    "(len(a.tset) + len(b.tset) "
                    "- len(list_intersect(a.tset, b.tset)))::DOUBLE"),
        "lev_sim": ("1.0 - levenshtein(a.prefix, b.prefix)::DOUBLE / 30.0"),
        "len_sim": ("1.0 - abs(a.n_chars - b.n_chars)::DOUBLE / "
                    "greatest(a.n_chars, b.n_chars, 1)::DOUBLE"),
        "same_lang": "CASE WHEN a.lang = b.lang THEN 1.0 ELSE 0.0 END",
        "same_source": ("CASE WHEN a.source = b.source THEN 1.0 "
                        "ELSE 0.0 END"),
    }


def _sql_feature_importance() -> str:
    fd = _fi_duck_feats()
    contribs = {k: f"({_FI_W[k]} * ({fd[k]}))" for k in _FI_W}
    raw = " + ".join(contribs[k] for k in _FI_W)
    wo = ", ".join(
        f"sum(CASE WHEN (raw - c_{k}) >= {_FI_THR} THEN 1 ELSE 0 END) "
        f"AS wo_{k}" for k in _FI_W)
    sel = ", ".join(f"{contribs[k]} AS c_{k}" for k in _FI_W)
    unions = " UNION ALL ".join(
        f"SELECT '{k}' AS feature, n_pairs, n_edges, "
        f"CAST(wo_{k} AS BIGINT) AS n_edges_ablated, "
        f"CAST(n_edges - wo_{k} AS BIGINT) AS n_flipped FROM g"
        for k in _FI_W)
    return f"""
WITH d AS (SELECT doc_id, block_key, tset, substr(text,1,30) AS prefix,
                  n_chars, lang, source FROM ({_DUCK_DOCS})),
{duck_bounded_pairs("SELECT doc_id, block_key FROM d")},
scored AS (
  SELECT ({raw}) AS raw, {sel}
  FROM cand c JOIN d a ON a.doc_id = c.doc_id_1
              JOIN d b ON b.doc_id = c.doc_id_2),
g AS (SELECT count(*) AS n_pairs,
             CAST(sum(CASE WHEN raw >= {_FI_THR} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_edges, {wo}
      FROM scored)
SELECT * FROM ({unions}) ORDER BY feature
"""


# --- F2: Jaro-Winkler (python kernel vs duckdb builtin — same algorithm) -------

def q_doc_jaro_winkler(spark: SparkSession, sf: str) -> DataFrame:
    d = (_docs_with_tokens(spark, sf)
         .withColumn("prefix", F.substring("text", 1, 40)))
    pairs = (with_sides(bounded_pairs(d, "block_key", "doc_id"), d,
                        ["prefix"])
             .select("doc_id_1", "doc_id_2", "prefix_1", "prefix_2"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from webr.textproc import jaro_winkler
        for pdf in batches:
            pdf = pdf.copy()
            pdf["jw"] = [round(jaro_winkler(x, y), 6)
                         for x, y in zip(pdf["prefix_1"], pdf["prefix_2"])]
            yield pdf[["doc_id_1", "doc_id_2", "jw"]]

    return (pairs.mapInPandas(
        gen, "doc_id_1 long, doc_id_2 long, jw double")
        .orderBy("doc_id_1", "doc_id_2"))


SQL_DOC_JARO_WINKLER = f"""
WITH d AS (SELECT doc_id, block_key, substr(text,1,40) AS prefix
           FROM ({_DUCK_DOCS})),
{duck_bounded_pairs("SELECT doc_id, block_key FROM d")}
SELECT c.doc_id_1, c.doc_id_2,
       round(jaro_winkler_similarity(a.prefix, b.prefix), 6) AS jw
FROM cand c JOIN d a ON a.doc_id = c.doc_id_1
            JOIN d b ON b.doc_id = c.doc_id_2
ORDER BY doc_id_1, doc_id_2
"""


# --- A4/F18: corpus IDF ---------------------------------------------------------

def q_doc_idf(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs_with_tokens(spark, sf)
    # count the raw table, not the tokenized frame: same N, but the scan
    # stays footer-only instead of re-running tokenization (once per
    # app and dir — doc_count memoizes it)
    n = doc_count(spark, sf)
    tok = d.select("doc_id", F.explode("tset").alias("token"))
    return (tok.groupBy("token").agg(F.count("*").alias("df"))
            .withColumn("idf", F.round(F.log(F.lit(float(n)) / F.col("df")),
                                       6))
            .orderBy("token"))


SQL_DOC_IDF = f"""
WITH tok AS (SELECT doc_id, unnest(tset) AS token FROM ({_DUCK_DOCS}))
SELECT token, count(*) AS df,
       round(ln((SELECT count(*) FROM documents)::DOUBLE / count(*)), 6)
       AS idf
FROM tok GROUP BY token ORDER BY token
"""


# --- F5/J3/W1: TF-IDF cosine top-k ----------------------------------------------

def q_doc_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Relational tf-idf cosine: explode tokens, weight by idf, join on
    token between query docs (doc_id % 100 == 0) and the corpus, window
    top-3 per query. Fully JVM-side (no UDF)."""
    d = _docs_with_tokens(spark, sf)
    n = doc_count(spark, sf)
    tf = (d.select("doc_id", F.explode("toks").alias("token"))
          .groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    idf = (tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
           .withColumn("idf", F.log(F.lit(float(n)) / F.col("df"))))
    w = (tf.join(idf, "token")
         .select("doc_id", "token", (F.col("tf") * F.col("idf")).alias("w")))
    norm = (w.groupBy("doc_id")
            .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")))
    qw = (w.where(F.col("doc_id") % 100 == 0)
          .select(F.col("doc_id").alias("q_id"), "token",
                  F.col("w").alias("qw")))
    dots = (F.broadcast(qw).join(w, "token")
            .where(F.col("doc_id") != F.col("q_id"))
            .groupBy("q_id", "doc_id")
            .agg(F.sum(F.col("qw") * F.col("w")).alias("dot")))
    cos = (dots
           .join(norm.select(F.col("doc_id").alias("q_id"),
                             F.col("nrm").alias("qn")), "q_id")
           .join(norm, "doc_id")
           .select("q_id", "doc_id",
                   (F.col("dot") / (F.col("qn") * F.col("nrm")))
                   .alias("cos_raw")))
    win = Window.partitionBy("q_id").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("doc_id"))
    return (cos.withColumn("rk", F.row_number().over(win))
            .where(F.col("rk") <= 3)
            .select("q_id", "doc_id", F.round("cos_raw", 4).alias("cosine"),
                    "rk")
            .orderBy("q_id", "rk"))


SQL_DOC_COSINE_TOPK = f"""
WITH d AS ({_DUCK_DOCS}),
tf AS (SELECT doc_id, unnest(toks) AS token FROM d),
tfc AS (SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY 1, 2),
idf AS (SELECT token, ln((SELECT count(*) FROM documents)::DOUBLE
                          / count(DISTINCT doc_id)) AS idf
        FROM tfc GROUP BY token),
w AS (SELECT doc_id, tfc.token, tf * idf AS w FROM tfc JOIN idf USING (token)),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
dots AS (
  SELECT q.doc_id AS q_id, w.doc_id AS doc_id, sum(q.w * w.w) AS dot
  FROM w q JOIN w ON q.token = w.token
  WHERE q.doc_id % 100 = 0 AND w.doc_id <> q.doc_id
  GROUP BY 1, 2),
cos AS (
  SELECT q_id, dots.doc_id,
         dot / (qn.nrm * dn.nrm) AS cos_raw
  FROM dots JOIN nrm qn ON qn.doc_id = dots.q_id
            JOIN nrm dn ON dn.doc_id = dots.doc_id),
rk AS (SELECT q_id, doc_id, cos_raw,
              row_number() OVER (PARTITION BY q_id
                                 ORDER BY round(cos_raw, 6) DESC, doc_id)
              AS rk
       FROM cos)
SELECT q_id, doc_id, round(cos_raw, 4) AS cosine, rk
FROM rk WHERE rk <= 3 ORDER BY q_id, rk
"""


# --- C3: transitive clustering (the flagship) -----------------------------------

_EDGE_TAU = 0.6


def _doc_edges(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs_with_tokens(spark, sf)
    p = with_sides(bounded_pairs(d, "block_key", "doc_id"), d, ["tset"])
    inter = F.size(F.array_intersect("tset_1", "tset_2"))
    uni = F.size("tset_1") + F.size("tset_2") - inter
    return (p.where(inter / uni >= _EDGE_TAU)
            .select("doc_id_1", "doc_id_2"))


def q_doc_components(spark: SparkSession, sf: str) -> DataFrame:
    """Token-set-similar docs in the same block, transitively closed via
    distributed union-find CC (webr.cluster). DuckDB oracle uses a recursive
    CTE doing the same min-label propagation."""
    from webr.cluster import connected_components
    # plain scan: the doc-id universe needs no tokenization
    d = read(spark, sf, "documents").select("doc_id")
    edges = _doc_edges(spark, sf).select(
        F.col("doc_id_1").alias("url_1"), F.col("doc_id_2").alias("url_2"))
    labels = connected_components(edges)[0].select(
        F.col("url").alias("doc_id"), F.col("rep").alias("component"))
    return (d.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", "doc_id").alias("component"))
            .orderBy("doc_id"))


SQL_DOC_COMPONENTS = f"""
WITH RECURSIVE d AS ({_DUCK_DOCS}),
{duck_bounded_pairs("SELECT doc_id, block_key FROM d")},
pairs AS (
  SELECT c.doc_id_1 AS a, c.doc_id_2 AS b
  FROM cand c JOIN d da ON da.doc_id = c.doc_id_1
              JOIN d db ON db.doc_id = c.doc_id_2
  WHERE len(list_intersect(da.tset, db.tset))::DOUBLE /
        (len(da.tset) + len(db.tset)
         - len(list_intersect(da.tset, db.tset)))
        >= {_EDGE_TAU}),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
lab(v, rep) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, l.rep FROM lab l JOIN edges e ON l.v = e.a
  WHERE l.rep < e.b)
SELECT doc_id, coalesce((SELECT min(rep) FROM lab WHERE v = doc_id), doc_id)
       AS component
FROM documents ORDER BY doc_id
"""

# Note on the oracle CTE: strings are CAST on the Spark side because the
# shared CC operator propagates min over its key type; ids stay exact.


# --- A6/W3: majority-vote mode per group ----------------------------------------

def q_source_mode_lang(spark: SparkSession, sf: str) -> DataFrame:
    d = read(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("lang"))
    return (d.groupBy("source", "lang").agg(F.count("*").alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("source", F.col("lang").alias("modal_lang"),
                    F.col("cnt").alias("n_docs"))
            .orderBy("source"))


SQL_SOURCE_MODE_LANG = """
SELECT source, lang AS modal_lang, cnt AS n_docs
FROM (SELECT source, lang, count(*) AS cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY count(*) DESC, lang) AS rn
      FROM documents GROUP BY source, lang) t
WHERE rn = 1 ORDER BY source
"""


# --- A10: blocking-quality metrics RR / PC / F ----------------------------------
# (ref train_blocking.py:14-49). Truth pairs = same content fingerprint
# (sorted distinct token set); candidate pairs = same block_key. Everything
# is exact integer pair-counting; ratios divide identical integers on both
# engines, so round(x, 6) is an exact cross-engine check.

def q_blocking_metrics(spark: SparkSession, sf: str) -> DataFrame:
    d = (_docs_with_tokens(spark, sf)
         .select("doc_id", "block_key",
                 F.md5(F.array_join("tset", " ")).alias("fp")))

    def pair_sum(grouped, alias: str) -> DataFrame:
        return (grouped.agg(F.count("*").alias("c"))
                .agg(F.expr("coalesce(sum(c * (c - 1) div 2), 0)")
                     .alias(alias)))

    tot = d.agg(F.count("*").alias("n_docs"),
                F.expr("count(*) * (count(*) - 1) div 2")
                .alias("total_pairs"))
    # NULL block keys pair with NOTHING (same invariant as
    # bounded_pairs) — a NULL group must not contribute candidate or
    # covered pairs; truth pairs stay defined over all docs
    keyed = d.where(F.col("block_key").isNotNull())
    cand = pair_sum(keyed.groupBy("block_key"), "cand_pairs")
    true = pair_sum(d.groupBy("fp"), "true_pairs")
    cov = pair_sum(keyed.groupBy("fp", "block_key"), "covered_pairs")
    m = tot.crossJoin(cand).crossJoin(true).crossJoin(cov)
    rr = 1 - F.col("cand_pairs") / F.col("total_pairs")
    pc = F.col("covered_pairs") / F.greatest(F.col("true_pairs"), F.lit(1))
    f = F.when(rr + pc > 0, 2 * rr * pc / (rr + pc)).otherwise(F.lit(0.0))
    return m.select(
        "n_docs", "total_pairs", "cand_pairs", "true_pairs", "covered_pairs",
        F.round(rr, 6).alias("rr"), F.round(pc, 6).alias("pc"),
        F.round(f, 6).alias("f"))


SQL_BLOCKING_METRICS = f"""
WITH d AS (SELECT doc_id, block_key, md5(array_to_string(tset, ' ')) AS fp
           FROM ({_DUCK_DOCS})),
tot AS (SELECT count(*) AS n_docs,
               CAST(count(*) * (count(*) - 1) // 2 AS BIGINT)
               AS total_pairs FROM d),
-- CASTs: DuckDB sum(BIGINT) returns HUGEINT (pandas float64), which the
-- driver hasher mismatches against Spark's int64
cand AS (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT)
         AS cand_pairs
         FROM (SELECT count(*) AS c FROM d
               WHERE block_key IS NOT NULL GROUP BY block_key)),
tr AS (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT)
       AS true_pairs
       FROM (SELECT count(*) AS c FROM d GROUP BY fp)),
cov AS (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT)
        AS covered_pairs
        FROM (SELECT count(*) AS c FROM d
              WHERE block_key IS NOT NULL GROUP BY fp, block_key))
SELECT n_docs, total_pairs, cand_pairs, true_pairs, covered_pairs,
       round(1 - cand_pairs::DOUBLE / total_pairs, 6) AS rr,
       round(covered_pairs::DOUBLE / greatest(true_pairs, 1), 6) AS pc,
       round(CASE WHEN (1 - cand_pairs::DOUBLE / total_pairs)
                     + covered_pairs::DOUBLE / greatest(true_pairs, 1) > 0
             THEN 2 * (1 - cand_pairs::DOUBLE / total_pairs)
                    * (covered_pairs::DOUBLE / greatest(true_pairs, 1))
                  / ((1 - cand_pairs::DOUBLE / total_pairs)
                     + covered_pairs::DOUBLE / greatest(true_pairs, 1))
             ELSE 0.0 END, 6) AS f
FROM tot, cand, tr, cov
"""


# --- W5: deterministic train/dev/test split --------------------------------------
# (ref train_rf.py:62-88 shuffles with a fixed seed; at cluster scale the
# engine-portable analog is a hash split — same rows land in the same split
# on ANY engine, executor count, or rerun, unlike randomSplit.)

_NIBBLE_SPARK = ("instr('0123456789abcdef', "
                 "substring(md5(cast(doc_id as string)), 1, 1)) - 1")
_NIBBLE_DUCK = ("strpos('0123456789abcdef', "
                "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1")


def q_train_split(spark: SparkSession, sf: str) -> DataFrame:
    d = read(spark, sf, "documents").withColumn(
        "nib", F.expr(_NIBBLE_SPARK))
    split = (F.when(F.col("nib") <= 11, "train")
             .when(F.col("nib") <= 13, "dev").otherwise("test"))
    return (d.select(split.alias("split"), "doc_id", "n_chars")
            .groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.min("doc_id").alias("min_doc_id"))
            .orderBy("split"))


SQL_TRAIN_SPLIT = f"""
SELECT CASE WHEN {_NIBBLE_DUCK} <= 11 THEN 'train'
            WHEN {_NIBBLE_DUCK} <= 13 THEN 'dev'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc_id
FROM documents GROUP BY split ORDER BY split
"""


# --- M3: classifier eval surface (PR curve) --------------------------------
# (ref train_rf.py:218-236). Score = token-set jaccard over the bounded
# candidate pairs; truth = same content fingerprint (as blocking_metrics).
# Exercises webr.evalm.pr_curve with an exact integer-ratio oracle.

def q_pr_curve(spark: SparkSession, sf: str) -> DataFrame:
    from webr.evalm import pr_curve
    d = (_docs_with_tokens(spark, sf)
         .select("doc_id", "block_key", "tset",
                 F.md5(F.array_join("tset", " ")).alias("fp")))
    p = with_sides(bounded_pairs(d, "block_key", "doc_id"), d,
                   ["tset", "fp"])
    inter = F.size(F.array_intersect("tset_1", "tset_2"))
    uni = F.size("tset_1") + F.size("tset_2") - inter
    scored = p.select((inter / uni).alias("score"),
                      (F.col("fp_1") == F.col("fp_2")).alias("match"))
    return pr_curve(scored, decimals=2).orderBy(F.desc("thr"))


SQL_PR_CURVE = f"""
WITH d AS (SELECT doc_id, block_key, tset,
                  md5(array_to_string(tset, ' ')) AS fp
           FROM ({_DUCK_DOCS})),
{duck_bounded_pairs("SELECT doc_id, block_key FROM d")},
scored AS (
  SELECT round(len(list_intersect(a.tset, b.tset))::DOUBLE /
               (len(a.tset) + len(b.tset)
                - len(list_intersect(a.tset, b.tset))), 2) AS thr,
         (a.fp = b.fp)::INT AS m
  FROM cand c JOIN d a ON a.doc_id = c.doc_id_1
              JOIN d b ON b.doc_id = c.doc_id_2),
g AS (SELECT thr, count(*) AS n, sum(m) AS pos FROM scored GROUP BY thr),
cum AS (SELECT thr,
               CAST(sum(n) OVER w AS BIGINT) AS n_pred,
               CAST(sum(pos) OVER w AS BIGINT) AS n_tp,
               (SELECT CAST(sum(m) AS BIGINT) FROM scored) AS tot_pos
        FROM g
        WINDOW w AS (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING))
SELECT thr, n_pred, n_tp,
       round(n_tp::DOUBLE / n_pred, 6) AS precision,
       round(n_tp::DOUBLE / greatest(tot_pos, 1), 6) AS recall,
       round(CASE WHEN n_tp::DOUBLE / n_pred
                       + n_tp::DOUBLE / greatest(tot_pos, 1) > 0
             THEN 2 * (n_tp::DOUBLE / n_pred)
                    * (n_tp::DOUBLE / greatest(tot_pos, 1))
                  / (n_tp::DOUBLE / n_pred
                     + n_tp::DOUBLE / greatest(tot_pos, 1))
             ELSE 0.0 END, 6) AS f1
FROM cum ORDER BY thr DESC
"""


QUERIES = {
    "doc_normalize": (q_doc_normalize, SQL_DOC_NORMALIZE),
    "doc_blocking": (q_doc_blocking, SQL_DOC_BLOCKING),
    "doc_pairs": (q_doc_pairs, SQL_DOC_PAIRS),
    "doc_pair_features": (q_doc_pair_features, SQL_DOC_PAIR_FEATURES),
    "doc_jaro_winkler": (q_doc_jaro_winkler, SQL_DOC_JARO_WINKLER),
    "doc_idf": (q_doc_idf, SQL_DOC_IDF),
    "doc_cosine_topk": (q_doc_cosine_topk, SQL_DOC_COSINE_TOPK),
    "doc_components": (q_doc_components, SQL_DOC_COMPONENTS),
    "source_mode_lang": (q_source_mode_lang, SQL_SOURCE_MODE_LANG),
    "blocking_metrics": (q_blocking_metrics, SQL_BLOCKING_METRICS),
    "train_split": (q_train_split, SQL_TRAIN_SPLIT),
    "pr_curve": (q_pr_curve, SQL_PR_CURVE),
    "feature_importance": (q_feature_importance,
                           _sql_feature_importance()),
}
