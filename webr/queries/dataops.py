"""Training-data-pipeline operators over ``documents`` / ``embeddings``:
deduplication (exact hash, MinHash-LSH banding, SimHash, n-gram Jaccard),
similarity search (brute-force cosine top-k; LSH-bucketed scale path in
webr.similarity), text analysis (lang-id heuristic, quality scoring, token
counting, fingerprinting), and multimodal binary-column plumbing.

Hashing is md5-hex based on BOTH engines (portable), and set arithmetic is
integer-only wherever possible so the DuckDB oracle is an exact check.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from webr.engine import bounded_pairs
from webr.queries.common import (
    duck_tokens, duck_tokens_nostop, read, spark_tokens, spark_tokens_nostop,
    with_sides,
)
from webr.similarity import cosine_sql
from webr.textproc import STOPWORDS

# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy). The driver corpus has no byte-identical texts,
# so we dedup on the content fingerprint of the *sorted distinct token set* —
# order/whitespace-invariant, the standard first rung of web dedup.

_SPARK_TSET_FP = ("md5(array_join(array_sort(array_distinct("
                  + spark_tokens_nostop("text") + ")), ' '))")
_DUCK_TSET_FP = ("md5(array_to_string(list_sort(list_distinct("
                 + duck_tokens_nostop("text") + ")), ' '))")


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = read(spark, sf, "documents").withColumn(
        "fp", F.expr(_SPARK_TSET_FP))
    return (d.groupBy("fp")
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("keep_doc_id"))
            .where(F.col("n_dups") >= 2)
            .orderBy("fp"))


SQL_DEDUP_EXACT = f"""
SELECT fp, count(*) AS n_dups, min(doc_id) AS keep_doc_id
FROM (SELECT doc_id, {_DUCK_TSET_FP} AS fp FROM documents) t
GROUP BY fp HAVING count(*) >= 2 ORDER BY fp
"""


# ---------------------------------------------------------------------------
# MinHash-LSH banding with portable string-min signatures:
# h_{band}(shingle) = md5('<band>:' || shingle); signature = min over
# shingles; docs sharing a (band, signature-prefix) land in one bucket.

_N_BANDS = 4

_SPARK_SHINGLES = ("transform(sequence(0, size(toks) - 3), "
                   "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")
_DUCK_SHINGLES = ("[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
                  "for i in range(1, len(toks) - 1)]")


def _spark_band_sig(band: int) -> str:
    return (f"substring(array_min(transform(shingles, "
            f"s -> md5(concat('{band}:', s)))), 1, 12)")


def _duck_band_sig(band: int) -> str:
    return (f"substr(list_min(list_transform(shingles, "
            f"s -> md5('{band}:' || s))), 1, 12)")


def _minhash_memb(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, band, sig) LSH bucket membership — shared by the bucket
    query and the clusters query so the banding scheme cannot diverge."""
    d = (read(spark, sf, "documents")
         .withColumn("toks", F.expr(spark_tokens("text")))
         .where(F.size("toks") >= 3)
         .withColumn("shingles", F.expr(_SPARK_SHINGLES)))
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.expr(_spark_band_sig(b)).alias("sig"))
        for b in range(_N_BANDS)])
    return (d.select("doc_id", F.explode(bands).alias("bs"))
            .select("doc_id", F.col("bs.band").alias("band"),
                    F.col("bs.sig").alias("sig")))


# per-bucket id sample cap: a 100 TB mega-bucket must not materialize a
# multi-GB doc_ids cell in one reducer — n_docs carries the full count,
# the id list is a bounded sample (the clusters query below supersedes
# the full membership anyway), and the window rn<=cap means the
# collect_list buffer itself is bounded, not just the output cell
_LSH_IDS_CAP = 20


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH buckets with >=2 docs: candidate near-duplicate groups.
    At 100TB this is the shuffle-friendly path: one explode to
    (band, sig) keys, one groupBy — never an all-pairs join. The window
    and the groupBy share the (band, sig) partitioning, so rn costs a
    sort, not a second shuffle."""
    wrn = Window.partitionBy("band", "sig").orderBy("doc_id")
    return (_minhash_memb(spark, sf)
            .withColumn("rn", F.row_number().over(wrn))
            .groupBy("band", "sig")
            .agg(F.count("*").alias("n_docs"),
                 # scalar string, not array: the driver canonicalizer sorts
                 # cell values and cannot hash list-typed cells; collect
                 # only the cap smallest ids (collect_list skips NULLs)
                 F.array_join(F.array_sort(F.collect_list(
                     F.when(F.col("rn") <= _LSH_IDS_CAP,
                            F.col("doc_id")))), ",")
                 .alias("doc_ids"))
            .where(F.col("n_docs") >= 2)
            .orderBy("band", "sig"))


def _duck_band_rows() -> str:
    rows = [f"SELECT doc_id, {b} AS band, {_duck_band_sig(b)} AS sig FROM s"
            for b in range(_N_BANDS)]
    return " UNION ALL ".join(rows)


SQL_DEDUP_MINHASH_LSH = f"""
WITH s AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM (SELECT doc_id, {duck_tokens('text')} AS toks FROM documents)
  WHERE len(toks) >= 3),
b AS ({_duck_band_rows()})
SELECT band, sig, count(*) AS n_docs,
       array_to_string(list_sort(list(doc_id))[1:{_LSH_IDS_CAP}], ',')
       AS doc_ids
FROM b GROUP BY band, sig HAVING count(*) >= 2 ORDER BY band, sig
"""


# ---------------------------------------------------------------------------
# MinHash dedup CLUSTERS: transitive closure over bucket co-membership.
# Edges are STAR edges to each bucket's min doc (linear in bucket size —
# never all-pairs within a bucket), then distributed CC; the keeper is
# the component min. This is the operator a 100 TB dedup job actually
# ends with: (doc_id, dup_group, keep).

def q_dedup_minhash_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from webr.cluster import connected_components
    memb = _minhash_memb(spark, sf)
    roots = (memb.groupBy("band", "sig")
             .agg(F.min("doc_id").alias("root"),
                  F.count("*").alias("c"))
             .where(F.col("c") >= 2))
    edges = (memb.join(roots, ["band", "sig"])
             .where(F.col("doc_id") != F.col("root"))
             .select(F.col("root").alias("url_1"),
                     F.col("doc_id").alias("url_2"))
             .distinct())
    labels = connected_components(edges)[0].select(
        F.col("url").alias("doc_id"), F.col("rep").alias("dup_group"))
    docs = read(spark, sf, "documents").select("doc_id")
    return (docs.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("dup_group", "doc_id").alias("dup_group"))
            .withColumn("keep", F.col("dup_group") == F.col("doc_id"))
            .orderBy("doc_id"))


SQL_DEDUP_MINHASH_CLUSTERS = f"""
WITH RECURSIVE s AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS shingles
  FROM (SELECT doc_id, {duck_tokens('text')} AS toks FROM documents)
  WHERE len(toks) >= 3),
b AS ({_duck_band_rows()}),
m AS (SELECT band, sig, min(doc_id) AS root, count(*) AS c
      FROM b GROUP BY band, sig HAVING count(*) >= 2),
pairs AS (SELECT DISTINCT m.root AS a, b.doc_id AS bb
          FROM b JOIN m USING (band, sig) WHERE b.doc_id <> m.root),
edges AS (SELECT a, bb AS b FROM pairs
          UNION ALL SELECT bb AS a, a AS b FROM pairs),
lab(v, rep) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, l.rep FROM lab l JOIN edges e ON l.v = e.a
  WHERE l.rep < e.b)
SELECT doc_id,
       coalesce((SELECT min(rep) FROM lab WHERE v = doc_id), doc_id)
       AS dup_group,
       coalesce((SELECT min(rep) FROM lab WHERE v = doc_id), doc_id)
       = doc_id AS keep
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-char-derived so both engines compute byte-identically)

_HEX = "0123456789abcdef"


def _spark_hvals() -> str:
    # per-token 16-bit int from first 4 hex chars of md5(token) — hoisted
    # into ONE transform so md5 runs once per token, not once per bit
    # (inlining it in all 16 bit expressions made the query ~16x heavier)
    v = "+".join(
        f"(instr('{_HEX}', substring(md5(t), {k+1}, 1)) - 1) * {16 ** (3-k)}"
        for k in range(4))
    return f"transform(tset, t -> CAST(({v}) AS INT))"


def _spark_simhash() -> str:
    bits = " + ".join(
        f"CAST(CASE WHEN aggregate(transform(hvals, h -> CASE WHEN "
        f"(h div {1 << j}) % 2 = 1 THEN 1 ELSE -1 END), "
        f"0, (a, x) -> a + x) > 0 THEN {1 << j} ELSE 0 END AS INT)"
        for j in range(16))
    return bits


def _duck_simhash() -> str:
    v = "+".join(
        f"(strpos('{_HEX}', substr(md5(t), {k+1}, 1)) - 1) * {16 ** (3-k)}"
        for k in range(4))
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(tset, t -> CASE WHEN "
        f"(({v}) // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(16))
    return bits


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    d = (read(spark, sf, "documents")
         .withColumn("tset",
                     F.array_sort(F.array_distinct(
                         F.expr(spark_tokens_nostop("text")))))
         .where(F.size("tset") >= 1)
         .withColumn("hvals", F.expr(_spark_hvals())))
    return (d.select("doc_id",
                     F.expr(_spark_simhash()).cast("long").alias("simhash16"))
            .orderBy("doc_id"))


SQL_DEDUP_SIMHASH = f"""
SELECT doc_id, CAST({_duck_simhash()} AS BIGINT) AS simhash16
FROM (SELECT doc_id, list_sort(list_distinct({duck_tokens_nostop('text')}))
             AS tset
      FROM documents) t
WHERE len(tset) >= 1 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# 64-bit SimHash + banded Hamming near-dup pairs. The 16-bit signature
# above is the cheap corpus fingerprint; at 100 TB it collides massively,
# so the scale path is this one: 64 bits as FOUR 16-bit words (md5 hex
# chars 1-4 / 5-8 / 9-12 / 13-16 per token, majority vote per bit),
# candidate pairs share at least one exact word (pigeonhole: hamming <= 3
# over 64 bits guarantees one of 4 words equal), verified by
# bit_count(xor) <= 3. One explode + equi-join on (band, word) — never
# all-pairs. Per-token md5 is hoisted into ONE transform (16x/64x rule).

_SIMHASH64_HAM = 3


def _spark_hquad() -> str:
    """array per token: [w0, w1, w2, w3] 16-bit ints from one md5 call."""
    def word(w: int) -> str:
        return "+".join(
            f"(instr('{_HEX}', substring(m, {4 * w + k + 1}, 1)) - 1) "
            f"* {16 ** (3 - k)}"
            for k in range(4))
    quad = ", ".join(f"CAST(({word(w)}) AS INT)" for w in range(4))
    return ("transform(transform(tset, t -> md5(t)), "
            f"m -> array({quad}))")


def _spark_sim64_word(w: int) -> str:
    """Majority-vote 16-bit word w over the per-token hquad values."""
    bits = " + ".join(
        f"CAST(CASE WHEN aggregate(transform(hq, x -> CASE WHEN "
        f"(x[{w}] div {1 << j}) % 2 = 1 THEN 1 ELSE -1 END), "
        f"0, (a, y) -> a + y) > 0 THEN {1 << j} ELSE 0 END AS INT)"
        for j in range(16))
    return f"CAST({bits} AS BIGINT)"


def q_simhash64_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate join is the (band, word) bucket self-join ROUTED THROUGH
    the mega-block guard (bounded_pairs on the composite key):
    boilerplate-heavy corpora concentrate majority-vote words, and one
    hot (band, word) bucket must cost O(n*W) candidates, not O(n^2) —
    same rule as every other self-join in the repo. The 16-bit words ride
    a slim id-only pair frame and join back once per side."""
    d = (read(spark, sf, "documents")
         .withColumn("tset",
                     F.array_sort(F.array_distinct(
                         F.expr(spark_tokens_nostop("text")))))
         .where(F.size("tset") >= 1)
         .withColumn("hq", F.expr(_spark_hquad()))
         .select("doc_id",
                 *[F.expr(_spark_sim64_word(w)).alias(f"w{w}")
                   for w in range(4)]))
    bands = F.array(*[
        F.struct(F.lit(w).alias("band"), F.col(f"w{w}").alias("word"))
        for w in range(4)])
    memb = (d.select("doc_id", F.explode(bands).alias("bw"))
            .select("doc_id",
                    F.concat_ws(":", F.col("bw.band"),
                                F.col("bw.word")).alias("bkey")))
    p = (bounded_pairs(memb, "bkey", "doc_id")
         .select("doc_id_1", "doc_id_2").distinct())
    ham = sum(
        F.bit_count(F.col(f"w{w}_1").bitwiseXOR(F.col(f"w{w}_2")))
        for w in range(4))
    return (with_sides(p, d, [f"w{w}" for w in range(4)])
            .select("doc_id_1", "doc_id_2",
                    ham.cast("long").alias("hamming"))
            .where(F.col("hamming") <= _SIMHASH64_HAM)
            .orderBy("doc_id_1", "doc_id_2"))


def _sql_simhash64_pairs() -> str:
    def word(w: int) -> str:
        v = "+".join(
            f"(strpos('{_HEX}', substr(m, {4 * w + k + 1}, 1)) - 1) "
            f"* {16 ** (3 - k)}"
            for k in range(4))
        bits = " + ".join(
            f"(CASE WHEN list_sum(list_transform(hq, x -> CASE WHEN "
            f"((x[{w + 1}]) // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(16))
        return v, bits

    from webr.queries.er_docs import duck_bounded_pairs
    quad = ", ".join(word(w)[0] for w in range(4))
    words = ", ".join(
        f"CAST({word(w)[1]} AS BIGINT) AS w{w}" for w in range(4))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {w} AS band, w{w} AS word FROM s"
        for w in range(4))
    ham = " + ".join(f"bit_count(xor(a.w{w}, b.w{w}))" for w in range(4))
    return f"""
WITH tok AS (SELECT doc_id,
                    list_sort(list_distinct({duck_tokens_nostop('text')}))
                    AS tset
             FROM documents),
t AS (SELECT doc_id,
             list_transform(list_transform(tset, t -> md5(t)),
                            m -> [{quad}]) AS hq
      FROM tok WHERE len(tset) >= 1),
s AS (SELECT doc_id, {words} FROM t),
memb AS (SELECT doc_id,
                CAST(band AS VARCHAR) || ':' || CAST(word AS VARCHAR)
                AS bkey
         FROM ({band_rows})),
{duck_bounded_pairs("SELECT doc_id, bkey FROM memb", key="bkey")},
p AS (SELECT DISTINCT doc_id_1, doc_id_2 FROM cand)
SELECT p.doc_id_1, p.doc_id_2, CAST({ham} AS BIGINT) AS hamming
FROM p JOIN s a ON a.doc_id = p.doc_id_1
       JOIN s b ON b.doc_id = p.doc_id_2
WHERE {ham} <= {_SIMHASH64_HAM}
ORDER BY doc_id_1, doc_id_2
"""


# ---------------------------------------------------------------------------
# n-gram (token 3-shingle) Jaccard near-dup pairs, blocked by source with
# the mega-block guard: one hot hostname at 100 TB must not turn the
# self-join into O(n^2) — blocks over MAX_BLOCK_SIZE switch to the
# sorted-neighborhood window (webr.engine.bounded_pairs, the engine's own
# guard).

def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    d = (read(spark, sf, "documents")
         .withColumn("toks", F.expr(spark_tokens("text")))
         .where(F.size("toks") >= 3)
         .withColumn("sh", F.array_sort(F.array_distinct(
             F.expr(_SPARK_SHINGLES))))
         .select("doc_id", "source", "sh"))
    p = with_sides(bounded_pairs(d, "source", "doc_id"), d, ["sh"])
    inter = F.size(F.array_intersect("sh_1", "sh_2"))
    uni = F.size("sh_1") + F.size("sh_2") - inter
    return (p.select("doc_id_1", "doc_id_2",
                     F.round(inter / uni, 6).alias("shingle_jaccard"))
            .where(F.col("shingle_jaccard") >= 0.05)
            .orderBy("doc_id_1", "doc_id_2"))


def _sql_dedup_ngram_jaccard() -> str:
    from webr.queries.er_docs import duck_bounded_pairs
    return f"""
WITH d AS (
  SELECT doc_id, source,
         list_sort(list_distinct({_DUCK_SHINGLES}))
         AS sh
  FROM (SELECT doc_id, source, {duck_tokens('text')} AS toks FROM documents)
  WHERE len(toks) >= 3),
{duck_bounded_pairs("SELECT doc_id, source FROM d", key="source")}
SELECT c.doc_id_1, c.doc_id_2,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
       AS shingle_jaccard
FROM cand c JOIN d a ON a.doc_id = c.doc_id_1
            JOIN d b ON b.doc_id = c.doc_id_2
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.05
ORDER BY doc_id_1, doc_id_2
"""


SQL_DEDUP_NGRAM_JACCARD = _sql_dedup_ngram_jaccard()


# ---------------------------------------------------------------------------
# similarity search: brute-force cosine top-k over embeddings

def q_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Baseline ANN: query set = vec_id % 50 == 0, brute-force cosine via
    zip_with/aggregate (JVM-side), top-3 per query. The LSH-bucketed scale
    path lives in webr.similarity (rows-only check)."""
    e = read(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = (e.where(F.col("vec_id") % 50 == 0)
         .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv")))
    pairs = (q.crossJoin(e)
             .where(F.col("vec_id") != F.col("q_id"))
             .select("q_id", "vec_id",
                     F.expr(cosine_sql("qv", "v")).alias("cos_raw")))
    w = Window.partitionBy("q_id").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("vec_id"))
    return (pairs.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("q_id", "vec_id", F.round("cos_raw", 4).alias("cosine"),
                    "rk")
            .orderBy("q_id", "rk"))


SQL_ANN_COSINE_TOPK = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
pairs AS (
  SELECT q_id, vec_id,
         list_sum(list_transform(list_zip(qv, v),
                                 t -> t[1] * t[2]))
         / (sqrt(list_sum(list_transform(qv, x -> x * x)))
            * sqrt(list_sum(list_transform(v, x -> x * x)))) AS cos_raw
  FROM q, e WHERE vec_id <> q_id),
rk AS (SELECT q_id, vec_id, cos_raw,
              row_number() OVER (PARTITION BY q_id
                                 ORDER BY round(cos_raw, 6) DESC, vec_id)
              AS rk
       FROM pairs)
SELECT q_id, vec_id, round(cos_raw, 4) AS cosine, rk
FROM rk WHERE rk <= 3 ORDER BY q_id, rk
"""


# ---------------------------------------------------------------------------
# text analysis

_STOP_SQL = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))


# Multi-class language ID (CCNet-style stopword discriminator, public
# method): per-language function-word counts -> integer argmax. Sets are
# small pinned samples of each language's most frequent function words,
# restricted to ASCII because the shared tokenizer splits on [^a-z0-9]
# (accented forms like 'más'/'für' tokenize apart and can never match).
# English reuses the full textproc.STOPWORDS list.
_LANG_STOPS: dict[str, list[str]] = {
    "de": ("der die und in den von zu das mit sich des auf ist im dem "
           "nicht ein eine als auch es an werden aus er hat dass sie "
           "nach wird bei einer um am sind noch wie einem einen so zum "
           "war haben nur oder aber vor zur bis mehr durch man").split(),
    "en": sorted(STOPWORDS),
    "es": ("de la que el en y los del se las por un para con no una su "
           "al lo como pero sus le ya o este esta entre cuando muy sin "
           "sobre hasta donde desde nos todo bien fue ser son dos").split(),
    "fr": ("de la le et les des en un du une que est pour qui dans par "
           "plus pas au sur ne se ce il sont mais comme ou si leur y "
           "dont aux avec son cette ses tout nous sa vous elle").split(),
    "it": ("di e il la che in a per un non sono con si da come le dei "
           "nel alla anche questo della suo gli dal nella questa tra "
           "ma se degli delle nei questi quella essere hanno").split(),
}
_LANGS = sorted(_LANG_STOPS)  # alphabetical = deterministic tie-break

# Non-Latin script detection ahead of the stopword argmax: a real crawl
# is majority non-English and heavily non-Latin, and ASCII stopword sets
# are blind to it (every CJK/Cyrillic/Arabic page used to land in
# 'other', blinding the quality stage for most of the corpus). Counts
# are codepoint-range character counts over contiguous BMP blocks;
# single-character string comparison is codepoint order in BOTH engines
# (UTF-8 binary collation preserves it), so this stays zero-UDF exact
# integer arithmetic. Prediction is script-level ('cjk'/'cyrl'/'arab'/
# 'deva' — within-script language ID would need in-script stopword
# tables), language-level for Latin text.
_SCRIPT_RANGES: dict[str, list[tuple[str, str]]] = {
    "arab": [("؀", "ۿ")],            # Arabic
    "cjk": [("぀", "ヿ"),              # Hiragana + Katakana
            ("一", "鿿")],             # CJK Unified Ideographs
    "cyrl": [("Ѐ", "ӿ")],            # Cyrillic
    "deva": [("ऀ", "ॿ")],            # Devanagari
}
_SCRIPTS = sorted(_SCRIPT_RANGES)  # alphabetical = deterministic tie-break
_SCRIPT_MIN_RATIO = 0.30  # of non-space chars; CJK prose clears 0.9


def _lang_id_parts(engine: str) -> tuple[list[str], list[str]]:
    """Engine-twin expression fragments: per-language stopword count
    exprs over a ``toks`` column plus per-script codepoint-range count
    exprs over a ``chars`` column, and the output select list (script
    argmax first, then stopword argmax, both with alphabetical tie-break
    on equal counts; winning ratio and margin to the runner-up for the
    stopword path, per-script ratios alongside). Integer counts do both
    argmaxes, so cross-engine parity is exact arithmetic, no float
    comparisons."""
    counts = []
    for lg in _LANGS:
        words = ", ".join(f"'{w}'" for w in sorted(_LANG_STOPS[lg]))
        if engine == "spark":
            counts.append(f"size(filter(toks, x -> array_contains("
                          f"array({words}), x))) AS n_{lg}")
        else:
            counts.append(f"len(list_filter(toks, x -> list_contains("
                          f"[{words}], x))) AS n_{lg}")
    for sc in _SCRIPTS:
        cond = " OR ".join(f"(x >= '{lo}' AND x <= '{hi}')"
                           for lo, hi in _SCRIPT_RANGES[sc])
        if engine == "spark":
            counts.append(f"size(filter(chars, x -> {cond})) AS s_{sc}")
        else:
            counts.append(f"len(list_filter(chars, x -> {cond})) AS s_{sc}")
    nlen = ("greatest(size(toks), 1)" if engine == "spark"
            else "greatest(len(toks), 1)")
    nchars = ("greatest(size(chars), 1)" if engine == "spark"
              else "greatest(len(chars), 1)")
    best = "greatest(" + ", ".join(f"n_{lg}" for lg in _LANGS) + ")"
    win = ("CASE " + " ".join(f"WHEN n_{lg} = {best} THEN '{lg}'"
                              for lg in _LANGS) + " END")
    second = ("CASE " + " ".join(
        f"WHEN ({win}) = '{lg}' THEN greatest("
        + ", ".join(f"n_{o}" for o in _LANGS if o != lg) + ")"
        for lg in _LANGS) + " END")
    sbest = "greatest(" + ", ".join(f"s_{sc}" for sc in _SCRIPTS) + ")"
    swin = ("CASE " + " ".join(f"WHEN s_{sc} = {sbest} THEN '{sc}'"
                               for sc in _SCRIPTS) + " END")
    cast = (lambda x: f"cast({x} AS DOUBLE)") if engine == "spark" \
        else (lambda x: f"({x})::DOUBLE")
    select = [
        "doc_id", "lang",
        f"CASE WHEN {cast(sbest)} / {nchars} >= {_SCRIPT_MIN_RATIO} "
        f"THEN ({swin}) "
        f"WHEN {cast(best)} / {nlen} >= 0.03 THEN ({win}) "
        f"ELSE 'other' END AS pred_lang",
        f"round({cast(best)} / {nlen}, 6) AS best_ratio",
        f"round({cast(f'{best} - ({second})')} / {nlen}, 6) AS margin",
    ]
    select += [f"round({cast(f's_{sc}')} / {nchars}, 6) AS ratio_{sc}"
               for sc in _SCRIPTS]
    return counts, select


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic multi-class language ID: codepoint-range script argmax
    first (cjk/cyrl/arab/deva — a real crawl is mostly non-Latin), then
    en/es/de/fr/it per-language stopword counts, integer argmax with
    alphabetical tie-break, winning ratio and runner-up margin, 'other'
    when nothing clears its floor. Pure JVM expressions (whole-stage
    codegen, no UDF) — at 100 TB this is a narrow scan-time map with
    zero shuffle. Planted-fixture per-language and per-script
    correctness in tests/test_bounded_pairs.py::test_lang_id_multilang
    and ::test_lang_id_scripts."""
    counts, select = _lang_id_parts("spark")
    return (read(spark, sf, "documents")
            .withColumn("toks", F.expr(spark_tokens("text")))
            .withColumn("chars", F.expr(
                "filter(split(text, ''), x -> x <> ' ' AND x <> '')"))
            .selectExpr("doc_id", "lang", "toks", "chars",
                        *[c for c in counts])
            .selectExpr(*select)
            .orderBy("doc_id"))


def _sql_lang_id() -> str:
    counts, select = _lang_id_parts("duck")
    return f"""
WITH t AS (SELECT doc_id, lang, {duck_tokens('text')} AS toks,
           list_filter(string_split(text, ''),
                       x -> x <> ' ' AND x <> '') AS chars
           FROM documents),
c AS (SELECT doc_id, lang, toks, chars, {', '.join(counts)} FROM t)
SELECT {', '.join(select)} FROM c ORDER BY doc_id
"""


SQL_LANG_ID = _sql_lang_id()


def q_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Web-text quality signals: length, token stats, type-token ratio,
    mean token length (integer/ratio arithmetic only)."""
    d = (read(spark, sf, "documents")
         .withColumn("toks", F.expr(spark_tokens("text"))))
    n_toks = F.greatest(F.size("toks"), F.lit(1))
    tok_chars = F.expr(
        "aggregate(transform(toks, x -> length(x)), 0, (a, x) -> a + x)")
    return (d.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        F.size("toks").alias("n_tokens"),
        F.round(F.size(F.array_distinct("toks")) / n_toks, 6)
        .alias("type_token_ratio"),
        F.round(tok_chars / n_toks, 6).alias("mean_token_len"))
        .orderBy("doc_id"))


SQL_QUALITY_SCORE = f"""
WITH t AS (SELECT doc_id, text, {duck_tokens('text')} AS toks FROM documents)
SELECT doc_id, length(text) AS n_chars_raw, len(toks) AS n_tokens,
       round(len(list_distinct(toks))::DOUBLE
             / greatest(len(toks), 1), 6) AS type_token_ratio,
       round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
             / greatest(len(toks), 1), 6) AS mean_token_len
FROM t ORDER BY doc_id
"""


def q_pii_scan(spark: SparkSession, sf: str) -> DataFrame:
    """PII-signal scan — the standard privacy-filter stage of web
    pipelines (CCNet / RefinedWeb / Dolma all ship one, public): per-doc
    counts of email-shaped and url-shaped RAW tokens (whitespace split —
    normalization would strip the very punctuation that signals PII)
    plus the digit-character ratio, and a flag row filters key on.
    Regex-free on purpose: Spark and DuckDB regex dialects differ, so
    the predicates are contains/substring/translate arithmetic that is
    exact on both engines. Pure JVM exprs — one narrow scan, no
    shuffle except the output sort."""
    d = (read(spark, sf, "documents")
         .withColumn("raw", F.split("text", " ")))
    email = F.size(F.expr(
        "filter(raw, x -> contains(x, '@') AND contains(x, '.'))"))
    url = F.size(F.expr(
        "filter(raw, x -> substring(x, 1, 4) = 'http')"))
    digits = (F.length("text")
              - F.length(F.translate("text", "0123456789", "")))
    return (d.select(
        "doc_id",
        email.alias("email_toks"),
        url.alias("url_toks"),
        F.round(digits / F.greatest(F.length("text"), F.lit(1)), 6)
        .alias("digit_ratio"),
        ((email > 0) | (url > 0)).alias("flagged"))
        .orderBy("doc_id"))


SQL_PII_SCAN = """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS raw
           FROM documents)
SELECT doc_id,
       len(list_filter(raw, x -> contains(x, '@')
                                 AND contains(x, '.'))) AS email_toks,
       len(list_filter(raw, x -> substring(x, 1, 4) = 'http'))
       AS url_toks,
       round((length(text) - length(translate(text, '0123456789', '')))
             ::DOUBLE / greatest(length(text), 1), 6) AS digit_ratio,
       (len(list_filter(raw, x -> contains(x, '@')
                                  AND contains(x, '.'))) > 0
        OR len(list_filter(raw, x -> substring(x, 1, 4) = 'http')) > 0)
       AS flagged
FROM t ORDER BY doc_id
"""


def q_quality_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, public):
    fraction of tokens covered by the most frequent token, and the
    distinct-bigram ratio. Heavily repeated boilerplate scores high on
    the first and low on the second. Integer-ratio arithmetic only."""
    d = (read(spark, sf, "documents")
         .withColumn("toks", F.expr(spark_tokens("text")))
         .where(F.size("toks") >= 2)
         .withColumn("bigrams", F.expr(
             "transform(sequence(0, size(toks) - 2), "
             "i -> concat(toks[i], ' ', toks[i+1]))")))
    # top-token count via explode + groupBy (map-side combined) — the
    # per-row array_max(transform(distinct, filter...)) alternative is
    # O(len * distinct) per document, quadratic on long docs
    top = (d.select("doc_id", F.explode("toks").alias("token"))
           .groupBy("doc_id", "token").agg(F.count("*").alias("c"))
           .groupBy("doc_id").agg(F.max("c").alias("top_tok")))
    return (d.join(top, "doc_id")
            .select(
                "doc_id",
                F.round(F.col("top_tok") / F.size("toks"), 6)
                .alias("top_token_frac"),
                F.round(F.size(F.array_distinct("bigrams"))
                        / F.size("bigrams"), 6)
                .alias("distinct_bigram_ratio"))
            .orderBy("doc_id"))


SQL_QUALITY_REPETITION = f"""
WITH t AS (SELECT doc_id, {duck_tokens('text')} AS toks FROM documents),
d AS (SELECT doc_id, toks,
             [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
             AS bigrams
      FROM t WHERE len(toks) >= 2)
SELECT doc_id,
       round(list_max(list_transform(list_distinct(toks),
                 t -> len(list_filter(toks, x -> x = t))))::DOUBLE
             / len(toks), 6) AS top_token_frac,
       round(len(list_distinct(bigrams))::DOUBLE / len(bigrams), 6)
       AS distinct_bigram_ratio
FROM d ORDER BY doc_id
"""


_LINE_W = 10  # tokens per pseudo-line (the corpus carries no newlines)


def q_dedup_lines(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style corpus-level line dedup (Raffel et al. 2020 §2.2,
    public): drop every line whose exact text occurs in >= 2 distinct
    documents, keeping only the occurrence in the smallest doc_id, and
    fingerprint the reconstructed text. The synthetic corpus has no
    newlines, so a "line" is a fixed non-overlapping window of
    ``_LINE_W`` tokens — same operator shape, deterministic analog.

    Scale shape (100 TB): one explode (narrow), one groupBy on the
    chunk text (map-side combined count/min — a boilerplate chunk seen
    in 10^8 docs still reduces to one row), one join back on chunk
    (AQE skew-join splits hot boilerplate keys), one groupBy doc_id.
    No unbounded cell: output carries counts + an md5 of the cleaned
    text, never the text list itself."""
    d = (read(spark, sf, "documents")
         .withColumn("tk", F.split(F.lower("text"), " "))
         .where(F.size("tk") >= 1))
    chunks = (d.select(
        "doc_id", "tk",
        F.explode(F.expr(
            f"sequence(0, cast(ceil(size(tk) / {_LINE_W}.0) as int) - 1)"
        )).alias("i"))
        .select("doc_id", "i", F.expr(
            f"array_join(slice(tk, i * {_LINE_W} + 1, {_LINE_W}), ' ')")
            .alias("chunk")))
    # distinct-then-count instead of countDistinct: the pre-aggregation
    # dedupes (chunk, doc_id) map-side, so a boilerplate chunk repeated
    # millions of times inside hot docs never inflates the shuffle the
    # way the expand-based COUNT(DISTINCT) plan would.
    # Both the stats aggregation and the join are keyed on
    # xxhash64(chunk) — an 8-byte key — so the ~10-token chunk TEXT
    # never rides the stats shuffle at all and partitions the join as a
    # fixed-width key (it still travels once, as join-probe payload,
    # because the keep-side md5 reconstruction needs it). A 64-bit
    # collision would merge two chunk groups (odds ~n²/2^65 — below
    # parquet bit-rot); the DuckDB twin groups by its own 64-bit
    # hash(chunk), each engine internally consistent.
    hashed = chunks.withColumn("ck", F.xxhash64("chunk"))
    stats = (hashed.select("ck", "doc_id").distinct()
             .groupBy("ck")
             .agg(F.count("*").alias("n_docs"),
                  F.min("doc_id").alias("keeper")))
    keyed = (hashed.join(stats, "ck")
             .withColumn("keep", (F.col("n_docs") < 2)
                         | (F.col("doc_id") == F.col("keeper"))))
    return (keyed.groupBy("doc_id")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum(F.when(~F.col("keep"), 1).otherwise(0))
                 .cast("long").alias("n_dropped"),
                 F.expr("md5(array_join(transform(array_sort("
                        "collect_list(case when keep then struct(i, chunk) "
                        "end)), x -> x.chunk), ' '))").alias("clean_fp"))
            .where(F.col("n_dropped") > 0)
            .orderBy("doc_id"))


SQL_DEDUP_LINES = f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
           FROM documents),
c AS (SELECT doc_id, (i - 1) // {_LINE_W} AS i,
             array_to_string(tk[i:i+{_LINE_W - 1}], ' ') AS chunk
      FROM t, LATERAL (SELECT unnest(range(1, len(tk) + 1, {_LINE_W}))
                       AS i) r),
g AS (SELECT hash(chunk) AS ck, count(DISTINCT doc_id) AS n_docs,
             min(doc_id) AS keeper
      FROM c GROUP BY hash(chunk)),
k AS (SELECT c.doc_id, c.i, c.chunk,
             (g.n_docs < 2 OR c.doc_id = g.keeper) AS keep
      FROM c JOIN g ON hash(c.chunk) = g.ck)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
       AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN keep THEN chunk END,
                               ' ' ORDER BY i), '')) AS clean_fp
FROM k GROUP BY doc_id HAVING n_dropped > 0 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# URL-canonicalization dedup: the standard zeroth rung of web-corpus dedup
# (before any content hashing): fold scheme/case/port/www/tracking-param/
# fragment/slash variations of the same page into one canonical URL and
# keep the first-seen doc (C4 / CCNet-style URL normalization; the
# reference's analog is its url-keyed record identity, SURVEY §2.1 — pages
# reached via cosmetically different URLs are one record).
#
# The driver tables carry no URL column, so the query synthesizes four
# deterministic messy variants per logical page id (pid = doc_id // 4)
# with IDENTICAL integer arithmetic in both engines; the canonicalizer is
# the operator under test. Variant coverage: upper-case scheme+host,
# default ports (:80/:443), http->https fold, leading www., utm_/fbclid/
# gclid tracking params, query-param reordering, trailing slash,
# duplicated path slashes, #fragment.

_URL_VARIANT_CASE = """CASE CAST(doc_id % 4 AS INT)
 WHEN 0 THEN concat('https://www.example', h, '.com/articles/', p,
                    '?id=', p, '&ref=nav')
 WHEN 1 THEN concat('HTTPS://WWW.EXAMPLE', h, '.COM:443/articles/', p,
                    '/?ref=nav&id=', p)
 WHEN 2 THEN concat('https://example', h, '.com/articles/', p,
                    '?utm_source=feed&ref=nav&gclid=abc&id=', p, '#frag')
 ELSE concat('http://www.example', h, '.com:80/articles//', p,
             '?id=', p, '&fbclid=x&ref=nav')
END"""

_URL_PART_H = "CAST(CAST(floor(doc_id / 4.0) AS BIGINT) % 7 AS STRING) AS h"
_URL_PART_P = "CAST(CAST(floor(doc_id / 4.0) AS BIGINT) AS STRING) AS p"

# shared sub-expressions (Java regex == RE2 here); {g} is the global flag
# DuckDB's regexp_replace needs and Spark's (always-global) must not get.
# Regexes use character classes instead of backslash escapes on purpose:
# Spark SQL string literals process backslashes, DuckDB's keep them raw,
# so a backslash-free pattern is the only one that is literally portable.
_HOST_RE = "^[A-Za-z]+://([^/?#]*)"
_PATH_RE = "^[A-Za-z]+://[^/?#]*([^?#]*)"
_QUERY_RE = "[?]([^#]*)"


def _canon_url(url: str, engine: str) -> str:
    """Engine-twin canonical-url expression: lower-case host, strip
    leading www. and default ports, fold scheme to https, collapse
    duplicate path slashes, strip one trailing slash, drop the fragment,
    drop tracking params (utm_* by key prefix; fbclid/gclid bare or
    with '=value' — a valueless '?fbclid' is still tracking cruft),
    sort surviving params."""
    g = ", 'g'" if engine == "duck" else ""
    host = (f"regexp_replace(regexp_replace(lower(regexp_extract({url}, "
            f"'{_HOST_RE}', 1)), '^www[.]', ''{g}), ':(80|443)$', ''{g})")
    path = (f"regexp_replace(regexp_replace(regexp_extract({url}, "
            f"'{_PATH_RE}', 1), '/+', '/'{g}), '/$', ''{g})")
    if engine == "spark":
        qs = (f"array_join(array_sort(filter(split("
              f"coalesce(regexp_extract({url}, '{_QUERY_RE}', 1), ''), '&'), "
              f"x -> x != '' AND NOT (startswith(x, 'utm_') OR "
              f"x = 'fbclid' OR startswith(x, 'fbclid=') OR "
              f"x = 'gclid' OR startswith(x, 'gclid=')))), "
              f"'&')")
    else:
        qs = (f"array_to_string(list_sort(list_filter(string_split("
              f"coalesce(regexp_extract({url}, '{_QUERY_RE}', 1), ''), '&'), "
              f"x -> x <> '' AND NOT (starts_with(x, 'utm_') OR "
              f"x = 'fbclid' OR starts_with(x, 'fbclid=') OR "
              f"x = 'gclid' OR starts_with(x, 'gclid=')))), "
              f"'&')")
    # array_to_string over an empty list is NULL in DuckDB (not '')
    qs = f"coalesce({qs}, '')"
    return (f"concat('https://', {host}, {path}, "
            f"CASE WHEN {qs} = '' THEN '' ELSE concat('?', {qs}) END)")


def q_dedup_url(spark: SparkSession, sf: str) -> DataFrame:
    """Scale shape (100 TB): canonicalization is pure per-row JVM string
    work (whole-stage codegen, no UDF); the dedup itself is one groupBy
    on the canonical string with map-side-combined count/min — the same
    single-shuffle shape as dedup_exact."""
    d = (read(spark, sf, "documents")
         .selectExpr("doc_id", _URL_PART_H, _URL_PART_P)
         .withColumn("url", F.expr(_URL_VARIANT_CASE))
         .withColumn("canon_url", F.expr(_canon_url("url", "spark"))))
    return (d.groupBy("canon_url")
            .agg(F.count("*").alias("n_variants"),
                 F.min("doc_id").alias("keep_doc_id"))
            .orderBy("canon_url"))


SQL_DEDUP_URL = f"""
WITH ids AS (SELECT doc_id, {_URL_PART_H}, {_URL_PART_P}
            FROM documents),
u AS (SELECT doc_id, {_URL_VARIANT_CASE} AS url FROM ids),
c AS (SELECT doc_id, {_canon_url("url", "duck")} AS canon_url FROM u)
SELECT canon_url, count(*) AS n_variants, min(doc_id) AS keep_doc_id
FROM c GROUP BY canon_url ORDER BY canon_url
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training docs that share an n-gram with
# a held-out evaluation set (the GPT-3 appendix-C / PaLM / Dolma overlap
# filter, public). The eval set is tiny relative to the corpus BY
# DEFINITION, so the scale shape is: explode corpus n-grams (narrow),
# BROADCAST the benchmark n-grams, partial-agg by doc — the 100 TB corpus
# is never shuffled on the gram key. The driver tables carry no benchmark
# table, so one is synthesized deterministically: every doc with
# doc_id % 29 == 3 contributes its first _DECON_PREFIX tokens as one
# benchmark item (both engines compute the identical set).

_DECON_N = 5        # n-gram width
_DECON_PREFIX = 8   # benchmark item = first 8 tokens of the sampled doc


def _spark_grams(toks: str, n: int) -> str:
    return (f"transform(sequence(0, size({toks}) - {n}), "
            f"i -> array_join(slice({toks}, i + 1, {n}), ' '))")


def _duck_grams(toks: str, n: int) -> str:
    return (f"[array_to_string({toks}[i:i+{n - 1}], ' ') "
            f"for i in range(1, len({toks}) - {n - 2})]")


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    d = (read(spark, sf, "documents")
         .withColumn("toks", F.expr(spark_tokens("text")))
         .where(F.size("toks") >= _DECON_N))
    grams = (d.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.expr(_spark_grams("toks", _DECON_N)))).alias("gram")))
    bench = (d.where(F.col("doc_id") % 29 == 3)
             .select(F.col("doc_id").alias("bench_id"),
                     F.expr(f"slice(toks, 1, {_DECON_PREFIX})")
                     .alias("btoks"))
             .select("bench_id",
                     F.explode(F.array_distinct(
                         F.expr(_spark_grams("btoks", _DECON_N))))
                     .alias("gram")))
    return (grams.join(F.broadcast(bench), "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("bench_id").alias("n_bench_hits"),
                 F.min("bench_id").alias("first_bench_id"))
            .orderBy("doc_id"))


SQL_DECONTAMINATE = f"""
WITH t AS (SELECT doc_id, {duck_tokens('text')} AS toks FROM documents),
d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= {_DECON_N}),
g AS (SELECT doc_id, unnest(list_distinct(
          {_duck_grams('toks', _DECON_N)})) AS gram FROM d),
bt AS (SELECT doc_id AS bench_id, toks[1:{_DECON_PREFIX}] AS btoks
       FROM d WHERE doc_id % 29 = 3),
bg AS (SELECT bench_id, unnest(list_distinct(
           {_duck_grams('btoks', _DECON_N)})) AS gram FROM bt)
SELECT doc_id, count(DISTINCT bench_id) AS n_bench_hits,
       min(bench_id) AS first_bench_id
FROM g JOIN bg USING (gram)
GROUP BY doc_id ORDER BY doc_id
"""


def q_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus statistics: doc counts, exact char-length
    min/median/max (discrete percentile — exact on both engines, unlike
    approx_percentile), and total estimated tokens."""
    d = read(spark, sf, "documents")
    return (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 F.expr("percentile_disc(0.5) WITHIN GROUP "
                        "(ORDER BY n_chars)").cast("long")
                 .alias("median_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.sum(F.ceil(F.col("n_chars") / 4).cast("long"))
                 .alias("bpe_est_total"))
            .orderBy("source"))


SQL_CORPUS_STATS = """
SELECT source, count(*) AS n_docs,
       min(n_chars) AS min_chars,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
            AS BIGINT) AS median_chars,
       max(n_chars) AS max_chars,
       CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT)
       AS bpe_est_total
FROM documents GROUP BY source ORDER BY source
"""


def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting three ways: whitespace split, alnum-regex tokens,
    and a BPE-ish char/4 estimate (the standard cheap proxy)."""
    d = read(spark, sf, "documents")
    return (d.select(
        "doc_id",
        F.size(F.expr("filter(split(text, ' +'), x -> x != '')"))
        .alias("ws_tokens"),
        F.size(F.expr(spark_tokens("text"))).alias("re_tokens"),
        F.ceil(F.length("text") / 4).cast("long").alias("bpe_est"))
        .orderBy("doc_id"))


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, ' +'), x -> x <> ''))
       AS ws_tokens,
       len({duck_tokens('text')}) AS re_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est
FROM documents ORDER BY doc_id
"""


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprints: raw-bytes md5, order-invariant content md5
    (sorted distinct tokens), and byte length."""
    d = read(spark, sf, "documents")
    return (d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("raw_md5"),
        F.expr(_SPARK_TSET_FP).alias("content_md5"),
        F.octet_length("text").alias("n_bytes"))
        .orderBy("doc_id"))


SQL_FINGERPRINT = f"""
SELECT doc_id, md5(text) AS raw_md5, {_DUCK_TSET_FP} AS content_md5,
       octet_length(encode(text)) AS n_bytes
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# multimodal plumbing: opaque binary payload + typed metadata. No codec
# decodes the payload; q_media_sniff below reads real container headers
# (webr.multimodal). This query proves the binary-column path end-to-end.

def q_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    d = (read(spark, sf, "documents")
         .withColumn("payload", F.col("text").cast("binary")))
    return (d.select(
        "doc_id",
        F.octet_length("payload").alias("payload_bytes"),
        F.sha2("payload", 256).alias("payload_sha256"),
        (F.octet_length("payload") % 7).alias("stub_frames"))
        .orderBy("doc_id"))


def q_media_sniff(spark: SparkSession, sf: str) -> DataFrame:
    """Real container sniffing over a binary media column, with a strong
    oracle: each doc_id deterministically synthesizes a PNG / JPEG / GIF
    payload (webr.multimodal byte builders) whose dimensions are an
    arithmetic function of doc_id, then ROUND-TRIPS it through the
    pure-Python header parser (sniff_media: PNG IHDR, JPEG SOFn segment
    walk, GIF logical screen descriptor). The DuckDB twin computes the
    expected format/width/height/n_bytes from doc_id arithmetic alone —
    so a parser or builder bug breaks the value-hash match. Arrow-batched
    mapInPandas (the decode shape real multimodal corpora need); at
    100 TB this is a narrow per-row map, no shuffle at all."""
    import pandas as pdl

    from webr.multimodal import gif_bytes, jpeg_bytes, png_bytes, sniff_media

    d = read(spark, sf, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            fmt_l, w_l, h_l, nb = [], [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 16 + did % 240
                h = 16 + (did * 7) % 240
                b = (png_bytes, jpeg_bytes, gif_bytes)[did % 3](w, h)
                f, sw, sh = sniff_media(b)
                fmt_l.append(f)
                w_l.append(sw)
                h_l.append(sh)
                nb.append(len(b))
            yield pdl.DataFrame({
                "doc_id": pdf["doc_id"], "format": fmt_l,
                "width": w_l, "height": h_l, "n_bytes": nb})
    return (d.mapInPandas(
        gen, "doc_id long, format string, width int, height int, "
             "n_bytes long")
        .orderBy("doc_id"))


SQL_MEDIA_SNIFF = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
            ELSE 'gif' END AS format,
       CAST(16 + doc_id % 240 AS INT) AS width,
       CAST(16 + (doc_id * 7) % 240 AS INT) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 34
            ELSE 14 END AS BIGINT) AS n_bytes
FROM documents ORDER BY doc_id
"""


SQL_MULTIMODAL_META = """
SELECT doc_id, octet_length(encode(text)) AS payload_bytes,
       sha256(text) AS payload_sha256,
       octet_length(encode(text)) % 7 AS stub_frames
FROM documents ORDER BY doc_id
"""


def q_warc_parse(spark: SparkSession, sf: str) -> DataFrame:
    """WARC source round-trip with an arithmetic oracle (media_sniff
    pattern): each doc_id synthesizes a full WARC response record
    (webr.warc writer — WARC/1.0 headers + stored HTTP response block),
    half the records ride per-record gzip members (Common Crawl's
    layout) and a skip-me request record is planted per batch; the REAL
    parser (iter_warc_records) walks the concatenated blobs and the
    DuckDB twin recomputes url→doc_id, WARC-Date→epoch, body md5 and
    byte length from doc_id arithmetic alone. A writer, parser, HTTP
    unwrap, gzip, or record-boundary bug breaks the value hash."""
    import datetime as dt
    import gzip as gz

    import pandas as pdl

    from webr.warc import iter_warc_records, warc_record_bytes

    d = read(spark, sf, "documents").select("doc_id")
    epoch0 = dt.datetime(2024, 1, 1)

    def gen(batches):
        for pdf in batches:
            plain, gzd = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                body = (f"<html><body><p>warc doc {did}</p></body></html>"
                        .encode())
                date = (epoch0 + dt.timedelta(seconds=97 * did)
                        ).strftime("%Y-%m-%dT%H:%M:%SZ")
                rec = warc_record_bytes(
                    f"https://warc.example.org/d/{did}", date, body)
                if did % 2 == 0:
                    gzd.append(gz.compress(rec))
                else:
                    plain.append(rec)
            # a request record the parser must skip
            plain.append(warc_record_bytes(
                "https://warc.example.org/ignored",
                "2024-01-01T00:00:00Z", b"GET / HTTP/1.1",
                warc_type="request"))
            rows = []
            for blob in (b"".join(plain), b"".join(gzd)):
                for rec in iter_warc_records(blob):
                    rows.append({
                        "url": rec["url"],
                        "ts": pdl.to_datetime(rec["date"], utc=True)
                        .tz_localize(None),
                        "html": rec["html"]})
            yield pdl.DataFrame(
                rows, columns=["url", "ts", "html"])

    parsed = d.mapInPandas(
        gen, "url string, ts timestamp, html binary")
    return (parsed.select(
        F.regexp_extract("url", "/d/([0-9]+)$", 1).cast("long")
        .alias("doc_id"),
        F.unix_micros("ts").alias("ts_us"),
        F.md5("html").alias("body_md5"),
        F.octet_length("html").cast("long").alias("n_bytes"))
        .orderBy("doc_id"))


SQL_WARC_PARSE = """
SELECT doc_id,
       epoch_us(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id * 97))
         AS ts_us,
       md5('<html><body><p>warc doc ' || doc_id || '</p></body></html>')
         AS body_md5,
       CAST(octet_length(encode(
         '<html><body><p>warc doc ' || doc_id || '</p></body></html>'))
         AS BIGINT) AS n_bytes
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# ANN scale paths (webr.similarity): multi-table sign-LSH bucket join and
# IVF-flat probe join. Both replace the O(N·Q) cross join with equi-joins on
# deterministic bucket keys — the 100TB path. Not SQL-expressible compactly
# => rows-only driver check; recall vs the exact baseline is asserted in
# tests/test_modules.py.

# ---------------------------------------------------------------------------
# embedding-cosine near-dup (dedup family over the embeddings table)

_EMB_TAU = 0.30        # near-dup threshold (synthetic vectors are near-
                       # orthogonal; real near-dup corpora use ~0.95+)
_EMB_SIGN_BITS = 8     # sign-LSH bucket width


def _spark_sign_bucket() -> str:
    return " + ".join(
        f"CASE WHEN element_at(v, {i + 1}) > 0 THEN {1 << i} ELSE 0 END"
        for i in range(_EMB_SIGN_BITS))


def _duck_sign_bucket() -> str:
    return " + ".join(
        f"CASE WHEN v[{i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(_EMB_SIGN_BITS))


def q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup: bucket every vector by the sign pattern
    of its first 8 dims (near-identical vectors agree on signs), equi-join
    within bucket — a blocking join, never a cross join — and keep pairs
    with cosine >= tau. The bucket key makes this linear-ish at 100 TB:
    candidates = sum over buckets of n_b^2 with n_b ~ n/256; widen the
    sign bits (or add rotations as in webr.similarity's multi-table LSH)
    to cap bucket sizes as the corpus grows."""
    e = (read(spark, sf, "embeddings")
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("v"))
         .withColumn("bkt", F.expr(_spark_sign_bucket())))
    a, b = e.alias("a"), e.alias("b")
    return (a.join(b, (F.col("a.bkt") == F.col("b.bkt"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_id_1"),
                    F.col("b.vec_id").alias("vec_id_2"),
                    F.expr(cosine_sql("a.v", "b.v")).alias("cos_raw"))
            .where(F.round("cos_raw", 6) >= _EMB_TAU)
            .select("vec_id_1", "vec_id_2",
                    F.round("cos_raw", 4).alias("cosine"))
            .orderBy("vec_id_1", "vec_id_2"))


SQL_DEDUP_EMBEDDING = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
b AS (SELECT vec_id, v, {_duck_sign_bucket()} AS bkt FROM e),
p AS (SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
             list_sum(list_transform(list_zip(a.v, b.v), t -> t[1] * t[2]))
             / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos_raw
      FROM b a JOIN b b ON a.bkt = b.bkt AND a.vec_id < b.vec_id)
SELECT vec_id_1, vec_id_2, round(cos_raw, 4) AS cosine
FROM p WHERE round(cos_raw, 6) >= {_EMB_TAU} ORDER BY vec_id_1, vec_id_2
"""


def q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    from webr.similarity import lsh_topk
    e = read(spark, sf, "embeddings")
    q = (e.where(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("q_id"), "embedding"))
    return (lsh_topk(e, q, dim=64, k=5)
            .select("q_id", "vec_id", F.round("cosine", 4).alias("cosine"),
                    "rk")
            .orderBy("q_id", "rk"))


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    from webr.similarity import ivf_topk
    e = read(spark, sf, "embeddings")
    q = (e.where(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("q_id"), "embedding"))
    return (ivf_topk(e, q, dim=64, k=5)
            .select("q_id", "vec_id", F.round("cosine", 4).alias("cosine"),
                    "rk")
            .orderBy("q_id", "rk"))


# --- DuckDB oracles for the ANN scale paths ----------------------------------
# The hyperplanes / centroids are deterministic md5-derived constants
# (webr/similarity.py _plane), so they inline as literal arrays: the oracle
# replays the exact same bucketing + rerank in SQL. Ranking on
# round(cosine, 6) on both engines absorbs float summation-order noise.

_ANN_DIM, _ANN_TABLES, _ANN_BITS, _ANN_K = 64, 6, 4, 5
_IVF_LISTS, _IVF_PROBE = 16, 4


def _duck_dot(col: str, plane: list[float]) -> str:
    lit = "[" + ", ".join(repr(x) for x in plane) + "]"
    return (f"list_sum(list_transform(list_zip({col}, {lit}), "
            f"x -> x[1] * x[2]))")


def _sql_ann_lsh_topk() -> str:
    from webr.similarity import _plane
    sig_rows = []
    for t in range(_ANN_TABLES):
        bits = " + ".join(
            f"(CASE WHEN {_duck_dot('v', _plane(t * 64 + b, _ANN_DIM))}"
            f" >= 0 THEN {1 << b} ELSE 0 END)"
            for b in range(_ANN_BITS))
        sig_rows.append(
            f"SELECT vec_id, v, ({bits}) + {t * (1 << _ANN_BITS)} AS sig "
            f"FROM e")
    esig = " UNION ALL ".join(sig_rows)
    probes = ", ".join(["0"] + [str(1 << b) for b in range(_ANN_BITS)])
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
esig AS ({esig}),
qsig AS (SELECT vec_id AS q_id, v AS qv, xor(sig, p.m) AS sig
         FROM esig, (SELECT unnest([{probes}]) AS m) p
         WHERE vec_id % 100 = 0),
cand AS (SELECT DISTINCT q.q_id, e.vec_id
         FROM qsig q JOIN esig e USING (sig)
         WHERE e.vec_id <> q.q_id),
cos AS (SELECT c.q_id, c.vec_id,
               list_sum(list_transform(list_zip(q.v, e.v),
                                       x -> x[1] * x[2]))
               / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(e.v, x -> x * x))))
               AS cos_raw
        FROM cand c JOIN e q ON q.vec_id = c.q_id
                    JOIN e ON e.vec_id = c.vec_id),
rk AS (SELECT q_id, vec_id, cos_raw,
              row_number() OVER (PARTITION BY q_id
                                 ORDER BY round(cos_raw, 6) DESC, vec_id)
              AS rk
       FROM cos)
SELECT q_id, vec_id, round(cos_raw, 4) AS cosine, rk
FROM rk WHERE rk <= {_ANN_K} ORDER BY q_id, rk
"""


def _sql_ann_ivf_topk() -> str:
    from webr.similarity import _plane
    cell_rows = " UNION ALL ".join(
        f"SELECT vec_id, v, {i} AS list_id, "
        f"{_duck_dot('v', _plane(1000 + i, _ANN_DIM))} AS dot FROM e"
        for i in range(_IVF_LISTS))
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
cells AS ({cell_rows}),
ranked AS (SELECT vec_id, v, list_id,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dot DESC, list_id DESC)
                  AS cr
           FROM cells),
ecell AS (SELECT vec_id, v, list_id AS cell FROM ranked WHERE cr = 1),
qcell AS (SELECT vec_id AS q_id, v AS qv, list_id AS cell
          FROM ranked WHERE cr <= {_IVF_PROBE} AND vec_id % 100 = 0),
cos AS (SELECT q.q_id, e.vec_id,
               list_sum(list_transform(list_zip(q.qv, e.v),
                                       x -> x[1] * x[2]))
               / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
                  * sqrt(list_sum(list_transform(e.v, x -> x * x))))
               AS cos_raw
        FROM qcell q JOIN ecell e USING (cell)
        WHERE e.vec_id <> q.q_id),
rk AS (SELECT q_id, vec_id, cos_raw,
              row_number() OVER (PARTITION BY q_id
                                 ORDER BY round(cos_raw, 6) DESC, vec_id)
              AS rk
       FROM cos)
SELECT q_id, vec_id, round(cos_raw, 4) AS cosine, rk
FROM rk WHERE rk <= {_ANN_K} ORDER BY q_id, rk
"""


QUERIES = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_minhash_clusters": (q_dedup_minhash_clusters,
                               SQL_DEDUP_MINHASH_CLUSTERS),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "simhash64_pairs": (q_simhash64_pairs, _sql_simhash64_pairs()),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_lines": (q_dedup_lines, SQL_DEDUP_LINES),
    "dedup_url": (q_dedup_url, SQL_DEDUP_URL),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "dedup_embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "quality_repetition": (q_quality_repetition, SQL_QUALITY_REPETITION),
    "pii_scan": (q_pii_scan, SQL_PII_SCAN),
    "corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "media_sniff": (q_media_sniff, SQL_MEDIA_SNIFF),
    "warc_parse": (q_warc_parse, SQL_WARC_PARSE),
    "ann_lsh_topk": (q_ann_lsh_topk, _sql_ann_lsh_topk()),
    "ann_ivf_topk": (q_ann_ivf_topk, _sql_ann_ivf_topk()),
}
