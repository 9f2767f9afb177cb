"""Explicit StructType constants (SURVEY §1.3: the reference hardcodes
column lists in SQL strings, dao/pubmed_doc.py:15-24; we make schemas
first-class)."""

from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, LongType, MapType,
    StringType, StructField, StructType, TimestampType,
)

PAGES = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

MENTIONS = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("doc_id", StringType(), True),
    StructField("host", StringType(), True),
    StructField("text", StringType(), True),
    StructField("title", StringType(), True),
    StructField("name_raw", StringType(), True),
    StructField("first", StringType(), True),
    StructField("middle", StringType(), True),
    StructField("last", StringType(), True),
    StructField("name_norm", StringType(), True),
    StructField("title_toks", ArrayType(StringType()), True),
    StructField("body_toks", ArrayType(StringType()), True),
    StructField("block_keys", ArrayType(StringType()), True),
    StructField("parse_ok", BooleanType(), True),
])

IDF = StructType([
    StructField("token", StringType(), False),
    StructField("df", LongType(), False),
    StructField("idf", DoubleType(), False),
])

# slim per-mention payload the pair kernel needs: names for compat/JW,
# title tokens for Jaccard, precomputed sorted tf-idf arrays for cosine
MENTION_FEATS = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("doc_id", StringType(), True),
    StructField("host", StringType(), True),
    StructField("first", StringType(), True),
    StructField("middle", StringType(), True),
    StructField("last", StringType(), True),
    StructField("name_norm", StringType(), True),
    StructField("title_toks", ArrayType(StringType()), True),
    StructField("w_toks", ArrayType(LongType()), True),  # token_hash ids
    StructField("w_vals", ArrayType(DoubleType()), True),
    StructField("w_norm", DoubleType(), True),
])

PAIR_SCORES = StructType([
    StructField("url_1", StringType(), False),
    StructField("url_2", StringType(), False),
    StructField("block_key", StringType(), True),
    StructField("name_jw", DoubleType(), True),
    StructField("soundex_agree", DoubleType(), True),
    StructField("title_jac", DoubleType(), True),
    StructField("body_cos", DoubleType(), True),
    StructField("host_sim", DoubleType(), True),
    StructField("first_match", StringType(), True),
    StructField("middle_match", StringType(), True),
    # F10/F11 analogs on the graft's time axis (crawl time): capped
    # |day diff| (-1 when either side lacks warc_ts) and same-era flag
    # (NULL, not false, when either side lacks warc_ts)
    StructField("ts_day_diff", LongType(), True),
    StructField("era_match", BooleanType(), True),
    StructField("compat", BooleanType(), True),
    StructField("same_doc", BooleanType(), True),
    StructField("raw", DoubleType(), True),
    StructField("score", DoubleType(), True),
    StructField("is_edge", BooleanType(), True),
])

CLUSTERS = StructType([
    StructField("url", StringType(), False),
    StructField("cluster_id", LongType(), False),
    StructField("is_noise", BooleanType(), False),
])

ENTITIES = StructType([
    StructField("cluster_id", LongType(), False),
    StructField("canonical_name", StringType(), True),
    StructField("last", StringType(), True),
    StructField("first_initial", StringType(), True),
    StructField("n_members", LongType(), False),
    StructField("hosts", ArrayType(StringType()), True),
    StructField("profile", MapType(StringType(), DoubleType()), True),
])
