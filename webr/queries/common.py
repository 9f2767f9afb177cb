"""Shared helpers for the driver-contract queries: identical tokenization /
stopword semantics rendered for BOTH Spark SQL and DuckDB SQL, so the
oracle comparison exercises real parity, not luck."""

from __future__ import annotations

from webr.textproc import STOPWORDS

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# --- Spark SQL fragments ----------------------------------------------------

def spark_tokens(col: str = "text") -> str:
    """Spark SQL expression: lowercase, split on non-alnum, drop empties."""
    return f"filter(split(lower({col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"


def spark_tokens_nostop(col: str = "text") -> str:
    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    return (f"filter({spark_tokens(col)}, "
            f"x -> NOT array_contains(array({stop}), x))")


# --- DuckDB SQL fragments -----------------------------------------------------

def duck_tokens(col: str = "text") -> str:
    return (f"list_filter(regexp_split_to_array(lower({col}), "
            f"'{TOKEN_SPLIT_RE}'), x -> x <> '')")


def duck_tokens_nostop(col: str = "text") -> str:
    stop = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    return (f"list_filter({duck_tokens(col)}, "
            f"x -> NOT list_contains([{stop}], x))")


def read(spark, sf_dir: str, table: str):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# documents row count per sf dir. The testdata tables are immutable, so
# one count job per (app, dir) suffices — otherwise every query that
# needs N pays a count job before its real work. At 100 TB this is
# table-stat metadata (a parquet-footer read), not a scan.
_NDOCS_CACHE: dict[tuple[str, str], int] = {}


def doc_count(spark, sf: str) -> int:
    key = (spark.sparkContext.applicationId, sf)
    if key not in _NDOCS_CACHE:
        _NDOCS_CACHE[key] = read(spark, sf, "documents").count()
    return _NDOCS_CACHE[key]


def with_sides(pairs, d, cols: list[str], id_col: str = "doc_id"):
    """``pairs`` ({id_col}_1, {id_col}_2, ...) with ``d``'s ``cols``
    joined on once per side as ``{c}_1`` / ``{c}_2``: the ids ride the
    self-join, the wide payload joins back once per pair side."""
    for s in (1, 2):
        pairs = pairs.join(
            d.selectExpr(f"{id_col} AS {id_col}_{s}",
                         *(f"{c} AS {c}_{s}" for c in cols)),
            f"{id_col}_{s}")
    return pairs
