"""Local replica of the driver's correctness gate: run each queries()[name]
on Spark and oracle_sql()[name] on DuckDB over the same parquet tables;
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_queries.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v) -> str:
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if v is None or v != v:  # NaN
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def strict_issues(sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    """Replicate the DRIVER canonicalizer's stricter failure modes, which
    the relaxed value_hash below tolerates: (a) list/ndarray-typed cells
    crash its sort_values; (b) dtype-kind mismatches (DuckDB HUGEINT sums
    come back float64 vs Spark int64) change its value hash."""
    issues = []
    for df, side in ((sdf, "spark"), (ddf, "duck")):
        for c in df.columns:
            if len(df) == 0:
                continue
            v = df[c].iloc[0]
            if isinstance(v, (list, tuple)) or \
                    type(v).__name__ == "ndarray":
                issues.append(f"{side}.{c} is list-typed (driver canon crash)")
    for c in sorted(set(sdf.columns) & set(ddf.columns)):
        ks, kd = sdf[c].dtype.kind, ddf[c].dtype.kind
        if ks != kd:
            issues.append(f"dtype kind mismatch on {c}: "
                          f"spark {sdf[c].dtype} vs duck {ddf[c].dtype}")
    return issues


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        "|".join(norm_cell(r[c]) for c in cols)
        for _, r in df.iterrows()
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from webr.session import get_spark

    spark = get_spark(app="check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(sdf)} (no oracle)")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {e}")
            failed.append(name)
            continue
        ok_rows = len(sdf) == len(ddf)
        ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
        hs, hd = value_hash(sdf), value_hash(ddf)
        ok_hash = hs == hd
        strict = strict_issues(sdf, ddf)
        ok = ok_rows and ok_cols and ok_hash and not strict
        status = "ok   " if ok else "FAIL "
        print(f"{status} {name}: rows {len(sdf)}/{len(ddf)} "
              f"cols_match={ok_cols} hash {hs}/{hd}")
        if status.startswith("FAIL"):
            failed.append(name)
            for s in strict:
                print("   strict:", s)
            if not ok_cols:
                print("   spark cols:", sorted(sdf.columns))
                print("   duck  cols:", sorted(ddf.columns))
            if ok_rows and ok_cols and not ok_hash and len(sdf) < 10000:
                cols = sorted(sdf.columns)
                a = sdf[cols].copy()
                b = ddf[cols].copy()
                a["__h"] = ["|".join(norm_cell(r[c]) for c in cols)
                            for _, r in a.iterrows()]
                b["__h"] = ["|".join(norm_cell(r[c]) for c in cols)
                            for _, r in b.iterrows()]
                only_a = set(a.__h) - set(b.__h)
                only_b = set(b.__h) - set(a.__h)
                for x in list(only_a)[:3]:
                    print("   spark-only:", x[:200])
                for x in list(only_b)[:3]:
                    print("   duck-only :", x[:200])
    print(f"\n{'ALL OK' if not failed else 'FAILURES: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
