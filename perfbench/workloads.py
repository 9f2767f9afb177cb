"""The two benchmark workloads and the folding of a traced run into
per-layer metrics.

Each workload function takes the invocation's ``Bench`` (run.py), builds
its inputs from the seed, measures for ``b.seconds``, checks the outputs
and fills ``b.metrics`` with the end-to-end metrics:

- ``throughput_per_s``: clustered pages per second of a Pipeline.run
  (er_batch), or driver queries per second of a pass (driver_suite);
- ``latency_p50_ms``: median single-page record lookup (er_batch), or
  median wall of one pass over the suite (driver_suite);
- ``quality``: the lower of pairwise F1 and record-query accuracy@1
  (er_batch), or the share of oracled queries that match DuckDB
  (driver_suite).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tracing import (STAGE_FIELDS, STAGES, TASK_FIELDS, find_event_log,
                     fold_event_log)

DEFAULT_SCALE = {"er_batch": 1.0, "driver_suite": 0.01}
PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
F1_MIN = 0.99
# er_batch keeps the first ER_PAGES pages of its corpus (generate_pages
# emits them entity by entity), so every seed does the same amount of
# work: at scale 1 a seed yields 2,300-3,200 pages
ER_PAGES = 2200
# the record queries run against a warehouse of a corpus of their own, at
# this scale (or the run's scale, if smaller): 12 entities, 300-400 pages
QUERY_SCALE = 0.3
QUERY_SEED_OFFSET = 1_000_003
# a record-query batch: 40 held-in + 12 perturbed + 12 no-match = 64 pages
BATCH_HELD_IN, BATCH_PERTURBED, BATCH_NO_MATCH = 40, 12, 12
BATCH_PAGES = BATCH_HELD_IN + BATCH_PERTURBED + BATCH_NO_MATCH
TAIL_BEYOND = 10  # tail = highest percentile with this many samples above
SLOW_CHECKS = ("doc_components", "link_pagerank", "doc_cosine_topk")

# the driver operators timed by driver_suite (the headline list of the
# older bench.py, kept here so the benchmark does not change with it)
HEADLINE = [
    "lineitem_agg", "revenue_by_nation", "top_orders_per_customer",
    "sessionize_events", "events_hourly",
    "doc_blocking", "doc_pair_features", "doc_cosine_topk",
    "doc_components", "dedup_minhash_lsh", "dedup_simhash",
    "ann_cosine_topk", "quality_score", "fingerprint",
    "link_pagerank", "asof_join_events",
]


def _unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("bytes") or field == "bytes_written":
        return "B"
    return "count"


PER_LAYER: dict[str, str] = {
    f"{s}.{f}": _unit(f) for s in STAGES for f in STAGE_FIELDS}
PER_LAYER.update({
    "pair_scores.edge_yield": "ratio",
    "pairs.pairs_per_page": "ratio",
    "catalog.write_amp": "ratio",
    "query.prepare_s": "s",
    "query.match_s": "s",
    "query.jobs": "count",
    "query.tasks": "count",
    "query.task_cpu_s": "s",
    **{f"queries.{q}.wall_s": "s" for q in HEADLINE},
    "session.start_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.untagged_cpu_share": "ratio",
})

_median = statistics.median


# -- inputs ----------------------------------------------------------------

def _corpus(seed: int, scale: float) -> pd.DataFrame:
    from webr.synth import generate_pages, pages_to_pandas
    return pages_to_pandas(generate_pages(seed=seed, scale=scale))


def _write_pages(pdf: pd.DataFrame, out_dir: str, n_files: int) -> int:
    """Pages table as ``n_files`` parquet files; returns bytes written."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    df = pdf[PAGE_COLS].copy()
    df["warc_ts"] = df["warc_ts"].dt.tz_localize("UTC")
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-tbl.num_rows // n_files)
    total = 0
    for k, off in enumerate(range(0, tbl.num_rows, step)):
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        pq.write_table(tbl.slice(off, step), path, coerce_timestamps="us")
        total += os.path.getsize(path)
    return total


def _pages_builder(b, seed: int, scale: float, name: str,
                   max_pages: int | None = None):
    def build() -> tuple[pd.DataFrame, int]:
        pdf = _corpus(seed, scale).iloc[:max_pages]
        return pdf, _write_pages(pdf, b.path(name), 2 * b.cores)
    return build


def _run_pipeline(b, pages_dir: str, op: str, input_id: str):
    """One Pipeline.run into a fresh warehouse -> (outputs, wall, root)."""
    from webr import schema
    from webr.engine import Pipeline
    b.tracer.op = op
    root = b.path("wh", op)
    pages = b.spark.read.schema(schema.PAGES).parquet(pages_dir)
    t0 = time.monotonic()
    out = Pipeline(b.spark, root, input_id=input_id).run(pages)
    return out, time.monotonic() - t0, root


# -- er_batch --------------------------------------------------------------

def pairwise_f1(clusters: pd.DataFrame, truth: pd.Series,
                pairs: pd.DataFrame) -> float:
    """Pairwise F1 over the run's candidate pairs: predicted same iff both
    pages sit in the same non-noise cluster, true same iff the generator
    gave them the same entity (the formula of webr's pipeline-F1 query)."""
    c = clusters.set_index("url")
    pred = c["cluster_id"].where(~c["is_noise"])
    p1, p2 = pairs.url_1.map(pred), pairs.url_2.map(pred)
    g1, g2 = pairs.url_1.map(truth), pairs.url_2.map(truth)
    keep = (pairs.url_1.isin(pred.index) & pairs.url_2.isin(pred.index)
            & g1.notna() & g2.notna())
    p = (p1.notna() & (p1 == p2))[keep]
    g = (g1 == g2)[keep]
    tp, fp, fn = int((p & g).sum()), int((p & ~g).sum()), int((~p & g).sum())
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def _er_check(b, out: dict, truth: pd.Series, op: str) -> tuple[float, str]:
    with b.tracer.span("check", op):
        cl = out["clusters"].select("url", "cluster_id",
                                    "is_noise").toPandas()
        pairs = out["pairs"].select("url_1", "url_2").distinct().toPandas()
    digest = hashlib.sha256("\n".join(sorted(
        f"{u}\t{c}" for u, c in zip(cl.url, cl.cluster_id))).encode())
    return pairwise_f1(cl, truth, pairs), digest.hexdigest()[:16]


def _stage_extras(b, out: dict, op: str, n_pages: int,
                  input_bytes: int) -> None:
    """Traced runs only: ratios of one pipeline run, for fold_trace."""
    if not b.traced:
        return
    with b.tracer.span("check", op):
        n_edges = out["pair_scores"].where("is_edge").count()
    recs = {s["layer"]: s for s in b.tracer.spans
            if s["op"] == op and s["layer"] in STAGES}
    written = sum(r.get("bytes_written", 0) for r in recs.values())
    b.detail.setdefault("stage_ops", []).append(op)
    b.detail.setdefault("stage_extras", {})[op] = {
        "pair_scores.edge_yield":
            n_edges / max(recs["pair_scores"]["rows_out"], 1),
        "pairs.pairs_per_page": recs["pairs"]["rows_out"] / n_pages,
        "catalog.write_amp": written / input_bytes,
    }


def _earlier_digests(b) -> set[str]:
    """Cluster digests of the earlier er_batch runs of this seed, scale and
    source in the results directory."""
    out: set[str] = set()
    for p in glob.glob(os.path.join(b.results_dir,
                                    f"er_batch-seed{b.seed}-*.json")):
        try:
            with open(p) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        prov = r.get("provenance", {})
        if r.get("scale") == b.scale and all(
                prov.get(k) == v for k, v in b.sources.items()):
            out.update(r["detail"].get("cluster_digests", []))
    return out


def er_batch(b) -> None:
    """Q1 and Q3 in one session.

    Set-up builds the record-query warehouse from a corpus of its own; that
    cold Pipeline.run is also the warm-up of the measured one. Measured,
    each for half the run's seconds: cold Pipeline.run of the main corpus
    into a fresh warehouse (Q1), then a closed loop of record queries
    against the set-up warehouse (Q3)."""
    b.tracer.instrument_program()
    pdf, in_bytes = b.repeated_setup(
        "input_s", _pages_builder(b, b.seed, b.scale, "pages", ER_PAGES))
    qpdf, _ = b.repeated_setup(
        "query_input_s",
        _pages_builder(b, b.seed + QUERY_SEED_OFFSET,
                       min(QUERY_SCALE, b.scale), "query_pages"))
    t0 = time.monotonic()
    wh, _, _ = _run_pipeline(b, b.path("query_pages"), "build",
                             f"rq-{b.seed}-{b.scale}")
    with b.tracer.span("check", "build"):
        cl = wh["clusters"].select("url", "cluster_id",
                                   "is_noise").toPandas()
    b.setup["warehouse_s"] = time.monotonic() - t0

    _cluster_runs(b, pdf, in_bytes)
    _record_queries(b, qpdf, cl, (wh["idf"], wh["entities"], wh["clusters"],
                                  wh["mention_feats"]))


def _cluster_runs(b, pdf: pd.DataFrame, in_bytes: int) -> None:
    """Q1, repeated while the budget allows. Every run of one corpus, in
    this invocation or an earlier one of the same source, must give the
    same clusters."""
    truth = pdf.set_index("url")["entity_id"]
    known = _earlier_digests(b)
    walls, f1s, digests = [], [], []
    for i in b.loop(seconds=b.seconds / 2):
        op = f"run{i}"
        out, wall, root = _run_pipeline(b, b.path("pages"), op,
                                        f"er-{b.seed}-{b.scale}")
        f1, digest = _er_check(b, out, truth, op)
        _stage_extras(b, out, op, len(pdf), in_bytes)
        b.check(f1 >= F1_MIN and known <= {digest})
        known.add(digest)
        walls.append(wall)
        f1s.append(f1)
        digests.append(digest)
        shutil.rmtree(root, ignore_errors=True)

    b.metrics["throughput_per_s"] = len(pdf) / _median(walls)
    b.metrics["quality"] = _median(f1s)
    b.detail.update(pages=len(pdf), input_bytes=in_bytes, run_walls_s=walls,
                    pairwise_f1=f1s, cluster_digests=digests)


# -- record queries (Q3) ---------------------------------------------------

_FAB_FIRST = ["zebulon", "ottoline", "barnaby", "perpetua", "ignatius",
              "clementine", "thaddeus", "winifred"]
_FAB_LAST = ["quixote", "brambleworth", "fennimore", "vanterpool",
             "ashcombe", "thistlewood", "marchbanks", "pennywhistle"]
_BODY_RE = re.compile(r"(<p>)(.*?)(</p>)", re.I | re.S)
_NAME_DECOR_RE = re.compile(r"^(dr\.|prof)\s+|,\s*ph\.d$|\s*\(editor\)$")


def _initial_only(author_name: str) -> bool:
    name = _NAME_DECOR_RE.sub("", author_name.strip().lower())
    return len(name.split()[0]) == 1


def _perturbed(page: pd.Series, tag: str, rng: random.Random) -> dict:
    """A held-in page under a new url with ~20% of its body words
    dropped."""
    html = page["html"].decode("utf-8")

    def drop(m: re.Match) -> str:
        words = [w for w in m.group(2).split() if rng.random() >= 0.2]
        return m.group(1) + " ".join(words) + m.group(3)
    return {"url": f"{page['url']}-{tag}", "warc_ts": page["warc_ts"],
            "html": _BODY_RE.sub(drop, html, count=1).encode("utf-8"),
            "text": "", "lang": page["lang"]}


def _fabricated(tag: str, rng: random.Random) -> dict:
    """A page by an author no corpus entity shares a last name with."""
    first, last = rng.choice(_FAB_FIRST), rng.choice(_FAB_LAST)
    body = " ".join(f"qz{rng.randrange(500):03d}" for _ in range(60))
    html = (f"<html><head><title>unseen {last}</title></head><body>"
            f"<h1>{first.title()} {last.title()}</h1><p>{body}</p>"
            f"</body></html>")
    return {"url": f"https://nomatch.example.net/p/{last}-{tag}",
            "warc_ts": pd.Timestamp("2024-06-01"),
            "html": html.encode("utf-8"), "text": "", "lang": "eng"}


class _Requests:
    """Seeded request generator over the held-in pages of the warehouse.
    Held-in pages are drawn without replacement until the pool is used up,
    so a page rarely repeats within a run."""

    def __init__(self, pdf: pd.DataFrame, gold: dict, seed: int):
        self.pages = pdf.set_index("url", drop=False)
        self.gold = gold
        self.rng = random.Random(seed)
        self.pool: list[str] = []

    def _held(self, k: int) -> list[str]:
        out = []
        while len(out) < k:
            if not self.pool:
                self.pool = sorted(self.gold)
                self.rng.shuffle(self.pool)
            out.append(self.pool.pop())
        return out

    def single(self):
        """-> (pages frame, held-in url -> gold cluster, no-match urls)"""
        u = self._held(1)[0]
        return self.pages.loc[[u], PAGE_COLS], {u: self.gold[u]}, []

    def batch(self, tag: str):
        held = self._held(BATCH_HELD_IN)
        rows = [self.pages.loc[u, PAGE_COLS].to_dict() for u in held]
        rows += [_perturbed(self.pages.loc[u], f"{tag}r{k}", self.rng)
                 for k, u in enumerate(self._held(BATCH_PERTURBED))]
        fab = [_fabricated(f"{tag}n{k}", self.rng)
               for k in range(BATCH_NO_MATCH)]
        frame = pd.DataFrame(rows + fab)[PAGE_COLS]
        return frame, {u: self.gold[u] for u in held}, [p["url"] for p in fab]


def _record_queries(b, pdf: pd.DataFrame, cl: pd.DataFrame, tables) -> None:
    """Q3: closed loop, one client, alternating single-page lookups and
    64-page batches of match_records against the warehouse of ``pdf``,
    whose clusters are ``cl``."""
    from webr import schema, spec
    from webr.evalm import query_eval
    from webr.query import match_records

    # held-in pool: pages in a non-noise cluster whose author name carries
    # a full first name. An initial-only mention ("A Q Zhang") can sit in
    # a cluster of its own beside the full-name cluster of the same
    # entity, and the record query then rightly ranks the full-name
    # cluster first, so "own cluster at rank 1" is no contract for it.
    full = set(pdf.url[~pdf.author_name.map(_initial_only)])
    gold = {u: c for u, c, noise in zip(cl.url, cl.cluster_id, cl.is_noise)
            if not noise and u in full}
    reqs = _Requests(pdf, gold, b.seed)

    def serve(frame: pd.DataFrame, op: str):
        df = b.spark.createDataFrame(frame, schema=schema.PAGES)
        b.tracer.op = op
        t0 = time.monotonic()
        with b.tracer.span("query.match"):
            rows = match_records(df, *tables).collect()
        return rows, time.monotonic() - t0

    def checked(rows, held: dict, no_match: list) -> bool:
        top1 = {r.q_url: r.cluster_id for r in rows if r.rank == 1}
        answered = {r.q_url for r in rows}
        return (all(top1.get(u) == c for u, c in held.items())
                and not answered.intersection(no_match))

    # the first single-page request after a batch ran about 10 % slower
    # than the next one, so the warm-up is a single-page request
    serve(reqs.single()[0], "warmup")

    singles, batches = [], []
    results, gold_rows = [], []
    for i in b.loop(min_iters=6, seconds=b.seconds / 2):
        op = f"req{i}"
        if i % 2 == 0:
            frame, held, no_match = reqs.single()
        else:
            frame, held, no_match = reqs.batch(f"q{i}")
        rows, wall = serve(frame, op)
        b.check(checked(rows, held, no_match))
        (singles if i % 2 == 0 else batches).append(wall)
        if i % 2 == 0:
            b.detail.setdefault("single_ops", []).append(op)
        # query_eval over held-in and no-match pages; the request number
        # keeps a page drawn twice apart
        results += [(f"{i}|{r.q_url}", r.cluster_id, r.rank) for r in rows]
        gold_rows += [(f"{i}|{u}", c) for u, c in held.items()]
        gold_rows += [(f"{i}|{u}", None) for u in no_match]

    with b.tracer.span("check", "eval"):
        ev = query_eval(
            b.spark.createDataFrame(
                results, "q_url string, cluster_id long, rank int"),
            b.spark.createDataFrame(gold_rows,
                                    "q_url string, cluster_id long"),
            k=spec.TOP_K).first()

    b.metrics["latency_p50_ms"] = 1e3 * _median(singles)
    b.metrics["quality"] = min(b.metrics["quality"], float(ev.acc_at_1))
    ranked = sorted(singles, reverse=True)
    b.detail.update(
        warehouse_pages=len(pdf), single_s=singles, batch_s=batches,
        batch_pages_per_s=BATCH_PAGES / _median(batches),
        query_eval=ev.asDict(),
        query_tail_ms=(1e3 * ranked[TAIL_BEYOND]
                       if len(ranked) > TAIL_BEYOND else None),
        query_tail_percentile=(
            100.0 * (len(ranked) - TAIL_BEYOND) / len(ranked)
            if len(ranked) > TAIL_BEYOND else None))


# -- driver_suite ----------------------------------------------------------

def _matches_oracle(sdf: pd.DataFrame, ddf: pd.DataFrame) -> bool:
    """The comparison of the repo's query gate: row count, column names,
    order-insensitive value hash, and none of its strict issues."""
    from tools.check_queries import strict_issues, value_hash
    return (len(sdf) == len(ddf)
            and sorted(sdf.columns) == sorted(ddf.columns)
            and value_hash(sdf) == value_hash(ddf)
            and not strict_issues(sdf, ddf))


def driver_suite(b) -> None:
    """The driver operators over seeded tables: one untimed pass that checks
    every oracled query against DuckDB, then timed passes."""
    import duckdb

    import __spark_entry__ as entry
    from tables import TABLES, write_tables

    data = b.path("tables")
    b.repeated_setup("input_s", lambda: write_tables(data, b.seed, b.scale))
    fns, sqls = entry.queries(), entry.oracle_sql()

    # the untimed pass runs the queries from one thread per core: it only
    # has to warm the session up and produce outputs for the checks. The
    # queries whose check takes longest (the DuckDB twin of doc_components
    # alone costs about 25 CPU-seconds) start first, so they do not finish
    # last
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{b.path('tmp')}'")
    con.execute(f"SET threads = {b.cores}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")

    def checked(q: str) -> bool:
        with b.tracer.span("check", "oracle"):
            sdf = fns[q](b.spark, data).toPandas()
        if q not in sqls:
            return True
        cur = con.cursor()
        try:
            return _matches_oracle(sdf, cur.sql(sqls[q]).df())
        finally:
            cur.close()

    t0 = time.monotonic()
    try:
        with ThreadPoolExecutor(max_workers=b.cores) as ex:
            order = sorted(HEADLINE, key=lambda q: q not in SLOW_CHECKS)
            oks = dict(zip(order, ex.map(checked, order)))
    finally:
        con.close()
    b.detail["check_pass_s"] = time.monotonic() - t0
    mismatched = [q for q in HEADLINE if q in sqls and not b.check(oks[q])]
    oracled = sum(q in sqls for q in HEADLINE)

    passes, per_query = [], defaultdict(list)
    for p in b.loop():
        op = f"pass{p}"
        b.detail.setdefault("pass_ops", []).append(op)
        total = 0.0
        for q in HEADLINE:
            t0 = time.monotonic()
            with b.tracer.span(f"queries.{q}", op):
                fns[q](b.spark, data).write.format("noop").mode(
                    "overwrite").save()
            wall = time.monotonic() - t0
            per_query[q].append(wall)
            total += wall
            b.check(True)
        passes.append(total)

    b.metrics["latency_p50_ms"] = 1e3 * _median(passes)
    b.metrics["throughput_per_s"] = len(HEADLINE) / _median(passes)
    b.metrics["quality"] = (oracled - len(mismatched)) / oracled
    b.detail.update(pass_s=passes, query_s=dict(per_query),
                    oracled=oracled, oracle_mismatches=mismatched)


# -- traced run ------------------------------------------------------------

def fold_trace(b) -> None:
    """Fill ``b.layers`` from the spans and the event log."""
    folded = fold_event_log(find_event_log(b.path("eventlog"),
                                           b.detail["app_id"]))
    zero = dict.fromkeys(TASK_FIELDS, 0.0)
    L = b.layers
    cpu_total = sum(m["task_cpu_s"] for m in folded.values())
    untagged = folded.get(("", ""), zero)["task_cpu_s"]
    L["trace.untagged_cpu_share"] = untagged / cpu_total if cpu_total else 0.0
    L["session.start_s"] = b.setup["session_s"]

    # pipeline stages: median over the traced pipeline runs
    ops = b.detail.get("stage_ops", [])
    for s in STAGES:
        per_op = []
        for op in ops:
            recs = [x for x in b.tracer.spans
                    if x["op"] == op and x["layer"] == s]
            v = {"wall_s": sum(x["end"] - x["start"] for x in recs),
                 "rows_out": sum(x.get("rows_out", 0) for x in recs),
                 "bytes_written": sum(x.get("bytes_written", 0)
                                      for x in recs)}
            v.update(folded.get((op, s), zero))
            per_op.append(v)
        for f in STAGE_FIELDS:
            L[f"{s}.{f}"] = _median([v[f] for v in per_op]) if per_op else 0.0
    extras = b.detail.get("stage_extras", {})
    for k in ("pair_scores.edge_yield", "pairs.pairs_per_page",
              "catalog.write_amp"):
        vals = [e[k] for e in extras.values()]
        L[k] = _median(vals) if vals else 0.0
    stage_cpu = sum(folded.get((op, s), zero)["task_cpu_s"]
                    for op in ops for s in STAGES)
    if ops:
        b.detail["stage_cpu_share"] = stage_cpu / max(stage_cpu + untagged,
                                                      1e-9)

    # record queries: per single-page request
    per_req = []
    for op in b.detail.get("single_ops", []):
        walls = b.tracer.walls(op)
        prep = walls.get("query.prepare", 0.0)
        m = [folded.get((op, layer), zero)
             for layer in ("query.prepare", "query.match")]
        per_req.append({
            "prepare_s": prep,
            "match_s": walls.get("query.match", 0.0) - prep,
            "jobs": sum(x["jobs"] for x in m),
            "tasks": sum(x["tasks"] for x in m),
            "task_cpu_s": sum(x["task_cpu_s"] for x in m)})
    for f in ("prepare_s", "match_s", "jobs", "tasks", "task_cpu_s"):
        L[f"query.{f}"] = (_median([r[f] for r in per_req])
                           if per_req else 0.0)

    # driver_suite: per query, median over passes
    passes = b.detail.get("pass_ops", [])
    for q in HEADLINE:
        vals = [b.tracer.walls(op).get(f"queries.{q}", 0.0) for op in passes]
        L[f"queries.{q}.wall_s"] = _median(vals) if vals else 0.0
    b.detail["folded"] = {f"{op}/{layer}": m
                          for (op, layer), m in folded.items()}
