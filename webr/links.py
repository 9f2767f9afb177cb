"""Web link-graph kernels: real ``<a href>`` extraction from HTML plus an
iterative PageRank builder.

The reference has no link analysis (it resolves authors, not pages), but a
Common-Crawl-scale training-data pipeline needs the link graph for crawl
prioritization, domain ranking, and spam filtering (method sources, all
public: Page et al. 1999 "The PageRank citation ranking" for the power
iteration incl. damping + dangling-mass redistribution; Common Crawl's
published host-level web-graph releases for the degree/rank shape; the
Malewicz et al. 2010 Pregel paper for the per-iteration superstep
structure) — so this module adds the operator class the same way
`webr.multimodal` added media sniffing:
a pure-Python kernel that runs inside Arrow batches, exercised by driver
queries whose DuckDB oracle recomputes the expected output from doc_id
arithmetic alone (parser bugs break the value-hash match).

Scale notes (100 TB): link extraction is a narrow per-row map (no
shuffle); degree aggregation is one map-side-combined groupBy per
direction; PageRank is the classic Pregel shape — the (edges ⋈ out-degree)
frame is materialized ONCE and reused every iteration, each iteration is
exactly one shuffle (contributions grouped by dst), and rank state is one
slim (id, r) row per node.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# --------------------------------------------------------------------------
# extraction kernel

_A_OPEN = re.compile(r"<a\b", re.IGNORECASE)
_A_CLOSE = re.compile(r"</a\s*>", re.IGNORECASE)
# \s (not \b) before href: '-' is a word boundary, so \b would claim the
# url out of data-href=... attributes
_HREF = re.compile(
    r"""\shref\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""",
    re.IGNORECASE)
_TAG = re.compile(r"<[^>]*>")
_WS = re.compile(r"\s+")


def extract_links(html: str | None) -> list[tuple[str, str]]:
    """All ``(href, anchor_text)`` pairs of ``<a ... href=...>`` tags, in
    document order. Handles double-/single-/un-quoted href, any attribute
    order, uppercase tags, and markup inside the anchor (stripped; inner
    whitespace collapsed). An ``<a>`` without href, or without a closing
    tag, is skipped — crawl HTML is ragged and extraction must not throw
    (same contract as ``textproc.extract_text``)."""
    if not html:
        return []
    out: list[tuple[str, str]] = []
    pos = 0
    while True:
        m = _A_OPEN.search(html, pos)
        if m is None:
            break
        tag_end = html.find(">", m.end())
        if tag_end < 0:
            break
        href_m = _HREF.search(html, m.end(), tag_end)
        close = _A_CLOSE.search(html, tag_end + 1)
        if close is None:
            break
        if href_m is not None:
            href = next(g for g in href_m.groups() if g is not None)
            anchor = _WS.sub(
                " ", _TAG.sub(" ", html[tag_end + 1:close.start()])).strip()
            out.append((href, anchor))
        pos = close.end()
    return out


# --------------------------------------------------------------------------
# deterministic synthetic link structure (the oracle's arithmetic twin —
# any change here MUST be mirrored in webr/queries/linkgraph.py SQL)

def link_targets(doc_id: int, n_docs: int) -> list[int]:
    """Out-links of page ``doc_id`` in an ``n_docs``-page corpus:
    1 + doc_id % 3 mod-rule targets (a fixed pseudo-random fan-out), plus
    a hub link to doc 0 from every 10th page (deliberate in-degree skew —
    the graph the degree/PageRank operators must survive). May contain
    duplicates; edge-list consumers take the DISTINCT set."""
    out = []
    for j in range(doc_id % 3 + 1):
        dst = (doc_id * 31 + 17 * j + 7) % n_docs
        if dst == doc_id:  # no self-loops (keeps out-degree >= 1)
            dst = (dst + 1) % n_docs
        out.append(dst)
    if doc_id % 10 == 0:
        out.append(1 if doc_id == 0 else 0)
    return out


def synth_link_html(doc_id: int, n_docs: int) -> str:
    """Deterministic page HTML whose anchor tags encode
    ``link_targets`` — alternating quote styles and one attribute-order
    flip so the extraction query exercises the parser's branches."""
    parts = [f"<html><body><h1>Page {doc_id}</h1><p>"]
    for k, dst in enumerate(link_targets(doc_id, n_docs)):
        url = f"https://docs.example.org/d/{dst}"
        if k % 3 == 0:
            a = f'<a href="{url}">see <b>doc</b> {dst}</a>'
        elif k % 3 == 1:
            a = f"<a href='{url}' rel=nofollow>see doc {dst}</a>"
        else:
            a = f'<A rel="x" HREF={url}>see  doc\n{dst}</A>'
        parts.append(f"cites {a} here. ")
    parts.append("</p></body></html>")
    return "".join(parts)


# --------------------------------------------------------------------------
# PageRank (iterative DataFrame algorithm)

def _release(df: DataFrame) -> None:
    """Free a retired rank-state generation. ``DataFrame.unpersist``
    only reaches the cache manager, which does not track localCheckpoint
    block storage — those blocks must be dropped via the LogicalRDD's
    underlying RDD, else every checkpointed round leaks its blocks until
    the ContextCleaner happens to GC the reference."""
    df.unpersist()
    try:
        lp = df._jdf.queryExecution().analyzed()
        if lp.getClass().getSimpleName() == "LogicalRDD":
            lp.rdd().unpersist(False)
    except Exception:
        pass  # best-effort; the ContextCleaner reclaims eventually


# a lazily chained rank state (no dangling nodes) is cut back to a leaf
# every this many rounds and at the last one
CHECKPOINT_EVERY = 10


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 5,
             damping: float = 0.85, n_nodes: int | None = None) -> DataFrame:
    """Power-iteration PageRank over a DISTINCT ``(src, dst)`` edge list.

    r_{k+1}(v) = (1-d)/N + d * (sum_{u->v} r_k(u)/outdeg(u)
                              + dangling_mass_k / N)

    One shuffle per iteration (contributions grouped by dst); the
    (edges ⋈ out-degree) frame is cached once and reused across all
    iterations, and the dangling-mass term is a one-row aggregate (zero
    when every node has an out-link, as in the synthetic graph — the
    DuckDB oracle relies on that). ``nodes`` must be the full vertex set
    (one ``id`` column); ranks always sum to 1.

    Real iteration counts: the rank state is ``localCheckpoint``-ed to
    cut the LOGICAL plan back to a leaf — persist+count bounds physical
    re-execution but not plan growth. Without dangling nodes the plan
    deepens linearly (one self-reference per round): the rounds chain
    lazily and materialize together, in one checkpoint every
    ``CHECKPOINT_EVERY`` rounds and one at the last round; WITH
    dangling nodes each round references the rank state twice
    (contributions + mass aggregate), so the analyzed tree DOUBLES per
    round (2^k leaves — measured: the
    AQE plan-string emission alone OOMs a 1 GiB driver by round 7) and
    the state is checkpointed EVERY round. The checkpoint is the round's
    materializing action, so it replaces — not adds to — the Pregel
    count. All intermediate cache is dropped before returning; the returned
    ranks frame holds checkpoint/persist blocks and the CALLER owns
    unpersisting it. Lineage-truncation tradeoff: localCheckpoint blocks
    are not rebuildable after executor loss — on a real cluster pair
    long runs with a reliable ``spark.sparkContext.setCheckpointDir``
    variant or accept re-running from the last completed round."""
    n = n_nodes if n_nodes is not None else nodes.count()
    eo = (edges
          .join(edges.groupBy("src").agg(F.count("*").alias("outd")), "src")
          .persist())
    # the dangling-node SET is static across iterations (only its rank
    # mass changes) — derive it ONCE outside the loop; when it is empty
    # (every node has an out-link) skip the mass term entirely, which is
    # bitwise-identical (the term was exactly +0.0) and saves an
    # anti-join + broadcast cross join per iteration
    dang_ids = (nodes.join(eo.select("src").distinct(),
                           nodes.id == F.col("src"), "left_anti")
                .select("id").persist())
    has_dangling = bool(dang_ids.limit(1).count())
    ranks = nodes.select("id", F.lit(1.0 / n).alias("r")).persist()
    held = ranks  # newest materialized state, released once superseded
    for it in range(1, iters + 1):
        contribs = (eo.join(ranks.withColumnRenamed("id", "src"), "src")
                    .groupBy("dst")
                    .agg(F.sum(F.col("r") / F.col("outd")).alias("c")))
        base = nodes.join(contribs.withColumnRenamed("dst", "id"),
                          "id", "left")
        term = F.coalesce(F.col("c"), F.lit(0.0))
        if has_dangling:
            # one-row dangling mass rides a broadcast cross join (benign
            # by construction, same shape as pr_curve's total row)
            dangling = (ranks.join(dang_ids, "id")
                        .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("m")))
            base = base.crossJoin(F.broadcast(dangling))
            term = term + F.col("m") / F.lit(float(n))
        ranks = base.select(
            "id",
            (F.lit((1.0 - damping) / n)
             + F.lit(damping) * term).alias("r"))
        # A dangling graph reads the rank state twice per round, so its
        # analyzed plan doubles per round unless cut NOW (see docstring);
        # the linear-growth case is cut every CHECKPOINT_EVERY rounds and
        # at the last one, and otherwise chains lazily into the next round
        if has_dangling or it % CHECKPOINT_EVERY == 0 or it == iters:
            ranks = ranks.localCheckpoint(eager=True)  # lineage cut to leaf
            # only now that the new state is materialized may its
            # parents go
            _release(held)
            held = ranks
    eo.unpersist()
    dang_ids.unpersist()
    return ranks
