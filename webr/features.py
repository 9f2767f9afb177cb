"""Pairwise feature + scoring kernel, shared by oracle and engine.

One way to score a pair: the engine (pipeline ``pair_scores`` stage and
the record query) calls ``score_pairs_indexed_vec`` on a member table plus
pair index arrays inside an Arrow-batched cogroup (analog of the
reference's single batched ``predict_proba`` over the per-block feature
matrix, dao/author_block.py:357-410). ``score_pairs(pairs_pdf)`` — one
pandas DataFrame of sided candidate pairs in, features + calibrated score
out — is its scalar spec twin, used only by the oracle. Floating point is
bitwise-identical on both sides because token accumulation is done in
sorted-key order.

Features (SURVEY §2.7): Jaro-Winkler on full names (F2), Soundex agreement
on last names (F4), Jaccard-with-eps on title tokens (F1), TF-IDF cosine on
body tokens (F5/F18), Levenshtein-normalized host similarity (F3).
Pre-filters applied as hard gates exactly like the reference: name
compatibility (P6, dao/author.py:75-110) and same-document exclusion
(P7, dao/author_block.py:386-389) force score 0.0.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from webr import spec
from webr.textproc import (
    jaccard, jaro_winkler, levenshtein, name_part_match, names_compatible,
    soundex,
)

FEATURE_COLUMNS = [
    "name_jw", "soundex_agree", "title_jac", "body_cos", "host_sim",
    "first_match", "middle_match", "ts_day_diff", "era_match",
    "compat", "same_doc", "raw", "score", "is_edge",
]

_NS_PER_DAY = 86_400_000_000_000


def _ts_day_era(ts) -> tuple[int, int] | None:
    """(epoch-day, era bucket) of a crawl timestamp, or None when
    missing. Everything funnels through pd.Timestamp so engine
    (Arrow datetime64) and oracle (datetime/Timestamp) agree exactly."""
    if ts is None or pd.isna(ts):
        return None
    t = ts if isinstance(ts, pd.Timestamp) else pd.Timestamp(ts)
    return t.value // _NS_PER_DAY, t.year // spec.TS_ERA_YEARS


_HASH_MEMO: dict[str, int] = {}


def token_hash(t: str) -> int:
    """Deterministic 60-bit token id: int(md5(t)[:15 hex], 16). Memoized
    (vocab-bounded). JVM twin (engine join fallback):
    ``conv(substring(md5(token), 1, 15), 16, 10)`` cast to long — identical
    values, so either side of the engine produces the same arrays. Weight
    arrays carry these int64 ids instead of token strings: ~2x less pair-
    join shuffle and faster sorted merges; a cross-token collision
    (2^-60-ish) merely merges two terms of a cosine."""
    v = _HASH_MEMO.get(t)
    if v is None:
        v = _HASH_MEMO[t] = int(
            hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
    return v


def weight_arrays(tokens: list[str],
                  idf: dict | None) -> tuple[list[int], list[float], float]:
    """-> (sorted token ids, tf*idf values aligned, L2 norm). Computed ONCE
    per mention (engine: mention_feats stage; oracle: attach step), so pair
    scoring never rebuilds dicts. Missing token -> 0.0 weight (ref F18
    util/utils.py:40 / classifier/feature_vector.py:36). Norm accumulates in
    sorted-id order on both sides -> bitwise-identical float64."""
    if idf is None:
        idf = {}
    tf: dict[str, int] = {}
    for t in tokens:
        tf[t] = tf.get(t, 0) + 1
    entries = sorted((token_hash(t), c * idf.get(t, 0.0))
                     for t, c in tf.items())
    # merge distinct tokens colliding under the 60-bit hash (weights sum
    # in sorted-(hash, weight) order) so the arrays are truly unique —
    # the cosine's searchsorted merge requires it, and the JVM twin
    # (engine join fallback) groups by hash the same way
    merged: list[tuple[int, float]] = []
    for h, v in entries:
        if merged and merged[-1][0] == h:
            merged[-1] = (h, merged[-1][1] + v)
        else:
            merged.append((h, v))
    vals = [v for _, v in merged]
    acc = 0.0
    for v in vals:
        acc += v * v
    return [h for h, _ in merged], vals, math.sqrt(acc)


def sparse_cosine_sorted(t1, v1, n1: float, t2, v2, n2: float) -> float:
    """L2-normalized dot over the intersection of two sorted UNIQUE
    token-id arrays (weight_arrays merges hash collisions, so uniqueness
    holds by construction); 0.0 if either norm is 0 (ref classifier/
    feature_vector_bow.py:23-60). The intersection runs in C via
    searchsorted on the sorted ids (cheaper than intersect1d's
    concat+argsort), and the dot is a SEQUENTIAL left-to-right fold over
    ascending token ids (spec v9) — the exact accumulation order
    np.bincount uses, so the engine's batched-cosine kernel
    (score_pairs_indexed_vec) and this scalar oracle twin stay
    bit-identical."""
    if n1 == 0.0 or n2 == 0.0:
        return 0.0
    a1 = t1 if isinstance(t1, np.ndarray) else np.asarray(t1, np.int64)
    a2 = t2 if isinstance(t2, np.ndarray) else np.asarray(t2, np.int64)
    if len(a1) == 0 or len(a2) == 0:
        return 0.0
    # probe the SMALLER side into the larger: cost min·log(max) instead of
    # len(t2)·log(len(t1)). Bitwise-neutral: the intersection is
    # enumerated in ascending token-id order either way (both inputs are
    # sorted), and the elementwise multiply commutes exactly.
    if len(a2) > len(a1):
        a1, a2 = a2, a1
        v1, v2 = v2, v1
    idx = a1.searchsorted(a2)
    idx[idx == len(a1)] = 0  # out-of-range probes -> mask kills them
    mask = a1[idx] == a2
    if not mask.any():
        return 0.0
    w1 = v1 if isinstance(v1, np.ndarray) else np.asarray(v1, np.float64)
    w2 = v2 if isinstance(v2, np.ndarray) else np.asarray(v2, np.float64)
    prods = w1[idx[mask]] * w2[mask]
    acc = 0.0
    for x in prods.tolist():  # sequential fold == bincount's order
        acc += x
    return acc / (n1 * n2)


def profile_arrays(items) -> tuple[list[int], list[float], float]:
    """A cluster profile's (token, weight) items -> (sorted token ids,
    weights aligned, L2 norm), the operand shape of
    ``sparse_cosine_sorted``. Entity profiles keep human-readable tokens;
    this hashes them into the int64 id space of the weight arrays."""
    entries = sorted((token_hash(t), v) for t, v in items)
    vals = [v for _, v in entries]
    acc = 0.0
    for v in vals:
        acc += v * v
    return [h for h, _ in entries], vals, acc ** 0.5


def host_similarity(ha: str, hb: str) -> float:
    if not ha and not hb:
        return 0.0
    m = max(len(ha), len(hb), 1)
    return 1.0 - levenshtein(ha, hb) / m


def _sigmoid(x: float) -> float:
    return 1.0 / (1.0 + math.exp(-x))


MEMBER_COLUMNS = ["url", "warc_ts", "doc_id", "name_norm", "first",
                  "middle", "last", "title_toks", "host",
                  "w_toks", "w_vals", "w_norm"]


def member_table(tbl) -> dict:
    """MEMBER_COLUMNS -> per-row values of an Arrow table, the ``memb``
    input of the kernels below. The fat w_toks/w_vals list columns become
    zero-copy numpy slices over the Arrow buffers instead of one Python
    list object per cell (boxing ~#members × avg_len × 2 objects per
    batch would cost more than the scoring itself); the other columns
    are member-sized, so plain conversion is cheap."""
    out = {}
    for c in MEMBER_COLUMNS:
        if c in ("w_toks", "w_vals"):
            arr = tbl.column(c).combine_chunks()
            flat = arr.values.to_numpy(zero_copy_only=False).astype(
                np.int64 if c == "w_toks" else np.float64, copy=False)
            offs = arr.offsets.to_numpy(zero_copy_only=False)
            out[c] = [flat[offs[i]:offs[i + 1]] for i in range(len(arr))]
        else:
            out[c] = tbl.column(c).to_pylist()
    return out


def score_pairs_indexed(memb: dict, i1, i2) -> dict:
    """Core batched kernel over a MEMBER table + pair index arrays.

    ``memb``: column -> list over the batch's distinct mentions
    (MEMBER_COLUMNS). ``i1``/``i2``: per-pair integer indexes into the
    member table. Returns FEATURE_COLUMNS -> list.

    Working member-indexed (instead of on a pre-joined _1/_2 sided frame)
    means the fat weight arrays are touched once per MEMBER — numpy
    conversion, title-token set, soundex all amortize over the pair
    degree (~25x) — and the engine's cogroup path never materializes the
    43-column sided frame at all. The oracle reaches this same function
    through the ``score_pairs`` wrapper, so scores stay bit-identical."""
    m = len(memb["url"])
    n = len(i1)
    out = {c: [0.0] * n for c in
           ("name_jw", "soundex_agree", "title_jac", "body_cos", "host_sim",
            "raw", "score")}
    compat_l = [False] * n
    same_doc_l = [False] * n
    edge_l = [False] * n
    # F7/F8: categorical name-part match levels — emitted for EVERY pair
    # (gated ones included) since they are observational features, not
    # score inputs (the score's compat gate subsumes them)
    first_match_l = [""] * n
    middle_match_l = [""] * n
    # F10/F11 analogs on crawl time — observational like F7/F8.
    # ts_day_diff keeps -1 as its missing marker (documented, non-null
    # long); era_match is nullable, so missing-timestamp pairs stay NULL
    # instead of masquerading as a genuine era mismatch
    ts_diff_l = [-1] * n
    era_match_l: list = [None] * n

    doc_id = memb["doc_id"]
    name_norm = memb["name_norm"]
    first = memb["first"]
    middle = memb["middle"]
    last = memb["last"]
    host = memb["host"]
    w_norm = memb["w_norm"]

    # per-member precomputes (each amortizes over the pair degree)
    day_era = [_ts_day_era(t) for t in memb["warc_ts"]]
    tsets = [set(t) for t in memb["title_toks"]]
    arrs = [(np.asarray(t, dtype=np.int64),
             np.asarray(v, dtype=np.float64))
            for t, v in zip(memb["w_toks"], memb["w_vals"])]
    sx_memo: dict = {}

    def sx_of(s: str) -> str:
        v = sx_memo.get(s)
        if v is None:
            v = sx_memo[s] = soundex(s)
        return v

    sx_m = [sx_of(s) for s in last]

    # pair-level memos: names/hosts repeat heavily across a block's pairs,
    # and jaro_winkler / host_similarity are pure + symmetric, so caching
    # them changes nothing semantically while cutting the Python hot loop
    # by the repeat factor.
    jw_memo: dict = {}
    hs_memo: dict = {}

    def jw_of(a: str, b: str) -> float:
        k = (a, b) if a <= b else (b, a)
        v = jw_memo.get(k)
        if v is None:
            v = jw_memo[k] = jaro_winkler(k[0], k[1])
        return v

    def hs_of(a: str, b: str) -> float:
        k = (a, b) if a <= b else (b, a)
        v = hs_memo.get(k)
        if v is None:
            v = hs_memo[k] = host_similarity(k[0], k[1])
        return v

    pm_memo: dict = {}

    def pm_of(x: str, y: str) -> str:
        k = (x, y) if x <= y else (y, x)
        v = pm_memo.get(k)
        if v is None:
            v = pm_memo[k] = name_part_match(k[0], k[1])
        return v

    # (first, middle) signatures repeat across a block's pairs just like
    # names/hosts do, and names_compatible is symmetric under side swap —
    # same memo trick as jw_of/pm_of
    sig = list(zip(first, middle))
    nc_memo: dict = {}

    def nc_of(sa: tuple, sb: tuple) -> bool:
        k = (sa, sb) if sa <= sb else (sb, sa)
        v = nc_memo.get(k)
        if v is None:
            v = nc_memo[k] = names_compatible(
                k[0][0], k[0][1], k[1][0], k[1][1])
        return v

    for p in range(n):
        a = i1[p]
        b = i2[p]
        same_doc = doc_id[a] == doc_id[b]
        same_doc_l[p] = same_doc
        compat = (last[a] == last[b]) and nc_of(sig[a], sig[b])
        compat_l[p] = compat
        first_match_l[p] = pm_of(first[a], first[b])
        middle_match_l[p] = pm_of(middle[a], middle[b])
        de_a, de_b = day_era[a], day_era[b]
        if de_a is not None and de_b is not None:
            ts_diff_l[p] = min(spec.TS_DAY_DIFF_CAP,
                               abs(de_a[0] - de_b[0]))
            era_match_l[p] = de_a[1] == de_b[1]
        if same_doc or not compat:
            continue  # hard gates BEFORE expensive features (ref §4 row 3)
        jw = jw_of(name_norm[a], name_norm[b])
        sx = 1.0 if (sx_m[a] and sx_m[a] == sx_m[b]) else 0.0
        tj = jaccard(tsets[a], tsets[b])
        t1a, v1a = arrs[a]
        t2a, v2a = arrs[b]
        bc = sparse_cosine_sorted(t1a, v1a, w_norm[a],
                                  t2a, v2a, w_norm[b])
        hs = hs_of(host[a], host[b])
        raw = (spec.W_NAME_JW * jw + spec.W_SOUNDEX * sx
               + spec.W_TITLE_JAC * tj + spec.W_BODY_COS * bc
               + spec.W_HOST_SIM * hs)
        score = round(_sigmoid(spec.CAL_SLOPE * (raw - spec.CAL_CENTER)),
                      spec.SCORE_DECIMALS)
        out["name_jw"][p] = jw
        out["soundex_agree"][p] = sx
        out["title_jac"][p] = tj
        out["body_cos"][p] = bc
        out["host_sim"][p] = hs
        out["raw"][p] = raw
        out["score"][p] = score
        edge_l[p] = score >= spec.EPS and bc >= spec.COS_MIN

    out["first_match"] = first_match_l
    out["middle_match"] = middle_match_l
    out["ts_day_diff"] = ts_diff_l
    out["era_match"] = era_match_l
    out["compat"] = compat_l
    out["same_doc"] = same_doc_l
    out["is_edge"] = edge_l
    return out


def score_pairs_indexed_vec(memb: dict, i1, i2) -> dict:
    """Vectorized twin of ``score_pairs_indexed`` — bitwise-identical
    output (pinned by tests/test_modules.py::test_vec_kernel_bitwise and
    the end-to-end engine-vs-oracle parity suite).

    The scalar kernel's cost is a per-pair Python loop of dict probes
    and list stores. This twin restructures the same math so the
    per-pair axis is C:

    - trivially-pairable columns (same_doc, last-equality, soundex
      agreement, day/era arithmetic) are numpy takes over member arrays;
    - each string-pair feature (Jaro-Winkler, host similarity,
      name-part match, names_compatible, title Jaccard) is computed ONCE
      per DISTINCT unordered operand pair — enumerated with np.unique
      over packed int64 keys instead of the scalar path's per-pair memo
      probes — then scattered to pairs with one vectorized take. The
      scalar memos canonicalize operands lexicographically before
      calling the (symmetric) feature fns; the distinct-pair loop sorts
      the operand VALUES the same way, so every call sees identical
      arguments and the floats match bit-for-bit;
    - the sparse cosine stays a per-active-pair call (each pair's token
      intersection is genuinely distinct work), as does the final
      sigmoid+round (math.exp/round kept scalar on purpose: np.exp may
      differ from libm by 1 ulp on some hosts, and the oracle twin uses
      math.exp).

    The raw combination is one numpy expression with the same
    left-to-right float64 op order as the scalar line, so it is
    bitwise-equal elementwise.
    """
    m = len(memb["url"])
    i1 = np.asarray(i1, dtype=np.int64)
    i2 = np.asarray(i2, dtype=np.int64)
    n = len(i1)

    def codes_of(vals):
        codes, uniq = pd.factorize(np.asarray(vals, dtype=object))
        return codes.astype(np.int64), list(uniq)

    doc_c, _ = codes_of(memb["doc_id"])
    last_c, last_v = codes_of(memb["last"])
    name_c, name_v = codes_of(memb["name_norm"])
    host_c, host_v = codes_of(memb["host"])
    first_c, first_v = codes_of(memb["first"])
    middle_c, middle_v = codes_of(memb["middle"])

    same_doc = doc_c[i1] == doc_c[i2]
    last_eq = last_c[i1] == last_c[i2]

    def pairwise_distinct(codes, values, f, sel=None, fvals=None):
        """f over the DISTINCT unordered operand pairs of the selected
        rows, scattered back to per-pair; operands are passed to f in
        ascending-value order, exactly like the scalar memo keys."""
        ia = i1 if sel is None else i1[sel]
        ib = i2 if sel is None else i2[sel]
        if len(ia) == 0:
            return np.empty(0, dtype=object)
        ca, cb = codes[ia], codes[ib]
        lo = np.minimum(ca, cb)
        hi = np.maximum(ca, cb)
        nv = np.int64(len(values))
        uk, inv = np.unique(lo * nv + hi, return_inverse=True)
        src = values if fvals is None else fvals
        out = np.empty(len(uk), dtype=object)
        for j in range(len(uk)):
            a, b = divmod(int(uk[j]), int(nv))
            if values[b] < values[a]:
                a, b = b, a
            out[j] = f(src[a], src[b])
        return out[inv]

    # F7/F8 observational columns — every pair
    first_match = pairwise_distinct(first_c, first_v, name_part_match)
    middle_match = pairwise_distinct(middle_c, middle_v, name_part_match)

    # P6 compat: last equality short-circuits names_compatible exactly
    # like the scalar `and` — nc is only ever evaluated on last_eq pairs
    sig_key = first_c * np.int64(len(middle_v)) + middle_c
    _, uidx, sig_c = np.unique(sig_key, return_index=True,
                               return_inverse=True)
    first_l, middle_l = memb["first"], memb["middle"]
    sig_vals = [(first_l[k], middle_l[k]) for k in uidx]
    compat = np.zeros(n, dtype=bool)
    le_idx = np.flatnonzero(last_eq)
    if len(le_idx):
        nc = pairwise_distinct(
            sig_c.astype(np.int64), sig_vals,
            lambda sa, sb: names_compatible(sa[0], sa[1], sb[0], sb[1]),
            sel=le_idx)
        compat[le_idx] = nc.astype(bool)

    # F10/F11 analogs
    day = np.zeros(m, dtype=np.int64)
    era = np.zeros(m, dtype=np.int64)
    has_ts = np.zeros(m, dtype=bool)
    for k, t in enumerate(memb["warc_ts"]):
        de = _ts_day_era(t)
        if de is not None:
            has_ts[k] = True
            day[k], era[k] = de
    both_ts = has_ts[i1] & has_ts[i2]
    ts_diff = np.full(n, -1, dtype=np.int64)
    dd = np.abs(day[i1] - day[i2])
    np.minimum(dd, np.int64(spec.TS_DAY_DIFF_CAP), out=dd)
    ts_diff[both_ts] = dd[both_ts]
    era_match = np.full(n, None, dtype=object)
    era_eq = era[i1] == era[i2]
    # astype(object) boxes np.bool_ back to Python bool, matching the
    # scalar kernel's `de_a[1] == de_b[1]` Python-bool cells exactly
    era_match[both_ts] = era_eq[both_ts].astype(object)

    # gated features over active pairs only (hard gates first, ref §4)
    act = np.flatnonzero(compat & ~same_doc)
    ia, ib = i1[act], i2[act]
    na = len(act)

    jw_a = pairwise_distinct(name_c, name_v, jaro_winkler,
                             sel=act).astype(np.float64)
    hs_a = pairwise_distinct(host_c, host_v, host_similarity,
                             sel=act).astype(np.float64)

    sx_per_last = np.asarray([soundex(v) for v in last_v], dtype=object)
    sxa = sx_per_last[last_c[ia]]
    sx_a = np.where((sxa != "") & (sxa == sx_per_last[last_c[ib]]),
                    1.0, 0.0)

    title_c, title_u, title_sets = _factorize_title(memb["title_toks"])
    tj_a = pairwise_distinct(title_c, title_u, jaccard, sel=act,
                             fvals=title_sets).astype(np.float64)

    arrs_t = [t if isinstance(t, np.ndarray)
              else np.asarray(t, dtype=np.int64) for t in memb["w_toks"]]
    arrs_v = [v if isinstance(v, np.ndarray)
              else np.asarray(v, dtype=np.float64) for v in memb["w_vals"]]
    w_norm = memb["w_norm"]
    bc_a = _batched_sparse_cosine(arrs_t, arrs_v, w_norm, ia, ib)

    # same left-to-right float64 op order as the scalar raw line
    raw_a = (spec.W_NAME_JW * jw_a + spec.W_SOUNDEX * sx_a
             + spec.W_TITLE_JAC * tj_a + spec.W_BODY_COS * bc_a
             + spec.W_HOST_SIM * hs_a)
    score_a = np.empty(na, dtype=np.float64)
    sl, ce, dec = spec.CAL_SLOPE, spec.CAL_CENTER, spec.SCORE_DECIMALS
    raw_list = raw_a.tolist()
    for k in range(na):
        score_a[k] = round(_sigmoid(sl * (raw_list[k] - ce)), dec)
    edge_a = (score_a >= spec.EPS) & (bc_a >= spec.COS_MIN)

    def scatter(vals_a, dtype=np.float64):
        full = np.zeros(n, dtype=dtype)
        full[act] = vals_a
        return full

    return {
        "name_jw": scatter(jw_a), "soundex_agree": scatter(sx_a),
        "title_jac": scatter(tj_a), "body_cos": scatter(bc_a),
        "host_sim": scatter(hs_a),
        "first_match": first_match, "middle_match": middle_match,
        "ts_day_diff": ts_diff, "era_match": era_match,
        "compat": compat, "same_doc": same_doc,
        "raw": scatter(raw_a), "score": scatter(score_a),
        "is_edge": scatter(edge_a, dtype=bool),
    }


def _batched_sparse_cosine(arrs_t: list, arrs_v: list, w_norm: list,
                           ia, ib) -> np.ndarray:
    """All active pairs' sparse cosines in ONE numpy pass — the bitwise
    twin of calling ``sparse_cosine_sorted`` per pair.

    Construction: flatten the member token/value arrays once, remap
    token ids to batch-dense ints (np.unique preserves ascending order,
    so member segments stay sorted), then give every pair a disjoint
    key range ``pair_idx * V + dense_id``. The concatenation of the
    pairs' base-side segments is then GLOBALLY sorted, so a single
    searchsorted probes every pair's smaller side into its larger side
    at once. Matched products are summed per pair with np.bincount,
    whose per-bin accumulation is a sequential left-to-right C loop in
    input order (= ascending token ids within a pair) — exactly the
    scalar twin's fold (spec v9); the unmatched positions contribute
    +0.0, which is exact under IEEE addition, so interleaving them
    changes nothing.
    """
    na = len(ia)
    bc = np.zeros(na, dtype=np.float64)
    if na == 0:
        return bc
    m = len(arrs_t)
    lens = np.fromiter((len(t) for t in arrs_t), np.int64, m)
    offs = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    tok_flat = (np.concatenate(arrs_t) if offs[-1]
                else np.empty(0, np.int64))
    val_flat = (np.concatenate(arrs_v) if offs[-1]
                else np.empty(0, np.float64))
    uniq, dense_flat = np.unique(tok_flat, return_inverse=True)
    dense_flat = dense_flat.astype(np.int64, copy=False)
    v_card = np.int64(len(uniq) + 1)

    nrm = np.asarray(w_norm, dtype=np.float64)
    sel = np.flatnonzero((nrm[ia] != 0.0) & (nrm[ib] != 0.0))
    if len(sel) == 0:
        return bc
    sa, sb = ia[sel], ib[sel]
    nsel = len(sel)
    if nsel * int(v_card) >= 2 ** 62:  # key-packing headroom guard:
        # fall back to the scalar twin (never expected at sane batch
        # sizes — 1024-group salting keeps nsel ~1e5-1e6)
        for k in range(nsel):
            a, b = sa[k], sb[k]
            bc[sel[k]] = sparse_cosine_sorted(
                arrs_t[a], arrs_v[a], w_norm[a],
                arrs_t[b], arrs_v[b], w_norm[b])
        return bc

    swap = lens[sb] > lens[sa]
    base_m = np.where(swap, sb, sa)   # larger side is probed INTO
    probe_m = np.where(swap, sa, sb)  # smaller side probes

    def gather(membs):
        seg = lens[membs]
        total = int(seg.sum())
        if total == 0:
            return (np.empty(0, np.int64), np.empty(0, np.float64),
                    np.empty(0, np.int64))
        ends = np.cumsum(seg)
        pos = (np.arange(total, dtype=np.int64)
               - np.repeat(ends - seg, seg) + np.repeat(offs[membs], seg))
        pair_seq = np.repeat(np.arange(nsel, dtype=np.int64), seg)
        return dense_flat[pos], val_flat[pos], pair_seq

    b_dense, b_vals, b_seq = gather(base_m)
    p_dense, p_vals, p_seq = gather(probe_m)
    if len(b_dense) == 0 or len(p_dense) == 0:
        return bc
    b_keys = b_seq * v_card + b_dense
    p_keys = p_seq * v_card + p_dense
    idx = np.searchsorted(b_keys, p_keys)
    hit = b_keys[np.minimum(idx, len(b_keys) - 1)] == p_keys
    prods = np.zeros(len(p_keys), dtype=np.float64)
    prods[hit] = b_vals[idx[hit]] * p_vals[hit]
    dots = np.bincount(p_seq, weights=prods, minlength=nsel)
    bc[sel] = dots / (nrm[sa] * nrm[sb])
    return bc


def _factorize_title(title_toks) -> tuple:
    """Member title-token lists -> (codes, unique tuples, aligned
    (tuple, set) list). Sets are built once per DISTINCT title so the
    Jaccard distinct-pair loop never rebuilds them."""
    keys = np.empty(len(title_toks), dtype=object)
    for i, t in enumerate(title_toks):
        keys[i] = tuple(t)
    codes, uniq = pd.factorize(keys)
    return codes.astype(np.int64), list(uniq), [set(t) for t in uniq]


def score_pairs(pairs: pd.DataFrame) -> pd.DataFrame:
    """Batched kernel over a pre-joined sided frame (the oracle path).
    Input columns required (suffix _1/_2 per side): url, doc_id,
    name_norm, first, middle, last, title_toks, host, and the precomputed
    tf-idf arrays w_toks/w_vals/w_norm (built by weight_arrays via a
    distributed idf join in the engine — no driver-side global vocabulary
    is ever collected; SURVEY §4 broadcast-dict note, scaled up).
    Returns input + FEATURE_COLUMNS. Internally de-duplicates the sides
    into a member table and runs ``score_pairs_indexed``."""
    n = len(pairs)
    memb: dict = {c: [] for c in MEMBER_COLUMNS}
    idx: dict = {}

    def intern(u, row_of):
        j = idx.get(u)
        if j is None:
            j = idx[u] = len(memb["url"])
            for c in MEMBER_COLUMNS:
                memb[c].append(row_of(c))
        return j

    side_lists = {}
    for s in ("1", "2"):
        side_lists[s] = {c: pairs[f"{c}_{s}"].tolist()
                         for c in MEMBER_COLUMNS}
    tt = side_lists
    for s in ("1", "2"):
        tl = tt[s]["title_toks"]
        tt[s]["title_toks"] = [x if isinstance(x, list) else list(x)
                               for x in tl]
    i1 = [0] * n
    i2 = [0] * n
    u1 = tt["1"]["url"]
    u2 = tt["2"]["url"]
    for p in range(n):
        i1[p] = intern(u1[p], lambda c: tt["1"][c][p])
        i2[p] = intern(u2[p], lambda c: tt["2"][c][p])

    out = score_pairs_indexed(memb, i1, i2)
    res = pairs.copy()
    for c in FEATURE_COLUMNS:
        res[c] = out[c]
    return res
