"""Pure-Python text-processing spec shared by the Spark pipeline and the
NumPy oracle.

Every deterministic per-row transformation lives here EXACTLY ONCE, so the
oracle (pandas, in-process) and the engine (Arrow-batched pandas UDFs) are
byte-identical by construction; golden sha256 tests then guard against
accidental divergence (BASELINE.json ``input_hint`` per-row invariant).

Reference semantics re-expressed (cites into
/root/reference/author-name-disambiguation-legacy/disamseer/):

- field normalization  -> dao/pubmed_doc.py:59-72   (lower/strip, None->"")
- punctuation strip    -> util/utils.py:129-130     (delete string.punctuation)
- NFKD->ASCII fold     -> dao/pubmed_author.py:52
- name parse           -> dao/pubmed_author.py:50-81, dao/author.py:66-73
- compat predicate     -> dao/author.py:75-110
- stopword filter      -> util/utils.py:29-34 (NLTK+pubmed list; ours pinned)
- Jaro-Winkler         -> classifier/feature_vector.py:250-251 (jellyfish JW)
- Jaccard w/ epsilon   -> classifier/feature_vector.py:345-347, :17
- soundex              -> Spark builtin parity (standard American Soundex)
"""

from __future__ import annotations

import hashlib
import html as _html
import re
import string
import unicodedata
import zlib

import numpy as _np

# ---------------------------------------------------------------------------
# constants

EPS_DIV = 2.225e-308  # classifier/feature_vector.py:17

# Pinned stopword list (determinism > NLTK; ref util/utils.py:29-34).
STOPWORDS: frozenset[str] = frozenset(
    """a an and are as at be but by for from has have in is it its of on or
    that the this to was were will with we our you your they their not no
    which when where who whom these those then than there here such into
    about over under between both each all any some most other more can
    may might must shall should would could do does did done being been
    """.split()
)

_PUNCT_TABLE = {ord(c): None for c in string.punctuation}

# ---------------------------------------------------------------------------
# HTML -> text extraction (deterministic spec; input_hint byte-identity)

_RE_SCRIPT = re.compile(r"(?is)<(script|style)[^>]*>.*?</\1\s*>")
_RE_COMMENT = re.compile(r"(?s)<!--.*?-->")
_RE_TAG = re.compile(r"(?s)<[^>]*>")
_RE_WS = re.compile(r"\s+")
_RE_TITLE = re.compile(r"(?is)<title[^>]*>(.*?)</title\s*>")
_RE_H1 = re.compile(r"(?is)<h1[^>]*>(.*?)</h1\s*>")


def _clean_fragment(s: str) -> str:
    s = _RE_TAG.sub(" ", s)
    s = _html.unescape(s)
    return _RE_WS.sub(" ", s).strip()


def decode_html(html_bytes: bytes | str | None) -> str:
    """Payload -> str, exactly once. The three extract_* functions used to
    decode the (large) html column independently — three full UTF-8 passes
    per page in the mentions hot path; callers that need several fields
    decode here and pass the str through."""
    if html_bytes is None:
        return ""
    if isinstance(html_bytes, str):
        return html_bytes
    return bytes(html_bytes).decode("utf-8", errors="replace")


def extract_text(html_bytes: bytes | str | None) -> str:
    """Full visible text of a page: drop script/style/comments, strip tags,
    unescape entities, collapse whitespace. Byte-identical across oracle and
    engine because both call this exact function."""
    if html_bytes is None:
        return ""
    s = decode_html(html_bytes)
    s = _RE_SCRIPT.sub(" ", s)
    s = _RE_COMMENT.sub(" ", s)
    return _clean_fragment(s)


def extract_title(html_bytes: bytes | str | None) -> str:
    if html_bytes is None:
        return ""
    m = _RE_TITLE.search(decode_html(html_bytes))
    return _clean_fragment(m.group(1)) if m else ""


def extract_h1(html_bytes: bytes | str | None) -> str:
    """First <h1> content — our page's 'author mention' name field."""
    if html_bytes is None:
        return ""
    m = _RE_H1.search(decode_html(html_bytes))
    return _clean_fragment(m.group(1)) if m else ""


# ---------------------------------------------------------------------------
# normalization (ref P1/P4/P16)

def nfkd_ascii(s: str) -> str:
    """unicodedata.normalize('NFKD', s).encode('ASCII','ignore')
    — ref dao/pubmed_author.py:52. Pure-ASCII input is a provable
    fixed point (NFKD never decomposes ASCII; encode/decode round-trips
    byte-for-byte), so the C-speed isascii() check skips the NFKD pass
    most web text pays for nothing."""
    if s.isascii():
        return s
    return unicodedata.normalize("NFKD", s).encode("ascii", "ignore").decode("ascii")


def norm_text(s: str | None) -> str:
    """lower + strip + None->'' — ref dao/pubmed_doc.py:59-72."""
    if s is None:
        return ""
    return s.lower().strip()


def strip_punct(s: str) -> str:
    """Delete every char in string.punctuation — ref util/utils.py:129-130."""
    return s.translate(_PUNCT_TABLE)


def tokenize(s: str | None, *, stop: bool = True) -> list[str]:
    """normalize -> NFKD fold -> punct strip -> split on whitespace
    -> optional stopword filter. The single tokenizer of the spec."""
    if not s:
        return []
    # the second lower() closes the chain: NFKD can SURFACE uppercase
    # ASCII after the first lowering (e.g. modifier letters like U+1D2C
    # 'ᴬ' have no lowercase mapping but decompose to 'A'), and a token
    # that sometimes appears uppercase would silently never match its
    # lowercase twin across documents (found by hypothesis).
    s = strip_punct(nfkd_ascii(norm_text(s))).lower()
    toks = s.split()
    if stop:
        toks = [t for t in toks if t not in STOPWORDS]
    return toks


# ---------------------------------------------------------------------------
# name parsing (ref P2: dao/pubmed_author.py:50-81)

_RE_PAREN = re.compile(r"\([^)]*\)")
_RE_HONORIFIC = re.compile(r"(?i)^(dr|prof|professor|mr|mrs|ms)\.?\s+")
_RE_SUFFIX = re.compile(r"(?i)[,\s]+(ph\.?d\.?|m\.?d\.?|jr\.?|sr\.?|iii|ii)\.?\s*$")


class NameParseError(ValueError):
    """Analog of ref NameParseError (dao/pubmed_author.py:81)."""


def parse_name(raw: str | None) -> tuple[str, str, str]:
    """-> (first, middle, last), all lowercase ASCII, possibly initial-only.

    Strips honorifics / Ph.D-style suffixes / parentheticals, NFKD-folds,
    then splits 'first [middle...] last'. A two-capital-letter first token
    ('JR smith') splits into first+middle initials (ref
    dao/pubmed_author.py:72-78). Raises NameParseError when no alphabetic
    last name survives (ref :81)."""
    if not raw:
        raise NameParseError("empty")
    s = _RE_PAREN.sub(" ", raw)
    s = _RE_SUFFIX.sub("", s.strip())
    s = _RE_HONORIFIC.sub("", s.strip())
    s = nfkd_ascii(s)
    # two consecutive capitals at start = first+middle initials
    m = re.match(r"^([A-Z])([A-Z])\s+", s)
    pre: list[str] = []
    if m:
        pre = [m.group(1), m.group(2)]
        s = s[m.end():]
    s = strip_punct(s.lower())
    parts = pre and [p.lower() for p in pre] + s.split() or s.split()
    parts = [p for p in parts if p]
    if not parts or not any(c.isalpha() for c in parts[-1]):
        raise NameParseError(raw)
    if len(parts) == 1:
        return "", "", parts[0]
    first, last = parts[0], parts[-1]
    middle = " ".join(parts[1:-1])
    return first, middle, last


def try_parse_name(raw: str | None) -> tuple[str, str, str] | None:
    try:
        return parse_name(raw)
    except NameParseError:
        return None


# ---------------------------------------------------------------------------
# compatibility predicate (ref P6: dao/author.py:75-110)

def _part_compat(a: str, b: str) -> bool:
    """empty matches anything; initial-vs-anything must share the initial;
    full-vs-full must be equal."""
    if not a or not b:
        return True
    if len(a) == 1 or len(b) == 1:
        return a[0] == b[0]
    return a == b


def names_compatible(fa: str, ma: str, fb: str, mb: str) -> bool:
    return _part_compat(fa, fb) and _part_compat(ma, mb)


def name_part_match(a: str, b: str) -> str:
    """Categorical match level of one name part (F7/F8 — the reference
    feeds these as classifier features, dao/author.py:75-110 / SURVEY
    §2.7): 'exact' both full and equal; 'initial' compatible via an
    initial; 'missing' either side empty; 'mismatch' otherwise."""
    if not a or not b:
        return "missing"
    if len(a) > 1 and len(b) > 1:
        return "exact" if a == b else "mismatch"
    return "initial" if a[0] == b[0] else "mismatch"


# ---------------------------------------------------------------------------
# string similarity

def jaro(a: str, b: str) -> float:
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    match_window = max(la, lb) // 2 - 1
    if match_window < 0:
        match_window = 0
    a_flags = [False] * la
    b_flags = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo = max(0, i - match_window)
        hi = min(lb, i + match_window + 1)
        for j in range(lo, hi):
            if not b_flags[j] and b[j] == ca:
                a_flags[i] = b_flags[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions
    t = 0
    j = 0
    for i in range(la):
        if a_flags[i]:
            while not b_flags[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    m = float(matches)
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str, prefix_weight: float = 0.1) -> float:
    """Standard Winkler: prefix boost (common prefix <=4) applied only when
    jaro > 0.7 (the boost threshold) — the definition used by jellyfish
    (the reference's JW, classifier/feature_vector.py:250-251) and by
    DuckDB's jaro_winkler_similarity (verified value-equal in tests)."""
    j = jaro(a, b)
    if j <= 0.7:
        return j
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca != cb:
            break
        prefix += 1
    return j + prefix * prefix_weight * (1.0 - j)


def levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
        prev = cur
    return prev[-1]


_SOUNDEX_MAP = {}
for _chars, _d in (("bfpv", "1"), ("cgjkqsxz", "2"), ("dt", "3"),
                   ("l", "4"), ("mn", "5"), ("r", "6")):
    for _c in _chars:
        _SOUNDEX_MAP[_c] = _d


def soundex(s: str) -> str:
    """American Soundex, parity with Spark's builtin ``soundex`` (unit-tested
    against it). Non-alpha-leading / empty input -> '' (Spark returns the
    input unchanged for non-letters; we gate callers on alpha names)."""
    s = "".join(c for c in nfkd_ascii(s or "").upper() if c.isalpha())
    if not s:
        return ""
    out = [s[0]]
    last = _SOUNDEX_MAP.get(s[0].lower(), "")
    for c in s[1:].lower():
        if c in "hw":
            continue
        d = _SOUNDEX_MAP.get(c, "")
        if d and d != last:
            out.append(d)
            if len(out) == 4:
                break
        last = d
    return ("".join(out) + "000")[:4]


def jaccard(a: set[str], b: set[str]) -> float:
    """|A∩B| / (|A|+|B|-|A∩B| + eps); 0.0 when both empty
    — ref classifier/feature_vector.py:345-347 w/ eps :17."""
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter + EPS_DIV)


# ---------------------------------------------------------------------------
# hashing helpers: MinHash-LSH band keys

_MH_PRIME = (1 << 61) - 1  # Mersenne prime: standard minhash modulus
# deterministic per-(band,row) affine coefficients, derived from md5 so any
# worker regenerates them identically with no broadcast. a is 31-bit odd and
# the crc32 base is 32-bit, so a*x+b < 2^63 stays exact in uint64.
_MH_A = _np.array(
    [(int(hashlib.md5(f"webr-mh-a:{i}".encode()).hexdigest()[:8], 16)
      % (1 << 31)) | 1 for i in range(64)], dtype=_np.uint64)
_MH_B = _np.array(
    [int(hashlib.md5(f"webr-mh-b:{i}".encode()).hexdigest()[:8], 16)
     % (1 << 31) for i in range(64)], dtype=_np.uint64)


def minhash_band_keys(tokens: list[str], n_bands: int = 4, rows: int = 2,
                      shingle: int = 3) -> list[str]:
    """MinHash-LSH band keys over word shingles. Each shingle is hashed
    ONCE (crc32, C-speed); the n_bands*rows independent hash functions are
    affine maps h_i(x) = (a_i*x + b_i) mod 2^61-1 evaluated as one numpy
    matrix op (the Python bigint min-loops this replaced were 85% of the
    extract stage's profile). A crc32 collision merely merges two shingles
    in a band key — it can only ADD a candidate pair, never lose a true
    one beyond ordinary minhash variance. Returns one key per band:
    'b{band}:{min hex per row joined}'; empty -> []."""
    if len(tokens) < shingle:
        shingles = [" ".join(tokens)] if tokens else []
    else:
        shingles = [" ".join(tokens[i:i + shingle])
                    for i in range(len(tokens) - shingle + 1)]
    if not shingles:
        return []
    base = _np.fromiter(
        (zlib.crc32(sh.encode("utf-8")) for sh in shingles),
        dtype=_np.uint64, count=len(shingles))
    k = n_bands * rows
    mins = ((_MH_A[:k, None] * base[None, :] + _MH_B[:k, None])
            % _MH_PRIME).min(axis=1)
    return [
        f"b{band}:" + "|".join(
            f"{int(mins[band * rows + row]):016x}" for row in range(rows))
        for band in range(n_bands)
    ]


# ---------------------------------------------------------------------------
# page-level derivations

def host_of(url: str | None) -> str:
    """Normalized hostname: lower, strip leading 'www.'."""
    if not url:
        return ""
    m = re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]*)", url.strip(), re.I)
    host = (m.group(1) if m else url).lower()
    if "@" in host:
        host = host.rsplit("@", 1)[1]
    host = host.split(":", 1)[0]
    if host.startswith("www."):
        host = host[4:]
    return host


def doc_id_of(url: str | None) -> str:
    """Same underlying document for two urls differing only in fragment
    (our analog of ref same-paper mentions, dao/author_block.py:386-389)."""
    if not url:
        return ""
    return url.split("#", 1)[0]
