"""Deterministic synthetic web-page corpus (FIXTURES.md).

Seeded generator (seed=42 default, pure ``random.Random``, no wall clock)
emitting the ``pages`` table in the exact BASELINE.json ``input_hint`` shape
``(url, warc_ts, html, text, lang)`` plus hidden truth columns used only to
build labels. A ``scale`` knob multiplies row counts for bench runs.

Engineered cases (FIXTURES.md §1):
- Zipf-ish hostname draw => one mega-host (skew / mega-block split test)
- same entity across two hostnames (cross-block merge)
- two entities sharing a name on one host (compat/content split)
- initial-only vs full-name mentions, Dr/Ph.D noise, unicode NFKD names
- same-document duplicates via '#dup' fragment urls (must never link,
  ref dao/author_block.py:386-389)
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

FIRST_NAMES = [
    "john", "maria", "wei", "ivan", "aisha", "carlos", "yuki", "fatima",
    "peter", "lena", "omar", "ingrid", "raj", "sofia", "chen", "amara",
    "lucas", "nadia", "erik", "priya",
]
MIDDLE_NAMES = ["a", "b", "lee", "marie", "j", "", "", "", "k", "rose"]
LAST_NAMES = [
    "smith", "garcia", "zhang", "petrov", "hassan", "silva", "tanaka",
    "khan", "muller", "olsen", "patel", "rossi", "chen", "okafor",
    "novak", "dubois", "kim", "larsen", "moreau", "walsh",
]
SHARED_VOCAB = [f"word{i:03d}" for i in range(200)]
TOPIC_VOCAB = [f"topic{i:03d}" for i in range(400)]
HOST_POOL = [f"site{i:02d}.example.org" for i in range(58)]
MEGA_HOST = "mega.example.com"
SECOND_HOST = "mirror.example.net"

EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)


@dataclass
class Entity:
    entity_id: int
    first: str
    middle: str
    last: str
    hosts: list[str]
    vocab: list[str] = field(default_factory=list)

    @property
    def full(self) -> str:
        return " ".join(p for p in (self.first, self.middle, self.last) if p)


def _name_variant(rng: random.Random, e: Entity) -> str:
    """Render the entity's name with realistic mention noise
    (exercises ref dao/pubmed_author.py:50-81 analogs)."""
    r = rng.random()
    first, middle, last = e.first, e.middle, e.last
    if r < 0.25:  # initial-only first name
        first = first[0]
        middle = middle[:1]
    elif r < 0.35:
        middle = middle[:1]
    name = " ".join(p for p in (first, middle, last) if p)
    name = name.title()
    deco = rng.random()
    if deco < 0.08:
        name = "Dr. " + name
    elif deco < 0.12:
        name = name + ", Ph.D"
    elif deco < 0.16:
        name = "Prof " + name + " (editor)"
    elif deco < 0.20 and "e" in name:  # unicode NFKD case
        name = name.replace("e", "é", 1)
    return name


def generate_pages(n_entities: int = 40, pages_per_entity: int = 50,
                   seed: int = 42, scale: float = 1.0) -> list[dict]:
    """Return list of page dicts with keys:
    url, warc_ts, html, text, lang  (the table)  +
    entity_id, author_name, doc_id  (hidden truth)."""
    rng = random.Random(seed)
    n_entities = max(4, int(n_entities * max(scale, 0.02)))
    entities: list[Entity] = []
    for eid in range(n_entities):
        first = rng.choice(FIRST_NAMES)
        middle = rng.choice(MIDDLE_NAMES)
        last = rng.choice(LAST_NAMES)
        # primary host: Zipf-ish -> index 0 is the mega host
        if rng.random() < 0.35:
            hosts = [MEGA_HOST]
        else:
            hosts = [rng.choice(HOST_POOL)]
        if rng.random() < 0.20:  # cross-host entity (cross-block merge case)
            hosts.append(SECOND_HOST if hosts[0] != SECOND_HOST
                         else rng.choice(HOST_POOL))
        vocab = rng.sample(TOPIC_VOCAB, 24)
        entities.append(Entity(eid, first, middle, last, hosts, vocab))

    # compat-split case: force one name collision on the same host
    if len(entities) >= 2:
        entities[1].first = entities[0].first
        entities[1].last = entities[0].last
        entities[1].middle = "q" if entities[0].middle != "q" else "z"
        entities[1].hosts = [entities[0].hosts[0]]

    pages: list[dict] = []
    i = 0
    for e in entities:
        npages = max(3, int(pages_per_entity * scale)
                     if scale != 1.0 else pages_per_entity)
        npages = max(3, int(npages * (2.0 if e.hosts[0] == MEGA_HOST else 1.0)
                            * rng.uniform(0.6, 1.4)))
        for _ in range(npages):
            host = e.hosts[0] if (len(e.hosts) == 1 or rng.random() < 0.7) \
                else e.hosts[1]
            author_name = _name_variant(rng, e)
            title_toks = rng.sample(e.vocab, 3) + rng.sample(SHARED_VOCAB, 2)
            rng.shuffle(title_toks)
            title = " ".join(title_toks)
            body_toks = [rng.choice(e.vocab) for _ in range(96)] + \
                        [rng.choice(SHARED_VOCAB) for _ in range(48)]
            rng.shuffle(body_toks)
            body = " ".join(body_toks)
            url = f"https://{host}/p/{e.last}-{i:06d}"
            variant = rng.random()
            if variant < 0.10:
                html = (f"<html><!-- c{i} --><head><title>{title}</title>"
                        f"<style>p{{x}}</style></head><body><h1>{author_name}"
                        f"</h1>\n<p>{body} &amp; more</p>"
                        f"<script>var a=1;</script></body></html>")
            elif variant < 0.15:
                html = (f"<HTML><HEAD><TITLE>{title}</TITLE></HEAD><BODY>"
                        f"<H1>{author_name}</H1><P>{body}</P></BODY></HTML>")
            else:
                html = (f"<html><head><title>{title}</title></head><body>"
                        f"<h1>{author_name}</h1><p>{body}</p></body></html>")
            lang = "eng" if rng.random() < 0.9 else \
                rng.choice(["", "deu", "fra"])
            ts = EPOCH + dt.timedelta(seconds=137 * i)
            pages.append({
                "url": url,
                "warc_ts": ts,
                "html": html.encode("utf-8"),
                "text": "",  # pipeline must extract; tests cover both
                "lang": lang,
                "entity_id": e.entity_id,
                "author_name": author_name,
                "doc_id": url,
            })
            # same-document duplicate (fragment url) — must never link
            if rng.random() < 0.03:
                dup = dict(pages[-1])
                dup["url"] = url + "#dup1"
                dup["doc_id"] = url
                dup["warc_ts"] = ts + dt.timedelta(seconds=1)
                pages.append(dup)
                i += 1
            i += 1
    # a fraction carry pre-extracted text (tests cover both paths)
    from webr.textproc import extract_text
    for p in pages:
        if rng.random() < 0.3:
            p["text"] = extract_text(p["html"])
    return pages


BRIDGE_JOHN, BRIDGE_JANE, BRIDGE_INITIAL = 900, 901, 902


def generate_bridge_pages(seed: int = 1234, n_side: int = 6,
                          n_bridge: int = 3) -> list[dict]:
    """Adversarial cannot-link fixture (C2/W2): two entities with
    INCOMPATIBLE full first names ('John Brookstone' vs 'Jane Brookstone')
    share one host AND one topic vocabulary, so their pages have high
    tf-idf cosine but never link directly (compat hard gate). ``n_bridge``
    initial-only 'J Brookstone' pages are compatible with BOTH and
    content-link to both — pure connected components would transitively
    merge everything; the constrained replay must keep john and jane apart.

    The trio rides on a background corpus (generate_pages) so its shared
    vocabulary has real idf weight: in a trio-only corpus every core token
    appears in every page (idf = 0) and tf-idf cosine degenerates."""
    pages = generate_pages(n_entities=8, pages_per_entity=8, seed=seed)
    rng = random.Random(seed + 1)
    vocab = rng.sample(TOPIC_VOCAB, 24)
    host = "bridge.example.org"  # not in HOST_POOL; 'brookstone' not in
    #                              LAST_NAMES -> no background interference

    def page(i: int, display_name: str, entity_id: int) -> dict:
        title_toks = rng.sample(vocab, 3)
        body_toks = [rng.choice(vocab) for _ in range(120)]
        rng.shuffle(body_toks)
        body = " ".join(body_toks)
        title = " ".join(title_toks)
        url = f"https://{host}/b/brookstone-{i:04d}"
        html = (f"<html><head><title>{title}</title></head><body>"
                f"<h1>{display_name}</h1><p>{body}</p></body></html>")
        ts = EPOCH + dt.timedelta(seconds=311 * i)
        return {
            "url": url, "warc_ts": ts, "html": html.encode("utf-8"),
            "text": "", "lang": "eng", "entity_id": entity_id,
            "author_name": display_name, "doc_id": url,
        }

    i = 0
    for _ in range(n_side):
        pages.append(page(i, "John Brookstone", BRIDGE_JOHN))
        i += 1
    for _ in range(n_side):
        pages.append(page(i, "Jane Brookstone", BRIDGE_JANE))
        i += 1
    for _ in range(n_bridge):
        pages.append(page(i, "J Brookstone", BRIDGE_INITIAL))
        i += 1
    return pages


def pages_to_pandas(pages: list[dict]):
    import pandas as pd
    df = pd.DataFrame(pages)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"])
    return df
