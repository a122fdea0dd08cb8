"""Seeded inputs for the benchmark: dictionary articles built from the
fixture templates in ``worker_spark.fixtures``, upstream change sets, and
micro-batches for the retrieval index.

Every function here is pure: the same seed and arguments give the same
output, in any process. The fetch stage's resolver regenerates an
article from ``(seed, dictionary, id, revision)`` instead of shipping a
corpus inside its closure.
"""

from __future__ import annotations

import copy
import random
import zlib

from worker_spark import fixtures as FX

DICTIONARIES = ("bm", "nn", "no")

# known dimension ids: bibliography 1..N_BIBL, places 1..N_PLACES; ids
# above these ranges are unknown and make discovery emit follow-up jobs
N_BIBL = 400
N_PLACES = 200
UNKNOWN_BASE = 1_000_000
# related-article ids that no upstream list ever holds
UNKNOWN_ARTICLE_BASE = 9_000_000

_LEMMA_TEMPLATES = (
    FX.NOUN_DUAL_PARADIGM,
    FX.VERB_SPLIT_INF,
    FX.DEEP_ARTICLE,
    FX.ABBREVIATIONS,
)
_BODY_TEMPLATES = (
    FX.DEEP_ARTICLE,
    FX.DEEP_ARTICLE,
    FX.BIBLIOGRAPHY_ARTICLE,
    FX.DIALECT_SHOW_FILTER,
    FX.ETYMOLOGY_CONCEPTS,
    FX.ETYMOLOGY_TEMPLATE,
    FX.RELATED_IN_DEFINITIONS,
    FX.RELATED_SUB_ARTICLE,
)
_TEXT_KEYS = ("lemma", "word_form", "written_form", "form_content", "form")


def rng_for(*parts: object) -> random.Random:
    """A generator seeded from the parts' text: stable across processes
    (``hash()`` of a str is salted per process, crc32 is not)."""
    return random.Random(zlib.crc32(":".join(map(str, parts)).encode()))


def _remap(node, rng: random.Random, tag: str, unknown_share: float, max_id: int):
    """Rewrite ids and words of a template tree in place."""
    if isinstance(node, list):
        for v in node:
            _remap(v, rng, tag, unknown_share, max_id)
        return
    if not isinstance(node, dict):
        return
    for k, v in node.items():
        if k == "bibl_id" and v is not None:
            node[k] = (
                UNKNOWN_BASE + rng.randrange(50_000)
                if rng.random() < unknown_share
                else 1 + rng.randrange(N_BIBL)
            )
        elif k == "place_id" and v is not None:
            node[k] = (
                UNKNOWN_BASE + rng.randrange(50_000)
                if rng.random() < unknown_share
                else 1 + rng.randrange(N_PLACES)
            )
        elif k == "article_id" and v is not None:
            node[k] = (
                UNKNOWN_ARTICLE_BASE + rng.randrange(50_000)
                if rng.random() < unknown_share
                else 1 + rng.randrange(max_id)
            )
        elif k in _TEXT_KEYS and isinstance(v, str) and v:
            node[k] = f"{v}{tag}"
        elif k == "content" and isinstance(v, str) and v:
            # prefix, so an inline reference at the end of a quote stays
            # where the parser looks for it
            node[k] = f"{tag} {v}"
        else:
            _remap(v, rng, tag, unknown_share, max_id)


def article(seed: int, dictionary: str, aid: int, rev: int, unknown_share: float, max_id: int) -> dict:
    """One article payload (``schemas.ARTICLE_DATA`` as a dict)."""
    rng = rng_for(seed, dictionary, aid, rev)
    head = copy.deepcopy(rng.choice(_LEMMA_TEMPLATES))
    body = copy.deepcopy(rng.choice(_BODY_TEMPLATES))
    doc = {"lemmas": head.get("lemmas"), "suggest": head.get("suggest"), "body": body.get("body")}
    _remap(doc, rng, f"{dictionary}{aid}r{rev}", unknown_share, max_id)
    return doc


def bibliography_rows() -> list[tuple]:
    """Known bibliography: (id, code, author, title, year)."""
    return [(i, f"Kj{i}", f"Forfattar {i}", f"Tittel {i}", str(1800 + i % 200)) for i in range(1, N_BIBL + 1)]


def place_rows() -> list[tuple]:
    """Known places: (id, name, full name, type, parent_id)."""
    return [
        (i, f"Stad{i}", f"Stad{i} i Fylke{i % 11}", "bygd", None if i <= 10 else 1 + i % 10)
        for i in range(1, N_PLACES + 1)
    ]


class Upstream:
    """The upstream article list as it evolves tick by tick:
    ``{(dictionary, id): revision}``. ``updated_at`` derives from the
    revision, so list rows are a pure function of this map."""

    def __init__(self, seed: int, per_dict: int, unknown_share: float):
        self.seed = seed
        self.unknown_share = unknown_share
        self.max_id = per_dict
        self.next_id = per_dict + 1
        self.revs = {(d, i): 1 for d in DICTIONARIES for i in range(1, per_dict + 1)}

    def list_rows(self) -> list[tuple]:
        """``schemas.ARTICLE_LIST`` rows of the current list."""
        return [(d, i, f"{d}{i}", r, f"u{r}") for (d, i), r in sorted(self.revs.items())]

    def change(self, tick: int, share: float) -> dict[str, list]:
        """Apply one seeded change set of ``share`` of the list: 60%
        revised, 25% added, 15% dropped. Returns the touched keys."""
        rng = rng_for(self.seed, "tick", tick)
        n = max(3, round(share * len(self.revs)))
        n_add, n_drop = round(n * 0.25), round(n * 0.15)
        n_rev = n - n_add - n_drop
        keys = sorted(self.revs)
        picked = rng.sample(keys, n_rev + n_drop)
        revised, dropped = picked[:n_rev], picked[n_rev:]
        for k in revised:
            self.revs[k] += 1
        for k in dropped:
            del self.revs[k]
        added = []
        for j in range(n_add):
            k = (DICTIONARIES[j % len(DICTIONARIES)], self.next_id)
            self.next_id += 1
            self.revs[k] = 1
            added.append(k)
        return {"revised": revised, "added": added, "dropped": dropped}

    def resolver(self):
        """A fetch resolver over the current list: a picklable closure
        over the revision map; keys absent upstream resolve to None."""
        seed, share, max_id = self.seed, self.unknown_share, self.max_id
        revs = dict(self.revs)

        def resolve(dictionary: str, aid: int):
            rev = revs.get((dictionary, aid))
            if rev is None:
                return None
            return article(seed, dictionary, aid, rev, share, max_id)

        return resolve


def index_queries(seed: int, n: int) -> list[str]:
    """BM25 queries over the ``documents_v2`` vocabulary: two or three
    content terms of mixed frequency plus, sometimes, a stopword."""
    rng = rng_for(seed, "queries")
    out = []
    for _ in range(n):
        terms = [f"t{1 + int(rng.paretovariate(0.7)) % 3000}" for _ in range(rng.choice((2, 3)))]
        if rng.random() < 0.3:
            terms.append(f"s{rng.randrange(20)}")
        out.append(" ".join(terms))
    return out
