"""Seeded, hermetic page generator for the KG-pipeline benchmark.

Every page is a pure function of ``(workload, seed, stream, index)``, so a
seed names one exact input set, and a unit of work can draw pages
``[k*n, (k+1)*n)`` without depending on how many units ran before it.
Nothing here reads outside this directory: the word lists are frozen in
``data/`` so the inputs do not move when a model file or a product
fixture changes.

- ``data/vocab.json``: the open-class words (NN, NNS, JJ, RB, VB*, NNP)
  that the tagger's dictionary (``tag_dict`` in
  ``prose_spark/models/perceptron_tagger.json.gz``) lists with exactly one
  tag, lowercase except NNP.
- ``data/pool_sentences.json``: the 372 English sentences of
  ``tests/goldens/open_text_triples_{gold,heldout}.json``.

Page shape: every workload takes its page lengths and entity density from
the product's own synthetic corpus, ``generate_pages_rows`` in
``prose_spark/sources/pages.py`` with its default arguments: 5 to 40
sentences a page (uniform), and a templated entity sentence with
probability 0.35 wherever the previous sentence was not one (about 26% of
sentences). The length of page ``i`` in characters is the length of the
page that rule builds, with the pool's real sentences standing in for the
corpus's fixture sentences (which are not part of the repository); pages
are then filled to that length. This gives a mean of about 2,000
characters a page.

Workloads:

- ``crawl_unseen``: freshly composed sentences from a small grammar over
  the dictionary words; the entity sentences are about freshly generated
  names. Almost no sentence repeats.
- ``crawl_boilerplate``: the same page lengths, but about 90% of
  sentences come from a shared pool: the real sentences above plus
  templated sentences over a fixed set of names.
- ``kg_increments``: the crawl_unseen page shape, but three quarters of
  the entity names come from one roster per seed (160 persons, 140 orgs,
  100 places; 15% of uses misspelled), so increments keep touching the
  same entities. The roster sizes and the variant rate are design
  choices, not measurements: they make every 50-page increment both add
  forms and touch existing ones.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import random
from dataclasses import dataclass
from functools import lru_cache
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"

WORKLOADS = ("crawl_unseen", "crawl_boilerplate", "kg_increments")

# closed-class words; the open classes come from data/vocab.json
_DET = ("the", "the", "the", "a", "this", "each", "every", "some")
_PREP = ("of", "in", "at", "from", "with", "under", "into", "among",
         "during", "toward", "against", "within", "across", "near")
_MODAL = ("could", "may", "must", "should", "would", "will")
_POSS = ("its", "their", "his", "our", "her")
_CONJ = ("and", "but", "while")

# fixed names of the boilerplate pool (the entity lists of the product's
# synthetic corpus, copied so the pool never changes under the benchmark)
POOL_PERSONS = (
    "Alice Johnson", "Robert Chen", "Maria Garcia", "David Smith",
    "Elena Petrova", "James Wilson", "Linda Brown", "Omar Hassan",
    "Grace Lee", "Paul Martin", "Nina Rossi", "Victor Hugo",
)
POOL_ORGS = (
    "Acme Corp.", "Globex Inc.", "Initech Ltd.", "Umbrella Group",
    "Stark Industries", "Wayne Enterprises", "Cyberdyne Systems",
    "Tyrell Corp.", "Wonka Industries", "Soylent Corp.",
)
POOL_PLACES = (
    "Boston", "Chicago", "London", "Paris", "Berlin", "Madrid", "Toronto",
    "Sydney", "Dublin", "Vienna", "Geneva", "Oslo",
)
ENTITY_TEMPLATES = (
    "{p} founded {o} in {g} in {y}.",
    "{p} joined {o} in {y}.",
    "{p} visited {g} in {y}.",
    "{p} manages {o}.",
    "{o} acquired {o2} in {y}.",
    "{g} hosted {p} in {y}.",
    "{p}, the {r} of {o}, met {p2} in {g}.",
    "{o} opened an office in {g} after {p} approved the plan.",
)
_ROLES = ("founder", "director", "president", "analyst", "manager",
          "advisor")
_ORG_SUFFIX = ("Corp.", "Inc.", "Group", "Systems", "Holdings", "Labs",
               "Partners", "Media", "Bank", "Industries")
_PLACE_SUFFIX = ("ville", "burg", "port", "field", "ton", "ford")
_SYLLABLES = ("ka", "lo", "ven", "dra", "mi", "tor", "sa", "bel", "ri",
              "no", "qua", "zen", "ul", "fe", "gar", "po", "lin", "tes",
              "mar", "ro", "vi", "an", "del", "su", "be", "ron", "ash",
              "cor", "eth", "ys")

POOL_SHARE = 0.9  # crawl_boilerplate: share of sentences from the pool
# the product corpus's shape (generate_pages_rows defaults)
SENTENCES_PER_PAGE = (5, 40)
ENTITY_P = 0.35
CORPUS_TEMPLATES = ENTITY_TEMPLATES[:6]  # its default TEMPLATES
_BASE_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


@dataclass(frozen=True)
class Page:
    url: str
    text: str
    sentences: tuple[str, ...]

    def row(self, index: int) -> tuple:
        """The product's PAGES_SCHEMA row (url, warc_ts, html, text,
        lang)."""
        html = b"<html><body>" + self.text.encode("utf-8") + b"</body></html>"
        ts = _BASE_TS + dt.timedelta(minutes=17 * index % 525600)
        return (self.url, ts, html, self.text, "en")


@lru_cache(maxsize=1)
def _vocab() -> dict[str, tuple[str, ...]]:
    raw = json.loads((DATA / "vocab.json").read_text())
    return {tag: tuple(words) for tag, words in raw.items()}


@lru_cache(maxsize=1)
def real_sentences() -> tuple[str, ...]:
    return tuple(json.loads((DATA / "pool_sentences.json").read_text()))


@lru_cache(maxsize=1)
def boilerplate_pool() -> tuple[str, ...]:
    """The shared sentence pool: real sentences plus 128 templated
    entity sentences over the fixed names (fixed rng, seed-independent)."""
    rng = random.Random("boilerplate-pool")
    roster = _Roster(POOL_PERSONS, POOL_ORGS, POOL_PLACES)
    templated = tuple(_entity_sentence(rng, roster) for _ in range(128))
    return real_sentences() + templated


# -- names -------------------------------------------------------------

def _syllable_word(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n)).capitalize()


def _person(rng: random.Random) -> str:
    return f"{rng.choice(_vocab()['NNP'])} {_syllable_word(rng, rng.randint(2, 3))}"


def _org(rng: random.Random) -> str:
    head = (rng.choice(_vocab()["NNP"]) if rng.random() < 0.5
            else _syllable_word(rng, 2))
    return f"{head} {rng.choice(_ORG_SUFFIX)}"


def _place(rng: random.Random) -> str:
    return _syllable_word(rng, 2) + rng.choice(_PLACE_SUFFIX)


def _variant(rng: random.Random, name: str) -> str:
    """A spelling variant of ``name``: a dropped org suffix, a doubled or
    dropped letter, or an upper-cased word."""
    words = name.split()
    r = rng.random()
    if r < 0.3 and len(words) > 1 and words[-1] in _ORG_SUFFIX:
        return " ".join(words[:-1])
    i = rng.randrange(len(words))
    w = words[i]
    if r < 0.65 and len(w) > 4:
        j = rng.randrange(1, len(w) - 1)
        words[i] = w[:j] + w[j] + w[j:]
    elif r < 0.9 and len(w) > 5:
        j = rng.randrange(2, len(w) - 1)
        words[i] = w[:j] + w[j + 1:]
    else:
        words[i] = w.upper()
    return " ".join(words)


class _Roster:
    """Entity names one page (or one run) draws from."""

    def __init__(self, persons, orgs, places):
        self.persons, self.orgs, self.places = persons, orgs, places

    @classmethod
    def fresh(cls, rng: random.Random, n_persons: int, n_orgs: int,
              n_places: int) -> "_Roster":
        return cls(tuple(_person(rng) for _ in range(n_persons)),
                   tuple(_org(rng) for _ in range(n_orgs)),
                   tuple(_place(rng) for _ in range(n_places)))

    def pick(self, rng: random.Random, kind: str) -> str:
        names = {"p": self.persons, "o": self.orgs, "g": self.places}[kind]
        return names[rng.randrange(len(names))]


# -- sentences ---------------------------------------------------------

def _noun_phrase(rng: random.Random) -> list[str]:
    v = _vocab()
    r = rng.random()
    if r < 0.45:
        words = [rng.choice(_DET)]
        if rng.random() < 0.5:
            words.append(rng.choice(v["JJ"]))
        words.append(rng.choice(v["NN"]))
        if words[0] == "a" and words[1][0] in "aeiou":
            words[0] = "an"
        return words
    if r < 0.7:
        words = [rng.choice(_POSS)]
        if rng.random() < 0.4:
            words.append(rng.choice(v["JJ"]))
        return words + [rng.choice(v["NNS"])]
    if r < 0.85:
        return [rng.choice(v["JJ"]), rng.choice(v["NNS"])]
    return ["the", rng.choice(v["NN"]), rng.choice(v["NN"])]


def _verb_phrase(rng: random.Random) -> list[str]:
    v = _vocab()
    r = rng.random()
    if r < 0.25:
        words = [rng.choice(v["VBD"])] + _noun_phrase(rng)
    elif r < 0.35:
        words = [rng.choice(v["VBZ"])] + _noun_phrase(rng)
    elif r < 0.45:
        words = [rng.choice(_MODAL), rng.choice(v["VB"])] + _noun_phrase(rng)
    elif r < 0.7:
        words = [rng.choice(("was", "is", "seemed", "remained")),
                 rng.choice(v["RB"]), rng.choice(v["JJ"])]
    else:
        words = [rng.choice(("was", "were")), rng.choice(v["VBN"])]
    if rng.random() < 0.3:
        words += [rng.choice(_PREP)] + _noun_phrase(rng)
    if rng.random() < 0.2:
        words.append(rng.choice(v["RB"]))
    return words


def _grammar_sentence(rng: random.Random) -> str:
    words = _noun_phrase(rng) + _verb_phrase(rng)
    if rng.random() < 0.3:
        words[-1] += ","
        words += [rng.choice(_CONJ)] + _noun_phrase(rng) + _verb_phrase(rng)
    if rng.random() < 0.15:
        lead = [rng.choice(_vocab()["VBG"])] + _noun_phrase(rng)
        lead[-1] += ","
        words = lead + words
    text = " ".join(words)
    return text[0].upper() + text[1:] + "."


def _entity_sentence(rng: random.Random, roster: _Roster,
                     variant_p: float = 0.0,
                     templates: tuple[str, ...] = ENTITY_TEMPLATES) -> str:
    def name(kind: str) -> str:
        n = roster.pick(rng, kind)
        return _variant(rng, n) if rng.random() < variant_p else n

    tmpl = templates[rng.randrange(len(templates))]
    sent = tmpl.format(
        p=name("p"), p2=name("p"), o=name("o"), o2=name("o"), g=name("g"),
        y=rng.randint(1950, 2024), r=rng.choice(_ROLES),
    )
    # an org ending in "Corp." before the final period
    return sent[:-1] if sent.endswith("..") else sent


# -- pages -------------------------------------------------------------

def _sentences(rng: random.Random, entity, other):
    """Endless sentences by the product corpus's rule: an entity sentence
    with probability ``ENTITY_P`` unless the previous one was one."""
    prev = False
    while True:
        prev = not prev and rng.random() < ENTITY_P
        yield entity(rng) if prev else other(rng)


def _page_chars(seed: int, stream: str, index: int) -> int:
    """Target length in characters: the length of a page of the product
    corpus's shape, real sentences standing in for its fixture ones."""
    rng = random.Random(f"len:{seed}:{stream}:{index}")
    real = real_sentences()
    names = _Roster(POOL_PERSONS, POOL_ORGS, POOL_PLACES)
    sents = _sentences(
        rng, lambda r: _entity_sentence(r, names, templates=CORPUS_TEMPLATES),
        lambda r: real[r.randrange(len(real))])
    n = rng.randint(*SENTENCES_PER_PAGE)
    return len(" ".join(itertools.islice(sents, n)))


def _fill(rng: random.Random, target: int, entity, other) -> list[str]:
    """Sentences by the product corpus's rule, up to ``target``
    characters."""
    sents: list[str] = []
    size = 0
    for s in _sentences(rng, entity, other):
        if size >= target:
            return sents
        sents.append(s)
        size += len(s) + 1


class PageSource:
    """All pages of one (workload, seed): ``pages(stream, start, n)``.

    Streams: ``warmup`` (set-up only, disjoint from the rest), ``base``
    (kg_increments' base crawl) and ``timed``."""

    def __init__(self, workload: str, seed: int):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}")
        self.workload = workload
        self.seed = seed
        if workload == "kg_increments":
            self.roster = _Roster.fresh(
                random.Random(f"roster:{seed}"), 160, 140, 100)

    def page(self, stream: str, index: int) -> Page:
        wl, seed = self.workload, self.seed
        rng = random.Random(f"{wl}:{seed}:{stream}:{index}")
        target = _page_chars(seed, stream, index)
        if wl == "crawl_boilerplate":
            pool = boilerplate_pool()

            def sentence(r: random.Random) -> str:
                if r.random() < POOL_SHARE:
                    return pool[r.randrange(len(pool))]
                return _grammar_sentence(r)

            sents = _fill(rng, target, sentence, sentence)
        elif wl == "crawl_unseen":
            own = _Roster.fresh(rng, 3, 2, 2)
            sents = _fill(rng, target,
                          lambda r: _entity_sentence(r, own, variant_p=0.1),
                          _grammar_sentence)
        else:
            # the page's own fresh names on a quarter of entity sentences,
            # the shared roster (often misspelled) on the rest
            own = _Roster.fresh(rng, 2, 2, 1)

            def entity(r: random.Random) -> str:
                roster = own if r.random() < 0.25 else self.roster
                return _entity_sentence(r, roster, variant_p=0.15)

            sents = _fill(rng, target, entity, _grammar_sentence)
        url = (f"https://site{index % 97}.example/{wl}/{seed}/{stream}/"
               f"{index}")
        return Page(url, " ".join(sents), tuple(sents))

    def pages(self, stream: str, start: int, n: int) -> list[Page]:
        return [self.page(stream, i) for i in range(start, start + n)]


def repeat_share(pages: list[Page]) -> float:
    """Share of sentences that repeat an earlier sentence of ``pages``."""
    sents = [s for p in pages for s in p.sentences]
    return 1.0 - len(set(sents)) / len(sents) if sents else 0.0
