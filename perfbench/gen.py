"""Seeded input generator for the KG benchmark.

Everything the package sees is made here from one integer seed:

- a corpus of `source` rows (repo, path, commit, lang, content) whose
  sentences state "<Subject> <predicate> <Object>" facts over
  multi-word, title-case entity phrases drawn from a Zipf law plus a
  few planted hub entities, with sentence punctuation, abbreviation
  tokens and varied document lengths;
- an entity dictionary (labels at rank 0, aliases at rank 1, some
  aliases shared between entities) covering a fixed share of the
  mention mass;
- a property dictionary of Wikidata-style labels and aliases;
- a deterministic LLM stand-in (`StandInBackend`) that answers each
  chunk with numbered "(s, p, o)" lines built from the chunk's own
  phrases, with fixed small shares of malformed lines and empty
  responses;
- generated triples and a ground truth planted from them in fixed
  shares of exact copies, relaxed-only matches and misses.

Pure Python (no Spark) so it is cheap, testable and identical across
processes: all hashing uses zlib.crc32, never the salted `hash()`.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
import zlib
from bisect import bisect_left
from dataclasses import dataclass, field
from itertools import accumulate

import pandas as pd

from knowledge_graph_creation_from_text_with_llms_spark.operators.extractor import (
    Backend,
)

DEFAULT_SEED = 20261017

# planted shares
DICT_COVERAGE = 0.70        # entity-dictionary share of mention mass
ALIAS_MENTION_SHARE = 0.15  # covered-entity mentions written as an alias
HUB_COUNT = 5
HUB_MASS = 0.08             # share of mentions that name a hub entity
EMPTY_SHARE = 0.02          # stand-in responses that are empty
MALFORMED_SHARE = 0.03      # stand-in lines with arity != 3
GT_SHARES = {"exact": 0.5, "relaxed": 0.25, "miss": 0.25}
SENTENCES_PER_DOC = 8

_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
# misses are built from syllables no corpus word can contain
_MISS_CONS = "qx"
_FILLER = (
    "and also the with from into over which during after before about "
    "later often early several many most new old large small local major"
).split()
_ABBREVIATIONS = ("e.g.", "i.e.", "approx.", "etc.", "vs.", "cf.", "U.S.")
# Wikidata-style property heads; a property label is "<head> <word>"
# or "<word> <tail>", aliases swap or drop a word
_PROP_HEADS = (
    "member of", "part of", "located in", "founded by", "owned by",
    "place of", "named after", "developer of", "author of", "capital of",
    "country of", "operator of", "successor of", "student of", "employer of",
)
_RESPONSE_LINE = re.compile(
    r"(?:^|(?<=[.!?] ))"
    r"([A-Z][a-z]+(?: [A-Z][a-z]+)*) "
    r"([a-z]+(?: [a-z]+)*) "
    r"([A-Z][a-z]+(?: [A-Z][a-z]+)*)"
)


def _crc_share(text: str, salt: str) -> float:
    """Deterministic uniform-ish value in [0, 1) for a string."""
    return zlib.crc32((salt + text).encode("utf-8")) / 2**32


class StandInBackend(Backend):
    """Deterministic LLM stand-in: one numbered "(s, p, o)" line per
    "<Subject> <predicate> <Object>" clause found in the chunk. About
    EMPTY_SHARE of chunks get an empty response and about
    MALFORMED_SHARE of lines lose their object (arity 2), chosen by a
    CRC of the text so every worker makes the same choice."""

    def _one(self, text: str) -> str:
        if not text or _crc_share(text, "empty") < EMPTY_SHARE:
            return ""
        lines = []
        for i, m in enumerate(_RESPONSE_LINE.finditer(text), 1):
            s, p, o = m.groups()
            if _crc_share(m.group(0), "malformed") < MALFORMED_SHARE:
                lines.append(f"{i}. ({s}, {p})")
            else:
                lines.append(f"{i}. ({s}, {p}, {o})")
        return "\n".join(lines)

    def generate(self, texts: pd.Series) -> pd.Series:
        return texts.map(self._one)


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(accumulate(1.0 / (k + 1) ** s for k in range(n)))


def _draw(rng: random.Random, cum: list[float]) -> int:
    return min(bisect_left(cum, rng.random() * cum[-1]), len(cum) - 1)


def _words(rng: random.Random, n: int, cons: str, exclude=()) -> list[str]:
    out, seen = [], set(exclude)
    while len(out) < n:
        w = "".join(
            rng.choice(cons) + rng.choice(_VOWELS)
            for _ in range(rng.choice((2, 3)))
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


@dataclass
class Entity:
    label: str
    aliases: list[str] = field(default_factory=list)
    covered: bool = False


@dataclass
class Inputs:
    """Generated vocabulary and dictionaries for one seed."""

    seed: int
    entities: list[Entity]
    entity_cum: list[float]
    predicates: list[str]
    predicate_cum: list[float]
    entity_rows: list[tuple]      # (entity_id, label, alias, rank)
    property_rows: list[tuple]    # (prop_id, label, alias, rank)
    predicate_kind: dict[str, str]  # "label" | "alias" | "unlisted"


def make_inputs(seed: int, n_entities: int = 4000,
                n_properties: int = 300) -> Inputs:
    rng = random.Random(seed)
    ent_words = [w.capitalize() for w in _words(rng, n_entities, _CONS)]
    labels, seen = [], set()
    while len(labels) < n_entities:
        k = rng.choice((1, 2, 2, 2, 3))
        lab = " ".join(rng.choice(ent_words) for _ in range(k))
        if lab.lower() not in seen:
            seen.add(lab.lower())
            labels.append(lab)
    entities = [Entity(lab) for lab in labels]

    # Zipf mention weights over non-hub entities; hubs share HUB_MASS
    tail = _zipf_cum(n_entities - HUB_COUNT, 1.07)
    tail_w = [tail[0]] + [b - a for a, b in zip(tail, tail[1:])]
    tail_total = tail[-1]
    hub_w = HUB_MASS * tail_total / (1 - HUB_MASS) / HUB_COUNT
    weights = [hub_w] * HUB_COUNT + tail_w
    cum = list(accumulate(weights))

    # cover a fixed share of mention mass: hubs first, then a seeded
    # shuffle of the rest, skipping any entity that would overshoot
    order = list(range(HUB_COUNT, n_entities))
    rng.shuffle(order)
    covered_mass, target = 0.0, DICT_COVERAGE * cum[-1]
    for i in list(range(HUB_COUNT)) + order:
        if covered_mass + weights[i] <= target:
            entities[i].covered = True
            covered_mass += weights[i]

    # aliases: the last word of a multi-word label (shared between
    # entities ending in the same word) and sometimes the first word
    for e in entities:
        if not e.covered:
            continue
        parts = e.label.split()
        if len(parts) > 1:
            e.aliases.append(parts[-1])
            if rng.random() < 0.3:
                e.aliases.append(parts[0])
    entity_rows = []
    for i, e in enumerate(entities):
        if not e.covered:
            continue
        eid = f"Q{1000 + i}"
        entity_rows.append((eid, e.label, e.label, 0))
        entity_rows.extend((eid, e.label, a, 1) for a in e.aliases)

    # properties: Wikidata-style labels, each with one alias; corpus
    # predicates are labels, aliases (exact links) or unlisted variants
    # (cosine). Predicate words are disjoint from entity words, so no
    # predicate phrase can equal an entity phrase after normalization
    pred_words = _words(rng, 400, _CONS, exclude={w.lower() for w in ent_words})
    prop_labels, seen = [], set()
    while len(prop_labels) < n_properties:
        head = rng.choice(_PROP_HEADS)
        w = rng.choice(pred_words)
        lab = f"{w} {head}" if rng.random() < 0.5 else f"{head} {w}"
        if lab not in seen:
            seen.add(lab)
            prop_labels.append(lab)
    property_rows, kind, pool = [], {}, []
    for i, lab in enumerate(prop_labels):
        pid = f"P{100 + i}"
        property_rows.append((pid, lab, lab, 0))
        kind.setdefault(lab, "label")
        pool.append(lab)
        alias = " ".join(reversed(lab.split(" ", 1)))
        if alias not in kind:
            property_rows.append((pid, lab, alias, 1))
            kind[alias] = "alias"
            pool.append(alias)
        variant = f"{rng.choice(pred_words)} {lab.split()[0]}"
        if variant not in kind:
            kind[variant] = "unlisted"
            pool.append(variant)
    rng.shuffle(pool)
    return Inputs(
        seed, entities, cum, pool, _zipf_cum(len(pool), 0.9),
        entity_rows, property_rows, kind,
    )


def _mention(rng: random.Random, inp: Inputs) -> tuple[str, int]:
    i = _draw(rng, inp.entity_cum)
    e = inp.entities[i]
    if e.aliases and rng.random() < ALIAS_MENTION_SHARE:
        return rng.choice(e.aliases), i
    return e.label, i


def _tail(rng: random.Random) -> str:
    if rng.random() < 0.5:
        return ""
    words = [rng.choice(_FILLER) for _ in range(rng.randint(2, 6))]
    if rng.random() < 0.35:
        words.insert(rng.randrange(len(words)), rng.choice(_ABBREVIATIONS))
    if rng.random() < 0.3:
        words.append(str(rng.choice((rng.randint(1900, 2024),
                                     round(rng.uniform(1, 99), 1)))))
    return ", " + " ".join(words)


def make_sentence(rng: random.Random, inp: Inputs, mentions: list | None = None):
    """One "<Subject> <predicate> <Object>[, tail]." sentence."""
    (s, si), (o, oi) = _mention(rng, inp), _mention(rng, inp)
    p = inp.predicates[_draw(rng, inp.predicate_cum)]
    if mentions is not None:
        mentions.extend((si, oi))
    end = "." if rng.random() < 0.9 else rng.choice("!?")
    return f"{s} {p} {o}{_tail(rng)}{end}"


def make_corpus(inp: Inputs, n_docs: int, tag: str = "base",
                mentions: list | None = None) -> pd.DataFrame:
    """n_docs source rows. Sentences per doc are log-normal (1..60),
    rescaled so every seed yields the same total, SENTENCES_PER_DOC
    per doc on average: seeds change content, not the amount of work."""
    rng = random.Random(f"{inp.seed}/{tag}")
    raw = [max(1.0, rng.lognormvariate(1.9, 0.7)) for _ in range(n_docs)]
    scale = SENTENCES_PER_DOC * n_docs / sum(raw)
    lengths = [max(1, min(60, round(x * scale))) for x in raw]
    for i in range(abs(SENTENCES_PER_DOC * n_docs - sum(lengths))):
        j = i % n_docs
        lengths[j] += 1 if sum(lengths) < SENTENCES_PER_DOC * n_docs else -(lengths[j] > 1)
    commit = hashlib.sha1(f"{inp.seed}/{tag}".encode()).hexdigest()
    rows = []
    for d, n in enumerate(lengths):
        text = " ".join(make_sentence(rng, inp, mentions) for _ in range(n))
        rows.append((f"bench/{tag}", f"docs/{tag}-{d:06d}.txt", commit, "en", text))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


@dataclass
class EvalSet:
    generated: list[tuple[str, str, str]]
    ground_truth: list[tuple[str, str, str]]
    exact: list[tuple[str, str, str]]
    relaxed: list[tuple[str, str, str]]
    misses: list[tuple[str, str, str]]


def make_eval_set(inp: Inputs, n_generated: int, n_gt: int) -> EvalSet:
    """Distinct generated triples (as the stand-in would emit them)
    and a ground truth planted from them: exact copies, relaxed-only
    matches (components rotated, so every member is present but no
    position agrees) and misses (words no generated triple contains)."""
    rng = random.Random(f"{inp.seed}/eval")
    gen, seen = [], set()
    while len(gen) < n_generated:
        (s, _), (o, _) = _mention(rng, inp), _mention(rng, inp)
        p = inp.predicates[_draw(rng, inp.predicate_cum)]
        key = (s.lower(), p, o.lower())
        if s.lower() != o.lower() and key not in seen:
            seen.add(key)
            gen.append((s, p, o))
    n_exact = round(n_gt * GT_SHARES["exact"])
    n_relaxed = round(n_gt * GT_SHARES["relaxed"])
    n_miss = n_gt - n_exact - n_relaxed
    picks = rng.sample(range(n_generated), n_exact + n_relaxed)
    exact = [gen[i] for i in picks[:n_exact]]
    relaxed = [(o, s, p) for s, p, o in (gen[i] for i in picks[n_exact:])]
    mw = [w.capitalize() for w in _words(rng, 3 * n_miss, _MISS_CONS)]
    misses = [
        (mw[3 * k], f"{mw[3 * k + 1].lower()} of", mw[3 * k + 2])
        for k in range(n_miss)
    ]
    gt = exact + relaxed + misses
    rng.shuffle(gt)
    return EvalSet(gen, gt, exact, relaxed, misses)


def _norm(v: str) -> str:
    """The metrics' normalizer on this generator's alphabet."""
    return re.sub(r"[^\w\s]", "", v.lower()).strip()


def expected_metrics(ev: EvalSet) -> dict:
    """tp/fp/fn the metrics must report, known from the planted shares."""
    g = {tuple(map(_norm, t)) for t in ev.generated}
    t = {tuple(map(_norm, x)) for x in ev.ground_truth}
    tp = len(g & t)
    out = {"strict": (tp, len(g) - tp, len(t) - tp)}
    rtp = len(ev.exact) + len(ev.relaxed)
    out["relaxed"] = (rtp, len(ev.generated) - rtp, len(ev.ground_truth) - rtp)
    for i, comp in enumerate(("subj", "pred", "obj")):
        gc = {x[i] for x in g}
        tc = {x[i] for x in t}
        out[comp] = (len(gc & tc), len(gc - tc), len(tc - gc))
    return out


def digest(obj) -> str:
    """sha256 over a canonical JSON dump (inputs or sorted rows)."""
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode("utf-8")
    ).hexdigest()
