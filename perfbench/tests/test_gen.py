"""The seeded generator: determinism and planted shares (no Spark)."""

import pandas as pd

from knowledge_graph_creation_from_text_with_llms_spark.operators.chunker import (
    greedy_pack,
    split_sentences,
)
from perfbench import gen


def _input_digest(seed: int) -> str:
    inp = gen.make_inputs(seed, 500, 40)
    corpus = gen.make_corpus(inp, 50)
    ev = gen.make_eval_set(inp, 60, 20)
    return gen.digest([inp.entity_rows, inp.property_rows, corpus.values.tolist(),
                       ev.generated, ev.ground_truth])


def test_same_seed_same_digest_other_seed_differs():
    assert _input_digest(7) == _input_digest(7)
    assert _input_digest(7) != _input_digest(8)


def test_dictionary_covers_the_planted_share_of_mentions():
    inp = gen.make_inputs(3)
    mentions: list[int] = []
    gen.make_corpus(inp, 1500, mentions=mentions)
    covered = sum(inp.entities[i].covered for i in mentions) / len(mentions)
    assert abs(covered - gen.DICT_COVERAGE) < 0.03
    # hubs take their planted share of mentions
    hubs = sum(i < gen.HUB_COUNT for i in mentions) / len(mentions)
    assert abs(hubs - gen.HUB_MASS) < 0.01
    # labels at rank 0, aliases at rank 1, some aliases shared
    ranks = {r[3] for r in inp.entity_rows}
    assert ranks == {0, 1}
    owners: dict[str, set] = {}
    for eid, _, alias, rank in inp.entity_rows:
        if rank == 1:
            owners.setdefault(alias.lower(), set()).add(eid)
    assert any(len(v) > 1 for v in owners.values())
    kinds = set(inp.predicate_kind.values())
    assert kinds == {"label", "alias", "unlisted"}


def _response_lines(responses):
    return [line for r in responses for line in r.split("\n") if r]


def test_stand_in_empty_and_malformed_shares():
    inp = gen.make_inputs(5)
    corpus = gen.make_corpus(inp, 1500)
    chunks = [c for text in corpus.content
              for c in greedy_pack(split_sentences(text), 500)]
    responses = gen.StandInBackend().generate(pd.Series(chunks))
    empty = sum(r == "" for r in responses) / len(responses)
    assert abs(empty - gen.EMPTY_SHARE) < 0.01
    lines = _response_lines(responses)
    # the parser keeps arity-3 lines only (", " split of the paren body)
    arity = [len(line.split(". ", 1)[1].strip("()").split(", ")) for line in lines]
    malformed = sum(a != 3 for a in arity) / len(arity)
    assert abs(malformed - gen.MALFORMED_SHARE) < 0.01
    # one clause per sentence: numbered lines are built from the
    # chunk's own phrases
    first = next(r for r in responses if r)
    s, p, o = first.split("\n")[0].split(". ", 1)[1].strip("()").split(", ")
    chunk = chunks[list(responses).index(first)]
    assert chunk.startswith(f"{s} {p} {o}")


def test_ground_truth_shares_and_expected_counts():
    inp = gen.make_inputs(9, 800, 60)
    ev = gen.make_eval_set(inp, 200, 40)
    n = len(ev.ground_truth)
    assert (len(ev.exact), len(ev.relaxed), len(ev.misses)) == (
        round(n * gen.GT_SHARES["exact"]), round(n * gen.GT_SHARES["relaxed"]),
        n - round(n * gen.GT_SHARES["exact"]) - round(n * gen.GT_SHARES["relaxed"]))
    gen_set = set(ev.generated)
    assert all(t in gen_set for t in ev.exact)
    # relaxed-only: every member present in some generated triple, but
    # never the same triple in the same positions
    members = [set(t) for t in ev.generated]
    assert all(t not in gen_set and any(set(t) <= m for m in members)
               for t in ev.relaxed)
    words = {w for t in ev.generated for v in t for w in v.lower().split()}
    assert all(not ({t[0].lower(), t[2].lower()} & words) for t in ev.misses)
    exp = gen.expected_metrics(ev)
    assert exp["strict"] == (len(ev.exact), len(ev.generated) - len(ev.exact),
                             n - len(ev.exact))
    hits = len(ev.exact) + len(ev.relaxed)
    assert exp["relaxed"] == (hits, len(ev.generated) - hits, n - hits)
