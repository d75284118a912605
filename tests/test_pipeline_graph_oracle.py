"""The graph tables KGPipeline commits, against a plain-Python replay of
the reference's GraphManager.add_triple (GraphManager.py:48-69).

The replay reads the committed `triples_linked` and builds the edge
set the way the reference does: `id or label` per component
(Integrator.py:145-150), URIs minted with urllib.parse.quote, set
semantics with the multiplicity kept as a weight. Adjacency is each
source's sorted (pred_id, dst_id) list.

NULL and "" rule the pipeline applies:
- the response parser emits no NULL component; a missing component
  is the empty string "";
- an id is NULL exactly when its label is unlinked, and
  graph.build_edges replaces a NULL id by the label (coalesce). The
  reference's `id or label` agrees because no dictionary id is "";
- an "" subject or object is a label like any other: it links only if
  a dictionary alias trims to "", so here it becomes src_id ""
  (URI http://example.org/entity/) or an empty literal object;
- an "" predicate has no exact match and goes to the "mixed" cosine
  fallback: its hash embedding is NULL, every similarity ties, and it
  links to the smallest prop_id.
"""

from collections import Counter
from urllib.parse import quote

from knowledge_graph_creation_from_text_with_llms_spark.functions.embeddings import (
    embed_labels,
)
from knowledge_graph_creation_from_text_with_llms_spark.operators.extractor import (
    ReplayBackend,
)
from knowledge_graph_creation_from_text_with_llms_spark.plans.pipeline import (
    KGPipeline,
    PipelineConfig,
)
from knowledge_graph_creation_from_text_with_llms_spark.sources.catalog import (
    ParquetCatalog,
)
from knowledge_graph_creation_from_text_with_llms_spark.sources.corpus import (
    with_ingest_columns,
)

# chunk text (each doc is one sentence, so one chunk) -> LLM response
RESPONSES = {
    "Alice one.": "\n".join([
        "1. (Alice Smith, Plays For, FC Zürich)",
        "2. (Alice Smith, born in, Zürich)",
        "3. (Alice Smith, born in, Zürich)",
        "4. (Alice Smith, likes, green tea)",
    ]),
    "Alice two.": "\n".join([
        "1. (Alice Smith, visited, 東京)",
        "2. (Alice Smith, visited, São Paulo)",
        "3. (Alice Smith, born in, Zürich)",
        "4. (, knows, Bob)",
        "5. (Bob, knows, )",
        "6. (Bob, , Alice Smith)",
    ]),
    "Rocket three.": "\n".join([
        "1. (🚀 Rocket Co, located in, New York)",
        "2. (New York, capital of, 100% sure)",
        "3. (Alice Smith, works at, 🚀 Rocket Co)",
        "(not a triple)",
    ]),
}
# the last doc repeats the first one's text under another path, and
# "Nothing here." has no recorded response
DOCS = ["Alice one.", "Alice two.", "Rocket three.", "Nothing here.", "Alice one."]

ENTITIES = [
    ("Q100", "Alice Smith", "Alice Smith", 0),
    ("Q100", "Alice Smith", "alice", 1),
    ("Q72", "Zürich", "Zürich", 0),
    ("Q1490", "東京", "東京", 0),
    ("local:São Paulo", "São Paulo", "São Paulo", 0),
    ("Q60", "New York", "New York", 0),
    ("Q200", "Bob", "Bob", 0),
    ("Q201", "🚀 Rocket Co", "🚀 Rocket Co", 0),
]
PROPERTIES = [
    ("P54", "member of sports team", "member of sports team", 0),
    ("P54", "member of sports team", "plays for", 1),
    ("P19", "place of birth", "place of birth", 0),
    ("P19", "place of birth", "born in", 1),
    ("P131", "located in", "located in", 0),
    ("P1376", "capital of", "capital of", 0),
    ("P108", "employer", "works at", 1),
]


def _entity_uri(x: str) -> str:
    if x.startswith("Q"):
        return "http://www.wikidata.org/entity/" + x
    return "http://example.org/entity/" + quote(x)


def _property_uri(x: str) -> str:
    if x.startswith("P"):
        return "http://www.wikidata.org/prop/direct/" + x
    return "http://example.org/property/" + quote(x.lower().replace(" ", "_"))


def _replay_edges(linked) -> set[tuple]:
    """GraphManager.add_triple over every linked triple, as a set of
    edge rows with the multiplicity of each triple as its weight."""
    weight = Counter(
        (r.subj_id or r.subj, r.pred_id or r.pred, r.obj_id or r.obj, r.is_literal)
        for r in linked
    )
    return {
        (s, p, o, lit, _entity_uri(s), _property_uri(p),
         o if lit else _entity_uri(o), n)
        for (s, p, o, lit), n in weight.items()
    }


def _replay_adjacency(edges: set[tuple]) -> dict[str, tuple[list, int]]:
    out: dict[str, list] = {}
    for s, p, o, *_ in edges:
        out.setdefault(s, []).append((p, o))
    return {s: (sorted(v), len(v)) for s, v in out.items()}


def test_pipeline_edges_and_adjacency_equal_graphmanager_replay(spark, tmp_path):
    rows = [("r", f"d{i}.txt", "c", "text", t) for i, t in enumerate(DOCS)]
    source = with_ingest_columns(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    entity_dict = spark.createDataFrame(
        ENTITIES, "entity_id string, label string, alias string, rank int"
    )
    property_dict = embed_labels(spark.createDataFrame(
        PROPERTIES, "prop_id string, label string, alias string, rank int"
    ), "alias")
    cat = ParquetCatalog(str(tmp_path / "cat"), spark)
    pipe = KGPipeline(
        spark, cat,
        PipelineConfig(property_method="mixed",
                       backend_factory=lambda: ReplayBackend(RESPONSES)),
        entity_dict=entity_dict, property_dict=property_dict,
    )
    pipe.run(source)

    responses = {r.response for r in cat.read("raw_responses").collect()}
    assert responses == set(RESPONSES.values()) | {""}  # every replay hit
    linked = cat.read("triples_linked").collect()
    assert len(linked) == 4 * 2 + 6 + 3  # doc 1 twice; the malformed line dropped
    by_pred = {r.pred: r.pred_id for r in linked}
    assert by_pred["Plays For"] == "P54"  # exact alias match
    assert by_pred["likes"] is not None  # cosine fallback
    assert by_pred[""] == min(p[0] for p in PROPERTIES)

    want = _replay_edges(linked)
    got = {
        (r.src_id, r.pred_id, r.dst_id, r.is_literal, r.src_uri, r.pred_uri,
         r.dst_uri, r.weight)
        for r in cat.read("edges").collect()
    }
    assert got == want
    # the fixture reaches the cases it is meant to
    assert ("", "http://example.org/entity/") in {(e[0], e[4]) for e in got}
    assert any(e[3] and e[2] == "" for e in got)  # empty literal object
    assert any(e[3] and e[2] == "FC Zürich" for e in got)
    assert any("S%C3%A3o%20Paulo" in e[6] for e in got)
    assert max(e[7] for e in got) == 5  # born in Zürich: 2 + 1 + 2

    adjacency = {
        r.node_id: ([(o.pred_id, o.dst_id) for o in r.out], r.out_degree)
        for r in cat.read("adjacency").collect()
    }
    assert adjacency == _replay_adjacency(want)
    assert adjacency["Q100"][1] == 6  # the hub subject
