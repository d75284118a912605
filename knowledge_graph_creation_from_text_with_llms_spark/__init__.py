"""PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the capabilities of
abraxas-dev/Knowledge-Graph-Creation-from-Text-with-LLMs (reference at
/root/reference, studied for behavior only): chunk source text, extract
(subject, predicate, object) triples via micro-batched vectorized UDF
backends, entity-link against broadcast alias dictionaries, canonicalize
coreferent mentions with doc-salted two-phase reduces, and materialize
nodes/edges/adjacency tables — plus the large-scale training-data
operators (dedup, similarity search, text quality) such a pipeline needs.

Everything is DataFrame-native (Catalyst-optimizable); Python UDFs
appear only where built-in expressions cannot express the semantics or
lose to one Python call per row (greedy chunk fold, pluggable LLM
extraction backend, the ROUGE scorer). Each top-level def is run by an
entry point or kept for a stated reason (tests/test_reachable_surface.py).
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
