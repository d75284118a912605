"""PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the capabilities of
abraxas-dev/Knowledge-Graph-Creation-from-Text-with-LLMs (reference at
/root/reference, studied for behavior only): chunk source text, extract
(subject, predicate, object) triples via micro-batched vectorized UDF
backends, entity-link against broadcast alias dictionaries, canonicalize
coreferent mentions with doc-salted two-phase reduces, and materialize
nodes/edges/adjacency tables — plus the large-scale training-data
operators (dedup, similarity search, text quality) such a pipeline needs.

Everything is DataFrame-native (Catalyst-optimizable); pandas/Arrow UDFs
appear only where built-in expressions cannot express the semantics
(greedy chunk fold, pluggable LLM extraction backend).
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
