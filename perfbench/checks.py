"""Output checks. An op whose check fails counts as failed.

- build: `verify_invariant()` holds (checked on the first op), and the
  digests of the `nodes`, `edges` and `adjacency` tables agree across
  ops and, at the default seed, with the digests recorded in SPEC.json;
- evaluate: tp/fp/fn equal the counts known from the planted shares,
  and every planted exact copy scores 1.0 on ROUGE-1/2/L and BERTScore.
"""

from __future__ import annotations

GRAPH_TABLES = ("nodes", "edges", "adjacency")
_ONE = 1.0 - 1e-9


def _hashed(df, name: str):
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    return df.select(F.lit(name).alias("t"), F.xxhash64(*cols).alias("x"),
                     F.hash(*cols).cast("long").alias("m"))


def table_digests(tables: dict) -> dict[str, str]:
    """name -> digest of that DataFrame's rows, independent of row and
    column order: row count plus two order-free folds of two row
    hashes. One small Spark job for all tables, no collect of rows."""
    from pyspark.sql import functions as F

    frames = [_hashed(df, name) for name, df in tables.items()]
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    rows = union.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor("x").alias("x"),
        F.sum("m").alias("m")).collect()
    got = {r.t: f"{r.n}:{r.x}:{r.m}" for r in rows}
    return {name: got.get(name, "0") for name in tables}


def graph_digests(catalog) -> dict[str, str]:
    return table_digests({t: catalog.read(t) for t in GRAPH_TABLES})


class Tally:
    """Ops attempted and failed (op_fail_ratio = failed / attempted)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason)
        return ok

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def check_digests(got: dict, first: dict | None, recorded: dict | None) -> str:
    """'' when the op's graph digests match the first op's and the
    recorded ones (either may be None = nothing to compare); else why."""
    if first is not None and got != first:
        return "graph digests differ from the first op"
    if recorded is not None and got != recorded:
        return "graph digests differ from the recorded default-seed digests"
    return ""


def check_evaluate(results: dict, expected: dict, exact: set) -> str:
    """'' when every metric's (tp, fp, fn) matches `expected` and every
    planted exact copy scores 1.0; else why.

    results: {"strict": (tp, fp, fn), "relaxed": ..., "subj": ...,
    "pred": ..., "obj": ..., "rouge": {triple: (r1, r2, rl)},
    "bertscore": {(cand, ref): f1}}; exact: set of planted exact triples.
    """
    for key, want in expected.items():
        if tuple(results[key]) != tuple(want):
            return f"{key} (tp, fp, fn) = {tuple(results[key])}, expected {tuple(want)}"
    missing = [t for t in exact if t not in results["rouge"]]
    if missing:
        return f"{len(missing)} exact copies missing from the ROUGE output"
    low = [t for t in exact if min(results["rouge"][t]) < _ONE]
    if low:
        return f"{len(low)} exact copies score below 1.0 on ROUGE"
    self_pairs = [f1 for (c, r), f1 in results["bertscore"].items() if c == r]
    if not self_pairs or min(self_pairs) < _ONE:
        return "an exact-copy pair scores below 1.0 on BERTScore"
    return ""
