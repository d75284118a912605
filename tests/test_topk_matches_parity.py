"""Top-k rank parity against the reference's committed matches files.

Every `property_matches/*_matches.txt` under
/root/reference/Experiments_Results (written by Matcher.save_property_matches,
Matcher.py:258-285: entries in descending similarity order) is parsed
into (pred, rank, prop_id, label, score) rows; feeding the committed
scores into our ranking window (linker.rank_topk — the exact tail of
topk_properties) must reproduce the committed rank order.

Ties: scores are printed at 4 decimals, and the reference breaks exact
ties by its candidate iteration order (e.g. P527 before P180 at
1.0000), which the files do not encode — so within a printed-score tie
group the comparison is set-equality of rank positions; across groups
the order must match exactly.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from knowledge_graph_creation_from_text_with_llms_spark.operators.linker import (
    rank_topk,
)

ROOT = Path("/root/reference/Experiments_Results")

pytestmark = pytest.mark.skipif(
    not ROOT.is_dir(), reason="reference repo not available"
)

_HEADER = re.compile(r'Top matches for predicate: "(.*)"')
_ENTRY = re.compile(
    r"(\d+)\. Match Details:\n"
    r"\s*Property ID: (.*)\n"
    r"\s*Label: (.*)\n"
    r"\s*Similarity Score: ([-0-9.]+)"
)


def _parse_all():
    rows = []
    files = sorted(ROOT.rglob("property_matches/*_matches.txt"))
    assert files, "reference matches files not found"
    for fid, path in enumerate(files):
        text = path.read_text(encoding="utf-8", errors="replace")
        m = _HEADER.search(text)
        if not m:
            continue
        for e in _ENTRY.finditer(text):
            rows.append(
                (
                    f"{fid}|{m.group(1)}",
                    int(e.group(1)),
                    e.group(2).strip(),
                    e.group(3).strip(),
                    float(e.group(4)),
                )
            )
    return rows


def test_rank_topk_reproduces_committed_matches(spark):
    rows = _parse_all()
    assert len(rows) > 5000  # 806 files x up to 10 entries
    df = spark.createDataFrame(
        rows,
        "pred string, committed_rank int, prop_id string, "
        "label string, similarity double",
    )
    ranked = rank_topk(df, k=10).collect()

    by_pred: dict[str, list] = {}
    for r in ranked:
        by_pred.setdefault(r.pred, []).append(r)

    n_preds = 0
    for pred, rs in by_pred.items():
        n_preds += 1
        # scores non-increasing in our rank order (window sanity)
        rs.sort(key=lambda r: r.rank_pos)
        for a, b in zip(rs, rs[1:]):
            assert a.similarity >= b.similarity, pred
        # tie-group set equality: the committed ranks holding a given
        # printed score must be exactly the rank positions we assign it
        ours: dict[float, set] = {}
        committed: dict[float, set] = {}
        for r in rs:
            ours.setdefault(r.similarity, set()).add(r.rank_pos)
            committed.setdefault(r.similarity, set()).add(r.committed_rank)
        assert ours == committed, f"{pred}: {ours} != {committed}"
    assert n_preds > 600  # 690 parsed (some committed files are header-only)


def test_rank_order_exact_where_scores_unique(spark):
    """For entries whose score is unique within their file, our rank
    must equal the committed rank exactly (no tie ambiguity)."""
    rows = _parse_all()
    df = spark.createDataFrame(
        rows,
        "pred string, committed_rank int, prop_id string, "
        "label string, similarity double",
    )
    ranked = rank_topk(df, k=10).collect()
    by_pred: dict[str, list] = {}
    for r in ranked:
        by_pred.setdefault(r.pred, []).append(r)
    checked = 0
    for pred, rs in by_pred.items():
        from collections import Counter

        score_freq = Counter(r.similarity for r in rs)
        for r in rs:
            if score_freq[r.similarity] == 1:
                assert r.rank_pos == r.committed_rank, (
                    f"{pred}: prop {r.prop_id} rank {r.rank_pos} != "
                    f"committed {r.committed_rank}"
                )
                checked += 1
    assert checked > 4000
