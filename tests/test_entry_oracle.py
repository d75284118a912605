"""Replica of the driver's correctness gate: every __spark_entry__
queries() entry must match its oracle_sql() in DuckDB — row count,
column set, and exact values (order-insensitive). At the default
sf0.001 each oracle-checked gate must also return >= 2 rows, so no
check compares two empty tables, unless it is pinned in `FEW_ROWS`.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

import os
SF_DIR = os.environ.get("GATE_SF_DIR", "/root/testdata/sf0.001")
# the row-count pins below hold at the default scale only
AT_DEFAULT_SF = "GATE_SF_DIR" not in os.environ
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# oracle-checked gates with fewer than 2 rows at the default sf0.001,
# with their exact row counts there (a mend must unpin its gate)
FEW_ROWS = {
    # 1-row aggregates by design
    "kg_graph_stats": 1,
    "kg_metrics_strict": 1,
    "kg_metrics_relaxed": 1,
    # empty at sf0.001; mending them changes an oracle string: kg_khop
    # seeds on src_id LIKE 'a%' but ids are 'Q' + hex, and the n-gram
    # delta holds no pair at this scale
    "kg_khop": 0,
    "dedup_ngram_jaccard_incremental": 0,
}


def _duck(sf_dir: str = SF_DIR):
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    # NO dtype coercion: the driver's value hash is typed (round 2's
    # kg_pagerank failed on DuckDB HUGEINT vs Spark BIGINT with equal
    # values — a coercing replica cannot predict that). Dtypes are
    # asserted equal in the comparison instead.
    df = df[sorted(df.columns)].copy()
    return df.sort_values(by=list(df.columns), ignore_index=True)


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    if name not in entry_mod.oracle_sql():
        df = q(spark, SF_DIR)
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    n_rows = _assert_matches_oracle(spark, name, SF_DIR)
    if AT_DEFAULT_SF:
        if name in FEW_ROWS:
            assert n_rows == FEW_ROWS[name], f"{name}: {n_rows} rows, pinned {FEW_ROWS[name]}"
        else:
            assert n_rows >= 2, f"{name}: {n_rows} rows (vacuous check; pin it in FEW_ROWS?)"


def test_few_rows_pins_name_oracle_checked_gates():
    assert FEW_ROWS.keys() <= entry_mod.oracle_sql().keys()


CODE_GATES = (
    "code_identifiers", "code_license", "code_line_stats",
    "code_strip_boilerplate", "code_strip_comments",
)


def test_code_gates_match_oracle_on_one_word_and_empty_text(spark, tmp_path):
    """The code gates derive a second word from each text; a one-word
    or empty text has none, and both sides fall back to 'val'."""
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{SF_DIR}/documents.parquet").slice(0, 20).to_pandas()
    docs.loc[0, "text"] = "solitary"
    docs.loc[1, "text"] = ""
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    for name in CODE_GATES:
        assert _assert_matches_oracle(spark, name, str(tmp_path)) > 0, name


def _assert_matches_oracle(spark, name: str, sf_dir: str) -> int:
    """Assert gate `name` on `sf_dir` equals its DuckDB oracle there;
    returns the row count."""
    got = _canon(entry_mod.queries()[name](spark, sf_dir).toPandas())
    con = _duck(sf_dir)
    want = _canon(con.execute(entry_mod.oracle_sql()[name]).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    for c in got.columns:
        assert got[c].dtype == want[c].dtype, (
            f"{name}.{c}: spark dtype {got[c].dtype} != oracle dtype "
            f"{want[c].dtype} — driver's typed hash would reject "
            f"(cast the oracle, e.g. DuckDB sum() widens BIGINT->HUGEINT)"
        )
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating):
            exact = np.array_equal(a, b, equal_nan=True)
            if not exact:
                close = np.allclose(a, b, rtol=0, atol=1e-12, equal_nan=True)
                diff = np.nanmax(np.abs(a - b)) if len(a) else 0.0
                assert close, f"{name}.{c}: max abs diff {diff}"
                pytest.fail(
                    f"{name}.{c}: values within 1e-12 but not bit-identical "
                    f"(max diff {diff}) — driver hash may reject"
                )
        else:
            mism = (pd.Series(a).astype(object) != pd.Series(b).astype(object))
            both_na = pd.Series(a).isna() & pd.Series(b).isna()
            mism = mism & ~both_na
            assert not mism.any(), (
                f"{name}.{c}: {int(mism.sum())} mismatches, first at row "
                f"{int(np.argmax(mism.to_numpy()))}: "
                f"{a[np.argmax(mism.to_numpy())]!r} != {b[np.argmax(mism.to_numpy())]!r}"
            )
    return len(got)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0
