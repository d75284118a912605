"""Multi-format source readers (sources/corpus.read_source)."""

import json
import os

from knowledge_graph_creation_from_text_with_llms_spark.sources.corpus import (
    read_source,
)

ROW = {
    "repo": "r1", "path": "a/b.py", "commit": "c" * 40,
    "lang": "python", "content": "x = 1\n",
}


def _check(df):
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.repo, r.path, r.lang) == ("r1", "a/b.py", "python")
    assert len(r.content_sha256) == 64 and len(r.doc_id) == 64


def test_read_source_jsonl(spark, tmp_path):
    p = tmp_path / "src.jsonl"
    p.write_text(json.dumps(ROW) + "\n")
    _check(read_source(spark, str(p), "jsonl"))


def test_read_source_csv(spark, tmp_path):
    p = tmp_path / "src.csv"
    p.write_text(
        "repo,path,commit,lang,content\n"
        f"r1,a/b.py,{'c' * 40},python,x = 1\n"
    )
    df = read_source(spark, str(p), "csv")
    assert df.collect()[0].repo == "r1"


def test_read_source_textdir(spark, tmp_path):
    d = tmp_path / "docs"
    os.makedirs(d)
    (d / "one.txt").write_text("hello world")
    rows = read_source(spark, str(d), "text").collect()
    assert rows[0].path == "one.txt" and rows[0].content == "hello world"


def test_read_source_parquet_roundtrip(spark, tmp_path):
    p = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [tuple(ROW.values())],
        "repo string, path string, commit string, lang string, content string",
    ).write.parquet(p)
    _check(read_source(spark, p, "parquet"))


def test_read_source_rejects_unknown_format(spark):
    import pytest

    with pytest.raises(ValueError):
        read_source(spark, "/nowhere", "avro2")
