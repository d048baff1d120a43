"""End-to-end parity with the reference's I/O model: whole-file text
corpus in (worker.go:127-134), golden ``key value`` text out
(worker.go:223-249), exercised through the map_reduce facade exactly like
a reference wc job — the Spark analog of test-mr.sh's oracle diff."""

from __future__ import annotations

import pytest

from golang_mapreduce_spark.mapreduce import map_reduce, wc_map, wc_reduce
from golang_mapreduce_spark.sources.fixtures import read_whole_text_corpus
from golang_mapreduce_spark.sources.golden import read_golden_text, write_golden_text

pytestmark = pytest.mark.python_udf

CORPUS = {
    "pg-a.txt": "the quick brown fox\nthe lazy dog",
    "pg-b.txt": "the dog barks",
}


def _expected_wc() -> dict[str, str]:
    counts: dict[str, int] = {}
    for contents in CORPUS.values():
        for w in contents.split():
            counts[w] = counts.get(w, 0) + 1
    return {k: str(v) for k, v in counts.items()}


def test_wholetext_mapreduce_golden_roundtrip(spark, tmp_path):
    corpus_dir = tmp_path / "corpus"
    corpus_dir.mkdir()
    for name, contents in CORPUS.items():
        (corpus_dir / name).write_text(contents)

    docs = read_whole_text_corpus(spark, str(corpus_dir))
    rows = docs.collect()
    assert len(rows) == 2
    # whole files, not lines: each record carries the full contents
    by_name = {r["filename"].rsplit("/", 1)[-1]: r["contents"] for r in rows}
    assert by_name == CORPUS

    result = map_reduce(docs, wc_map, wc_reduce, num_partitions=3)
    out_dir = str(tmp_path / "mr-out")
    write_golden_text(result, out_dir, sorted_output=True)

    back = read_golden_text(spark, out_dir)
    got = {r["key"]: r["value"] for r in back.collect()}
    assert got == _expected_wc()


def test_golden_text_partitioned_write(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "1"), ("b", "2"), ("c", "3")], ["key", "value"]
    )
    out_dir = str(tmp_path / "parts")
    write_golden_text(df, out_dir, num_partitions=2)
    back = read_golden_text(spark, out_dir)
    assert {tuple(r) for r in back.collect()} == {("a", "1"), ("b", "2"), ("c", "3")}
