"""bm25_search_topk, tfidf_topk_terms and ngram_jaccard_pairs against
their registered DuckDB oracles, with the row / column / value comparison
tools/verify_local.py applies: on the sf0.01 fixture, and on documents
fixtures that add degenerate texts (null, empty, a single token)."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from braintumor_data_pipeline_spark import registry
from tools.verify_local import _canon, _values_equal

SF_ORACLE = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"
QUERIES = ("bm25_search_topk", "tfidf_topk_terms")


def _assert_matches_oracle(spark, sf_dir: str, name: str) -> None:
    spec = registry.all_queries()[name]
    sdf = spec.fn(spark, sf_dir)
    srows, scols = [tuple(r) for r in sdf.collect()], sdf.columns
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    res = con.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = [tuple(r) for r in res.fetchall()]
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    s_can, _ = _canon(srows, scols)
    o_can, _ = _canon(orows, ocols)
    for sr, orow in zip(s_can, o_can):
        assert all(_values_equal(a, b) for a, b in zip(sr, orow)), (sr, orow)


@pytest.mark.parametrize("name", QUERIES)
def test_text_query_matches_oracle(spark, name):
    _assert_matches_oracle(spark, SF_ORACLE, name)


def _documents_with(tmp_path, texts) -> str:
    """A sf0.001 documents copy plus one document per text; its dir."""
    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    base_id = max(docs.column("doc_id").to_pylist()) + 1
    extra = pa.Table.from_pylist(
        [
            {"doc_id": base_id + i, "text": text, "lang": "en",
             "source": "src0", "n_chars": len(text or "")}
            for i, text in enumerate(texts)
        ],
        schema=docs.schema,
    )
    pq.write_table(
        pa.concat_tables([docs, extra]), str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


@pytest.mark.parametrize("name", QUERIES)
def test_text_query_matches_oracle_null_and_empty_text(spark, tmp_path, name):
    """A null-text document has no tokens: the oracle's unnest drops it,
    so it counts toward neither n_docs (bm25) nor any term's df. An
    empty text is one empty-string token on both engines."""
    _assert_matches_oracle(spark, _documents_with(tmp_path, [None, ""]), name)


def test_ngram_jaccard_matches_oracle_empty_and_one_token_text(spark, tmp_path):
    """An empty text and a one-token text have no 3-gram: their shingle
    arrays are empty, so the explode yields no row for them and they
    pair with nothing, as the oracle's window-lead shingles say."""
    sf = _documents_with(tmp_path, ["", "solitary"])
    _assert_matches_oracle(spark, sf, "ngram_jaccard_pairs")
