"""bm25_search_topk and tfidf_topk_terms against their registered DuckDB
oracles, with the row / column / value comparison tools/verify_local.py
applies: on the sf0.01 fixture, and on a documents fixture that adds a
null-text and an empty-text document."""

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


@pytest.mark.parametrize("name", QUERIES)
def test_text_query_matches_oracle_null_and_empty_text(spark, tmp_path, name):
    """A null-text document has no tokens: the oracle's unnest drops it,
    so it counts toward neither n_docs (bm25) nor any term's df. An
    empty text is one empty-string token on both engines."""
    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    base_id = max(docs.column("doc_id").to_pylist()) + 1
    extra = pa.Table.from_pylist(
        [
            {"doc_id": base_id, "text": None, "lang": "en",
             "source": "src0", "n_chars": 0},
            {"doc_id": base_id + 1, "text": "", "lang": "en",
             "source": "src0", "n_chars": 0},
        ],
        schema=docs.schema,
    )
    pq.write_table(
        pa.concat_tables([docs, extra]), str(tmp_path / "documents.parquet")
    )
    _assert_matches_oracle(spark, str(tmp_path), name)
