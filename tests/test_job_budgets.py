"""Spark job budgets of the query path on a tiny index.

Each job costs a scheduling floor however small the data, so on a small
index the job count is most of a call's wall time. The budgets:

- `search`: one broadcast of the query terms' idf, one bucket-pruned
  postings scan into the per-document aggregation, one top-k: <= 3 jobs
  on every query shape (AND, OR, AND NOT, `<->` phrase, `<N>`);
- `bm25_topk`: the same plan without the boolean tree: <= 3;
- `search_with_headlines`: `search` plus one read of the winners: <= +1;
- `load_index`: the stats row only (every table is read with its
  declared schema, so no schema-inference job): <= 1, tombstones too.
"""

import pytest

from conftest import count_jobs
from pg_ts_semantic_headline_spark.plans.index_build import (
    build_index, load_index)
from pg_ts_semantic_headline_spark.plans.query_compiler import to_tspquery
from pg_ts_semantic_headline_spark.plans.search import (
    bm25_topk, search, search_with_headlines)

CONFIG = "english"
DOCS = [(i, f"merge sort {'quick brown fox' if i % 3 else 'lazy dog'} "
            f"w{i % 5} hash of the join {'spill' if i % 4 else 'probe'}")
        for i in range(40)]
SHAPES = ["merge & fox", "fox | dog", "sort & !dog", "quick <-> brown",
          "hash <3> join"]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("budget_idx"))
    build_index(spark, spark.createDataFrame(DOCS, ["doc_id", "content"]),
                out, config=CONFIG, n_buckets=4)
    return out


@pytest.fixture(scope="module")
def index(spark, index_dir):
    return load_index(spark, index_dir)


@pytest.mark.parametrize("raw", SHAPES)
def test_search_and_bm25_budgets(spark, index, raw):
    q = to_tspquery(CONFIG, raw)
    out = []
    assert count_jobs(spark, lambda: out.extend(
        search(index, q, k=10).collect())) <= 3
    assert out, raw
    assert count_jobs(spark, lambda: bm25_topk(index, q, k=10).collect()) <= 3


@pytest.mark.parametrize("raw", ["quick <-> brown", "fox | dog"])
def test_search_with_headlines_budget(spark, index, raw):
    q = to_tspquery(CONFIG, raw)
    base = count_jobs(spark, lambda: search(index, q, k=10).collect())
    heads = count_jobs(
        spark, lambda: search_with_headlines(index, q, k=10).collect())
    assert heads <= base + 1, (heads, base)


def test_load_index_budget(spark, index_dir, tmp_path):
    assert count_jobs(spark, lambda: load_index(spark, index_dir)) <= 1
    # an index with tombstones reads them with their schema too
    import shutil

    from pg_ts_semantic_headline_spark.streaming import delete_docs

    tombed = str(tmp_path / "tombed")
    shutil.copytree(index_dir, tombed)
    delete_docs(spark, tombed, [1, 2])
    assert count_jobs(spark, lambda: load_index(spark, tombed)) <= 1
    idx = load_index(spark, tombed)
    assert idx.n_docs == len(DOCS) - 2
    assert {1, 2}.isdisjoint(r["doc_id"] for r in
                             idx.tokens.select("doc_id").collect())
