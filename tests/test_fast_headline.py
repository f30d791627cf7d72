"""`ts_fast_headline` and `ts_fast_headline_cover_density` evaluate per
input row, like the reference's scalar functions.

- rows sharing a doc_id each get their own fragments and headline;
- the plan shape: one Spark job, no Exchange, and over `with_analysis`
  input the analysis UDF runs once;
- the `__spark_entry__` entries of the fast path against their DuckDB
  `oracle_sql()` on the flagship's scale factor (skipped when that data
  or `duckdb` is absent).
Identity with the DataFrame plan the kernel replaced is pinned in
tests/test_indexed_headline.py and tests/test_semantic_headline_fused.py.
"""

import importlib.util
import os

import pytest

import __spark_entry__ as entry
from conftest import count_jobs

from pg_ts_semantic_headline_spark.plans.analyze import with_analysis
from pg_ts_semantic_headline_spark.plans.headline import (
    ts_fast_headline, ts_fast_headline_cover_density)
from pg_ts_semantic_headline_spark.plans.query_compiler import to_tspquery


def _analyzed(spark, rows):
    return with_analysis(spark.createDataFrame(rows, ["doc_id", "content"]),
                         content_col="content", config="english")


def test_duplicate_doc_ids_get_their_own_headline(spark):
    docs = _analyzed(spark, [(1, "the quick brown fox jumps"),
                             (1, "a slow quick brown cat sleeps")])
    query = to_tspquery("english", "quick <-> brown")
    assert sorted(tuple(r) for r in ts_fast_headline(docs, query).collect()) \
        == [(1, "a slow <b>quick brown</b> cat sleeps"),
            (1, "the <b>quick brown</b> fox jumps")]
    assert sorted((r.doc_id, r.headline.strip(), r.density, r.bucket)
                  for r in ts_fast_headline_cover_density(docs, query)
                  .collect()) \
        == [(1, "a slow <b>quick brown</b> cat sleeps", 1, 0),
            (1, "the <b>quick brown</b> fox jumps", 1, 0)]


@pytest.mark.parametrize("fn", [ts_fast_headline,
                                ts_fast_headline_cover_density])
def test_plan_is_one_job_without_exchange(spark, fn):
    docs = _analyzed(spark, [(0, "the quick brown fox"),
                             (1, "a quick brown dog and a quick brown cat")])
    out = fn(docs, to_tspquery("english", "quick <-> brown"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("_analyze_batch") == 1, plan
    assert count_jobs(spark, out.collect) == 1


@pytest.fixture(scope="module")
def oracle():
    if not os.path.isdir(entry.FLAGSHIP_SF_DIR):
        pytest.skip(f"{entry.FLAGSHIP_SF_DIR} not present")
    duckdb = pytest.importorskip("duckdb")
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(os.path.dirname(__file__), "..",
                                     "scripts", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = duckdb.connect()
    for t in co.TABLES:
        path = f"{entry.FLAGSHIP_SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{path}')")
    yield co, con
    con.close()


@pytest.mark.parametrize("name", ["tsp_query_matches", "ts_fast_headline",
                                  "ts_fast_headline_cover_density"])
def test_entry_matches_duckdb_oracle(spark, oracle, name):
    co, con = oracle
    got = entry.queries()[name](spark, entry.FLAGSHIP_SF_DIR)
    res = con.execute(entry.oracle_sql()[name])
    rec = co.compare_result(got.columns, [tuple(r) for r in got.collect()],
                            [d[0] for d in res.description], res.fetchall())
    assert rec["hash_match"], rec.get("first_diff")
    assert rec["spark_rows"] > 0
