"""The persisted-index fast path must reproduce the same golden headlines
as the ad-hoc path: index-backed search_with_headlines == reference pgTAP
fast-path strings."""

import pytest

from pg_ts_semantic_headline_spark.plans import phraseto_tspquery, to_tspquery
from pg_ts_semantic_headline_spark.plans.index_build import build_index, load_index
from pg_ts_semantic_headline_spark.plans.search import search_with_headlines

from conftest import load_reference_corpus, requires_reference

pytestmark = requires_reference


@pytest.fixture(scope="module")
def english_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("golden_idx"))
    content = load_reference_corpus("english_lang_test.sql")
    swift = load_reference_corpus("jswift_modest_proposal_test.sql")
    df = spark.createDataFrame(
        [(1, content), (2, swift)], ["doc_id", "content"])
    build_index(spark, df, out, config="english", n_buckets=4)
    return load_index(spark, out)


def test_index_path_english_6(spark, english_index):
    q = to_tspquery("english", "best<2>time|worst<2>time")
    rows = {r["doc_id"]: r for r in
            search_with_headlines(english_index, q, k=2).collect()}
    assert rows[1]["headline"] == (
        "It was the <b>best of times,</b> it was the <b>worst of times,</b> "
        "it was the age of wisdom, it was the age")
    # BM25 must rank the Dickens doc (both phrases) above Swift
    ordered = sorted(rows.values(), key=lambda r: -r["score"])
    assert ordered[0]["doc_id"] == 1


def test_index_path_swift_fortune(spark, english_index):
    q = phraseto_tspquery("english", "fortune, through the kingdom")
    rows = search_with_headlines(english_index, q, k=1).collect()
    assert rows[0]["doc_id"] == 2
    assert rows[0]["headline"] == (
        "be offered in sale to the persons of quality and "
        "<b>fortune, through the kingdom,</b> always advising "
        "the mother to let them suck plentifully in")


def test_index_path_no_match_returns_empty(spark, english_index):
    q = phraseto_tspquery("english", "quetzalcoatl spaceship")
    assert search_with_headlines(english_index, q, k=3).count() == 0
