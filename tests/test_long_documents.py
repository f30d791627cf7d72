"""Long-document behavior past the reference's 16,383-position ceiling.

The reference exists to merge fragments across >16,383-word TSVector chunk
boundaries (/root/reference/sql/ts_fast_headline_cover_density.sql:3-7;
position cap documented in base_domain.sql:16-18). The Spark engine drops
the cap by design (SURVEY §1.2): ONE position space per document, no
chunking. These tests pin that contract: matches, headlines and index
postings must be exact at, straddling, and far beyond position 16,383.
"""

import pytest
from pyspark.sql import functions as F

from pg_ts_semantic_headline_spark.plans.analyze import with_analysis
from pg_ts_semantic_headline_spark.plans.headline import ts_fast_headline
from pg_ts_semantic_headline_spark.plans.index_build import build_index, load_index
from pg_ts_semantic_headline_spark.plans.matches import tsp_query_matches
from pg_ts_semantic_headline_spark.plans.query_compiler import phraseto_tspquery
from pg_ts_semantic_headline_spark.plans.search import search_with_headlines

CONFIG = "simple"
PG_CAP = 16383

# phrase occurrences: well before the cap, STRADDLING it (first word at
# 16383, second at 16384 — impossible inside one TSVector), and far past it
MATCH_STARTS = (100, PG_CAP, 30000)


@pytest.fixture(scope="module")
def long_doc(spark):
    n_words = 33000
    words = [f"w{i % 997}" for i in range(1, n_words + 1)]
    for start in MATCH_STARTS:
        words[start - 1] = "needle"
        words[start] = "haystack"
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "content"])
    return with_analysis(df, content_col="content", config=CONFIG)


def test_matches_cross_and_exceed_the_cap(spark, long_doc):
    q = phraseto_tspquery(CONFIG, "needle haystack")
    rows = tsp_query_matches(long_doc, q, match_limit=10).collect()
    got = sorted((r["start_pos"], r["end_pos"]) for r in rows)
    assert got == [(s, s + 1) for s in MATCH_STARTS]
    assert all(r["words"] == "needle haystack" for r in rows)


def test_headline_merges_fragments_across_the_boundary(spark, long_doc):
    q = phraseto_tspquery(CONFIG, "needle haystack")
    rows = ts_fast_headline(
        long_doc, q, "MaxWords=12,MaxFragments=3").collect()
    assert len(rows) == 1
    headline = rows[0]["headline"]
    # one aggregated headline carries all three covers — including the one
    # straddling 16383/16384 — merged by density ordering, not chunk-local
    assert headline.count("<b>needle haystack</b>") == 3
    assert "..." in headline


def test_index_positions_exact_past_the_cap(spark, long_doc, tmp_path):
    out = str(tmp_path / "long_idx")
    build_index(spark, long_doc.select("doc_id", "content"), out,
                config=CONFIG, n_buckets=4)
    index = load_index(spark, out)
    rows = index.postings.where(F.col("term") == "needle").collect()
    assert len(rows) == 1
    assert list(rows[0]["positions"]) == list(MATCH_STARTS)
    # dl reflects the FULL document, not a 16,383-capped chunk
    assert rows[0]["dl"] == 33000

    hits = search_with_headlines(
        index, phraseto_tspquery(CONFIG, "needle haystack"), k=1,
        options="MaxWords=12,MaxFragments=3").collect()
    assert len(hits) == 1
    assert hits[0]["headline"].count("<b>needle haystack</b>") == 3
