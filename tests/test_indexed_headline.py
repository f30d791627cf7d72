"""`search_with_headlines` builds its headlines on the driver, one job
per 512 winners; `ts_fast_headline` and `ts_fast_headline_cover_density`
run the same per-document kernel as one Arrow UDF per row.

- identity with the frozen outputs of the DataFrame plan the kernel
  replaced (tests/fast_headline_golden.json): the driver pass over the
  winners, and both public functions over `with_analysis` of the corpus;
- the driver pass against `ts_fast_headline` over `with_analysis` of the
  winners' content, which checks the lexeme stream the driver rebuilds
  from row postings;
- chunked winners answer as one chunk, one job per chunk;
- the job budget: at most one job more than `search` on the same query;
- `tsp_query_matches` plans its alignment and the analysis UDF once each.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from conftest import count_jobs, fast_headline_golden, golden_record

from pg_ts_semantic_headline_spark.plans import search as search_mod
from pg_ts_semantic_headline_spark.plans.analyze import with_analysis
from pg_ts_semantic_headline_spark.plans.headline import (
    ts_fast_headline, ts_fast_headline_cover_density)
from pg_ts_semantic_headline_spark.plans.index_build import (
    build_index, load_index)
from pg_ts_semantic_headline_spark.plans.matches import tsp_query_matches
from pg_ts_semantic_headline_spark.plans.query_compiler import to_tspquery
from pg_ts_semantic_headline_spark.plans.search import (
    expand_query_prefixes, search, search_with_headlines)

_FILLER = ("the a of and to in is was for on with as by at from this that "
           "system data query index search result merge sort sorted sorting "
           "sorrow sore table column engine memory stream state lazy dog "
           "quick brown fox well-known child-bearing — (see) over, "
           "kingdom fortune through").split()

_EDGE = [
    "the quick brown fox jumps over the lazy dog; the quick brown fox "
    "again, and a quick brown fox once more",
    "a merge sort is a merge of sorted runs: merge the sort, then sort "
    "the merge",
    "merge sorrow, merge sore feet, merge sorting",
    # indexed as `sort`, but no slice re-analyzes to the simple `sort`
    "a sorted list of sorting runs, sorted",
    "well-known child-bearing years are well known",
    " ".join(["quick brown"] * 50),
]


def _corpus(seed: int, n: int) -> list:
    rng = random.Random(seed)
    docs = list(_EDGE)
    for _ in range(n - len(docs)):
        docs.append(" ".join(rng.choice(_FILLER)
                             for _ in range(rng.randint(5, 160))))
    return list(enumerate(docs))


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_corpus(11, 160), ["doc_id", "content"])


@pytest.fixture(scope="module")
def analyzed(corpus):
    return with_analysis(corpus, content_col="content", config="english")


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("headline_idx"))
    build_index(spark, corpus, out, config="english", n_buckets=4)
    return load_index(spark, out)


@pytest.fixture(scope="module")
def synonym_index(spark, tmp_path_factory):
    from pg_ts_semantic_headline_spark.functions.lexize import (
        make_synonym_config)
    cfg = make_synonym_config(
        "english", {"colour": "color", "PGSQL": "postgres"},
        str(tmp_path_factory.mktemp("syn") / "syn.json"))
    docs = [(0, "colour theory and color theory for painters"),
            (1, "a color theory primer"),
            (2, "pgsql replication and postgres replication streams"),
            (3, "theory of colour mixing; colour theory again")]
    out = str(tmp_path_factory.mktemp("syn_idx"))
    docs = spark.createDataFrame(docs, ["doc_id", "content"])
    build_index(spark, docs, out, config=cfg, n_buckets=2)
    return (load_index(spark, out), cfg,
            with_analysis(docs, content_col="content", config=cfg))


def _frozen(index_name, cfg, q, options, k) -> list:
    """The DataFrame plan's (doc_id, headline) rows, in rank order."""
    return [tuple(r) for r in golden_record(
        "indexed", index=index_name, config=cfg, query=q, options=options,
        k=k)["rows"]]


def _analyzed_plan(analyzed, index, query, options, hits) -> list:
    """The `hits` through `ts_fast_headline` over `with_analysis` of
    their content, as (doc_id, headline) in rank order."""
    ids = [d for d, _, _ in hits]
    query = expand_query_prefixes(index, query)
    heads = {r["doc_id"]: r["headline"] for r in ts_fast_headline(
        analyzed.where(F.col("doc_id").isin(ids)), query, options).collect()}
    return [(d, heads.get(d)) for d in ids]


def _rows(df) -> list:
    return [(r["doc_id"], r["score"], r["headline"]) for r in df.collect()]


def _heads(rows) -> list:
    return [(d, h) for d, _, h in rows]


CASES = [
    # (config, query, options): a phrase; an OR of phrases under
    # MaxFragments=3 (the 50-match doc keeps MaxFragments+6 of them); AND
    # NOT under custom selection tags and delimiter; an expanded `:*`
    # prefix; hyphenated compounds with no semantic re-check
    ("english", "quick <-> brown", ""),
    ("english", "quick <-> brown | merge <-> sort", "MaxFragments=3"),
    ("english", "quick <-> brown & !lazy",
     "StartSel=<em>,StopSel=</em>,FragmentDelimiter=\" ## \""),
    ("english", "merge <-> sor:*", "MaxFragments=3"),
    ("english", "child <-> bearing | well <-> known",
     "DisableSematics=TRUE"),
]


@pytest.mark.parametrize("cfg,q,options", CASES)
def test_driver_pass_matches_dataframe_plan(index, analyzed, cfg, q, options):
    query = to_tspquery(cfg, q)
    got = _rows(search_with_headlines(index, query, k=40, options=options))
    assert _heads(got) == _frozen("english", cfg, q, options, 40)
    assert _heads(got) == _analyzed_plan(analyzed, index, query, options, got)
    sel = "<em>" if "<em>" in options else "<b>"
    assert got and all(h and sel in h for _, _, h in got)


def test_prefix_highlights_every_expansion(index):
    heads = [h for _, _, h in _rows(search_with_headlines(
        index, to_tspquery("english", "merge <-> sor:*"), k=40))]
    for phrase in ("merge sort", "merge sorrow", "merge sore"):
        assert any(f"<b>{phrase}</b>" in h for h in heads), phrase


def test_hit_without_exact_match_has_null_headline(index, analyzed):
    # the simple config does not stem: `sorted` is indexed (english) as
    # `sort`, so docs holding only `sorted`/`sorting` are hits, yet their
    # slices fail the re-check under the query's own config
    query = to_tspquery("simple", "sort")
    got = _rows(search_with_headlines(index, query, k=200))
    assert _heads(got) == _frozen("english", "simple", "sort", "", 200)
    assert _heads(got) == _analyzed_plan(analyzed, index, query, "", got)
    heads = [h for _, _, h in got]
    assert None in heads and any(h and "<b>sort</b>" in h for h in heads)


def test_synonym_config_index(synonym_index):
    index, cfg, analyzed = synonym_index
    for q in ("colour <-> theory", "pgsql <-> replication | color",
              "color <-> theory"):
        query = to_tspquery(cfg, q)
        got = _rows(search_with_headlines(index, query, k=10))
        assert _heads(got) == _frozen("synonym", "synonym", q, "", 10)
        assert _heads(got) == _analyzed_plan(analyzed, index, query, "", got)
        assert got and all(h and "<b>" in h for _, _, h in got)
    heads = {d: h for d, _, h in _rows(search_with_headlines(
        index, to_tspquery(cfg, "color <-> theory"), k=10))}
    assert "<b>colour theory</b>" in heads[0]
    assert "<b>color theory</b>" in heads[0]


def test_empty_answer(index):
    out = search_with_headlines(index, to_tspquery("english",
                                                   "zebra <-> unicorn"))
    assert out.columns == ["doc_id", "score", "headline"]
    assert out.collect() == []


def test_chunked_winners_agree(spark, index, monkeypatch):
    query = to_tspquery("english", "quick <-> brown | merge <-> sort")
    whole = _rows(search_with_headlines(index, query, k=40))
    assert len(whole) > 14
    base = count_jobs(spark, lambda: search(index, query, k=40).collect())
    monkeypatch.setattr(search_mod, "HEADLINE_CHUNK", 7)
    got = []
    jobs = count_jobs(spark, lambda: got.extend(_rows(
        search_with_headlines(index, query, k=40))))
    assert got == whole
    # one headline job per chunk of 7 winners
    assert jobs <= base + math.ceil(len(whole) / 7), (jobs, base)


@pytest.mark.parametrize("q", ["quick <-> brown",
                               "quick <-> brown | merge <-> sort",
                               "merge <-> sor:*"])
def test_job_budget(spark, index, q):
    query = to_tspquery("english", q)
    base = count_jobs(spark, lambda: search(index, query, k=10).collect())
    with_heads = count_jobs(
        spark, lambda: search_with_headlines(index, query, k=10).collect())
    # the headline stage is one read of the winners' recall arrays and
    # postings; the returned local frame collects without a job
    assert with_heads <= base + 1, (with_heads, base)


def test_matches_plan_runs_alignment_and_analysis_once(spark):
    docs = with_analysis(spark.createDataFrame(
        [(0, "the quick brown fox"),
         (1, "a quick brown dog and a quick brown cat")],
        ["doc_id", "content"]), content_col="content", config="english")
    out = tsp_query_matches(docs, to_tspquery("english", "quick <-> brown"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one explode of the lexeme stream; the analysis UDF once for it and
    # once for the recall arrays of the words join
    assert plan.count("Generate ") == 1, plan
    assert plan.count("_analyze_batch") == 2, plan
    assert sorted((r["doc_id"], r["start_pos"], r["words"])
                  for r in out.collect()) == [
        (0, 2, "quick brown"), (1, 2, "quick brown"), (1, 7, "quick brown")]


FAST = fast_headline_golden()["fast"]


@pytest.mark.parametrize("rec", FAST,
                         ids=[f"{r['query']}-{r['options']}" for r in FAST])
def test_fast_path_matches_dataframe_plan(index, analyzed, rec):
    query = expand_query_prefixes(index, to_tspquery(rec["config"],
                                                     rec["query"]))
    heads = ts_fast_headline(analyzed, query, rec["options"])
    cover = ts_fast_headline_cover_density(analyzed, query, rec["options"])
    assert sorted([r["doc_id"], r["headline"]] for r in heads.collect()) \
        == rec["ts_fast_headline"]
    assert sorted([r["doc_id"], r["headline"], r["density"], r["bucket"]]
                  for r in cover.collect()) \
        == rec["ts_fast_headline_cover_density"]
    schema = fast_headline_golden()["schema"]
    for name, df in (("ts_fast_headline", heads),
                     ("ts_fast_headline_cover_density", cover)):
        assert [[f.name, f.dataType.simpleString(), f.nullable]
                for f in df.schema.fields] == schema[name]
