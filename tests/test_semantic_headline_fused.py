"""`ts_semantic_headline` runs both phases in one Arrow UDF per row.

- identity with the frozen outputs of the two-phase composition it
  replaced (tests/fast_headline_golden.json, section `fused`): phase-1
  passages -> `with_analysis` -> the DataFrame fast-path plan under the
  forced MaxFragments=30,MinWords=64,MaxWords=64 overlay -> COALESCE to
  the trimmed passage;
- one output row per input row, built from that row's own content, even
  when two rows share a doc_id;
- the plan shape: one Spark job, no Exchange.
"""

import random

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from conftest import count_jobs, golden_record

from pg_ts_semantic_headline_spark.plans.headline import (
    _passage_selector, ts_semantic_headline)
from pg_ts_semantic_headline_spark.plans.query_compiler import to_tspquery

SCHEMA = StructType([StructField("doc_id", LongType()),
                     StructField("content", StringType())])

_FILLER = ("the a of and to in is was for on with as by at from this that "
           "system data query index search result merge sort record value "
           "table column engine memory process thread cache vector stream "
           "state-of-the-art well-known child-bearing — … (see) over, "
           "lazy dog quick brown fox kingdom fortune through").split()

_EDGE = [
    None,
    "",
    "   ",
    "nothing relevant lives in this file at all",
    "the quick brown fox jumps over the lazy dog; the quick brown fox "
    "again, and a quick brown fox once more",
    "a merge sort is a merge of sorted runs: merge the sort, then sort "
    "the merge",
    "fortune, through the kingdom — and fortune through a kingdom …",
    "state-of-the-art engines are well-known; state of the art is "
    "child-bearing",
    " ".join(["quick brown"] * 50),
]


def _corpus(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    docs = list(_EDGE)
    for _ in range(n - len(docs)):
        docs.append(" ".join(rng.choice(_FILLER)
                             for _ in range(rng.randint(5, 140))))
    return docs


def _frozen(config, q, options) -> dict:
    """The composition's {doc_id: headline} (see the module docstring)."""
    return dict(golden_record("fused", config=config, query=q,
                              options=options)["rows"])


def _rows(df) -> dict:
    return {r.doc_id: r.headline for r in df.collect()}


CASES = [
    # (query, options): &, |, !, <2> and repeated phrases; a stopword
    # inside a phrase, hyphenated compounds and non-ASCII symbols under
    # selection-tag and delimiter overrides; no semantic re-check; a
    # MaxWords=100 passage holding 50 matches, more than the 36
    # (MaxFragments+6) the fast path keeps
    ("quick <-> brown & !lazy | merge <2> sort", ""),
    ("fortune <-> through <-> the <-> kingdom | state <-> art",
     "StartSel=<em>,StopSel=</em>,FragmentDelimiter=\" ## \""),
    ("child <-> bearing | well <-> known", "DisableSematics=TRUE"),
    ("quick <-> brown", "MaxWords=100,MinWords=100"),
]


@pytest.fixture(scope="module")
def english_docs(spark):
    docs = _corpus(7, 40)
    return spark.createDataFrame(list(enumerate(docs)), SCHEMA)


@pytest.mark.parametrize("q,options", CASES)
def test_fused_matches_composition(english_docs, q, options):
    query = to_tspquery("english", q)
    got = _rows(ts_semantic_headline(english_docs, query, options))
    assert got == _frozen("english", q, options)
    # the cases exercise the fast path, not only the passage fallback
    assert any(h and ("<b>" in h or "<em>" in h) for h in got.values())


def test_fused_matches_composition_german_and_fallback_config(spark):
    docs = ["Das Mädchen spielt im Garten, und das Mädchen spielt — doch "
            "die Größe der Straße übertrifft alles …",
            "Die Straße ist groß; das Mädchen singt über die Brücke.",
            "Grüße aus München: ein Mädchen spielt Fußball", None, ""]
    df = spark.createDataFrame(list(enumerate(docs)), SCHEMA)
    q = "mädchen <-> spielt | straße & !brücke"
    got = _rows(ts_semantic_headline(df, to_tspquery("german", q)))
    assert got == _frozen("german", q, "")
    assert any(h and "<b>" in h for h in got.values())
    # an unsupported config analyzes phase 2 as `simple`; content with no
    # lexizable word keeps phase 1 from ever lexizing under it, and the
    # headline is the trimmed passage
    query = to_tspquery("english", "quick <-> brown")
    sym = [(0, "— … —"), (1, None), (2, ""), (3, "... ;; !!")]
    select = _passage_selector(query, "no_such_cfg", 15, 35, 3)
    got = _rows(ts_semantic_headline(spark.createDataFrame(sym, SCHEMA),
                                     query, config="no_such_cfg"))
    assert got == {i: None if c is None else select(c).strip(" ")
                   for i, c in sym}
    assert got[0] == "— … —"


def test_duplicate_doc_ids_get_their_own_headline(spark):
    """ts_headline is a per-row scalar: rows sharing a doc_id each get a
    headline built from their own content, never a mix of both."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (1, "a merge sort is a divide and conquer algorithm")], SCHEMA)
    query = to_tspquery("english", "quick <-> brown")
    got = sorted(r.headline for r in ts_semantic_headline(df, query).collect())
    assert got == ["a merge sort is a divide and conquer algorithm",
                   "the <b>quick brown</b> fox jumps over the lazy dog"]


def test_plan_is_one_job_without_exchange(spark, english_docs):
    query = to_tspquery("english", "quick <-> brown & !lazy | merge <2> sort")
    out = ts_semantic_headline(english_docs, query)
    assert count_jobs(spark, out.collect) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
