"""Lifecycle soak: a MIXED mutation history (merge, delete, replace,
two compactions) must leave an index query-equivalent to
one built from scratch over the same final corpus — the invariant that
catches state leaking across maintenance cycles (stale generations,
drifted df/idf, a stale avgdl) that single-transition tests cannot see.
"""

import pytest

from pg_ts_semantic_headline_spark.plans.fsck import verify_index
from pg_ts_semantic_headline_spark.plans.index_build import (
    build_index, load_index)
from pg_ts_semantic_headline_spark.plans.query_compiler import (
    phraseto_tspquery, to_tspquery)
from pg_ts_semantic_headline_spark.plans.search import (
    bm25_topk, phrase_match_docs, search)
from pg_ts_semantic_headline_spark.streaming import (
    compact_index, delete_docs, merge_batch)

CONFIG = "simple"
BASE = [(i, f"alpha beta gamma doc{i} common words here") for i in range(20)]


def _ranks(index, terms, k=25):
    return [(r["doc_id"], round(r["score"], 9)) for r in
            bm25_topk(index, terms, k=k).collect()]


@pytest.fixture(scope="module")
def soaked(spark, tmp_path_factory):
    """(mutated_dir, rebuilt_dir): one index dragged through the full
    mutation history vs a fresh build over the equivalent final corpus."""
    root = tmp_path_factory.mktemp("soak")
    mutated = str(root / "mutated")
    rebuilt = str(root / "rebuilt")

    build_index(spark, spark.createDataFrame(BASE, ["doc_id", "content"]),
                mutated, config=CONFIG, n_buckets=8)
    # cycle 1: merge two docs, delete one old + one just-merged, compact
    merge_batch(spark, mutated, spark.createDataFrame(
        [(100, "alpha beta fresh needle phrase target arrives"),
         (101, "another fresh document beta gamma")],
        ["doc_id", "content"]), config=CONFIG)
    delete_docs(spark, mutated, [3, 101])
    compact_index(spark, mutated)
    # cycle 2: replace an original doc AND insert a new one through the
    # same replace-mode batch, then compact again
    merge_batch(spark, mutated, spark.createDataFrame(
        [(5, "replaced brandnew shiny alpha content"),
         (200, "cycle two zeta needle document")],
        ["doc_id", "content"]), config=CONFIG, replace=True)
    compact_index(spark, mutated)

    final_corpus = ([r for r in BASE if r[0] not in (3, 5)]
                    + [(5, "replaced brandnew shiny alpha content"),
                       (100, "alpha beta fresh needle phrase target arrives"),
                       (200, "cycle two zeta needle document")])
    build_index(spark, spark.createDataFrame(final_corpus,
                                             ["doc_id", "content"]),
                rebuilt, config=CONFIG, n_buckets=8)
    return mutated, rebuilt


class TestLifecycleSoak:
    QUERIES = (["alpha"], ["fresh"], ["alpha", "beta"],
               ["needle"], ["zeta"], ["brandnew"])

    def test_corpus_and_dictionary_converge(self, spark, soaked):
        mutated, rebuilt = soaked
        a, b = load_index(spark, mutated), load_index(spark, rebuilt)
        assert a.n_docs == b.n_docs == 21
        assert abs(a.avgdl - b.avgdl) < 1e-9
        dict_a = {r["term"]: (r["df"], r["cf"]) for r in
                  a.terms.select("term", "df", "cf").collect()}
        dict_b = {r["term"]: (r["df"], r["cf"]) for r in
                  b.terms.select("term", "df", "cf").collect()}
        assert dict_a == dict_b

    def test_bm25_equivalent_and_rank_identical(self, spark, soaked):
        mutated, rebuilt = soaked
        a, b = load_index(spark, mutated), load_index(spark, rebuilt)
        for terms in self.QUERIES:
            assert _ranks(a, terms) == _ranks(b, terms), terms

    def test_positional_queries_equivalent(self, spark, soaked):
        mutated, rebuilt = soaked
        a, b = load_index(spark, mutated), load_index(spark, rebuilt)
        for q in (phraseto_tspquery(CONFIG, "needle phrase target"),
                  phraseto_tspquery(CONFIG, "zeta needle"),
                  to_tspquery(CONFIG, "alpha & !gamma")):
            docs_a = {r["doc_id"] for r in phrase_match_docs(a, q).collect()} \
                if q.phrases else None
            if docs_a is not None:
                docs_b = {r["doc_id"] for r in
                          phrase_match_docs(b, q).collect()}
                assert docs_a == docs_b, q.raw
            got_a = [(r["doc_id"], round(r["score"], 9)) for r in
                     search(a, q, k=10).collect()]
            got_b = [(r["doc_id"], round(r["score"], 9)) for r in
                     search(b, q, k=10).collect()]
            assert got_a == got_b, q.raw

    def test_deep_fsck_green_after_history(self, spark, soaked):
        mutated, _ = soaked
        rep = {r["check"]: r for r in
               verify_index(spark, mutated, deep=True).collect()}
        bad = {k: (v["status"], v["detail"]) for k, v in rep.items()
               if v["status"] == "fail"}
        assert not bad, bad

    def test_no_leftover_mutation_state(self, spark, soaked):
        """Tombstones and the lifecycle's staged and aside dirs are all
        consumed — nothing for the next cycle to trip over."""
        import os

        from pg_ts_semantic_headline_spark import lifecycle
        mutated, _ = soaked
        for sub in ("_tombstones", lifecycle.STAGED, lifecycle.ASIDE):
            assert not os.path.exists(os.path.join(mutated, sub)), sub
