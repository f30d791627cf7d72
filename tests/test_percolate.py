"""Percolation: standing queries over document batches and streams.

The expected sets come from an INDEPENDENT pure-Python evaluator
(re-implemented here from the alignment semantics, not shared with the
engine), so a bug in the plan cannot hide in its own oracle.
"""

import pytest
from pyspark.sql import functions as F

from pg_ts_semantic_headline_spark.functions.lexize import analyze_document
from pg_ts_semantic_headline_spark.plans.query_compiler import (
    phraseto_tspquery, to_tspquery)
from pg_ts_semantic_headline_spark.streaming import (percolate,
                                                     percolate_stream)

CONFIG = "english"

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a needle hidden in the haystack near the spark engine"),
    (3, "spark queries run fast when the needle is indexed"),
    (4, "the lazy dog sleeps all day"),
    (5, "quick brown foxes are rare in these parts"),
    (6, "nothing relevant here at all"),
    (7, "fox hunting was banned years ago"),
    (8, "the spark of an idea, hidden like a needle"),
    (9, "brown bears and quick rabbits share the forest"),
    (10, "fox and dog play but the dog is not lazy today"),
]

QUERIES = {
    "q_and": lambda: to_tspquery(CONFIG, "needle & spark"),
    "q_phrase": lambda: phraseto_tspquery(CONFIG, "quick brown fox"),
    "q_not": lambda: to_tspquery(CONFIG, "fox & !lazy"),
    "q_or": lambda: to_tspquery(CONFIG, "haystack | forest"),
    "q_none": lambda: to_tspquery(CONFIG, "zebra & quagga"),
}


def _has_phrase(lexemes, items):
    """Exact positional occurrence test, 1-based positions, stopword gaps
    unchecked — independent re-statement of the alignment contract."""
    for start in range(1, len(lexemes) + 2):
        ok = True
        for lex, rel in items:
            idx = start + rel - 2          # both 1-based -> 0-based doc idx
            if idx < 0 or idx >= len(lexemes) or lexemes[idx] != lex:
                ok = False
                break
        if ok:
            return True
    return False


def _eval_tree(node, lexemes):
    if node is None:
        return False
    if node.op == "phrase":
        return _has_phrase(lexemes, node.phrase.items)
    if node.op == "not":
        return not _eval_tree(node.children[0], lexemes)
    vals = [_eval_tree(c, lexemes) for c in node.children]
    return all(vals) if node.op == "and" else any(vals)


def expected_matches(queries):
    out = set()
    for doc_id, text in DOCS:
        _, lexemes = analyze_document(text, CONFIG)
        for qid, q in queries.items():
            if _eval_tree(q.root, lexemes):
                out.add((doc_id, qid))
    return out


@pytest.fixture(scope="module")
def queries():
    return {qid: make() for qid, make in QUERIES.items()}


class TestPercolateBatch:
    def test_matches_independent_evaluator(self, spark, queries):
        docs = spark.createDataFrame(DOCS, ["doc_id", "content"])
        got = {(r["doc_id"], r["query_id"])
               for r in percolate(docs, queries, config=CONFIG).collect()}
        want = expected_matches(queries)
        assert got == want
        # the fixture corpus must actually exercise every operator shape
        assert any(q == "q_and" for _, q in want)
        assert any(q == "q_phrase" for _, q in want)
        assert any(q == "q_not" for _, q in want)
        assert any(q == "q_or" for _, q in want)
        assert not any(q == "q_none" for _, q in want)

    def test_not_matches_phraseless_doc(self, spark, queries):
        """A pure negation must match a doc containing NO query lexeme."""
        qs = {"q_neg_only": to_tspquery(CONFIG, "!fox")}
        docs = spark.createDataFrame(DOCS, ["doc_id", "content"])
        got = {r["doc_id"] for r in
               percolate(docs, qs, config=CONFIG).collect()}
        want = {d for d, text in DOCS
                if _eval_tree(qs["q_neg_only"].root,
                              analyze_document(text, CONFIG)[1])}
        assert got == want
        assert 6 in got  # the no-relevant-lexeme doc

    def test_pre_analyzed_input(self, spark, queries):
        from pg_ts_semantic_headline_spark.plans.analyze import with_analysis
        docs = with_analysis(
            spark.createDataFrame(DOCS, ["doc_id", "content"]),
            "content", CONFIG)
        got = {(r["doc_id"], r["query_id"])
               for r in percolate(docs, queries).collect()}
        assert got == expected_matches(queries)

    def test_empty_registry(self, spark):
        docs = spark.createDataFrame(DOCS, ["doc_id", "content"])
        assert percolate(docs, {}, config=CONFIG).count() == 0

    def test_large_registry_switches_to_arrow(self, spark, queries):
        """A registry past CASE_CHAIN_MAX_QUERIES folds through the Arrow
        spec evaluator (a nested CASE's expression depth grows with the
        registry) and matches the independent evaluator; the known
        queries keep their exact sets."""
        from pg_ts_semantic_headline_spark.plans.matches import (
            CASE_CHAIN_MAX_QUERIES)
        big = dict(queries)
        n_filler = 72
        assert len(big) + n_filler > CASE_CHAIN_MAX_QUERIES
        for i in range(n_filler):
            # half match some docs (shared fixture lexemes), half never do
            txt = "fox & dog" if i % 2 == 0 else f"nosuchword{i}"
            big[f"f{i}"] = to_tspquery(CONFIG, txt)
        docs = spark.createDataFrame(DOCS, ["doc_id", "content"])
        got = {(r["doc_id"], r["query_id"]) for r in
               percolate(docs, big, config=CONFIG).collect()}
        assert got == expected_matches(big)


class TestPercolateStream:
    def test_stream_equals_batch(self, spark, queries, tmp_path):
        src = str(tmp_path / "incoming")
        half = len(DOCS) // 2
        spark.createDataFrame(DOCS[:half], ["doc_id", "content"]) \
            .write.mode("append").parquet(src)
        spark.createDataFrame(DOCS[half:], ["doc_id", "content"]) \
            .write.mode("append").parquet(src)
        stream = (spark.readStream.schema("doc_id long, content string")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        seen = []

        def on_batch(matches, batch_id):
            seen.extend((r["doc_id"], r["query_id"])
                        for r in matches.collect())

        q = (percolate_stream(stream, queries, on_batch, config=CONFIG)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert set(seen) == expected_matches(queries)
        assert len(seen) == len(set(seen))  # no doc double-percolated


class TestPatternPercolation:
    def test_substring_patterns_exact(self, spark):
        from pg_ts_semantic_headline_spark.streaming import (
            percolate_patterns)
        docs = spark.createDataFrame(
            [(0, "alpha merge join beta"),
             (1, "nothing relevant"),
             (2, "MERGE JOIN uppercase"),
             (3, "xy"),          # shorter than any trigram
             (4, None)],
            "doc_id long, text string")
        pats = {"p_mj": "merge join", "p_xy": "xy", "p_none": "zzzzz"}
        got = {(r["doc_id"], r["query_id"])
               for r in percolate_patterns(docs, pats).collect()}
        assert got == {(0, "p_mj"), (2, "p_mj"), (3, "p_xy")}

    def test_regex_patterns_exact(self, spark):
        from pg_ts_semantic_headline_spark.streaming import (
            percolate_patterns)
        docs = spark.createDataFrame(
            [(0, "merge    join spaced"), (1, "merge-join dashed"),
             (2, "mergejoin fused"), (3, "unrelated")],
            "doc_id long, text string")
        pats = {"r_ws": r"merge\s+join", "r_any": r"merge.join"}
        got = {(r["doc_id"], r["query_id"])
               for r in percolate_patterns(docs, pats,
                                           kind="regex").collect()}
        # "merge.join" needs exactly ONE char between the words:
        # only the dashed doc matches it
        assert got == {(0, "r_ws"), (1, "r_any")}

    def test_join_plan_identical_to_inline(self, spark, monkeypatch):
        """The 10^4-registry broadcast-join plan and the inline plan are
        result-identical on both kinds — including patterns with NO
        required trigram (p_xy / the alternation), which full-verify in
        both shapes. Each side is forced through PATTERNS_INLINE_MAX."""
        import importlib

        from pg_ts_semantic_headline_spark.streaming import (
            percolate_patterns)
        module = importlib.import_module(
            "pg_ts_semantic_headline_spark.streaming.percolate")

        def run(pats, kind, inline_max):
            monkeypatch.setattr(module, "PATTERNS_INLINE_MAX", inline_max)
            return {(r["doc_id"], r["query_id"]) for r in
                    percolate_patterns(docs, pats, kind=kind).collect()}

        docs = spark.createDataFrame(
            [(0, "alpha merge join beta"), (1, "nothing relevant"),
             (2, "MERGE JOIN uppercase"), (3, "xy"), (4, None),
             (5, "merge-join dashed"), (6, "alpha beta gamma")],
            "doc_id long, text string")
        cases = [
            ("substring", {"p_mj": "merge join", "p_xy": "xy",
                           "p_none": "zzzzz", "p_al": "alpha"}),
            ("regex", {"r_ws": r"merge\s+join", "r_any": r"merge.join",
                       "r_alt": r"alpha|uppercase"}),
        ]
        for kind, pats in cases:
            want = run(pats, kind, inline_max=len(pats))
            got = run(pats, kind, inline_max=0)
            assert got == want, kind
            assert want  # the fixture actually matches something

    def test_auto_switches_to_join_past_threshold(self, spark):
        from pg_ts_semantic_headline_spark.streaming import (
            percolate_patterns)
        from pg_ts_semantic_headline_spark.streaming.percolate import (
            PATTERNS_INLINE_MAX)
        docs = spark.createDataFrame(
            [(0, "alpha merge join beta"), (1, "nothing relevant")],
            "doc_id long, text string")
        pats = {"p_mj": "merge join"}
        for i in range(PATTERNS_INLINE_MAX + 20):
            pats[f"f{i}"] = f"nosuchsubstring{i}"
        got = {(r["doc_id"], r["query_id"]) for r in
               percolate_patterns(docs, pats).collect()}
        assert got == {(0, "p_mj")}

    def test_pattern_stream_matches_batch(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.streaming import (
            percolate_patterns, percolate_patterns_stream)
        rows = [(i, f"doc {i} merge join" if i % 3 == 0 else f"doc {i}")
                for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        src = str(tmp_path / "src")
        df.write.parquet(src)
        stream = spark.readStream.schema("doc_id long, text string") \
            .parquet(src)
        seen = []
        q = percolate_patterns_stream(
            stream, {"p": "merge join"},
            lambda m, _b: seen.extend(
                (r["doc_id"], r["query_id"]) for r in m.collect()))
        q.awaitTermination(120)
        want = {(r["doc_id"], r["query_id"]) for r in
                percolate_patterns(df, {"p": "merge join"}).collect()}
        assert set(seen) == want and want == {(i, "p")
                                              for i in range(0, 12, 3)}


class TestRegistryPersistence:
    """Restart contract: a registry saved before a 'restart' reloads to
    the SAME standing set — reloaded CompiledQuery objects compare equal
    and percolation matches are identical pre/post reload."""

    def test_query_registry_roundtrip_exact(self, spark, queries, tmp_path):
        from pg_ts_semantic_headline_spark.streaming import (
            load_query_registry, save_query_registry)
        path = str(tmp_path / "registry")
        save_query_registry(spark, queries, path)
        back = load_query_registry(spark, path)
        # frozen dataclasses -> structural equality covers config, raw,
        # the full boolean AST and the distinct-phrase list
        assert back == queries

    def test_restart_reload_equals_pre_restart_matches(
            self, spark, queries, tmp_path):
        from pg_ts_semantic_headline_spark.streaming import (
            load_query_registry, save_query_registry)
        path = str(tmp_path / "registry")
        docs = spark.createDataFrame(DOCS, ["doc_id", "content"])
        before = {(r["doc_id"], r["query_id"]) for r in
                  percolate(docs, queries, config=CONFIG).collect()}
        save_query_registry(spark, queries, path)
        resumed = load_query_registry(spark, path)   # the 'restart'
        after = {(r["doc_id"], r["query_id"]) for r in
                 percolate(docs, resumed, config=CONFIG).collect()}
        assert after == before == expected_matches(queries)

    def test_reload_does_not_relexize(self, spark, tmp_path):
        # the persisted tree is the COMPILED form: a lexeme that is not a
        # stemmer fixpoint must survive a save/load unchanged
        from pg_ts_semantic_headline_spark.streaming import (
            load_query_registry, save_query_registry)
        q = to_tspquery(CONFIG, "universe")  # english stem: 'univers'
        lex = q.phrases[0].items[0][0]
        path = str(tmp_path / "registry")
        save_query_registry(spark, {"q": q}, path)
        back = load_query_registry(spark, path)["q"]
        assert back.phrases[0].items[0][0] == lex
        assert back == q

    def test_pattern_registry_roundtrip(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.streaming import (
            load_pattern_registry, percolate_patterns,
            save_pattern_registry)
        pats = {"p_mj": "merge join", "p_fox": "fox"}
        path = str(tmp_path / "patterns")
        save_pattern_registry(spark, pats, path)
        assert load_pattern_registry(spark, path) == pats
        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        before = {(r["doc_id"], r["query_id"]) for r in
                  percolate_patterns(docs, pats).collect()}
        after = {(r["doc_id"], r["query_id"]) for r in
                 percolate_patterns(
                     docs, load_pattern_registry(spark, path)).collect()}
        assert after == before and before  # non-empty and identical
