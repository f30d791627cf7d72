"""Property-based tests (hypothesis): randomized inputs against
independent reference implementations.

Two layers, cheapest first:
- analyze properties: the engine-wide position-alignment invariant
  (token i <-> lexeme i, `problems/exact_matches.md:306-329`) holds for
  arbitrary unicode input (pure driver);
- matcher properties: phrase matching and boolean percolation over
  randomized corpora+queries equal a naive pure-Python evaluator written
  directly from the Phrase/Node semantics (one Spark action per example,
  small example budgets).
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pg_ts_semantic_headline_spark.functions.lexize import analyze_document
from pg_ts_semantic_headline_spark.plans.query_compiler import (
    Node, phraseto_tspquery, to_tspquery)

# ---------------------------------------------------------------- analyze

text_strategy = st.text(
    alphabet=st.characters(codec="utf-8",
                           exclude_categories=("Cs",)),  # no lone surrogates
    max_size=120)


class TestAnalyzeProperties:
    @given(text_strategy, st.sampled_from(
        ["simple", "english", "german", "french", "spanish"]))
    @settings(max_examples=250, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_position_alignment(self, text, config):
        """The invariant the whole engine hangs on: tokens and lexemes are
        position-aligned 1:1, tokens are space-free and non-empty."""
        tokens, lexemes = analyze_document(text, config)
        assert len(tokens) == len(lexemes)
        for t in tokens:
            assert t != "" and " " not in t
        for lx in lexemes:
            assert lx is None or lx != ""

    @given(st.lists(st.sampled_from(
        ["spark", "merge", "window", "batch", "Sort", "QUERY"]),
        min_size=1, max_size=6))
    @settings(max_examples=50, deadline=None)
    def test_phrase_compile_matches_analysis(self, words):
        """phraseto_tspquery over plain words yields one phrase whose
        lexemes equal the analyzed stream at the same relative offsets."""
        text = " ".join(words)
        q = phraseto_tspquery("simple", text)
        assert len(q.phrases) == 1
        _, lexemes = analyze_document(text, "simple")
        expect = tuple((lx, i + 1) for i, lx in enumerate(lexemes)
                       if lx is not None)
        assert q.phrases[0].items == expect

    @given(st.lists(st.sampled_from(
        ["spark", "merge", "window", "batch", "sort", "query"]),
        min_size=1, max_size=5))
    @settings(max_examples=50, deadline=None)
    def test_render_reparse_roundtrip(self, words):
        """Phrase.render() emits valid tsquery text that reparses to the
        identical phrase (the rendered form is stored in match tables)."""
        ph = phraseto_tspquery("simple", " ".join(words)).phrases[0]
        q2 = to_tspquery("simple", ph.render())
        assert len(q2.phrases) == 1
        assert q2.phrases[0].items == ph.items


# ------------------------------------------------- randomized query trees

VOCAB = ["aa", "bb", "cc", "dd", "ee"]


@st.composite
def query_strings(draw, depth=0):
    """Well-formed tsquery text over a tiny vocab: lexemes, & | !, <->/<n>
    phrases, parens."""
    if depth >= 3 or draw(st.booleans()):
        n = draw(st.integers(min_value=1, max_value=3))
        words = draw(st.lists(st.sampled_from(VOCAB), min_size=n,
                              max_size=n))
        if n == 1:
            return words[0]
        ops = draw(st.lists(st.sampled_from(["<->", "<2>", "<3>"]),
                            min_size=n - 1, max_size=n - 1))
        out = [words[0]]
        for op, w in zip(ops, words[1:]):
            out += [op, w]
        return " ".join(out)
    op = draw(st.sampled_from(["&", "|"]))
    left = draw(query_strings(depth=depth + 1))
    right = draw(query_strings(depth=depth + 1))
    neg = draw(st.booleans())
    rhs = f"!({right})" if neg else f"({right})"
    return f"({left}) {op} {rhs}"


def naive_phrase_occurrences(lexemes, phrase):
    """All (start, end) occurrences of a Phrase in a 1-based lexeme array,
    written directly from the Phrase semantics (lexeme at relative
    position p ⇒ absolute range_start + p - 1)."""
    out = []
    n = len(lexemes)
    if not phrase.items:
        return out
    maxp = max(p for _, p in phrase.items)
    for start in range(1, n - maxp + 2):
        if all(lexemes[start + p - 2] == lx for lx, p in phrase.items):
            out.append((start, start + maxp - 1))
    return out


def naive_eval(node, lexemes):
    if node is None:
        return False
    if node.op == "phrase":
        return bool(naive_phrase_occurrences(lexemes, node.phrase))
    if node.op == "and":
        return all(naive_eval(c, lexemes) for c in node.children)
    if node.op == "or":
        return any(naive_eval(c, lexemes) for c in node.children)
    if node.op == "not":
        return not naive_eval(node.children[0], lexemes)
    raise AssertionError(node.op)


@pytest.fixture(scope="module")
def corpus_docs(spark):
    """30 deterministic random docs over the tiny vocab, analyzed once."""
    import random

    from pg_ts_semantic_headline_spark.plans.analyze import with_analysis

    rng = random.Random(1234)
    rows = [(i, " ".join(rng.choice(VOCAB)
                         for _ in range(rng.randint(0, 12))))
            for i in range(30)]
    df = with_analysis(spark.createDataFrame(rows, ["doc_id", "content"]),
                       "content", "simple").cache()
    df.count()
    lex = {r["doc_id"]: list(r["lexemes"]) for r in df.collect()}
    return df, lex


class TestMatcherProperties:
    """Engine vs naive evaluator on randomized corpora+queries. Example
    budgets are small: each example is a Spark action."""

    @given(st.lists(st.sampled_from(VOCAB), min_size=1, max_size=3))
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    def test_phrase_matches_equal_naive(self, corpus_docs, words):
        from pg_ts_semantic_headline_spark.plans.matches import (
            tsp_query_matches)

        df, lex = corpus_docs
        q = phraseto_tspquery("simple", " ".join(words))
        got = {(r["doc_id"], r["start_pos"], r["end_pos"])
               for r in tsp_query_matches(df, q, match_limit=1000).collect()}
        want = {(doc, s, e)
                for doc, lxs in lex.items()
                for s, e in naive_phrase_occurrences(lxs, q.phrases[0])}
        assert got == want

    @given(query_strings())
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    def test_percolate_equals_naive_boolean_eval(self, corpus_docs, qtext):
        from pg_ts_semantic_headline_spark.streaming import percolate

        df, lex = corpus_docs
        q = to_tspquery("simple", qtext)
        got = {r["doc_id"] for r in
               percolate(df.select("doc_id", F.col("content")), {"q0": q},
                         config="simple").collect()}
        want = {doc for doc, lxs in lex.items() if naive_eval(q.root, lxs)}
        assert got == want


# --------------------------------------------------------------- chunking

def naive_chunks(text, chunk_tokens, overlap):
    """Reference chunker written directly from the documented contract."""
    toks = text.split() if text else []
    n = len(toks)
    if n == 0:
        return []
    stride = chunk_tokens - overlap
    starts = [s for s in range(0, n, stride)
              if s == 0 or s < n - overlap]
    return [(cid, s, min(chunk_tokens, n - s),
             " ".join(toks[s:s + chunk_tokens]))
            for cid, s in enumerate(starts)]


class TestChunkingProperties:
    """chunk_documents vs the naive chunker on randomized ASCII docs.
    Alphabet stays ASCII (letters + space/tab/newline) so Java's \\s and
    Python's str.split agree on what separates tokens."""

    @given(st.lists(st.text(alphabet=" \t\nabcdefgh", max_size=60),
                    min_size=1, max_size=8),
           st.integers(min_value=1, max_value=9),
           st.integers(min_value=0, max_value=8))
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture,
                                     HealthCheck.too_slow])
    def test_chunks_equal_naive(self, spark, texts, chunk_tokens, overlap):
        from pg_ts_semantic_headline_spark.operators.chunking import (
            chunk_documents)

        if overlap >= chunk_tokens:
            overlap = chunk_tokens - 1
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "doc_id long, text string")
        got = {(r["doc_id"], r["chunk_id"], r["start_token"],
                r["n_tokens"], r["chunk_text"])
               for r in chunk_documents(df, chunk_tokens, overlap).collect()}
        want = {(i, cid, s, nt, ct)
                for i, t in enumerate(texts)
                for cid, s, nt, ct in naive_chunks(t, chunk_tokens, overlap)}
        assert got == want


# --------------------------------------------------- trigram soundness law

class TestTrigramRegexSoundness:
    """The law candidate pruning rests on: for ANY pattern and ANY text
    the pattern matches, every required trigram is in the text's trigram
    set — so index pruning can never drop a true match. Fuzzed over a
    regex-fragment grammar that includes the escape forms the extractor
    special-cases (\\n-style literals, class escapes, escaped
    punctuation, operand-consuming escapes)."""

    fragment = st.one_of(
        st.text(alphabet="abcxyz012 ", min_size=1, max_size=6),
        st.sampled_from([r"\n", r"\t", r"\d", r"\w", r"\s", r"\.",
                         r"\x41", r"\\", "[ab]", "(xy)+", "x?", "y*",
                         "z{1,2}", ".", "x+"]),
    )

    @given(st.lists(fragment, min_size=1, max_size=6))
    @settings(max_examples=300, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_required_trigrams_subset_of_any_match(self, frags):
        import re as _re
        import random as _random

        from pg_ts_semantic_headline_spark.operators.trigram import (
            regex_required_trigrams, text_trigrams)

        pattern = "".join(frags)
        try:
            rx = _re.compile(pattern)
        except _re.error:
            return  # invalid pattern: extractor output is irrelevant
        req = set(regex_required_trigrams(pattern))
        # exercise the law against texts the pattern actually matches:
        # random padding around a directly generated witness when one
        # exists (re module can generate via matching the pattern itself)
        rng = _random.Random(42)
        candidates = []
        for pad in ["", " qq ", "zz", "\n"]:
            for core in [pattern, "abc x41 ab xy xyz 012"]:
                txt = pad + core + pad
                if rx.search(txt):
                    candidates.append(txt)
        # plus brute-force random texts (covers patterns whose own
        # source text doesn't match them)
        alphabet = "abcxyz012 .\n\tA"
        for _ in range(40):
            txt = "".join(rng.choice(alphabet) for _ in range(20))
            if rx.search(txt):
                candidates.append(txt)
        for txt in candidates:
            assert req <= text_trigrams(txt), (pattern, txt, req)


# ------------------------------------------------------ WARC round-trip

class TestWarcRoundTrip:
    """Serialize random records per the spec, parse, compare — the parser
    must recover every record exactly even when bodies contain header
    separators (\\r\\n\\r\\n), WARC/ version strings, or empty payloads
    (Content-Length delimits records; resync-by-pattern would corrupt)."""

    body = st.binary(max_size=300) | st.sampled_from([
        b"", b"\r\n\r\nWARC/1.0\r\n", b"x" * 200,
        "unicode snowman ☃ body".encode()])

    @given(st.lists(st.tuples(st.integers(0, 10**9), body),
                    min_size=1, max_size=8))
    @settings(max_examples=150, deadline=None)
    def test_roundtrip(self, recs):
        from pg_ts_semantic_headline_spark.sources.readers import (
            parse_warc_bytes)

        blob = b""
        for i, (rid, payload) in enumerate(recs):
            hdr = (f"WARC/1.0\r\n"
                   f"WARC-Type: response\r\n"
                   f"WARC-Record-ID: <urn:x:{rid}-{i}>\r\n"
                   f"WARC-Target-URI: http://e/{i}\r\n"
                   f"Content-Type: application/http; msgtype=response\r\n"
                   f"Content-Length: {len(payload)}\r\n"
                   f"\r\n").encode()
            blob += hdr + payload + b"\r\n\r\n"
        got = list(parse_warc_bytes(blob, "seg"))
        assert len(got) == len(recs)
        for i, ((rid, payload), rec) in enumerate(zip(recs, got)):
            assert rec[1] == f"<urn:x:{rid}-{i}>"
            assert rec[6] == payload, i
            assert rec[5] == len(payload)


class TestWebsearchNeverRaises:
    """PG's websearch_to_tsquery contract: ANY input string is a valid
    query — no parse error exists. Also: the compiled query's positive
    phrases must all survive a render/phrase_table round, and negated
    units never leak into the highlight set."""

    text = st.text(max_size=120) | st.text(
        alphabet='"-or()<>&|! \t\nabcé', max_size=120)

    @given(text)
    @settings(max_examples=400, deadline=None)
    def test_never_raises_and_invariants(self, s):
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            websearch_to_tspquery)

        q = websearch_to_tspquery("english", s)
        # phrase table rows are well-formed for whatever came out
        for pid, lex, pos, plen, pspan, rendered in q.phrase_table():
            assert lex and pos >= 1 and plen >= 1 and pspan >= 0
            assert rendered.startswith("'")
        # every positive lexeme is consistent with the phrase set
        from_phrases = {lx for ph in q.phrases for lx, _ in ph.items}
        assert set(q.lexemes) == from_phrases


# -------------------------------------------------------------- ts_rewrite

@st.composite
def boolean_query_strings(draw, depth=0):
    """Boolean-only tsquery text (single-lexeme leaves, no <->/<n>), so
    term-renaming is a semantics-preserving transform: multi-word phrases
    are atomic under ts_rewrite and would break the renaming property."""
    if depth >= 3 or draw(st.booleans()):
        return draw(st.sampled_from(VOCAB))
    op = draw(st.sampled_from(["&", "|"]))
    left = draw(boolean_query_strings(depth=depth + 1))
    right = draw(boolean_query_strings(depth=depth + 1))
    rhs = f"!({right})" if draw(st.booleans()) else f"({right})"
    return f"({left}) {op} {rhs}"


class TestTsRewriteProperties:
    """ts_rewrite invariants on randomized trees (pure driver, no Spark).
    The naive evaluator is the same one the matcher properties use, so
    these pin the REWRITE's semantics, not just its shape."""

    def _key(self, q):
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            _canon_key)
        return None if q.root is None else _canon_key(q.root)

    @given(query_strings(), query_strings())
    @settings(max_examples=100, deadline=None)
    def test_identity_rule_is_noop(self, qtext, ttext):
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            ts_rewrite)
        q = to_tspquery("simple", qtext)
        t = to_tspquery("simple", ttext)
        assert self._key(ts_rewrite(q, [(t, t)])) == self._key(q)

    @given(query_strings(), query_strings())
    @settings(max_examples=100, deadline=None)
    def test_whole_query_target_replaces_everything(self, qtext, stext):
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            ts_rewrite)
        q = to_tspquery("simple", qtext)
        s = to_tspquery("simple", stext)
        assert self._key(ts_rewrite(q, [(q, s)])) == self._key(s)

    @given(query_strings())
    @settings(max_examples=100, deadline=None)
    def test_foreign_target_is_noop(self, qtext):
        # the target's leaf ('zz') appears nowhere in the query, so no
        # subtree — and no AND/OR operand subset — can match it
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            ts_rewrite)
        q = to_tspquery("simple", qtext)
        t = to_tspquery("simple", "zz")
        s = to_tspquery("simple", "aa | zz")
        assert self._key(ts_rewrite(q, [(t, s)])) == self._key(q)

    @given(boolean_query_strings(),
           st.lists(st.sampled_from(VOCAB), min_size=0, max_size=10))
    @settings(max_examples=100, deadline=None)
    def test_term_rename_preserves_semantics(self, qtext, doc):
        # rewriting leaf 'aa' -> fresh term 'zz' must evaluate, on the
        # correspondingly renamed document, exactly like the original
        # query on the original document
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            ts_rewrite)
        q = to_tspquery("simple", qtext)
        rule = (to_tspquery("simple", "aa"), to_tspquery("simple", "zz"))
        rewritten = ts_rewrite(q, [rule])
        renamed_doc = ["zz" if w == "aa" else w for w in doc]
        assert naive_eval(rewritten.root, renamed_doc) == \
            naive_eval(q.root, doc)

    @given(boolean_query_strings())
    @settings(max_examples=100, deadline=None)
    def test_delete_rule_drops_every_occurrence(self, qtext):
        # after 'aa' -> empty, no leaf of the result is 'aa'
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            empty_tspquery, ts_rewrite)
        q = to_tspquery("simple", qtext)
        out = ts_rewrite(q, [(to_tspquery("simple", "aa"),
                              empty_tspquery("simple"))])

        def leaves(node):
            if node is None:
                return
            if node.op == "phrase":
                yield from (lx for lx, _ in node.phrase.items)
            else:
                for c in node.children:
                    yield from leaves(c)

        assert "aa" not in set(leaves(out.root))


class TestTsqueryUtilityProperties:
    """Driver-side tsquery utility invariants over generated queries."""

    @given(query_strings())
    @settings(max_examples=120, deadline=None)
    def test_render_roundtrip_fixpoint(self, qs):
        # compile -> render -> compile is a fixpoint: the rendered text
        # parses back to a tree that renders identically
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            render_tspquery, to_tspquery)
        q1 = to_tspquery("simple", qs)
        r1 = render_tspquery(q1.root)
        q2 = to_tspquery("simple", r1)
        assert render_tspquery(q2.root) == r1

    @given(query_strings())
    @settings(max_examples=120, deadline=None)
    def test_querytree_is_positive_subset(self, qs):
        # the index-usable part never mentions a lexeme outside the query,
        # never contains a negation, and parses as a valid query
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            querytree, to_tspquery)
        q = to_tspquery("simple", qs)
        t = querytree(q)
        if t == "T":
            return
        qt = to_tspquery("simple", t)
        assert "!" not in t
        assert set(qt.lexemes) <= set(q.lexemes)

    @given(query_strings())
    @settings(max_examples=120, deadline=None)
    def test_numnode_bounds(self, qs):
        # numnode counts every lexeme occurrence plus >= 0 operators and
        # is bounded by 2*lexemes-1 per phrase + group operators
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            numnode, to_tspquery)
        q = to_tspquery("simple", qs)
        n_lex = sum(ph.length for ph in _all_tree_phrases(q.root))
        n = numnode(q)
        assert n >= n_lex
        assert n <= 2 * n_lex + _count_groups(q.root)

    @given(query_strings())
    @settings(max_examples=60, deadline=None)
    def test_querytree_matches_imply_query_relevance(self, qs):
        # semantic property behind PG's clean_NOT: on any doc, if the
        # ORIGINAL query matches, the positive part must also match
        # (querytree only widens) — checked with the naive evaluator
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            querytree, to_tspquery)
        import itertools
        q = to_tspquery("simple", qs)
        t = querytree(q)
        if t == "T" or q.root is None:
            return
        qt = to_tspquery("simple", t)
        for doc in itertools.product(VOCAB + [None], repeat=3):
            lexemes = [w for w in doc]
            if naive_eval(q.root, lexemes):
                assert naive_eval(qt.root, lexemes), (qs, t, lexemes)


def _all_tree_phrases(node):
    if node is None:
        return []
    if node.op == "phrase":
        return [node.phrase]
    out = []
    for c in node.children:
        out.extend(_all_tree_phrases(c))
    return out


def _count_groups(node):
    if node is None or node.op == "phrase":
        return 0
    if node.op == "not":
        return 1 + _count_groups(node.children[0])
    return (len(node.children) - 1
            + sum(_count_groups(c) for c in node.children))


class TestPlaintoNeverRaises:
    """plainto_tsquery contract: ANY input is a valid query — operators are
    punctuation; the tree is None, one single-lexeme phrase, or an AND of
    single-lexeme phrases, and it agrees with the analyzer's lexemes."""

    text = st.text(max_size=120) | st.text(
        alphabet='"-or()<>&|! \t\nabcé:*0123', max_size=120)

    @given(text, st.sampled_from(["simple", "english", "german"]))
    @settings(max_examples=300, deadline=None)
    def test_never_raises_and_shape(self, s, config):
        from pg_ts_semantic_headline_spark.functions.lexize import (
            analyze_text_simple)
        from pg_ts_semantic_headline_spark.functions.unaccent import unaccent
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            plainto_tspquery)

        q = plainto_tspquery(config, s)
        expected = [lx for lx in analyze_text_simple(unaccent(s), config)
                    if lx is not None]
        if not expected:
            assert q.root is None and q.phrases == ()
            return
        nodes = (q.root,) if q.root.op == "phrase" else q.root.children
        assert all(n.op == "phrase" and n.phrase.length == 1 for n in nodes)
        assert [n.phrase.items[0][0] for n in nodes] == expected


class TestTsDebugAgreesWithAnalyzer:
    """ts_debug is a VIEW of the same pipeline analyze_document runs:
    row-for-row, its lexemes column must reproduce the analyzer's lexeme
    stream (single lexeme, or None for stopword/blank holes)."""

    @given(text_strategy, st.sampled_from(["simple", "english", "german"]))
    @settings(max_examples=300, deadline=None)
    def test_rowwise_agreement(self, text, config):
        from pg_ts_semantic_headline_spark.functions.lexize import (
            analyze_document, ts_debug)

        tokens, lexemes = analyze_document(text, config)
        rows = ts_debug(config, text)
        assert [r["token"] for r in rows] == tokens
        got = [r["lexemes"][0] if r["lexemes"] else None for r in rows]
        assert got == lexemes


class TestPrefixQueryProperties:
    """Properties of the ':*' prefix-slot machinery (round-4 feature)."""

    @given(st.lists(st.sampled_from(
        ["spark", "merge:*", "window", "'sort':*", "batch:*", "query"]),
        min_size=1, max_size=5),
        st.sampled_from(["&", "|", "<->"]))
    @settings(max_examples=80, deadline=None)
    def test_compile_marks_only_starred_slots(self, words, op):
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            to_tspquery)
        q = to_tspquery("simple", f" {op} ".join(words))
        starred = {w.split(":")[0].strip("'") for w in words
                   if w.endswith(":*")}
        marked = {lex for ph in q.phrases
                  for lex, pos in ph.items if pos in ph.prefix_slots}
        plain = {lex for ph in q.phrases
                 for lex, pos in ph.items if pos not in ph.prefix_slots}
        assert marked == starred
        # a lexeme is starred exactly where written, never leaks to
        # neighboring slots
        assert plain == {w.strip("'") for w in words
                         if not w.endswith(":*")}
        assert q.has_prefixes == bool(starred)

    @given(st.text(
        alphabet="ab c&|!()<>:*'\"-12", min_size=0, max_size=24))
    @settings(max_examples=300, deadline=None)
    def test_compile_never_raises_except_parse_error(self, text):
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            TSQueryParseError, to_tspquery)
        try:
            q = to_tspquery("simple", text)
        except TSQueryParseError:
            return  # loud parse errors are the contract
        # compiled queries always expose a consistent surface
        for ph in q.phrases:
            positions = [p for _, p in ph.items]
            assert all(s in positions for s in ph.prefix_slots)
            ph.render()  # never raises
