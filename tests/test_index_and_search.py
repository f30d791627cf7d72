"""Index build + BM25 search tests against pure-Python oracles."""

import hashlib
import math
import random

import pytest
from pyspark.sql import functions as F

from pg_ts_semantic_headline_spark.functions.lexize import analyze_document
from pg_ts_semantic_headline_spark.plans.index_build import (
    B, K1, build_index, load_index)
from pg_ts_semantic_headline_spark.plans.query_compiler import (
    phraseto_tspquery, to_tspquery)
from pg_ts_semantic_headline_spark.plans.search import (
    bm25_topk, matching_docs, phrase_match_docs, search,
    search_with_headlines)

CONFIG = "simple"
VOCAB = ("spark index query batch stream merge sort join filter scan "
         "window hash shuffle column row table part key value data").split()


def make_corpus(n=60):
    rng = random.Random(42)
    docs = []
    for i in range(n):
        words = [VOCAB[min(int(rng.expovariate(0.35)), len(VOCAB) - 1)]
                 for _ in range(rng.randint(30, 120))]
        if i % 7 == 0:
            words[5:5] = ["needle", "phrase", "target"]
        if i == 13:
            words += ["unique", "snowflake"] * 3
        docs.append((i, " ".join(words)))
    return docs


@pytest.fixture(scope="module")
def corpus():
    return make_corpus()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    df = spark.createDataFrame(corpus, ["doc_id", "content"])
    build_index(spark, df, out, config=CONFIG, n_buckets=8)
    return load_index(spark, out)


@pytest.fixture(scope="module")
def lean_index(spark, corpus, tmp_path_factory):
    # the same corpus in the leanest physical layout: 2 term buckets and
    # one postings sort partition, so many terms share each bucket file
    out = str(tmp_path_factory.mktemp("idx_lean"))
    df = spark.createDataFrame(corpus, ["doc_id", "content"])
    build_index(spark, df, out, config=CONFIG, n_buckets=2,
                postings_partitions=1)
    return load_index(spark, out)


def python_postings(corpus):
    """Oracle: term -> {doc: [positions]} from the same analyzer."""
    post = {}
    dls = {}
    for doc_id, content in corpus:
        _, lexs = analyze_document(content, CONFIG)
        dls[doc_id] = sum(1 for x in lexs if x is not None)
        for pos, lex in enumerate(lexs, start=1):
            if lex is not None:
                post.setdefault(lex, {}).setdefault(doc_id, []).append(pos)
    return post, dls


def python_bm25(corpus, terms, k):
    post, dls = python_postings(corpus)
    n = len(corpus)
    avgdl = sum(dls.values()) / n
    scores = {}
    for t in terms:
        df = len(post.get(t, {}))
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for doc, poss in post[t].items():
            tf = len(poss)
            s = idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dls[doc] / avgdl))
            scores[doc] = scores.get(doc, 0.0) + s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


class TestIndexBuild:
    def test_df_cf_match_oracle(self, index, corpus):
        post, _ = python_postings(corpus)
        got = {r["term"]: (r["df"], r["cf"])
               for r in index.terms.collect()}
        want = {t: (len(d), sum(len(p) for p in d.values()))
                for t, d in post.items()}
        assert got == want

    def test_sha256_invariant(self, index, corpus):
        got = {r["doc_id"]: r["sha256"] for r in index.tokens.collect()}
        for doc_id, content in corpus:
            assert got[doc_id] == hashlib.sha256(content.encode()).hexdigest()

    def test_positions_match_oracle(self, index, corpus):
        post, _ = python_postings(corpus)
        rows = index.postings.where(F.col("term") == "needle").collect()
        got = {r["doc_id"]: list(r["positions"]) for r in rows}
        assert got == post["needle"]

    def test_resume_skips_completed_stages(self, spark, index, corpus):
        mani = spark.read.parquet(index.paths.manifest)
        before = mani.count()
        stages = {r["stage"] for r in mani.select("stage").distinct().collect()}
        assert stages == {"tokens", "postings", "terms"}
        df = spark.createDataFrame(corpus, ["doc_id", "content"])
        build_index(spark, df, index.paths.root, config=CONFIG,
                    n_buckets=8)  # same signature: no-op
        after = spark.read.parquet(index.paths.manifest).count()
        assert after == before


class TestBM25:
    @pytest.mark.parametrize("terms,k", [
        (["spark"], 5),
        (["spark", "query", "window"], 10),
        (["needle", "phrase"], 7),
        (["unique"], 3),
        (["doesnotexist"], 5),
        (["spark", "index", "batch", "merge"], 200),  # k > n_docs
    ])
    def test_exact_matches_python_oracle(self, index, corpus, terms, k):
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk(index, terms, k=k).collect()]
        want = python_bm25(corpus, terms, k)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert abs(gs - ws) < 1e-9


class TestSearch:
    def test_phrase_match_docs(self, index, corpus):
        q = phraseto_tspquery(CONFIG, "needle phrase target")
        got = {r["doc_id"] for r in phrase_match_docs(index, q).collect()}
        want = {doc_id for doc_id, _ in corpus if doc_id % 7 == 0}
        assert got == want

    def test_boolean_and_not(self, index, corpus):
        q = to_tspquery(CONFIG, "needle & !unique")
        got = {r["doc_id"] for r in matching_docs(index, q).collect()}
        post, _ = python_postings(corpus)
        want = set(post.get("needle", {})) - set(post.get("unique", {}))
        assert got == want

    def test_boolean_or(self, index, corpus):
        q = to_tspquery(CONFIG, "unique | snowflake")
        got = {r["doc_id"] for r in matching_docs(index, q).collect()}
        assert got == {13}

    def test_search_with_headlines(self, index):
        q = phraseto_tspquery(CONFIG, "needle phrase target")
        rows = search_with_headlines(index, q, k=3).collect()
        assert 0 < len(rows) <= 3
        for r in rows:
            assert "<b>needle phrase target</b>" in r["headline"]


def test_doc_keywords_indexed_equals_adhoc(spark, index, corpus):
    # the indexed form (tf from postings, df from the dictionary) must
    # reproduce the ad-hoc tokenize-and-count form under the simple
    # config, where the analyzer IS whitespace tokenization
    from pg_ts_semantic_headline_spark.operators.collocations import (
        doc_keywords, doc_keywords_indexed)
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    key = lambda r: (r["doc_id"], r["rank"])  # noqa: E731
    adhoc = [(r["doc_id"], r["term"], r["tf"], r["df"], r["rank"])
             for r in sorted(doc_keywords(df, top_n=4).collect(), key=key)]
    idxd = [(r["doc_id"], r["term"], r["tf"], r["df"], r["rank"])
            for r in sorted(doc_keywords_indexed(index, top_n=4).collect(),
                            key=key)]
    assert idxd == adhoc and len(idxd) == 60 * 4


class TestExplainScore:
    def test_breakdown_sums_to_bm25(self, index):
        from pg_ts_semantic_headline_spark.plans.search import explain_score
        terms = ["spark", "window"]
        full = {r["doc_id"]: r["score"] for r in
                bm25_topk(index, terms, k=10_000).collect()}
        rows = explain_score(index, terms).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
            # idf recomputed from the row's own df must match
            n = index.n_docs
            assert r["idf"] == pytest.approx(
                math.log(1 + (n - r["df"] + 0.5) / (r["df"] + 0.5)),
                rel=1e-12)
        assert set(by_doc) == set(full)
        for d, rs in by_doc.items():
            assert sum(r["term_score"] for r in rs) == \
                pytest.approx(full[d], rel=1e-9)
            for r in rs:
                assert r["doc_score"] == pytest.approx(full[d], rel=1e-9)

    def test_doc_ids_filter_and_empty_terms(self, spark, index):
        from pg_ts_semantic_headline_spark.plans.search import explain_score
        some = [r["doc_id"] for r in
                bm25_topk(index, ["spark"], k=3).collect()]
        rows = explain_score(index, ["spark"], doc_ids=some).collect()
        assert {r["doc_id"] for r in rows} == set(some)
        assert explain_score(index, []).count() == 0


class TestBatchSearch:
    def test_batch_rank_identical_to_per_query(self, index):
        from pg_ts_semantic_headline_spark.plans.search import bm25_topk_batch
        queries = {
            "q_a": ["spark", "query", "window"],
            "q_b": ["needle", "phrase", "target"],
            "q_c": ["unique"],
            "q_d": ["spark", "spark"],          # duplicate terms collapse
            "q_e": ["nosuchterm"],              # empty result set
        }
        batch = bm25_topk_batch(index, queries, k=7).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, terms in queries.items():
            got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            want = bm25_topk(index, terms, k=7).collect()
            assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
            for g, w in zip(got, want):
                assert abs(g["score"] - w["score"]) < 1e-9
            assert [r["rank"] for r in got] == list(range(1, len(want) + 1))

    def test_batch_single_scan_plan(self, index):
        # the whole workload must read postings ONCE: exactly one postings
        # FileScan in the physical plan regardless of query count
        from pg_ts_semantic_headline_spark.plans.search import bm25_topk_batch
        plan = (bm25_topk_batch(index, {"a": ["spark"], "b": ["merge"],
                                        "c": ["batch", "window"]}, k=5)
                ._jdf.queryExecution().executedPlan().toString())
        assert sum("postings" in ln and "FileScan" in ln
                   for ln in plan.splitlines()) == 1


def naive_holds(node, post, doc):
    """The boolean/phrase tree on one doc, straight from the oracle
    postings (term -> {doc: positions})."""
    if node is None:
        return False
    if node.op == "phrase":
        (l0, o0), *rest = node.phrase.items
        return any(all(p + o - o0 in post.get(lex, {}).get(doc, ())
                       for lex, o in rest)
                   for p in post.get(l0, {}).get(doc, ()))
    if node.op == "not":
        return not naive_holds(node.children[0], post, doc)
    sub = (naive_holds(c, post, doc) for c in node.children)
    return all(sub) if node.op == "and" else any(sub)


class TestBooleanEvaluator:
    """`matching_docs` and `search` evaluate the query tree per document
    on one pruned postings scan: both must equal the naive evaluator, and
    `search` must rank its matches exactly as BM25 over the match set."""

    QUERIES = [
        "spark & query",
        "needle & !unique",
        "batch & !unique",
        "unique | snowflake",
        "needle & phrase & target",
        "unique & needle | unique & spark",
        "needle<->phrase & spark",
        "zzznotfound & spark",                # absent term: empty
        "!unique",                            # universe branch
        "spark | !needle",                    # universe branch
        "needle <-> phrase <-> target & !(spark <-> spark)",
    ]

    def test_equal_naive_evaluator(self, index, corpus):
        post, _ = python_postings(corpus)
        ids = [d for d, _ in corpus]
        nonempty = 0
        for raw in self.QUERIES:
            q = to_tspquery(CONFIG, raw)
            want = {d for d in ids if naive_holds(q.root, post, d)}
            got = [r["doc_id"] for r in matching_docs(index, q).collect()]
            assert sorted(got) == sorted(want), raw
            # ranked: the matches holding a positive lexeme, scored as
            # BM25 over the query's positive lexemes
            ranked = {d for d in want
                      if any(d in post.get(t, {}) for t in q.lexemes)}
            full = python_bm25(corpus, list(q.lexemes), len(corpus))
            wanted = [(d, sc) for d, sc in full if d in ranked]
            hits = [(r["doc_id"], r["score"]) for r in
                    search(index, q, k=len(corpus)).collect()]
            assert [d for d, _ in hits] == [d for d, _ in wanted], raw
            for (_, gs), (_, ws) in zip(hits, wanted):
                assert gs == pytest.approx(ws, rel=1e-12), raw
            nonempty += bool(hits)
        assert nonempty >= 6
        assert matching_docs(
            index, to_tspquery(CONFIG, "zzznotfound & spark")).count() == 0


class TestBooleanShapes:
    """Query shapes with their own rules in the per-document evaluator,
    on a small english corpus (stopwords burn positions)."""

    DOCS = [(0, "deep deep learning models"),
            (1, "deep learning in the cloud"),
            (2, "learning of the deep networks"),
            (3, "cloud storage of the data"),
            (4, "networks only"),
            (5, "data in the cloud"),
            (6, "cloud data storage")]

    CASES = [
        # (query, matching_docs, ranked by search in order)
        ("deep <-> deep", {0}, [0]),
        # 'of' and 'the' are stopwords: storage <3> data
        (phraseto_tspquery("english", "storage of the data"), {3}, [3]),
        ("storage <2> data", set(), []),
        ("!network", {0, 1, 3, 5, 6}, []),
        ("learn | !network", {0, 1, 2, 3, 5, 6}, None),
        # doc 5 holds only the negated phrase's lexemes: it matches, but
        # search ranks nothing it holds
        ("learn | !(cloud <-> data)", {0, 1, 2, 3, 4, 5}, None),
        ("stor:*", {3, 6}, None),
        ("netw:* & !deep", {4}, [4]),
    ]

    @pytest.fixture(scope="class")
    def english_index(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("idx_shapes"))
        build_index(spark, spark.createDataFrame(
            self.DOCS, ["doc_id", "content"]), out, config="english",
            n_buckets=4)
        return load_index(spark, out)

    @pytest.mark.parametrize("case", range(len(CASES)))
    def test_shape(self, english_index, case):
        raw, want, ranked = self.CASES[case]
        q = raw if not isinstance(raw, str) else to_tspquery("english", raw)
        got = [r["doc_id"] for r in matching_docs(english_index, q).collect()]
        assert sorted(got) == sorted(want)
        hits = search(english_index, q, k=10).collect()
        # every ranked doc matches and holds a positive lexeme; the
        # scores are bm25_topk's over the matches
        pool = {r["doc_id"]: r["score"] for r in
                bm25_topk(english_index, q, k=10).collect()}
        wanted = [d for d, _ in sorted(pool.items(),
                                       key=lambda it: (-it[1], it[0]))
                  if d in want]
        assert [r["doc_id"] for r in hits] == wanted
        if ranked is not None:
            assert wanted == ranked
        for r in hits:
            assert r["score"] == pytest.approx(pool[r["doc_id"]], rel=1e-12)

    def test_duplicate_live_generations(self, spark, tmp_path):
        """`merge_batch(replace=False)` leaves two live rows of a doc_id.
        The doc matches a phrase when the positions of its live rows,
        merged, align, and each row scores. So doc 1 (resent unchanged)
        and doc 2 (one row holds the phrase) match `alpha <-> beta`,
        and so does doc 3, whose rows hold `alpha` at 1 and `beta` at 2
        between them."""
        from pg_ts_semantic_headline_spark.streaming import merge_batch

        out = str(tmp_path / "dup")
        base = [(1, "alpha beta gamma"), (2, "alpha beta"), (3, "alpha x"),
                (4, "zeta eta"), (5, "alpha beta theta")]
        build_index(spark, spark.createDataFrame(base, ["doc_id", "content"]),
                    out, config="simple", n_buckets=4)
        merge_batch(spark, out, spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha delta"), (3, "y beta")],
            ["doc_id", "content"]))
        idx = load_index(spark, out)
        q = to_tspquery("simple", "alpha <-> beta")
        assert sorted(r["doc_id"] for r in
                      matching_docs(idx, q).collect()) == [1, 2, 3, 5]
        pool = {r["doc_id"]: r["score"] for r in
                bm25_topk(idx, q, k=10).collect()}
        hits = search(idx, q, k=10).collect()
        assert [r["doc_id"] for r in hits] == [1, 2, 3, 5]
        for r in hits:
            assert r["score"] == pytest.approx(pool[r["doc_id"]], rel=1e-12)
        # and the boolean answer lists each doc once
        got = [r["doc_id"] for r in matching_docs(
            idx, to_tspquery("simple", "beta & !gamma")).collect()]
        assert sorted(got) == [2, 3, 5]


class TestXxHash64Parity:
    """The driver-side bucket router must be bit-identical to F.xxhash64 —
    a mismatch silently empties every query (wrong partition pruned)."""

    def test_matches_spark(self, spark):
        from pg_ts_semantic_headline_spark.functions.xxhash import xxhash64
        words = ["", "a", "ab", "abc", "def", "import", "Straße",
                 "ünïcode-tëst", "x" * 7, "x" * 8, "x" * 9, "x" * 31,
                 "y" * 32, "z" * 33, "w" * 100, "mixed 123 $%^"]
        rows = (spark.createDataFrame([(w,) for w in words], "t string")
                .select("t", F.xxhash64("t").alias("h")).collect())
        for r in rows:
            assert xxhash64(r["t"]) == r["h"], r["t"]

    def test_term_bucket_matches_spark(self, spark):
        from pg_ts_semantic_headline_spark.functions.xxhash import term_bucket
        words = ["alpha", "beta", "gamma", "delta", "the", "def"]
        rows = (spark.createDataFrame([(w,) for w in words], "t string")
                .select("t", F.pmod(F.xxhash64("t"), F.lit(32))
                        .cast("int").alias("b")).collect())
        for r in rows:
            assert term_bucket(r["t"], 32) == r["b"], r["t"]


class TestFusedAnalysisConsistency:
    """The index build derives postings from the fused analyze_index_udf;
    the ad-hoc query path derives positions from with_analysis lexemes.
    They must agree exactly, or index-path and ad-hoc-path results diverge."""

    def test_postings_match_lexeme_positions(self, spark):
        from pg_ts_semantic_headline_spark.plans.analyze import (
            analyze_index_udf, with_analysis)

        rows = [
            (1, "The quick-brown Fox, jumped over sixteen lazy dogs!"),
            (2, "Straße über da: naïve café — résumé's test."),
            (3, ""),
            (4, "batch batch batch window the window"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, content string")
        fused = (docs.withColumn("_a", analyze_index_udf(
            F.col("content"), F.lit("english")))
            .select("doc_id", F.col("_a.tokens").alias("tokens"),
                    F.col("_a.dl").alias("dl"),
                    F.col("_a.postings").alias("postings"))
            .collect())
        ref = with_analysis(docs, "content", "english").collect()

        ref_by_id = {r["doc_id"]: r for r in ref}
        for row in fused:
            r = ref_by_id[row["doc_id"]]
            assert row["tokens"] == r["tokens"], row["doc_id"]
            lexs = r["lexemes"] or []
            expected = {}
            for i, lx in enumerate(lexs):
                if lx is not None:
                    expected.setdefault(lx, []).append(i + 1)
            got = {p["term"]: list(p["positions"])
                   for p in (row["postings"] or [])}
            assert got == expected, row["doc_id"]
            tf = {p["term"]: p["tf"] for p in (row["postings"] or [])}
            assert tf == {t: len(ps) for t, ps in expected.items()}
            assert row["dl"] == sum(len(ps) for ps in expected.values())


def test_hybrid_search_rrf(spark, tmp_path):
    """RRF fusion equals a driver-side recompute from the two branches'
    rankings, with docs found by only one system still scored."""
    import random

    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)
    from pg_ts_semantic_headline_spark.plans.search import (
        bm25_topk, hybrid_search_rrf)
    from pg_ts_semantic_headline_spark.operators.similarity import (
        cosine_topk)

    docs = spark.createDataFrame(
        [(i, f"alpha doc{i} " + ("spark window " * (i % 4)))
         for i in range(30)], ["doc_id", "content"])
    idx_dir = str(tmp_path / "hidx")
    build_index(spark, docs, idx_dir, config="simple", n_buckets=4)
    index = load_index(spark, idx_dir)
    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(30)],
        ["vec_id", "embedding"])
    qv = emb.where("vec_id = 7").first()["embedding"]

    got = [(r["doc_id"], r["rrf_e4"]) for r in hybrid_search_rrf(
        index, ["spark", "window"], emb, qv, k=10, depth=15).collect()]

    lex = bm25_topk(index, ["spark", "window"], k=15).collect()
    lex_rank = {r["doc_id"]: i + 1 for i, r in enumerate(sorted(
        lex, key=lambda r: (-round(r["score"] * 1e4), r["doc_id"])))}
    vec = cosine_topk(emb, qv, k=15).collect()
    vec_rank = {r["vec_id"]: i + 1 for i, r in enumerate(sorted(
        vec, key=lambda r: (-round(r["cosine"] * 1e4), r["vec_id"])))}
    fused = {}
    for d in set(lex_rank) | set(vec_rank):
        s = (1.0 / (60 + lex_rank[d]) if d in lex_rank else 0.0) \
            + (1.0 / (60 + vec_rank[d]) if d in vec_rank else 0.0)
        fused[d] = round(s * 1e8)
    want = sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert got == want
    # at least one doc in the fused top-k from a single system only
    single = [d for d, _ in want
              if (d in lex_rank) != (d in vec_rank)]
    assert single, "test corpus produced no single-system doc; weaken it"


def test_hybrid_rrf_ann_branch(spark, tmp_path):
    """With an exact-behaving ANN handle (IVF probing all lists) the ANN
    branch must fuse identically to the brute-force branch."""
    import random

    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)
    from pg_ts_semantic_headline_spark.plans.search import (
        hybrid_search_rrf)
    from pg_ts_semantic_headline_spark.operators.similarity import (
        build_ivf_index, load_ivf_index)

    docs = spark.createDataFrame(
        [(i, f"beta doc{i} " + ("spark window " * (i % 3)))
         for i in range(20)], ["doc_id", "content"])
    idx_dir = str(tmp_path / "hidx2")
    build_index(spark, docs, idx_dir, config="simple", n_buckets=4)
    index = load_index(spark, idx_dir)
    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(20)],
        ["vec_id", "embedding"])
    ivf_dir = str(tmp_path / "hivf")
    build_ivf_index(emb, ivf_dir, n_lists=4, seed=1)
    ann = load_ivf_index(spark, ivf_dir)  # default nprobe=8 > n_lists: exact
    qv = emb.where("vec_id = 2").first()["embedding"]
    brute = [(r["doc_id"], r["rrf_e4"]) for r in hybrid_search_rrf(
        index, ["spark"], emb, qv, k=8, depth=12).collect()]
    via_ann = [(r["doc_id"], r["rrf_e4"]) for r in hybrid_search_rrf(
        index, ["spark"], emb, qv, k=8, depth=12, ann=ann).collect()]
    assert via_ann == brute


class TestSearchExtras:
    """facet_counts / more_like_this / fuzzy_bm25_topk vs Python oracles."""

    def _match_set(self, corpus, any_of, minus):
        post, _ = python_postings(corpus)
        docs = set()
        for t in any_of:
            docs |= set(post.get(t, {}))
        return docs - set(post.get(minus, {}))

    def test_facet_counts(self, spark, index, corpus):
        from collections import Counter

        from pg_ts_semantic_headline_spark.plans.search import facet_counts

        meta = spark.createDataFrame(
            [(i, "en" if i % 3 else "de", "web" if i % 2 else "code")
             for i, _ in corpus], ["doc_id", "lang", "source"])
        q = to_tspquery(CONFIG, "(needle | unique) & !snowflake")
        got = {(r["facet"], r["value"]): r["doc_count"]
               for r in facet_counts(index, q, meta, ["lang", "source"])
               .collect()}
        matched = self._match_set(corpus, ["needle", "unique"], "snowflake")
        assert 13 not in matched  # doc 13 has unique AND snowflake
        want = Counter()
        for d in matched:
            want[("lang", "en" if d % 3 else "de")] += 1
            want[("source", "web" if d % 2 else "code")] += 1
        assert got == dict(want)

    def test_facet_counts_requires_columns(self, spark, index):
        from pg_ts_semantic_headline_spark.plans.search import facet_counts
        q = to_tspquery(CONFIG, "needle")
        with pytest.raises(ValueError):
            facet_counts(index, q, spark.range(1), [])

    def test_top_per_facet_equals_filtered_full_ranking(self, spark, index,
                                                        corpus):
        from pg_ts_semantic_headline_spark.plans.search import top_per_facet
        meta = spark.createDataFrame(
            [(i, "en" if i % 3 else "de") for i, _ in corpus],
            ["doc_id", "lang"])
        terms = ["spark", "window"]
        full = bm25_topk(index, terms, k=10_000).collect()
        lang = {i: ("en" if i % 3 else "de") for i, _ in corpus}
        want = {}
        for r in full:
            fv = lang[r["doc_id"]]
            if len(want.setdefault(fv, [])) < 2:
                want[fv].append((r["doc_id"],
                                 pytest.approx(r["score"], rel=1e-12)))
        got = {}
        for r in sorted(top_per_facet(index, terms, meta, "lang",
                                      k=2).collect(),
                        key=lambda r: (r["facet_value"], r["rank"])):
            got.setdefault(r["facet_value"], []).append(
                (r["doc_id"], r["score"]))
            assert r["rank"] == len(got[r["facet_value"]])
        assert got == want
        assert set(got) == {"en", "de"}  # non-vacuous: both facets hit

    def test_more_like_this_matches_python(self, index, corpus):
        from collections import Counter

        from pg_ts_semantic_headline_spark.plans.search import more_like_this

        src = dict(corpus)[13]
        post, _ = python_postings(corpus)
        _, lexs = analyze_document(src, CONFIG)
        tf = Counter(l for l in lexs if l is not None)
        sel = sorted((t for t in tf if t in post),
                     key=lambda t: (-tf[t], len(post[t]), t))[:6]
        want = [(d, s) for d, s in python_bm25(corpus, sel, k=len(corpus))
                if d != 13][:10]
        got = more_like_this(index, src, k=10, max_terms=6,
                             exclude_doc_id=13).collect()
        assert [r["doc_id"] for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, rel=1e-9)

    def test_more_like_this_empty_source(self, index):
        from pg_ts_semantic_headline_spark.plans.search import more_like_this
        assert more_like_this(index, "", k=5).count() == 0

    def test_fuzzy_corrects_oov_word(self, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25_topk, fuzzy_bm25_topk)
        # 'wnidow' -> 'window' (trigram sim 3/11 >= 0.25); 'spark' is
        # in-vocabulary and must pass through unrewritten
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(index, ["spark", "window"], k=10).collect()]
        got = [(r["doc_id"], r["score"]) for r in
               fuzzy_bm25_topk(index, ["spark", "wnidow"], k=10).collect()]
        assert got == want

    def test_fuzzy_drops_hopeless_word(self, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25_topk, fuzzy_bm25_topk)
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(index, ["spark"], k=10).collect()]
        got = [(r["doc_id"], r["score"]) for r in
               fuzzy_bm25_topk(index, ["spark", "qqqxyzzz"], k=10).collect()]
        assert got == want

    def test_fuzzy_all_dropped_is_empty(self, index):
        from pg_ts_semantic_headline_spark.plans.search import fuzzy_bm25_topk
        assert fuzzy_bm25_topk(index, ["qqqxyzzz"], k=10).count() == 0


class TestPagingAndMltById:
    def test_more_like_this_by_id_equals_by_content(self, index, corpus):
        from pg_ts_semantic_headline_spark.plans.search import (
            more_like_this, more_like_this_by_id)
        src = dict(corpus)[13]
        by_ct = [(r["doc_id"], r["score"]) for r in
                 more_like_this(index, src, k=10, max_terms=6,
                                exclude_doc_id=13).collect()]
        by_id = [(r["doc_id"], r["score"]) for r in
                 more_like_this_by_id(index, 13, k=10,
                                      max_terms=6).collect()]
        assert by_id == by_ct

    def test_more_like_this_by_id_missing_doc(self, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            more_like_this_by_id)
        with pytest.raises(KeyError):
            more_like_this_by_id(index, 10_000)

    def test_pages_tile_the_full_ranking(self, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25_topk_paged)
        terms = ["spark", "window", "batch"]
        full = [r["doc_id"] for r in
                bm25_topk_paged(index, terms, k=1000).collect()]
        walked, cursor = [], None
        while True:
            page = bm25_topk_paged(index, terms, k=7, after=cursor).collect()
            if not page:
                break
            walked += [r["doc_id"] for r in page]
            cursor = (page[-1]["score"], page[-1]["doc_id"])
        assert walked == full and len(full) > 20

    def test_page_rerun_is_bit_identical(self, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25_topk_paged)
        terms = ["spark", "window", "batch"]
        p1 = bm25_topk_paged(index, terms, k=5).collect()
        cursor = (p1[-1]["score"], p1[-1]["doc_id"])
        a = [(r["doc_id"], r["score"]) for r in
             bm25_topk_paged(index, terms, k=5, after=cursor).collect()]
        b = [(r["doc_id"], r["score"]) for r in
             bm25_topk_paged(index, terms, k=5, after=cursor).collect()]
        assert a == b and len(a) == 5

    def test_paged_matches_python_oracle(self, index, corpus):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25_topk_paged)
        terms = ["spark", "window", "batch"]
        want = python_bm25(corpus, terms, k=100)
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk_paged(index, terms, k=100).collect()]
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, s), (_, w) in zip(got, want):
            assert s == pytest.approx(w, rel=1e-9)


def test_suggest_terms_multi_matches_per_word(index):
    from pg_ts_semantic_headline_spark.operators.trigram import (
        suggest_terms, suggest_terms_multi)
    words = ["wnidow", "sparkk", "qqqxyzzz", "batch"]
    multi = {r["word"]: (r["term"], r["similarity"]) for r in
             suggest_terms_multi(index.terms, words,
                                 threshold=0.25).collect()}
    for w in words:
        top = suggest_terms(index.terms, w, k=1, threshold=0.25).collect()
        if top:
            assert multi[w] == (top[0]["term"], top[0]["similarity"]), w
        else:
            assert w not in multi


def test_index_stats(index, corpus):
    from pg_ts_semantic_headline_spark.plans.index_build import index_stats
    row = index_stats(index).first()
    assert row["n_docs"] == len(corpus)
    assert row["n_terms"] > 0 and row["n_postings"] >= row["n_terms"]
    assert row["config"] == CONFIG and row["n_buckets"] == 8
    assert set(row.asDict()) == {"n_docs", "avgdl_e6", "n_terms",
                                 "n_postings", "n_buckets", "config", "gen"}


class TestBm25F:
    W = {"title": 2.0, "body": 1.0}

    def _docs(self):
        rng = random.Random(7)
        rows = []
        for i in range(40):
            title = " ".join(rng.choices(VOCAB, k=rng.randint(2, 5)))
            body = " ".join(rng.choices(VOCAB, k=rng.randint(20, 60)))
            rows.append((i, title, body))
        return rows

    def _python_bm25f(self, rows, terms, k):
        wtl = {}
        wtf = {}
        for i, title, body in rows:
            ft = [x for x in title.split(" ") if x]
            fb = [x for x in body.split(" ") if x]
            wtl[i] = 2.0 * len(ft) + 1.0 * len(fb)
            wtf[i] = {t: 2.0 * ft.count(t) + 1.0 * fb.count(t)
                      for t in terms}
        n = len(rows)
        avg = sum(wtl.values()) / n
        scores = {}
        for t in sorted(set(terms)):
            df = sum(1 for i in wtl if wtf[i][t] > 0)
            if df == 0:
                continue
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            for i in wtl:
                w = wtf[i][t]
                if w > 0:
                    s = idf * w * (K1 + 1) / (
                        w + K1 * (1 - B + B * wtl[i] / avg))
                    scores[i] = scores.get(i, 0.0) + s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]

    def test_matches_python_oracle(self, spark):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25f_topk_adhoc)
        rows = self._docs()
        df = spark.createDataFrame(rows, ["doc_id", "title", "body"])
        terms = ["spark", "window"]
        got = [(r["doc_id"], r["score"]) for r in
               bm25f_topk_adhoc(df, self.W, terms, k=15).collect()]
        want = self._python_bm25f(rows, terms, 15)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)

    def test_title_hit_outranks_body_hit(self, spark):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25f_topk_adhoc)
        # identical lengths; the only difference is WHERE the term sits
        df = spark.createDataFrame(
            [(1, "needle word", "filler text goes here now"),
             (2, "other words", "needle text goes here now")],
            ["doc_id", "title", "body"])
        got = [r["doc_id"] for r in
               bm25f_topk_adhoc(df, self.W, ["needle"], k=2).collect()]
        assert got == [1, 2]

    def test_unknown_term_only_is_empty(self, spark):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25f_topk_adhoc)
        df = spark.createDataFrame(
            [(1, "a b", "c d")], ["doc_id", "title", "body"])
        assert bm25f_topk_adhoc(df, self.W, ["zzz"], k=5).count() == 0


class TestFieldedBm25F:
    def test_indexed_equals_adhoc_bit_for_bit(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            bm25f_topk, build_fielded_index, load_fielded_index)
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25f_topk_adhoc)
        rows = TestBm25F()._docs()
        df = spark.createDataFrame(rows, ["doc_id", "title", "body"])
        d = str(tmp_path / "fidx")
        build_fielded_index(spark, df, d, ["title", "body"],
                            config="simple", n_buckets=4)
        fidx = load_fielded_index(spark, d)
        for weights in ({"title": 2.0, "body": 1.0},
                        {"title": 0.5, "body": 4.0}):
            got = [(r["doc_id"], r["score"]) for r in
                   bm25f_topk(fidx, weights, ["spark", "window"],
                              k=15).collect()]
            want = [(r["doc_id"], r["score"]) for r in
                    bm25f_topk_adhoc(df, weights, ["spark", "window"],
                                     k=15).collect()]
            assert got == want, weights   # bit-for-bit

    def test_unknown_field_raises(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            bm25f_topk, build_fielded_index, load_fielded_index)
        df = spark.createDataFrame([(1, "a b", "c d")],
                                   ["doc_id", "title", "body"])
        d = str(tmp_path / "fidx2")
        build_fielded_index(spark, df, d, ["title", "body"],
                            config="simple", n_buckets=2)
        fidx = load_fielded_index(spark, d)
        with pytest.raises(ValueError, match="unknown fields"):
            bm25f_topk(fidx, {"headline": 1.0}, ["a"])

    def test_scan_is_bucket_pruned(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            bm25f_topk, build_fielded_index, load_fielded_index)
        rows = TestBm25F()._docs()
        df = spark.createDataFrame(rows, ["doc_id", "title", "body"])
        d = str(tmp_path / "fidx3")
        build_fielded_index(spark, df, d, ["title", "body"],
                            config="simple", n_buckets=8)
        fidx = load_fielded_index(spark, d)
        plan = (bm25f_topk(fidx, {"title": 2.0, "body": 1.0}, ["spark"])
                ._jdf.queryExecution().executedPlan().toString())
        assert "PartitionFilters: [" in plan and "bucket" in plan


def test_fielded_bm25f_candidate_filter(spark, tmp_path):
    from pg_ts_semantic_headline_spark.plans.fielded import (
        bm25f_topk, build_fielded_index, load_fielded_index)
    rows = TestBm25F()._docs()
    df = spark.createDataFrame(rows, ["doc_id", "title", "body"])
    d = str(tmp_path / "fidx4")
    build_fielded_index(spark, df, d, ["title", "body"],
                        config="simple", n_buckets=4)
    fidx = load_fielded_index(spark, d)
    full = [(r["doc_id"], r["score"]) for r in
            bm25f_topk(fidx, {"title": 2.0, "body": 1.0},
                       ["spark", "window"], k=100).collect()]
    keep = {i for i, _, _ in rows if i % 2 == 0}
    cand = spark.createDataFrame([(i,) for i in keep], "doc_id long")
    got = [(r["doc_id"], r["score"]) for r in
           bm25f_topk(fidx, {"title": 2.0, "body": 1.0},
                      ["spark", "window"], k=100,
                      candidate_docs=cand).collect()]
    # exactly the even-id rows of the unfiltered ranking, same scores
    # (idf stays corpus-global under a filter)
    assert got == [(d_, s) for d_, s in full if d_ in keep]


class TestFieldedBatch:
    def _fidx(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            build_fielded_index, load_fielded_index)
        rows = TestBm25F()._docs()
        df = spark.createDataFrame(rows, ["doc_id", "title", "body"])
        d = str(tmp_path / "fidx_batch")
        build_fielded_index(spark, df, d, ["title", "body"],
                            config="simple", n_buckets=4)
        return load_fielded_index(spark, d)

    def test_batch_rank_identical_to_per_query(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            bm25f_topk, bm25f_topk_batch)
        fidx = self._fidx(spark, tmp_path)
        w = {"title": 2.0, "body": 1.0}
        queries = {
            "q_a": ["spark", "window"],
            "q_b": ["merge", "batch", "query"],
            "q_c": ["spark", "spark"],          # duplicate terms collapse
            "q_d": ["nosuchterm"],              # empty result set
        }
        batch = bm25f_topk_batch(fidx, w, queries, k=7).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, terms in queries.items():
            got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            want = bm25f_topk(fidx, w, terms, k=7).collect()
            assert [r["doc_id"] for r in got] == \
                [r["doc_id"] for r in want], qid
            for g, wv in zip(got, want):
                assert abs(g["score"] - wv["score"]) < 1e-9
            assert [r["rank"] for r in got] == list(range(1, len(want) + 1))

    def test_batch_single_scan_plan(self, spark, tmp_path):
        # the whole workload must read postings ONCE: the returned plan's
        # only file scan is the postings read (idf + query tables are
        # driver-built local relations), regardless of query count.
        # NB: match bare "FileScan" — toString truncates the Location
        # path, so "postings" may be cut out of the line.
        from pg_ts_semantic_headline_spark.plans.fielded import (
            bm25f_topk_batch)
        fidx = self._fidx(spark, tmp_path)
        plan = (bm25f_topk_batch(fidx, {"title": 2.0, "body": 1.0},
                                 {"a": ["spark"], "b": ["merge"],
                                  "c": ["batch", "window"]}, k=5)
                ._jdf.queryExecution().executedPlan().toString())
        assert sum("FileScan" in ln for ln in plan.splitlines()) == 1

    def test_batch_unknown_field_raises(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            bm25f_topk_batch)
        fidx = self._fidx(spark, tmp_path)
        with pytest.raises(ValueError, match="unknown fields"):
            bm25f_topk_batch(fidx, {"headline": 1.0}, {"a": ["x"]})


class TestFieldedIncremental:
    def _frames(self, spark):
        rows = TestBm25F()._docs()
        d1 = spark.createDataFrame(rows[:25], ["doc_id", "title", "body"])
        d2 = spark.createDataFrame(rows[25:], ["doc_id", "title", "body"])
        full = spark.createDataFrame(rows, ["doc_id", "title", "body"])
        return d1, d2, full

    def _query(self, fidx):
        from pg_ts_semantic_headline_spark.plans.fielded import bm25f_topk
        return [(r["doc_id"], r["score"]) for r in
                bm25f_topk(fidx, {"title": 2.0, "body": 1.0},
                           ["spark", "window"], k=100).collect()]

    def test_add_equals_rebuild(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            add_documents, build_fielded_index, load_fielded_index)
        d1, d2, full = self._frames(spark)
        inc, reb = str(tmp_path / "inc"), str(tmp_path / "reb")
        build_fielded_index(spark, d1, inc, ["title", "body"],
                            config="simple", n_buckets=4)
        add_documents(load_fielded_index(spark, inc), d2)
        build_fielded_index(spark, full, reb, ["title", "body"],
                            config="simple", n_buckets=4)
        assert self._query(load_fielded_index(spark, inc)) == \
            self._query(load_fielded_index(spark, reb))

    def test_delete_replace_compact(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            add_documents, build_fielded_index, compact_fielded_index,
            delete_documents, load_fielded_index)
        _, _, full = self._frames(spark)
        d = str(tmp_path / "idx")
        build_fielded_index(spark, full, d, ["title", "body"],
                            config="simple", n_buckets=4)
        fidx = load_fielded_index(spark, d)
        victim = self._query(fidx)[0][0]
        delete_documents(fidx, [victim])
        fidx = load_fielded_index(spark, d)
        assert victim not in [i for i, _ in self._query(fidx)]
        assert fidx.n_docs == 39
        # replace: re-add the doc with title-only spam
        add_documents(fidx, spark.createDataFrame(
            [(victim, "spark spark spark", "quiet body")],
            ["doc_id", "title", "body"]))
        fidx = load_fielded_index(spark, d)
        assert fidx.n_docs == 40
        # only the REPLACEMENT content is visible: one live 'spark'
        # title row with the new tf, and the new dls vector everywhere
        live = fidx.postings.where(F.col("doc_id") == victim)
        srow = live.where((F.col("term") == "spark")
                          & (F.col("field") == 0)).collect()
        assert [r["tf"] for r in srow] == [3]
        assert {tuple(r["dls"]) for r in live.collect()} == {(3, 2)}
        # compact: tombstones fold in, results unchanged (materialize the
        # pre-compaction answer first — a handle from before the swap
        # holds stale file listings by design)
        before = self._query(fidx)
        compact_fielded_index(spark, d)
        fidx2 = load_fielded_index(spark, d)
        assert self._query(fidx2) == before
        from pg_ts_semantic_headline_spark.lifecycle import path_exists
        assert not path_exists(spark, f"{d}/_tombstones")
        # exactly one live copy of the victim's rows survives physically
        raw = spark.read.parquet(f"{d}/postings")
        assert raw.where((F.col("doc_id") == victim)
                         & (F.col("term") == "spark")
                         & (F.col("field") == 0)).count() == 1

    def test_add_then_delete_same_handle(self, spark, tmp_path):
        # regression: add_documents must advance the handle's gen, or a
        # delete through the same handle tombstones at the PRE-add gen and
        # the just-added rows (higher gen) silently survive the delete
        from pg_ts_semantic_headline_spark.plans.fielded import (
            add_documents, build_fielded_index, delete_documents,
            load_fielded_index)
        d1, d2, _ = self._frames(spark)
        d = str(tmp_path / "idx")
        build_fielded_index(spark, d1, d, ["title", "body"],
                            config="simple", n_buckets=4)
        fidx = load_fielded_index(spark, d)
        add_documents(fidx, d2)
        new_id = d2.select("doc_id").first()["doc_id"]
        delete_documents(fidx, [new_id])
        fidx2 = load_fielded_index(spark, d)
        assert new_id not in [i for i, _ in self._query(fidx2)]
        assert fidx2.postings.where(F.col("doc_id") == new_id).count() == 0


def test_fielded_bm25f_phrase_filtered_composition(spark, tmp_path):
    """Phrase-filtered BM25F: the main positional index (built over the
    concatenated fields) supplies matching_docs as the candidate set."""
    from pg_ts_semantic_headline_spark.plans.fielded import (
        bm25f_topk, build_fielded_index, load_fielded_index)
    rows = TestBm25F()._docs()
    # plant an exact phrase in a few docs' bodies
    rows = [(i, t, (b + " needle phrase") if i % 5 == 0 else b)
            for i, t, b in rows]
    df = spark.createDataFrame(rows, ["doc_id", "title", "body"])
    fd = str(tmp_path / "fidx")
    build_fielded_index(spark, df, fd, ["title", "body"],
                        config="simple", n_buckets=4)
    fidx = load_fielded_index(spark, fd)
    md = str(tmp_path / "midx")
    build_index(spark,
                df.select("doc_id",
                          F.concat_ws(" ", "title", "body").alias("content")),
                md, config="simple", n_buckets=4)
    midx = load_index(spark, md)
    cands = matching_docs(midx, phraseto_tspquery("simple", "needle phrase"))
    got = [r["doc_id"] for r in
           bm25f_topk(fidx, {"title": 2.0, "body": 1.0},
                      ["spark", "window"], k=100,
                      candidate_docs=cands).collect()]
    full = [r["doc_id"] for r in
            bm25f_topk(fidx, {"title": 2.0, "body": 1.0},
                       ["spark", "window"], k=100).collect()]
    want = [d for d in full if d % 5 == 0]
    assert got == want and got   # phrase docs only, BM25F order kept


class TestPrefixSearch:
    def test_expansion_df_order_and_cap_warning(self, index, corpus):
        import warnings

        from pg_ts_semantic_headline_spark.plans.search import expand_prefix

        post, _ = python_postings(corpus)
        by_df = sorted(((t, len(d)) for t, d in post.items()
                        if t.startswith("s")), key=lambda x: (-x[1], x[0]))
        assert len(by_df) > 4  # corpus has spark/stream/sort/scan/shuffle/...
        with pytest.warns(UserWarning, match="more than 4"):
            exp = expand_prefix(index, "s", max_expansions=4)
        assert exp == [t for t, _ in by_df[:4]]
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # under the cap: no warning
            full = expand_prefix(index, "s", max_expansions=len(by_df))
        assert full == [t for t, _ in by_df]

    def test_prefix_search_is_bm25_over_expansions(self, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            expand_prefix, prefix_search)

        exp = expand_prefix(index, "s", max_expansions=8)
        got = prefix_search(index, "s", k=10, max_expansions=8).collect()
        want = bm25_topk(index, sorted(exp), k=10).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in got] \
            == [(r["doc_id"], round(r["score"], 9)) for r in want]

    def test_unknown_prefix_empty(self, index):
        from pg_ts_semantic_headline_spark.plans.search import prefix_search

        assert prefix_search(index, "zzz", k=5).count() == 0

    def test_stopword_prefix_warns_empty(self, index):
        # the index fixture is config=simple (no stopwords), so exercise
        # the lexize-away path through an english-config clone of the
        # handle: expand_prefix only touches .config and .terms
        from dataclasses import replace

        from pg_ts_semantic_headline_spark.plans.search import expand_prefix

        eng = replace(index, config="english")
        with pytest.warns(UserWarning, match="stopword"):
            assert expand_prefix(eng, "the") == []


def test_plan_search_explains_terms(index, corpus):
    from pg_ts_semantic_headline_spark.plans.search import plan_search

    post, _ = python_postings(corpus)
    rows = {r["term"]: r for r in plan_search(
        index, ["spark", "snowflake", "absentterm"]).collect()}
    assert set(rows) == {"spark", "snowflake", "absentterm"}
    assert rows["spark"]["df"] == len(post["spark"])
    assert rows["spark"]["in_dictionary"]
    assert 0 < rows["spark"]["corpus_frac"] <= 1.0
    assert not rows["absentterm"]["in_dictionary"]
    assert rows["absentterm"]["df"] == 0 and rows["absentterm"]["idf"] is None


def test_headlines_over_websearch_query(index, corpus):
    from pg_ts_semantic_headline_spark.plans.query_compiler import (
        websearch_to_tspquery)

    q = websearch_to_tspquery("simple", '"needle phrase" or snowflake')
    hits = search_with_headlines(index, q, k=5).collect()
    assert hits, "corpus guarantees needle-phrase docs"
    for r in hits:
        h = r["headline"]
        assert "<b>needle phrase</b>" in h or "<b>snowflake</b>" in h


class TestSearchBatch:
    QS = {
        "qa": ("websearch", '"needle phrase" or snowflake'),
        "qb": ("tsquery", "spark & !snowflake"),
        "qc": ("tsquery", "merge<->sort | batch"),
        "qd": ("phrase", "needle phrase target"),
    }

    def _compiled(self):
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            phraseto_tspquery, to_tspquery, websearch_to_tspquery)
        out = {}
        for qid, (kind, text) in self.QS.items():
            fn = {"websearch": websearch_to_tspquery,
                  "tsquery": to_tspquery,
                  "phrase": phraseto_tspquery}[kind]
            out[qid] = fn(CONFIG, text)
        return out

    @pytest.mark.parametrize("which", ["lean_index", "index"])
    def test_rank_identical_to_per_query_search(self, which, request):
        from pg_ts_semantic_headline_spark.plans.search import (
            search, search_batch)

        idx = request.getfixturevalue(which)
        qs = self._compiled()
        got = search_batch(idx, qs, k=7).collect()
        by_q: dict = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], round(r["score"], 9)))
        for qid, q in qs.items():
            want = [(i + 1, r["doc_id"], round(r["score"], 9))
                    for i, r in enumerate(search(idx, q, k=7).collect())]
            assert sorted(by_q.get(qid, [])) == want, qid

    def test_single_scored_scan(self, index):
        # the whole batch's ranking reads the postings row table ONCE
        from pg_ts_semantic_headline_spark.plans.search import search_batch

        plan = search_batch(index, self._compiled(), k=5) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") <= 4  # postings row scan +
        # positional postings scan + tokens universe (NOT query) + terms idf


def test_federated_equals_monolithic(spark, corpus, tmp_path_factory):
    from pg_ts_semantic_headline_spark.plans.search import (
        bm25_topk_federated)

    half = len(corpus) // 2
    shards = []
    for i, part in enumerate((corpus[:half], corpus[half:])):
        out = str(tmp_path_factory.mktemp(f"fed{i}"))
        build_index(spark, spark.createDataFrame(
            part, ["doc_id", "content"]), out, config=CONFIG,
            n_buckets=8)
        shards.append(load_index(spark, out))
    mono_dir = str(tmp_path_factory.mktemp("fedall"))
    build_index(spark, spark.createDataFrame(
        corpus, ["doc_id", "content"]), mono_dir, config=CONFIG,
        n_buckets=8)
    mono = load_index(spark, mono_dir)

    for terms in (["spark", "snowflake"], ["needle"], ["merge", "sort"]):
        got = [(r["doc_id"], round(r["score"], 9)) for r in
               bm25_topk_federated(shards, terms, k=15).collect()]
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                bm25_topk(mono, terms, k=15).collect()]
        assert got == want, terms
    # absent term across every shard: empty, not an error
    assert bm25_topk_federated(shards, ["absentterm"], k=5).count() == 0


def test_search_federated_equals_monolithic(spark, corpus,
                                            tmp_path_factory):
    from pg_ts_semantic_headline_spark.plans.search import (
        search, search_federated)

    half = len(corpus) // 2
    shards = []
    for i, part in enumerate((corpus[:half], corpus[half:])):
        out = str(tmp_path_factory.mktemp(f"sfed{i}"))
        build_index(spark, spark.createDataFrame(
            part, ["doc_id", "content"]), out, config=CONFIG,
            n_buckets=8)
        shards.append(load_index(spark, out))
    mono_dir = str(tmp_path_factory.mktemp("sfedall"))
    build_index(spark, spark.createDataFrame(
        corpus, ["doc_id", "content"]), mono_dir, config=CONFIG,
        n_buckets=8)
    mono = load_index(spark, mono_dir)

    for qtext in ("needle<->phrase & !snowflake", "spark & merge",
                  "unique<->snowflake | target"):
        q = to_tspquery(CONFIG, qtext)
        got = [(r["doc_id"], round(r["score"], 9)) for r in
               search_federated(shards, q, k=12).collect()]
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                search(mono, q, k=12).collect()]
        assert got == want, qtext


class TestSignificantTerms:
    """significant_terms vs a brute-force Python oracle on the fixture
    corpus (ES significant_terms semantics, lift heuristic)."""

    def _oracle(self, corpus, fg_pred, min_fg_df=2, exclude=()):
        docsets = {i: set(t.split()) for i, t in corpus}
        fg_ids = [i for i, t in corpus if fg_pred(docsets[i])]
        fg_n, bg_n = len(fg_ids), len(corpus)
        from collections import Counter
        fg_df = Counter(t for i in fg_ids for t in docsets[i])
        bg_df = Counter(t for i, _ in corpus for t in docsets[i])
        rows = []
        for t, f in fg_df.items():
            if f < min_fg_df or t in exclude:
                continue
            lift = (f * bg_n) / (fg_n * bg_df[t])
            rows.append((t, f, bg_df[t], fg_n, bg_n, lift))
        rows.sort(key=lambda r: (-r[5], r[0]))
        return [r + (k,) for k, r in enumerate(rows, start=1)]

    def test_matches_bruteforce(self, spark, corpus, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            significant_terms)
        q = to_tspquery(CONFIG, "needle")
        want = self._oracle(corpus, lambda s: "needle" in s)[:10]
        got = [(r["term"], r["fg_df"], r["bg_df"], r["fg_n"], r["bg_n"],
                r["lift"], r["rank"])
               for r in significant_terms(index, q, top_n=10)
               .orderBy("rank").collect()]
        assert [g[:5] for g in got] == [w[:5] for w in want]
        assert [g[6] for g in got] == [w[6] for w in want]
        for g, w in zip(got, want):
            assert abs(g[5] - w[5]) < 1e-12
        # the query's own companions dominate: needle docs always carry
        # phrase+target, so those two (and needle) head the ranking
        assert {got[0][0], got[1][0], got[2][0]} == \
            {"needle", "phrase", "target"}

    def test_exclude_query_terms_and_min_df(self, spark, corpus, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            significant_terms)
        q = to_tspquery(CONFIG, "needle")
        want = self._oracle(corpus, lambda s: "needle" in s,
                            min_fg_df=3, exclude={"needle"})[:25]
        got = [(r["term"], r["fg_df"], r["bg_df"], r["rank"])
               for r in significant_terms(index, q, top_n=25, min_fg_df=3,
                                          exclude_query_terms=True)
               .orderBy("rank").collect()]
        assert got == [(w[0], w[1], w[2], w[6]) for w in want]

    def test_boolean_foreground(self, spark, corpus, index):
        # the foreground honors full boolean semantics, not just one term
        from pg_ts_semantic_headline_spark.plans.search import (
            significant_terms)
        q = to_tspquery(CONFIG, "needle & !snowflake")
        want = self._oracle(
            corpus, lambda s: "needle" in s and "snowflake" not in s)[:5]
        got = [(r["term"], r["fg_df"], r["bg_df"], r["rank"])
               for r in significant_terms(index, q, top_n=5)
               .orderBy("rank").collect()]
        assert got == [(w[0], w[1], w[2], w[6]) for w in want]


def test_index_tables_written_zstd(spark, tmp_path):
    """Persisted index tables use the pinned zstd codec (24% smaller than
    snappy at identical build/query cost — io_codec.py's measurement);
    a silent fallback to the session default would quietly grow the
    100 TB index by a third."""
    import glob
    import pyarrow.parquet as pq
    from pg_ts_semantic_headline_spark.plans.index_build import build_index
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(20)],
        ["doc_id", "content"])
    out = str(tmp_path / "zstd_idx")
    build_index(spark, docs, out, config="simple", n_buckets=4,
                resume=False)
    for table in ("tokens", "postings", "terms"):
        files = glob.glob(f"{out}/{table}/**/*.parquet", recursive=True)
        assert files, table
        meta = pq.ParquetFile(files[0]).metadata
        assert meta.row_group(0).column(0).compression == "ZSTD", table


class TestBm25Weighted:
    """bm25_topk_weighted: boosts scale per-term contributions and
    min_should_match gates on distinct matched terms."""

    def test_unit_boosts_match_plain_bm25(self, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25_topk, bm25_topk_weighted)
        terms = ["spark", "window"]
        plain = [(r["doc_id"], round(r["score"], 9))
                 for r in bm25_topk(index, terms, k=50).collect()]
        weighted = [(r["doc_id"], round(r["score"], 9))
                    for r in bm25_topk_weighted(
                        index, {t: 1.0 for t in terms}, k=50).collect()]
        assert weighted == plain

    def test_boost_changes_ranking_and_msm_gates(self, index):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25_topk_weighted)
        terms = ["spark", "window"]
        rows = bm25_topk_weighted(index, {"spark": 0.0, "window": 5.0},
                                  k=1000).collect()
        assert rows
        # zero-boosted term contributes no score but still votes for
        # n_matched; scores must equal 5 * window-only bm25
        window_only = {r["doc_id"]: r["score"] for r in
                       bm25_topk_weighted(index, {"window": 1.0},
                                          k=1000).collect()}
        for r in rows:
            if r["doc_id"] in window_only:
                assert r["score"] == pytest.approx(
                    5.0 * window_only[r["doc_id"]], rel=1e-9)
            else:
                assert r["score"] == 0.0  # matched spark only
        both = bm25_topk_weighted(index, {t: 1.0 for t in terms},
                                  min_should_match=2, k=1000).collect()
        assert both and all(r["n_matched"] == 2 for r in both)
        one = {r["doc_id"] for r in
               bm25_topk_weighted(index, {t: 1.0 for t in terms},
                                  k=1000).collect()}
        assert {r["doc_id"] for r in both} < one

    def test_validation_and_edges(self, index, spark):
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25_topk_weighted)
        with pytest.raises(ValueError):
            bm25_topk_weighted(index, {"spark": -1.0})
        with pytest.raises(ValueError):
            bm25_topk_weighted(index, {"spark": 1.0}, min_should_match=0)
        # msm beyond the term count can never match
        assert not bm25_topk_weighted(index, {"spark": 1.0},
                                      min_should_match=2).collect()
        assert not bm25_topk_weighted(index, {}).collect()
