"""Ranking-extension tests: min-span proximity, RM3 expansion, PRF
retrieval, and LTR feature extraction vs pure-Python oracles."""

import math
import random

import pytest
from pyspark.sql import functions as F

from pg_ts_semantic_headline_spark.plans.index_build import (
    B, K1, build_index, load_index)
from pg_ts_semantic_headline_spark.plans.ranking import (
    ltr_features, min_span_docs, prf_search, proximity_rerank,
    rank_metrics, rm3_expand)
from pg_ts_semantic_headline_spark.plans.search import bm25_topk

CONFIG = "simple"
VOCAB = ("spark index query batch stream merge sort join filter scan "
         "window hash shuffle column row table part key value data").split()


def make_corpus(n=60):
    rng = random.Random(7)
    docs = []
    for i in range(n):
        words = [VOCAB[min(int(rng.expovariate(0.35)), len(VOCAB) - 1)]
                 for _ in range(rng.randint(30, 120))]
        if i % 5 == 0:
            # guaranteed tight co-occurrence for the proximity tests
            words[3:3] = ["needle", "target"]
        if i % 11 == 0:
            words.append("needle")
            words.insert(0, "target")
        docs.append((i, " ".join(words)))
    return docs


def brute_min_span(words, terms):
    """O(n^2) independent oracle: smallest window covering all terms."""
    need = set(terms)
    best = None
    for i, w in enumerate(words):
        if w not in need:
            continue
        seen = set()
        for j in range(i, len(words)):
            if words[j] in need:
                seen.add(words[j])
            if seen == need:
                s = j - i + 1
                best = s if best is None or s < best else best
                break
    return best


@pytest.fixture(scope="module")
def corpus():
    return make_corpus()


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rank_idx"))
    df = spark.createDataFrame(corpus, ["doc_id", "content"])
    build_index(spark, df, out, config=CONFIG, n_buckets=8)
    return load_index(spark, out)


@pytest.mark.parametrize("terms", [["needle", "target"],
                                   ["spark", "query", "window"]])
def test_min_span_matches_bruteforce(index, corpus, terms):
    expected = {}
    for doc_id, text in corpus:
        s = brute_min_span(text.split(" "), terms)
        if s is not None:
            expected[doc_id] = s
    got = {r["doc_id"]: r["span"]
           for r in min_span_docs(index, terms).collect()}
    assert got == expected


def test_min_span_single_term(index, corpus):
    got = {r["doc_id"]: r["span"]
           for r in min_span_docs(index, ["needle"]).collect()}
    expected = {doc_id: 1 for doc_id, text in corpus
                if "needle" in text.split(" ")}
    assert got == expected


def test_min_span_candidate_pruning(index, corpus):
    terms = ["needle", "target"]
    full = {r["doc_id"]: r["span"]
            for r in min_span_docs(index, terms).collect()}
    some = sorted(full)[:3]
    got = {r["doc_id"]: r["span"]
           for r in min_span_docs(index, terms,
                                  candidate_ids=some).collect()}
    assert got == {d: full[d] for d in some}


def _py_bm25(corpus, terms, config_words=None):
    """Pure-Python BM25 with the engine's formula, fixed-order term sum."""
    docs = {d: t.split(" ") for d, t in corpus}
    n = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n
    out = {}
    for t in sorted(set(terms)):
        df = sum(1 for w in docs.values() if t in w)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for d, words in docs.items():
            tf = words.count(t)
            if tf:
                s = idf * (tf * (K1 + 1)) / (
                    tf + K1 * (1 - B + B * len(words) / avgdl))
                out[d] = out.get(d, 0.0) + s
    return out


def test_proximity_rerank_boosts_tight_windows(index, corpus):
    terms = ["needle", "target"]
    base = {r["doc_id"]: r["score"]
            for r in bm25_topk(index, terms, k=1000).collect()}
    spans = {r["doc_id"]: r["span"]
             for r in min_span_docs(index, terms).collect()}
    res = proximity_rerank(index, terms, k=1000, depth=1000,
                           alpha=2.0).collect()
    assert res, "expected matches"
    got = {r["doc_id"]: (r["score"], r["span"]) for r in res}
    for d, (score, span) in got.items():
        if d in spans:
            assert span == spans[d]
            assert score == pytest.approx(
                base[d] * (1 + 2.0 / spans[d]), rel=1e-12)
        else:
            assert span is None
            assert score == pytest.approx(base[d], rel=1e-12)
    # rank order is (score desc, doc_id asc)
    scores = [(r["score"], -r["doc_id"]) for r in res]
    assert scores == sorted(scores, reverse=True)


def test_proximity_rerank_deep_branch_agrees(index):
    terms = ["spark", "window"]
    shallow = [(r["doc_id"], round(r["score"], 9))
               for r in proximity_rerank(index, terms, k=20,
                                         depth=500).collect()]
    deep = [(r["doc_id"], round(r["score"], 9))
            for r in proximity_rerank(index, terms, k=20,
                                      depth=600).collect()]
    assert shallow == deep


def test_rm3_expand_selection_rule(index, corpus):
    from collections import Counter

    terms = ["needle", "target"]
    fb = [int(r["doc_id"])
          for r in bm25_topk(index, terms, k=5).collect()]
    docs = dict(corpus)
    tf = Counter()
    for d in fb:
        tf.update(docs[d].split(" "))
    dfs = Counter()
    for _, text in corpus:
        dfs.update(set(text.split(" ")))
    cands = sorted(t for t in tf if t not in set(terms))
    expected = sorted(cands, key=lambda t: (-tf[t], dfs[t], t))[:6]
    got = rm3_expand(index, terms, fb_docs=5, max_terms=6).collect()
    assert [r["term"] for r in got] == expected
    assert [r["rank"] for r in got] == list(range(1, len(expected) + 1))
    for r in got:
        assert r["fb_tf"] == tf[r["term"]]
        assert r["df"] == dfs[r["term"]]


def test_prf_search_is_bm25_over_union(index):
    terms = ["needle", "target"]
    exp = [r["term"] for r in
           rm3_expand(index, terms, fb_docs=5, max_terms=4).collect()]
    want = [(r["doc_id"], round(r["score"], 9)) for r in
            bm25_topk(index, sorted(set(terms) | set(exp)),
                      k=15).collect()]
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           prf_search(index, terms, k=15, fb_docs=5,
                      max_terms=4).collect()]
    assert got == want


def test_ltr_features_values(index, corpus):
    terms = ["spark", "query", "window"]
    docs = {d: t.split(" ") for d, t in corpus}
    bm25 = _py_bm25(corpus, terms)
    rows = ltr_features(index, terms).collect()
    assert rows
    for r in rows:
        words = docs[r["doc_id"]]
        matched = [t for t in terms if t in words]
        assert r["n_matched"] == len(matched)
        assert r["sum_tf"] == sum(words.count(t) for t in terms)
        assert r["dl"] == len(words)
        assert r["bm25"] == pytest.approx(bm25[r["doc_id"]], rel=1e-9)
        assert r["span"] == brute_min_span(words, terms)
    # every matching doc appears
    assert {r["doc_id"] for r in rows} == set(bm25)


def test_ltr_features_candidate_narrowing(index):
    terms = ["spark", "window"]
    full = {r["doc_id"]: r for r in ltr_features(index, terms).collect()}
    ids = sorted(full)[:4]
    got = ltr_features(index, terms, candidate_ids=ids).collect()
    assert {r["doc_id"] for r in got} == set(ids)
    for r in got:
        assert r["bm25"] == pytest.approx(full[r["doc_id"]]["bm25"],
                                          rel=1e-12)


def _py_rank_metrics(results, qrels, k):
    """Pure-Python oracle for rank_metrics (same quantization contract)."""
    from collections import defaultdict

    by_q = defaultdict(list)
    for q, d, s in results:
        by_q[q].append((d, s))
    rel = defaultdict(dict)
    for q, d, r in qrels:
        if r > 0:
            rel[q][d] = r
    out = {}
    for q, judged in rel.items():
        ranked = sorted(by_q.get(q, []), key=lambda x: (-x[1], x[0]))[:k]
        hits, first, dcg = 0, None, 0
        for i, (d, _) in enumerate(ranked, start=1):
            if d in judged:
                hits += 1
                first = i if first is None else first
                dcg += round(1e6 * (2 ** judged[d] - 1) / math.log2(i + 1))
        ideal = sorted(judged.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        idcg = sum(round(1e6 * (2 ** r - 1) / math.log2(i + 1))
                   for i, (_, r) in enumerate(ideal, start=1))
        out[q] = (len(judged), hits, round(1e4 * hits / len(judged)),
                  round(1e6 / first) if first else 0, dcg, idcg,
                  round(1e4 * dcg / idcg))
    return out


def test_rank_metrics_against_python_oracle(spark):
    results = [
        # q1: perfect ranking of its 2 relevant docs
        ("q1", 10, 9.0), ("q1", 11, 8.0), ("q1", 12, 7.0),
        # q2: relevant docs at ranks 2 and 4, one judged doc missed
        ("q2", 20, 9.0), ("q2", 21, 8.0), ("q2", 22, 7.0), ("q2", 23, 6.0),
        # q3: retrieves only irrelevant docs
        ("q3", 30, 5.0), ("q3", 31, 4.0),
        # score tie inside q4 broken by doc_id asc
        ("q4", 41, 3.0), ("q4", 40, 3.0), ("q4", 42, 2.0),
    ]
    qrels = [
        ("q1", 10, 2), ("q1", 11, 1),
        ("q2", 21, 2), ("q2", 23, 1), ("q2", 99, 3),
        ("q3", 77, 1),
        ("q4", 40, 1), ("q4", 42, 2),
        # q5 judged but never retrieved at all
        ("q5", 50, 1),
    ]
    res_df = spark.createDataFrame(results,
                                   "query_id string, doc_id long, score double")
    qrel_df = spark.createDataFrame(qrels,
                                    "query_id string, doc_id long, rel int")
    got = {r["query_id"]: (r["n_rel"], r["hits_at_k"], r["recall_at_k_e4"],
                           r["mrr_e6"], r["dcg_at_k_e6"], r["idcg_at_k_e6"],
                           r["ndcg_at_k_e4"])
           for r in rank_metrics(res_df, qrel_df, k=3).collect()}
    want = _py_rank_metrics(results, qrels, k=3)
    assert got == want
    # spot-check the headline values
    assert got["q1"][6] == 10000          # perfect nDCG
    assert got["q1"][3] == 1000000        # MRR 1.0
    assert got["q3"] == (1, 0, 0, 0, 0, 1000000, 0)
    assert "q5" in got and got["q5"][1] == 0


def test_rank_metrics_on_real_bm25(spark, index, corpus):
    # evaluate actual engine rankings against synthetic judgments:
    # docs containing both terms adjacent are rel=2, both terms rel=1
    terms = ["needle", "target"]
    qrels = []
    for doc_id, text in corpus:
        words = text.split(" ")
        if all(t in words for t in terms):
            span = brute_min_span(words, terms)
            qrels.append(("q", doc_id, 2 if span == 2 else 1))
    res = (bm25_topk(index, terms, k=10)
           .withColumn("query_id", F.lit("q"))
           .select("query_id", "doc_id", "score"))
    qrel_df = spark.createDataFrame(qrels,
                                    "query_id string, doc_id long, rel int")
    rows = rank_metrics(res, qrel_df, k=10).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_rel"] == len(qrels)
    assert 0 < r["hits_at_k"] <= 10
    assert 0 < r["ndcg_at_k_e4"] <= 10000
    assert r["mrr_e6"] == 1000000  # top BM25 hit must contain both terms


def brute_rank_cd(words, terms):
    """Independent O(n^2) cover-density oracle: enumerate ALL windows
    [i, j] with both endpoints query-term occurrences that cover every
    term, keep the minimal ones (no smaller cover nested inside), sum
    round(1e6/width). Returns None when the doc never covers the terms."""
    need = set(terms)
    occ = [i for i, w in enumerate(words) if w in need]
    wins = []
    for a in range(len(occ)):
        seen = set()
        for b in range(a, len(occ)):
            seen.add(words[occ[b]])
            if seen == need:
                wins.append((occ[a], occ[b]))
                break
    minimal = [w for w in wins
               if not any(v != w and v[0] >= w[0] and v[1] <= w[1]
                          for v in wins)]
    if not minimal:
        return None
    return sum(round(1_000_000.0 / (j - i + 1)) for i, j in minimal)


@pytest.mark.parametrize("terms", [["needle", "target"],
                                   ["spark", "query", "window"],
                                   ["needle"]])
def test_ts_rank_cd_matches_bruteforce(index, corpus, terms):
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank_cd

    expected = {}
    for doc_id, text in corpus:
        r = brute_rank_cd(text.split(" "), terms)
        if r is not None:
            expected[doc_id] = r
    assert expected, "corpus must exercise the operator"
    got = {r["doc_id"]: r["rank_e6"]
           for r in ts_rank_cd(index, terms).collect()}
    assert got == expected


def test_ts_rank_cd_single_term_is_tf(index, corpus):
    # every occurrence of a 1-term query is its own width-1 cover
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank_cd

    got = {r["doc_id"]: r["rank_e6"]
           for r in ts_rank_cd(index, ["needle"]).collect()}
    for doc_id, text in corpus:
        tf = text.split(" ").count("needle")
        if tf:
            assert got[doc_id] == tf * 1_000_000


def test_ts_rank_cd_normalization(index, corpus):
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank_cd

    terms = ["needle", "target"]
    raw = {r["doc_id"]: r["rank"]
           for r in ts_rank_cd(index, terms).collect()}
    dls = {doc_id: len(text.split(" ")) for doc_id, text in corpus}
    n1 = {r["doc_id"]: r["rank"]
          for r in ts_rank_cd(index, terms, normalization=1).collect()}
    n2 = {r["doc_id"]: r["rank"]
          for r in ts_rank_cd(index, terms, normalization=2).collect()}
    n32 = {r["doc_id"]: r["rank"]
           for r in ts_rank_cd(index, terms, normalization=32).collect()}
    for d, r in raw.items():
        assert n1[d] == pytest.approx(r / (1 + math.log(dls[d])))
        assert n2[d] == pytest.approx(r / dls[d])
        assert n32[d] == pytest.approx(r / (r + 1))
    with pytest.raises(ValueError, match="bitmask"):
        ts_rank_cd(index, terms, normalization=64)
    with pytest.raises(ValueError, match="bitmask"):
        ts_rank_cd(index, terms, normalization=-1)


def brute_covers(words, terms):
    """Minimal covers as (begin, end) 1-based position pairs — the same
    enumeration brute_rank_cd uses, kept for the extent oracle."""
    need = set(terms)
    occ = [i for i, w in enumerate(words) if w in need]
    wins = []
    for a in range(len(occ)):
        seen = set()
        for b in range(a, len(occ)):
            seen.add(words[occ[b]])
            if seen == need:
                wins.append((occ[a] + 1, occ[b] + 1))
                break
    return [w for w in wins
            if not any(v != w and v[0] >= w[0] and v[1] <= w[1]
                       for v in wins)]


def brute_extdist_divisor(covers):
    """tsrank.c RANK_NORM_EXTDIST replay: NExtent / Σ 1/gap over
    consecutive extent midpoints (gap > 0), with the engine's e9 gap-sum
    quantization. None when the flag is a no-op."""
    mids = sorted((b + e) / 2.0 for b, e in covers)
    sumdist_e9 = sum(round(1e9 / (m - p))
                     for p, m in zip(mids, mids[1:]) if m > p)
    if not covers or sumdist_e9 <= 0:
        return None
    return len(covers) / (sumdist_e9 / 1e9)


def test_ts_rank_cd_extdist_replay(index, corpus):
    """normalization=4 (RANK_NORM_EXTDIST) against a pure-Python replay
    of tsrank.c's extent bookkeeping over brute-force minimal covers."""
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank_cd

    terms = ["needle", "target"]
    raw = {r["doc_id"]: r["rank"]
           for r in ts_rank_cd(index, terms).collect()}
    n4 = {r["doc_id"]: r["rank"]
          for r in ts_rank_cd(index, terms, normalization=4).collect()}
    assert set(n4) == set(raw)
    single_extent_seen = multi_extent_seen = False
    for doc_id, text in corpus:
        if doc_id not in raw:
            continue
        covers = brute_covers(text.split(" "), terms)
        div = brute_extdist_divisor(covers)
        if div is None:
            single_extent_seen = True
            assert n4[doc_id] == pytest.approx(raw[doc_id])
        else:
            multi_extent_seen = True
            assert n4[doc_id] == pytest.approx(raw[doc_id] / div,
                                               rel=1e-9), doc_id
    assert multi_extent_seen  # corpus must exercise the divisor
    del single_extent_seen    # no-op branch optional on this corpus


def test_ts_rank_cd_uniq_flags_replay(index, corpus):
    """normalization=8 (÷ distinct lexemes) and 16 (÷(1+ln distinct)):
    the engine's txt->size analog is the doc's distinct-term count."""
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank_cd

    terms = ["needle", "target"]
    nuniq = {doc_id: len(set(text.split(" "))) for doc_id, text in corpus}
    raw = {r["doc_id"]: r["rank"]
           for r in ts_rank_cd(index, terms).collect()}
    n8 = {r["doc_id"]: r["rank"]
          for r in ts_rank_cd(index, terms, normalization=8).collect()}
    n16 = {r["doc_id"]: r["rank"]
           for r in ts_rank_cd(index, terms,
                               normalization=16).collect()}
    assert set(n8) == set(raw) and set(n16) == set(raw)
    for d, r in raw.items():
        assert n8[d] == pytest.approx(r / nuniq[d], rel=1e-9)
        assert n16[d] == pytest.approx(r / (1 + math.log(nuniq[d])),
                                       rel=1e-9)


def test_ts_rank_cd_normalization_composes(index, corpus):
    """Flags are a bitmask, applied in PG's order — 2|32 divides by dl
    FIRST, then applies r/(r+1) to the result."""
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank_cd

    terms = ["needle", "target"]
    dls = {doc_id: len(text.split(" ")) for doc_id, text in corpus}
    raw = {r["doc_id"]: r["rank"]
           for r in ts_rank_cd(index, terms).collect()}
    combo = {r["doc_id"]: r["rank"]
             for r in ts_rank_cd(index, terms,
                                 normalization=2 | 32).collect()}
    for d, r in raw.items():
        v = r / dls[d]
        assert combo[d] == pytest.approx(v / (v + 1), rel=1e-9)


def test_ts_rank_cd_candidate_narrowing(index, corpus):
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank_cd

    full = {r["doc_id"]: r["rank_e6"]
            for r in ts_rank_cd(index, ["needle", "target"]).collect()}
    some = sorted(full)[:3]
    got = {r["doc_id"]: r["rank_e6"]
           for r in ts_rank_cd(index, ["needle", "target"],
                               candidate_ids=some).collect()}
    assert got == {d: full[d] for d in some}


def test_slop_match_docs(index, corpus):
    from pg_ts_semantic_headline_spark.plans.ranking import slop_match_docs

    terms = ["needle", "target"]
    spans = {}
    for doc_id, text in corpus:
        s = brute_min_span(text.split(" "), terms)
        if s is not None:
            spans[doc_id] = s
    for slop in (0, 3, 50):
        want = {d for d, s in spans.items() if s <= len(terms) + slop}
        got = {r["doc_id"] for r in
               slop_match_docs(index, terms, slop=slop).collect()}
        assert got == want, slop
    # slop=0 means adjacent-in-some-order; the corpus plants adjacent
    # needle/target pairs so the tightest setting still matches some
    assert {r["doc_id"] for r in
            slop_match_docs(index, terms, slop=0).collect()}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        slop_match_docs(index, terms, slop=-1)


def brute_ts_rank(words, items, variant, w0=0.1):
    """Pure-Python replay of PG tsrank.c calc_rank_or/calc_rank_and
    (uniform D-weight positions). Returns the pre-normalization float
    rank, or None where the engine emits no row."""
    pos = {}
    for i, t in enumerate(words):
        pos.setdefault(t, []).append(i + 1)
    if variant == "or" or len(items) < 2:
        total, found = 0.0, False
        for it in items:
            ps = pos.get(it)
            if not ps:
                continue
            found = True
            h2 = sum(1.0 / (j * j) for j in range(1, len(ps) + 1))
            total += w0 * h2 / 1.973
        return total / len(items) if found else None
    res = None
    for i in range(len(items)):
        for k in range(i):
            pa, pb = pos.get(items[i]), pos.get(items[k])
            if not pa or not pb:
                continue
            for x in pa:
                for y in pb:
                    d = abs(x - y)
                    if d == 0:
                        continue
                    wd = (1e-30 if d > 100
                          else 1.0 / (1.005 + 0.05 * math.exp(d / 1.5 - 2.0)))
                    curw = w0 * math.sqrt(wd)
                    res = (curw if res is None
                           else 1.0 - (1.0 - res) * (1.0 - curw))
    return res


@pytest.mark.parametrize("variant,items", [
    ("or", ["spark", "window"]),
    ("or", ["needle", "target", "needle"]),   # duplicate item counts twice
    ("and", ["needle", "target"]),
    ("and", ["spark", "query", "window"]),
])
def test_ts_rank_matches_tsrank_replay(index, corpus, variant, items):
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank

    expected = {}
    for doc_id, text in corpus:
        r = brute_ts_rank(text.split(" "), items, variant)
        if r is not None:
            expected[doc_id] = r
    assert expected, "oracle found no ranked docs — corpus shape changed?"
    got = {r["doc_id"]: r["rank"]
           for r in ts_rank(index, items, variant=variant).collect()}
    assert set(got) == set(expected)
    for d, want in expected.items():
        assert got[d] == pytest.approx(want, rel=2e-3, abs=1e-6), \
            (d, variant)


def test_ts_rank_variant_dispatch(index):
    from pg_ts_semantic_headline_spark.plans.query_compiler import to_tspquery
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank

    q_and = to_tspquery("simple", "needle & target")
    q_or = to_tspquery("simple", "needle | target")
    # AND root takes the pairwise-proximity form, OR root the harmonic
    # form — on this corpus the two give different values
    r_and = {r["doc_id"]: r["rank"]
             for r in ts_rank(index, q_and).collect()}
    r_or = {r["doc_id"]: r["rank"] for r in ts_rank(index, q_or).collect()}
    forced = {r["doc_id"]: r["rank"]
              for r in ts_rank(index, q_and, variant="or").collect()}
    assert r_and and r_or
    assert forced == r_or  # forcing 'or' on an AND query = OR math
    assert r_and != r_or
    # the AND form only ranks docs holding >= 2 query items; OR ranks any
    assert set(r_and) <= set(r_or)


def test_ts_rank_rank_e6_deterministic_and_normalization(index, corpus):
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank

    a = {r["doc_id"]: r["rank_e6"]
         for r in ts_rank(index, ["needle", "target"],
                          variant="and").collect()}
    b = {r["doc_id"]: r["rank_e6"]
         for r in ts_rank(index, ["needle", "target"],
                          variant="and").collect()}
    assert a == b and a
    dls = {doc_id: len(text.split(" ")) for doc_id, text in corpus}
    raw = {r["doc_id"]: r["rank"]
           for r in ts_rank(index, ["spark"]).collect()}
    n2 = {r["doc_id"]: r["rank"]
          for r in ts_rank(index, ["spark"], normalization=2).collect()}
    n32 = {r["doc_id"]: r["rank"]
           for r in ts_rank(index, ["spark"], normalization=32).collect()}
    nuniq = {doc_id: len(set(text.split(" "))) for doc_id, text in corpus}
    n8 = {r["doc_id"]: r["rank"]
          for r in ts_rank(index, ["spark"], normalization=8).collect()}
    n16 = {r["doc_id"]: r["rank"]
           for r in ts_rank(index, ["spark"],
                            normalization=16).collect()}
    # flag 4 is extent-based: like PG's calc_rank, accepted and ignored
    n4 = {r["doc_id"]: r["rank"]
          for r in ts_rank(index, ["spark"], normalization=4).collect()}
    for d, v in raw.items():
        assert n2[d] == pytest.approx(v / dls[d], rel=1e-9)
        assert n32[d] == pytest.approx(v / (v + 1), rel=1e-9)
        assert n8[d] == pytest.approx(v / nuniq[d], rel=1e-9)
        assert n16[d] == pytest.approx(v / (1 + math.log(nuniq[d])),
                                       rel=1e-9)
        assert n4[d] == pytest.approx(v, rel=1e-9)
    with pytest.raises(ValueError, match="bitmask"):
        ts_rank(index, ["spark"], normalization=64)
    with pytest.raises(ValueError):
        ts_rank(index, ["spark"], weights=(2.0, 0.2, 0.4, 1.0))
    with pytest.raises(ValueError):
        ts_rank(index, ["spark"], variant="nope")


def test_ts_rank_candidate_narrowing(index):
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank

    for variant in ("or", "and"):
        full = {r["doc_id"]: r["rank_e6"]
                for r in ts_rank(index, ["needle", "target"],
                                 variant=variant).collect()}
        some = sorted(full)[:3]
        got = {r["doc_id"]: r["rank_e6"]
               for r in ts_rank(index, ["needle", "target"],
                                variant=variant,
                                candidate_ids=some).collect()}
        assert got == {d: full[d] for d in some}, variant
