"""Correctness oracle: expected answers computed without the search plans.

- BM25 top-k: pandas over the persisted `postings` and `terms` rows and
  the `stats` row, read with pyarrow (ties broken by doc_id ascending).
- Boolean and phrase matches: a pure-Python evaluator over the lexeme
  positions `with_analysis` produces, walking the benchmark's own query
  tree (not the library's compiled one).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

K1, B = 1.2, 0.75
REL_TOL = 1e-9


def read_table(index_dir: str, name: str) -> pd.DataFrame:
    return ds.dataset(f"{index_dir}/{name}", format="parquet",
                      partitioning="hive").to_table().to_pandas()


class Bm25Oracle:
    """Exact BM25 from (term, doc_id, tf, dl) rows with their idf."""

    def __init__(self, post: pd.DataFrame, avgdl: float):
        self.avgdl = avgdl
        self.post = post

    @classmethod
    def from_index(cls, index_dir: str) -> "Bm25Oracle":
        """From one built index's persisted postings, terms and stats."""
        avgdl = float(read_table(index_dir, "stats").iloc[0]["avgdl"])
        post = read_table(index_dir, "postings")[["term", "doc_id", "tf", "dl"]]
        idf = read_table(index_dir, "terms")[["term", "idf"]]
        return cls(post.merge(idf, on="term", how="inner"), avgdl)

    @classmethod
    def from_lexemes(cls, docs: list) -> "Bm25Oracle":
        """From scratch, over (doc_id, lexeme stream) pairs: dl counts the
        non-stopword positions; idf = ln(1 + (N - df + 0.5)/(df + 0.5))."""
        rows = []
        dls = []
        for d, lex in docs:
            words = [x for x in lex if x is not None]
            dls.append(len(words))
            tf: dict = {}
            for x in words:
                tf[x] = tf.get(x, 0) + 1
            rows += [(t, d, n, len(words)) for t, n in tf.items()]
        post = pd.DataFrame(rows, columns=["term", "doc_id", "tf", "dl"])
        n = len(docs)
        df = post.groupby("term").size().rename("df").reset_index()
        df["idf"] = np.log1p((n - df["df"] + 0.5) / (df["df"] + 0.5))
        return cls(post.merge(df[["term", "idf"]], on="term"),
                   sum(dls) / max(n, 1))

    def topk(self, lexemes, k: int, candidates: set | None = None) -> list:
        p = self.post[self.post["term"].isin(set(lexemes))]
        if p.empty:
            return []
        tf, dl = p["tf"].astype(float), p["dl"].astype(float)
        p = p.assign(score=p["idf"] * tf * (K1 + 1)
                     / (tf + K1 * (1 - B + B * dl / self.avgdl)))
        s = p.groupby("doc_id", as_index=False)["score"].sum()
        if candidates is not None:
            s = s[s["doc_id"].isin(candidates)]
        s = s.sort_values(["score", "doc_id"], ascending=[False, True]).head(k)
        return list(zip(s["doc_id"].astype(int), s["score"].astype(float)))

    def search(self, q, docs: list, k: int, lexize) -> list:
        """Boolean/phrase filter by `matches`, then BM25 over the query's
        positive lexemes."""
        hits = {d for d, lex in docs if matches(q, lex, set(lex), lexize)}
        return self.topk([lexize(w) for w in positive_words(q)], k, hits)


# ---- boolean/phrase evaluator over the benchmark's query tree ----
# A query is a nested tuple:
#   ("term", word) | ("phrase", (w1, w2, ...), gap)
#   ("and", a, b) | ("or", a, b) | ("not", a)
# `gap` is the distance between consecutive words (1 for `<->`).

def render(q) -> str:
    op = q[0]
    if op == "term":
        return q[1]
    if op == "phrase":
        sep = " <-> " if q[2] == 1 else f" <{q[2]}> "
        return "(" + sep.join(q[1]) + ")"
    if op == "not":
        return "!" + render(q[1])
    return "(" + render(q[1]) + (" & " if op == "and" else " | ") + render(q[2]) + ")"


def positive_words(q) -> list:
    op = q[0]
    if op == "term":
        return [q[1]]
    if op == "phrase":
        return list(q[1])
    if op == "not":
        return []
    return positive_words(q[1]) + positive_words(q[2])


def matches(q, lex: list, lex_set: set, lexize) -> bool:
    """Does a document whose lexeme stream (position i+1 -> lex[i], None
    for stopwords) is `lex` satisfy `q`?"""
    op = q[0]
    if op == "term":
        return lexize(q[1]) in lex_set
    if op == "phrase":
        want = [lexize(w) for w in q[1]]
        if not set(want) <= lex_set:
            return False
        gap = q[2]
        span = gap * (len(want) - 1)
        return any(all(lex[p + gap * i] == w for i, w in enumerate(want))
                   for p in range(len(lex) - span) if lex[p] == want[0])
    if op == "not":
        return not matches(q[1], lex, lex_set, lexize)
    a = matches(q[1], lex, lex_set, lexize)
    if op == "and":
        return a and matches(q[2], lex, lex_set, lexize)
    return a or matches(q[2], lex, lex_set, lexize)


def same_ranking(got: list, want: list) -> bool:
    """Equal top-k lists of (doc_id, score): scores agree position by
    position within REL_TOL; doc ids agree except among docs tied (within
    REL_TOL) with the last kept score, where float summation order may
    pick either."""
    if len(got) != len(want):
        return False
    for (_, g), (_, w) in zip(got, want):
        if not math.isclose(g, w, rel_tol=REL_TOL, abs_tol=REL_TOL):
            return False
    if not want:
        return True
    last = want[-1][1]
    def firm(rows):
        return [d for d, s in rows
                if not math.isclose(s, last, rel_tol=REL_TOL, abs_tol=REL_TOL)]
    return firm(got) == firm(want)


def whole_phrase_marked(headline: str | None, words) -> bool:
    return headline is not None and ("<b>" + " ".join(words) + "</b>") in headline


def marks_only_whole_phrase(headline: str | None, words) -> bool:
    """Every mark in `headline` is the whole phrase, and every occurrence
    of the phrase in it is marked."""
    if headline is None:
        return False
    phrase = " ".join(words)
    rest = headline.replace("<b>" + phrase + "</b>", "")
    return "<b>" not in rest and phrase not in rest
