"""Whole-phrase headline generation.

The fast-path rules live once, in the per-document kernel
(`_fast_fragments` + `_fast_headline_kernel`), and every fast-path
headline runs it.  The reference evaluates them as one scalar function
per row over a precomputed array and tsvector
(/root/reference/sql/ts_fast_headline_cover_density.sql:58-97,
ts_fast_headline.sql:51-66), so each public function is one Arrow UDF
per batch over the `tokens`/`lexemes` columns: no join, no shuffle, one
Spark job, one output per input row.

- `ts_fast_headline_cover_density`: bucket the exact matches by word
  window, slice the recall array around each bucket, wrap every matched
  string with the selection tags in one regex pass, rank buckets by
  match density; one row per kept fragment.
- `ts_fast_headline`: join the fragments with the delimiter and strip
  indexing tokens; one row per input row with a match.
- `ts_semantic_headline` (reference ts_semantic_headline.sql:52-70): the
  1:1 ts_headline replacement, one output row per input row.  The plan is
  one scan plus ONE Arrow UDF over the content column: no join, no
  shuffle, one Spark job.  Per row, in the same Python call:
  - phase 1 reimplements PostgreSQL's built-in ts_headline default
    (non-fragment) passage selection IN CANONICAL-CHUNK space (PG counts
    parser word tokens: compounds count as their parts, non-ASCII symbol
    runs count as words).  hlCover enumeration anchors each cover on the
    first query-item word at-or-after the scan point and closes it at the
    smallest index whose window SATISFIES the query phrase-/boolean-aware
    (NOT-branches vacuous); each cover is resized (truncate to MaxWords;
    extend forward to MinWords ending on a word longer than ShortWord OR a
    query-item word, backward under the same rule only when the document
    ends early); covers compete on query-item word count within the
    resized window, first wins ties; with no cover, the document-head
    MinWords passage (no ShortWord logic);
  - phase 2 runs the fast-path kernel over ONLY that ~MaxWords-word
    passage, analyzed, under the reference's forced
    MaxFragments=30,MinWords=64,MaxWords=64 overlay (:64-68);
  - COALESCE to the trimmed passage on no exact phrase match (:69).
  The two-phase flow was verified string-exact against every ad-hoc pgTAP
  assertion in english_lang_test.sql:33-95 and german_lang_test.sql:111-149,
  and fuzz-validated 0-divergent against the live reference extension
  running in PostgreSQL (scripts/validate_reference_pg.py, ~1000 doc×query
  cases across several seeds), with phase 2 then a multi-stage DataFrame
  plan; tests/fast_headline_golden.json freezes that plan's outputs, and
  the kernel is held to them.

All arithmetic (option parsing defaults, integer division, the pad formula,
bucket key, density ordering) follows the reference line for line.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

from ..functions.lexize import analyze_document
from .analyze import analysis_config
from .matches import phrase_in_text
from .query_compiler import CompiledQuery, require_no_prefixes

_RE_OPTION = re.compile(r'(\w+)=(?:"([^"]+)"|((?:(?![\s,]+\w+=).)+))')
# the reference's regex-escape character set (ts_fast_headline_cover_density.sql:84)
_RE_REGEX_SPECIALS = re.compile(r"([.+*?^$()\[\]{}|\\])")


def parse_headline_options(options: str | None) -> dict[str, str]:
    """Comma-delimited k=v options; later duplicates win (PG ->> behavior)."""
    if not options:
        return {}
    out = {}
    for m in _RE_OPTION.finditer(options):
        out[m.group(1)] = m.group(2) if m.group(2) is not None else m.group(3)
    return out


@dataclass(frozen=True)
class _FastOptions:
    """The fast path's options, with the reference's defaults and
    MinWords halving."""
    start_sel: str
    stop_sel: str
    delimiter: str
    min_words: int
    max_words: int
    max_fragments: int
    disable_semantics: bool

    @property
    def max_offset(self) -> int:
        return self.max_words // 2 + 1


def _fast_options(options: str) -> _FastOptions:
    opts = parse_headline_options(options)
    return _FastOptions(
        start_sel=opts.get("StartSel", "<b>"),
        stop_sel=opts.get("StopSel", "</b>"),
        delimiter=opts.get("FragmentDelimiter", "..."),
        min_words=int(opts["MinWords"]) // 2 if "MinWords" in opts else 10,
        max_words=int(opts.get("MaxWords", 30)),
        max_fragments=int(opts.get("MaxFragments", 1)),
        disable_semantics=(opts.get("DisableSematics", "FALSE").upper()
                           == "TRUE"))


def highlight_fragment(fragment: str, words, start_sel: str,
                       stop_sel: str) -> str:
    """One-pass alternation wrap of every exact matched string in the
    space-padded fragment (cover_density.sql:78-87). Non-overlapping global
    replace, like PG's REGEXP_REPLACE 'g'."""
    alts = "|".join(_RE_REGEX_SPECIALS.sub(r"\\\1", w) for w in words)
    return re.sub(f" ({alts}) ",
                  lambda m: f" {start_sel}{m.group(1)}{stop_sel} ",
                  fragment)


def _fast_fragments(query: CompiledQuery, o: _FastOptions):
    """The fast path's fragments step for one document: (recall array,
    position-aligned lexeme stream with None in the unindexed slots) ->
    [(density, bucket, highlighted fragment)], at most MaxFragments, in
    (density DESC, bucket ASC) order; [] when no phrase matches.

    The reference's rules (cover_density.sql:58-97) per document:
    aligned phrase matches (tsp_query_matches.sql:85-94) with the
    semantic re-check (:95-96), the first MaxFragments+6 by (start_pos,
    phrase_id) (:97), word-window buckets, pad/slice/highlight, density
    ranking.  Fragments still carry indexing tokens, like the
    reference's intermediate."""
    width = o.max_words + 1
    match_limit = o.max_fragments + 6

    def fragments(toks: list, lexs: list) -> list:
        found = []                  # (start_pos, phrase_id, end_pos, words)
        for pid, ph in enumerate(query.phrases):
            starts, span = _phrase_starts(ph, lexs)
            for s0 in starts:
                words = " ".join(toks[s0:s0 + span + 1])
                if (o.disable_semantics
                        or phrase_in_text(ph.items, words, query.config)):
                    found.append((s0 + 1, pid, s0 + span + 1, words))
        found.sort()
        buckets: dict = {}
        for m in found[:match_limit]:
            buckets.setdefault(m[0] // width * width, []).append(m)
        frags = []
        for bucket, ms in buckets.items():
            s, e = ms[0][0], max(m[2] for m in ms)
            # pad = GREATEST(max_offset - (e - s/2 + 1), min_words)
            pad = max(o.max_offset - (e - s // 2 + 1), o.min_words)
            lo, hi = max(s - pad, 1), e + pad
            fragment = " " + " ".join(toks[lo - 1:hi]) + " "
            words = [w for _, w in sorted((m[0], m[3]) for m in ms)]
            frags.append((len(ms), bucket, highlight_fragment(
                fragment, words, o.start_sel, o.stop_sel)))
        frags.sort(key=lambda f: (-f[0], f[1]))
        return frags[:o.max_fragments]

    return fragments


def _fast_headline_kernel(query: CompiledQuery, o: _FastOptions):
    """One document's raw fast-path headline (before present-text
    cleanup): its `_fast_fragments` joined by FragmentDelimiter
    (ts_fast_headline.sql:51-66), or None when no phrase matches.

    Every fast-path headline runs it: `ts_fast_headline`, phase 2 of
    `ts_semantic_headline` (over each analyzed passage) and
    `search.search_with_headlines` (the winners' recall arrays and the
    lexeme streams rebuilt from their row postings)."""
    fragments = _fast_fragments(query, o)

    def kernel(toks: list, lexs: list) -> str | None:
        frags = fragments(toks, lexs)
        return o.delimiter.join(h for _, _, h in frags) if frags else None

    return kernel


def _present_headlines(raw: list, stop_sel: str) -> pd.Series:
    """`tsp_present_series` over the non-null raw headlines."""
    from ..functions.textprep import tsp_present_series

    out = pd.Series(raw, dtype=object)
    hit = out.notna()
    if hit.any():
        out[hit] = tsp_present_series(out[hit], stop_sel)
    return out


def _per_row(step, tokens: pd.Series, lexemes: pd.Series) -> list:
    """`step(toks, lexs)` per (tokens, lexemes) row; None where either
    array is null."""
    return [None if t is None or lx is None else step(list(t), list(lx))
            for t, lx in zip(tokens, lexemes)]


FRAGMENTS_SCHEMA = ArrayType(StructType([
    StructField("headline", StringType(), True),
    StructField("density", LongType(), False),
    StructField("bucket", LongType(), True),
]), containsNull=False)


def ts_fast_headline_cover_density(
    docs: DataFrame,
    query: CompiledQuery,
    options: str = "",
    doc_id: str = "doc_id",
) -> DataFrame:
    """(doc_id, headline, density, bucket): up to MaxFragments fragments
    per input row, highlighted but NOT yet present-text-cleaned.  `docs`
    needs `tokens` and `lexemes` (`analyze.with_analysis`).  One Arrow
    UDF runs `_fast_fragments` per row and the array explodes: no join,
    no shuffle, one Spark job."""
    require_no_prefixes(query, "ts_fast_headline_cover_density "
                               "(ad-hoc, no dictionary)")
    fragments = _fast_fragments(query, _fast_options(options))

    def run(tokens: pd.Series, lexemes: pd.Series) -> pd.Series:
        return pd.Series([
            [{"headline": h, "density": d, "bucket": b}
             for d, b, h in fs or ()]
            for fs in _per_row(fragments, tokens, lexemes)])

    udf = F.pandas_udf(run, returnType=FRAGMENTS_SCHEMA)
    return docs.select(doc_id, F.inline(udf("tokens", "lexemes")))


def ts_fast_headline(
    docs: DataFrame,
    query: CompiledQuery,
    options: str = "",
    doc_id: str = "doc_id",
) -> DataFrame:
    """(doc_id, headline): per input row, the fragments joined by
    FragmentDelimiter in (density DESC, bucket ASC) order, then
    present-text cleanup; rows where no phrase matches are dropped.
    One Arrow UDF over `tokens`/`lexemes` returns zero or one headline
    per row and the array explodes (a null filter over the UDF's output
    would be pushed below it and run both UDFs twice): no join, no
    shuffle, one Spark job."""
    require_no_prefixes(query, "ts_fast_headline (ad-hoc, no dictionary)")
    o = _fast_options(options)
    kernel = _fast_headline_kernel(query, o)

    def run(tokens: pd.Series, lexemes: pd.Series) -> pd.Series:
        heads = _present_headlines(_per_row(kernel, tokens, lexemes),
                                   o.stop_sel)
        return pd.Series([[] if h is None else [h] for h in heads])

    udf = F.pandas_udf(run, returnType=ArrayType(StringType()))
    return docs.select(doc_id,
                       F.explode(udf("tokens", "lexemes")).alias("headline"))


_RE_STRIP_LEAD = re.compile(r"^\W+", re.UNICODE)
_RE_STRIP_TAIL = re.compile(r"\W+$", re.UNICODE)


def _phrase_starts(phrase, chunk_lex: list) -> tuple[list, int]:
    """(sorted start indices where the phrase matches the chunk stream,
    span) — PG's headline machinery is PHRASE-AWARE (live-probed: a
    '<->' query with no adjacent occurrence has NO cover and falls back
    to the document head), so satisfaction must check aligned
    positions, not bag presence."""
    items = phrase.items
    base = items[0][1]
    span = phrase.span
    n = len(chunk_lex)
    starts = []
    for s in range(n - span):
        ok = True
        for lx, pos in items:
            if chunk_lex[s + (pos - base)] != lx:
                ok = False
                break
        if ok:
            starts.append(s)
    return starts, span


def _formula_sat(node, l: int, r: int, starts: dict) -> bool:
    """PG hlCover's satisfaction test for window [l..r]: phrase = an
    aligned match fully inside the window, AND/OR boolean, NOT-branches
    vacuously true (live-PG probes: 'aaa & !zzz' covers like plain
    'aaa'; 'aaa & zzz' with zzz absent has NO cover; 'aaa | zzz' covers
    on aaa alone)."""
    if node is None:
        return False
    if node.op == "phrase":
        import bisect
        ss, span = starts[id(node.phrase)]
        i = bisect.bisect_left(ss, l)
        return i < len(ss) and ss[i] + span <= r
    if node.op == "not":
        return True
    if node.op == "and":
        return all(_formula_sat(c, l, r, starts) for c in node.children)
    return any(_formula_sat(c, l, r, starts) for c in node.children)


def _has_positive_leaf(node) -> bool:
    if node is None:
        return False
    if node.op == "phrase":
        return True
    if node.op == "not":
        return False
    return any(_has_positive_leaf(c) for c in node.children)


def _collect_phrases(node, out: list) -> None:
    if node is None:
        return
    if node.op == "phrase":
        out.append(node.phrase)
        return
    for c in node.children:
        _collect_phrases(c, out)


def _select_passage(n: int, chunk_lex: list, word_lens: list, root,
                    item_lexemes: frozenset, min_words: int,
                    max_words: int, short_word: int) -> tuple[int, int]:
    """PostgreSQL default (non-fragment) ts_headline passage selection,
    in CANONICAL-CHUNK space (PG counts parser word tokens: a
    hyphenated compound counts as its parts — live-PG-probed).

    Every rule here is pinned by live-PG probes (scripts/
    validate_reference_pg.py + the round-4 probe session):
    - covers = minimal windows whose present-item set SATISFIES the
      positive boolean structure (OR needs one side, AND needs all,
      NOT vacuous);
    - each cover is RESIZED first, then covers compete on poslen
      (query-item words inside the resized window, including negated
      items — PG marks those too), FIRST cover wins ties;
    - resize: covers longer than MaxWords truncate to their first
      MaxWords words; shorter-than-MinWords covers extend forward
      until >= MinWords ending on a word longer than ShortWord (capped
      at MaxWords), then backward under the same rule when the
      document ends first;
    - NOCOVER: plain first-MinWords document head, NO ShortWord logic
      (probed: the fallback happily ends on a short word)."""

    def resize(p: int, q: int) -> tuple[int, int]:
        curlen = q - p + 1
        if curlen > max_words:
            return p, p + max_words - 1
        b, e = p, q
        if curlen < min_words:
            i = q + 1
            while i < n and curlen < max_words:
                curlen += 1
                e = i
                if curlen >= min_words and (word_lens[i] > short_word
                                            or chunk_lex[i] is not None):
                    # a query-item word ends the window even when short
                    # ('... dog' golden-fuzz case); PG treats item words
                    # as good endings regardless of ShortWord
                    break
                i += 1
            # backward ONLY when the document ended before MinWords; it
            # keeps extending past short words until a long word (probed:
            # [43..59] case) — but a window whose forward pass met
            # MinWords never moves its start (probed: covers starting on
            # a short match word stay put)
            if curlen < min_words:
                while b > 0 and curlen < max_words:
                    b -= 1
                    curlen += 1
                    if curlen >= min_words and (word_lens[b] > short_word
                                                or chunk_lex[b] is not None):
                        break
        return b, e

    covers: list = []
    if root is not None and _has_positive_leaf(root):
        phrases: list = []
        _collect_phrases(root, phrases)
        starts = {id(ph): _phrase_starts(ph, chunk_lex) for ph in phrases}
        # PG hlCover, as pinned by live probes: p anchors on the FIRST
        # position >= scan start holding ANY query item (even one from a
        # bag-unsatisfied phrase — the 'decide <-> negatively' fuzz doc
        # anchors on an earlier lone 'decide'); q is the SMALLEST index
        # where [p..q] SATISFIES the query phrase-/boolean-aware; then
        # the scan advances p+1. No q for the widest window => no
        # further cover for any later p either (windows only shrink).
        item_pos = [i for i in range(n) if chunk_lex[i] is not None]
        import bisect as _b
        s = 0
        while True:
            k = _b.bisect_left(item_pos, s)
            if k >= len(item_pos):
                break
            p = item_pos[k]
            if not _formula_sat(root, p, n - 1, starts):
                break
            lo, hi = p, n - 1
            while lo < hi:          # min q with sat(p, q): monotone in q
                mid = (lo + hi) // 2
                if _formula_sat(root, p, mid, starts):
                    hi = mid
                else:
                    lo = mid + 1
            covers.append((p, lo))
            s = p + 1

    if not covers:
        if n == 0:
            return (0, -1)
        return (0, min(min_words, n) - 1)

    best, bestlen = None, -1
    for p, q in covers:
        b, e = resize(p, q)
        poslen = sum(1 for i in range(b, e + 1)
                     if chunk_lex[i] in item_lexemes)
        if poslen > bestlen:
            best, bestlen = (b, e), poslen
    return best


def _all_item_lexemes(node, out: set) -> None:
    """Every query-item lexeme, INCLUDING negated branches — PG's
    headline machinery marks (and counts in poslen) negated items too;
    only the engine's fast-path highlight stage restricts to positive
    phrases, which is also the reference's behavior (its
    tsquery_to_tsvector drops negations before highlighting)."""
    if node is None:
        return
    if node.op == "phrase":
        for lx, _ in node.phrase.items:
            out.add(lx)
        return
    for c in node.children:
        _all_item_lexemes(c, out)


def _passage_selector(query: CompiledQuery, cfg: str, min_words: int,
                      max_words: int, short_word: int):
    """Phase 1: raw content -> the pg-selected passage string.

    Works in canonical-chunk space (PG word-token counting: hyphenated
    compounds count as their parts), mapping the selected chunk window
    back to raw text. A window boundary inside a compound emits only
    the covered parts' original characters ('child-bearing' cut after
    'child' emits 'child'), matching PG's generateHeadline; edge tokens
    keep raw punctuation only at the document edges (english golden 4
    keeps 'hill.' at document end; german golden 1 drops the comma
    after 'Mädchen' mid-document)."""
    from ..functions.chars import BELL
    from ..functions.lexize import analyze_text_simple
    from ..functions.textprep import tsp_indexable_text

    item_lex: set = set()
    _all_item_lexemes(query.root, item_lex)
    item_lexemes = frozenset(item_lex)
    root = query.root
    strip_w = re.compile(r"\W+", re.UNICODE)

    def one(content: str) -> str:
        if content is None:
            return None
        toks = content.split()
        if not toks:
            return ""
        memo: dict = {}

        def tok_chunks(tok: str):
            got = memo.get(tok)
            if got is None:
                canon = tsp_indexable_text(tok)
                ctexts = canon.split(" ") if canon else []
                lexs = analyze_text_simple(tok, cfg)
                if len(lexs) < len(ctexts):
                    lexs = lexs + [None] * (len(ctexts) - len(lexs))
                got = [(c.replace(BELL, ""),
                        len(strip_w.sub("", c)),
                        lexs[i] if lexs[i] in item_lexemes else None)
                       for i, c in enumerate(ctexts)]
                if not got:
                    # pure-symbol token: ASCII symbols are parser blanks
                    # (uncounted), but non-ASCII symbol runs ('—', '…')
                    # are 'word' tokens in PG's parser and COUNT toward
                    # MinWords/MaxWords (the german corpus golden pins
                    # this: 'hatte — doch' is three words)
                    sym = sum(1 for ch in tok
                              if ord(ch) > 127 and not ch.isspace())
                    if sym:
                        got = [(tok, sym, None)]
                memo[tok] = got
            return got

        # flat chunk arrays + owner mapping
        chunk_lex: list = []
        word_lens: list = []
        owner: list = []        # (tok_idx, chunk_idx_in_tok, n_chunks)
        originals: list = []
        for ti, tok in enumerate(toks):
            cs = tok_chunks(tok)
            for ci, (orig, wl, lx) in enumerate(cs):
                chunk_lex.append(lx)
                word_lens.append(wl)
                owner.append((ti, ci, len(cs)))
                originals.append(orig)
        n = len(chunk_lex)
        if n == 0:
            return ""

        b, e = _select_passage(n, chunk_lex, word_lens, root,
                               item_lexemes, min_words, max_words,
                               short_word)
        if e < b:
            return ""

        tb, jb, _ = owner[b]
        te, je, ke = owner[e]
        if tb == te:
            cs = tok_chunks(toks[tb])
            text = "".join(o for o, _, _ in cs[jb:je + 1])
            window = [text]
        else:
            first = (toks[tb] if jb == 0 else
                     "".join(o for o, _, _ in tok_chunks(toks[tb])[jb:]))
            last = (toks[te] if je == ke - 1 else
                    "".join(o for o, _, _ in tok_chunks(toks[te])[:je + 1]))
            window = [first] + toks[tb + 1:te] + [last]
        # edge punctuation stripping (generateHeadline drops the blank
        # run after the last word) — but a pure-SYMBOL word token at the
        # edge ('—' counts as a parser word) must survive: stripping
        # would delete the word itself, not trailing blanks
        if b > 0:
            lead = _RE_STRIP_LEAD.sub("", window[0])
            if lead:
                window[0] = lead
        if e < n - 1:
            tail = _RE_STRIP_TAIL.sub("", window[-1])
            if tail:
                window[-1] = tail
        return " ".join(w for w in window if w)

    return one


def _semantic_headline_udf(query: CompiledQuery, cfg: str, options: str):
    """Arrow UDF: raw content -> headline, both phases in one Python pass
    per row; COALESCE to the trimmed passage on no exact phrase match
    (ts_semantic_headline.sql:69)."""
    opts = parse_headline_options(options)
    select = _passage_selector(query, cfg, int(opts.get("MinWords", 15)),
                               int(opts.get("MaxWords", 35)),
                               int(opts.get("ShortWord", 3)))
    effective = (options + ("," if options else "")
                 + "MaxFragments=30,MinWords=64,MaxWords=64")
    o = _fast_options(effective)
    acfg = analysis_config(cfg)
    fast = _fast_headline_kernel(query, o)

    def run(content: pd.Series) -> pd.Series:
        passages = [select(text) for text in content]
        # phase 2: the kernel over each passage, analyzed under `cfg`
        heads = _present_headlines(
            [None if p is None else fast(*analyze_document(p, acfg))
             for p in passages], o.stop_sel)
        return pd.Series([p.strip(" ") if h is None and p is not None
                          else h for h, p in zip(heads, passages)],
                         dtype=object)

    return F.pandas_udf(run, returnType=StringType())


def ts_semantic_headline(
    docs: DataFrame,
    query: CompiledQuery,
    options: str = "",
    content_col: str = "content",
    config: str | None = None,
    doc_id: str = "doc_id",
) -> DataFrame:
    """Ad-hoc 1:1 ts_headline replacement (see module docstring): one
    output row per input row, from that row's own content.  One Arrow UDF
    runs pg-style passage selection over the raw content and then the fast
    path over ONLY the selected passage, so phase 2 pays for ~MaxWords
    words per doc, not the whole document, and the plan is one scan plus
    one Python pass: no join, no shuffle."""
    require_no_prefixes(query, "ts_semantic_headline (ad-hoc, no dictionary)")
    headline = _semantic_headline_udf(query, config or query.config, options)
    return docs.select(doc_id,
                       headline(F.col(content_col)).alias("headline"))
