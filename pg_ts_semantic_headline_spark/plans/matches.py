"""TSP_QUERY_MATCHES as a distributed DataFrame plan, and the phrase
checks the indexed plans share.

The core phrase-match operator (/root/reference/sql/tsp_query_matches.sql:56-97),
re-expressed Spark-first and evaluated per input row, as the reference
does:

1. prune the row's lexeme stream to the query lexemes, as a (lex, pos)
   array — the analog of the reference's ts_filter/setweight
   optimization (:42-54,68);
2. `phrase_starts`: a phrase occurs at p iff each of its lexemes sits at
   p plus its offset (:85-94) — exact position-adjacency intersection on
   the row's own positions, so partial matches are impossible and rows
   that share a doc_id never mix;
3. optional semantic re-check: re-analyze the matched slice and require the
   phrase to match it (:95-96), in a vectorized Arrow UDF;
4. per-row first-N matches in document order (:97 LIMIT).

No join: the only shuffle is the per-row limit's window.

`phrase_starts` is also the phrase check of the indexed boolean filter
(`search.matching_docs` / `search.search`), over a document's postings
positions. `phrase_occurrences` aligns many queries' phrases in one pass
for the registry matcher `match_registry`, which `search.search_batch`
and the percolator share.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..functions.lexize import analyze_text_simple
from .query_compiler import CompiledQuery, Node, require_no_prefixes


def explode_lexemes(docs: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """(doc_id, pos, lex) with 1-based positions; null lexemes (stopword
    slots) are dropped — their positions are already burned into `pos`.

    The outer explode's extra row for an empty or null array has a null
    `lex` and is dropped by the same filter. The plain explode would let
    the optimizer infer a `size(lexemes) > 0` filter and push it below
    the projection, so over `with_analysis` input the analysis UDF would
    run twice per row: once for the filter and once for the stream."""
    return (docs
            .select(doc_id,
                    F.posexplode_outer("lexemes").alias("pos0", "lex"))
            .where(F.col("lex").isNotNull())
            .select(doc_id, (F.col("pos0") + 1).alias("pos"), "lex"))


def phrase_occurrences(hay: DataFrame, phrases: DataFrame, keys: list[str],
                       carry: tuple[str, ...] = (),
                       lex: str = "lex") -> DataFrame:
    """Every exact occurrence of every phrase: (keys…, phrase_id,
    start_pos, end_pos, carry…).

    `hay` holds (doc_id, pos, `lex`) rows — one per lexeme occurrence,
    pruned to the phrase lexemes by the caller — and `phrases` the
    broadcast phrase table (…, phrase_id, q_lexeme, q_pos, q_len,
    q_span). Each hay row aligns to the phrase start it implies
    (range_start = pos - q_pos + 1); a (keys, phrase, range_start) group
    holding all q_len lexemes over exactly q_span positions is an
    occurrence. `keys` is [doc_id] for one query, [doc_id, query_id]
    for a registry (query_id comes from the phrase table); `carry`
    names phrase-table columns to keep."""
    joined = hay.join(F.broadcast(phrases), hay[lex] == phrases.q_lexeme)
    aligned = joined.withColumn(
        "range_start", F.col("pos") - F.col("q_pos") + F.lit(1))
    return (aligned
            .groupBy(*keys, "phrase_id", "range_start")
            .agg(F.count("*").alias("n_hits"),
                 F.min("pos").alias("start_pos"),
                 F.max("pos").alias("end_pos"),
                 F.first("q_len").alias("q_len"),
                 F.first("q_span").alias("q_span"),
                 *[F.first(c).alias(c) for c in carry])
            .where((F.col("n_hits") == F.col("q_len"))
                   & (F.col("end_pos") - F.col("start_pos")
                      == F.col("q_span")))
            .select(*keys, "phrase_id", "start_pos", "end_pos", *carry))


def phrase_in_text(items, text: str, config: str) -> bool:
    """Does the phrase actually match the re-analyzed text?

    Faithful to TO_TSPVECTOR(slice) @@ phrase_query (:95-96): the phrase may
    match at any offset of the text, with exact distances.
    """
    if not items:
        return False
    lexs = analyze_text_simple(text, config)
    span = max(p for _, p in items)
    return any(all(lexs[off + p - 1] == lx for lx, p in items)
               for off in range(0, len(lexs) - span + 1))


def _semantic_check_udf(query: CompiledQuery):
    """Arrow UDF: `phrase_in_text` over (matched slice, phrase id) rows."""
    phrase_items = {pid: ph.items for pid, ph in enumerate(query.phrases)}
    config = query.config

    def check(words: pd.Series, phrase_id: pd.Series) -> pd.Series:
        return pd.Series([phrase_in_text(phrase_items.get(pid, ()), text,
                                         config)
                          for text, pid in zip(words, phrase_id)])

    return F.pandas_udf(check, returnType=BooleanType())


def tsp_query_matches(
    docs: DataFrame,
    query: CompiledQuery,
    match_limit: int = 5,
    disable_semantic_check: bool = False,
    doc_id: str = "doc_id",
) -> DataFrame:
    """Exact phrase matches over analyzed docs (needs tokens+lexemes cols).

    Returns (doc_id, phrase_id, words, ts_query, start_pos, end_pos).
    """
    require_no_prefixes(query, "tsp_query_matches (ad-hoc, no dictionary)")
    spark = docs.sparkSession
    if not query.phrases:
        return spark.createDataFrame([], StructType([
            StructField("doc_id", LongType(), True),
            StructField("phrase_id", IntegerType(), True),
            StructField("words", StringType(), True),
            StructField("ts_query", StringType(), True),
            StructField("start_pos", IntegerType(), True),
            StructField("end_pos", IntegerType(), True),
        ]))

    qlex = list(query.lexemes)
    # each row's (lexeme, position) stream, pruned to the query lexemes
    hits = F.filter(
        F.transform("lexemes", lambda x, i: F.struct(x.alias("lex"),
                                                     (i + 1).alias("pos"))),
        lambda h: h["lex"].isin(qlex))

    def positions(lex):
        return F.transform(F.filter("_hits", lambda h: h["lex"] == lex),
                           lambda h: h["pos"])

    def match(pid, ph):
        # one output struct per start position of phrase `pid` in the row
        return lambda s: F.struct(
            F.lit(pid).alias("phrase_id"),
            F.array_join(F.slice("tokens", s, ph.span + 1), " ")
            .alias("words"),
            F.lit(ph.render()).alias("ts_query"),
            s.alias("start_pos"), (s + ph.span).alias("end_pos"))

    matches = F.flatten(F.array(*[
        F.transform(phrase_starts(ph, positions), match(pid, ph))
        for pid, ph in enumerate(query.phrases)]))
    # every row aligns its own stream; `_row` keys the per-row limit, so
    # rows sharing a doc_id never mix
    found = (docs.select(doc_id, "tokens", hits.alias("_hits"),
                         F.monotonically_increasing_id().alias("_row"))
             .select(doc_id, "_row", F.inline(matches)))

    if not disable_semantic_check:
        check = _semantic_check_udf(query)
        found = found.where(check(F.col("words"), F.col("phrase_id")))

    w = Window.partitionBy("_row").orderBy("start_pos", "phrase_id")
    limited = (found
               .withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") <= match_limit))

    return limited.select(doc_id, "phrase_id", "words", "ts_query",
                          "start_pos", "end_pos")


def _tree_ops(node: Node | None) -> set[str]:
    if node is None:
        return set()
    out = {node.op}
    for c in node.children:
        out |= _tree_ops(c)
    return out


def _distinct_phrases(node: Node | None) -> list:
    """Every distinct phrase of the tree (by items, first-seen order),
    negated ones included: the boolean fold needs match sets for NOT
    branches too, unlike highlighting's `CompiledQuery.phrases`."""
    out, seen = [], set()

    def walk(n: Node | None) -> None:
        if n is None:
            return
        if n.op == "phrase":
            if n.phrase.items not in seen:
                seen.add(n.phrase.items)
                out.append(n.phrase)
            return
        for c in n.children:
            walk(c)

    walk(node)
    return out


def _tree_expr(node: Node | None, leaf) -> F.Column:
    """Boolean AST -> JVM column expression; `leaf(phrase)` is the
    column that says whether a row satisfies one phrase."""
    if node is None:
        return F.lit(False)
    if node.op == "phrase":
        return leaf(node.phrase)
    if node.op == "not":
        return ~_tree_expr(node.children[0], leaf)
    sub = [_tree_expr(c, leaf) for c in node.children]
    out = sub[0]
    for s in sub[1:]:
        out = (out & s) if node.op == "and" else (out | s)
    return out


def phrase_starts(phrase, positions) -> F.Column:
    """The start positions of every exact occurrence of `phrase`, as an
    array column: a start p of the first lexeme l0 holds iff every other
    (lexeme l, offset o) has l at p + o - o0. `positions(lex)` is the
    array column of `lex`'s positions in the row. Phrase adjacency is
    positional arithmetic on each row's own positions, so rows never mix
    and nothing is shuffled."""
    (l0, o0), *rest = sorted(phrase.items, key=lambda it: it[1])
    aligned = [(lex, off - o0) for lex, off in rest]
    return F.filter(positions(l0), lambda p: reduce(
        lambda acc, lo: acc & F.array_contains(positions(lo[0]), p + lo[1]),
        aligned, F.lit(True)))


def _tree_spec(node: Node | None, pid_by_items):
    """Boolean AST -> a plain-tuple spec for the executor-side evaluator:
    ('p', gid) | ('not', spec) | ('and'|'or', (spec, ...))."""
    if node is None:
        return ("or", ())
    if node.op == "phrase":
        return ("p", pid_by_items[node.phrase.items])
    if node.op == "not":
        return ("not", _tree_spec(node.children[0], pid_by_items))
    return (node.op, tuple(_tree_spec(c, pid_by_items)
                           for c in node.children))


def _eval_spec(spec, ok: set) -> bool:
    op = spec[0]
    if op == "p":
        return spec[1] in ok
    if op == "not":
        return not _eval_spec(spec[1], ok)
    if op == "and":
        return all(_eval_spec(c, ok) for c in spec[1])
    return any(_eval_spec(c, ok) for c in spec[1])


REGISTRY_TABLE_SCHEMA = StructType([
    StructField("query_id", StringType(), False),
    StructField("phrase_id", IntegerType(), False),
    StructField("q_lexeme", StringType(), False),
    StructField("q_pos", IntegerType(), False),
    StructField("q_len", IntegerType(), False),
    StructField("q_span", IntegerType(), False),
])


def _flatten_queries(queries: dict[str, CompiledQuery]):
    """Rows for the unified phrase table + per-query (tree, phrase->gid map,
    has_negation). phrase_id is globally unique across the registry, so
    one alignment join serves every query at once."""
    rows, meta = [], {}
    gid = 0
    for qid, q in queries.items():
        # a registry has no dictionary to expand a ':*' prefix against;
        # search_batch expands against its index BEFORE matching
        require_no_prefixes(q, f"standing query {qid!r} (no dictionary)")
        pid_by_items = {}
        for ph in _distinct_phrases(q.root):
            pid_by_items[ph.items] = gid
            for lex, pos in ph.items:
                rows.append((qid, gid, lex, pos, ph.length, ph.span))
            gid += 1
        meta[qid] = (q.root, pid_by_items, "not" in _tree_ops(q.root))
    return rows, meta


# registries up to this size fold as one nested JVM CASE expression,
# larger ones through the vectorized Arrow spec evaluator: the CASE fold
# skips the Python round trip, which wins at a handful of queries, but
# its expression depth (planning and codegen) grows with the registry
# (measured, BENCH/BASELINE.md §3d)
CASE_CHAIN_MAX_QUERIES = 4


def _flags_filter_udf(specs: dict):
    @F.pandas_udf(BooleanType())
    def ok(query_id: pd.Series, ok_phrases: pd.Series) -> pd.Series:
        return pd.Series([
            _eval_spec(specs[q], set(p) if p is not None else set())
            for q, p in zip(query_id, ok_phrases)])

    return ok


def match_registry(queries: dict[str, CompiledQuery], hay,
                   universe: DataFrame,
                   doc_id: str = "doc_id") -> DataFrame:
    """(doc_id, query_id) — every query of a registry each doc satisfies.

    `hay(lexemes)` returns the (doc_id, pos, lex) rows of the registry's
    lexemes; `universe` holds the doc ids a query with a negation ranges
    over (a doc matching no phrase can still satisfy it), so those
    queries — and only those — pay a universe × negated-queries frame.
    Per (doc, query) the satisfied phrase set folds through the query's
    boolean tree: a nested CASE for registries of at most
    CASE_CHAIN_MAX_QUERIES, else the Arrow spec evaluator, whose plan
    size does not grow with the registry."""
    spark = universe.sparkSession
    rows, meta = _flatten_queries(queries)
    if rows:
        qdf = spark.createDataFrame(rows, REGISTRY_TABLE_SCHEMA)
        hits = phrase_occurrences(hay(sorted({r[2] for r in rows})), qdf,
                                  [doc_id, "query_id"])
        flags = (hits.groupBy(doc_id, "query_id")
                 .agg(F.collect_set("phrase_id").alias("ok_phrases")))
    else:
        # no phrase anywhere (empty queries): nothing to align
        flags = spark.createDataFrame(
            [], f"{doc_id} long, query_id string, ok_phrases array<int>")

    neg_qids = [qid for qid, (_, _, neg) in meta.items() if neg]
    if neg_qids:
        pairs = (universe.select(doc_id)
                 .crossJoin(F.broadcast(
                     spark.createDataFrame([(q,) for q in neg_qids],
                                           "query_id string"))))
        flags = (pairs.join(flags, on=[doc_id, "query_id"], how="full")
                 .withColumn("ok_phrases",
                             F.coalesce(F.col("ok_phrases"),
                                        F.array().cast("array<int>"))))

    if len(meta) <= CASE_CHAIN_MAX_QUERIES:
        ok = F.lit(False)
        for qid, (root, pid_by_items, _) in meta.items():
            leaf = (lambda ph, pids=pid_by_items: F.array_contains(
                F.col("ok_phrases"), pids[ph.items]))
            ok = F.when(F.col("query_id") == qid,
                        _tree_expr(root, leaf)).otherwise(ok)
    else:
        specs = {qid: _tree_spec(root, pid_by_items)
                 for qid, (root, pid_by_items, _) in meta.items()}
        ok = _flags_filter_udf(specs)(F.col("query_id"), F.col("ok_phrases"))
    return flags.where(ok).select(doc_id, "query_id")


def ts_stat(
    docs: DataFrame,
    config: str = "english",
    content_col: str = "content",
    doc_id: str = "doc_id",
    min_ndoc: int = 1,
    min_nentry: int = 1,
) -> DataFrame:
    """PG ``ts_stat(sqlquery)`` — corpus-wide lexeme statistics.

    Returns (word, ndoc, nentry): for every lexeme, the number of
    documents it occurs in and its total number of occurrences — PG's
    exact output columns (tsvector_ops.c ts_stat / PG docs §12.4.4,
    "Gathering Document Statistics"). The reference inherits this PG
    built-in unchanged, so parity means matching PG, not the reference.

    `docs` may be raw (analyzed here through `config`) or already carry a
    `lexemes` column (the output of `with_analysis` / a build stage), in
    which case no re-analysis happens. Stopword holes (NULL slots in the
    dense form) are not lexemes and are excluded, like PG.

    `min_ndoc` / `min_nentry` prefilter the result the way PG users wrap
    ts_stat with HAVING — at corpus scale the dictionary is small next to
    the corpus, but pushing the floor into the agg output keeps the
    driver/collect side tiny for the common "top dictionary" use.

    Plan: one per-(lexeme, doc) partial-aggregated shuffle (key is
    near-unique, hot lexemes spread across docs), then the dictionary
    agg on lexeme — vocabulary-sized, map-side combined. No UDF beyond
    the shared analyze kernel; never one row per token on the wire past
    the first combine.
    """
    if "lexemes" not in docs.columns:
        from .analyze import with_analysis
        docs = with_analysis(docs, content_col=content_col, config=config)
    lex = explode_lexemes(docs, doc_id)
    per_doc = lex.groupBy(F.col("lex").alias("word"), F.col(doc_id)) \
                 .agg(F.count("*").alias("tf"))
    out = (per_doc.groupBy("word")
           .agg(F.count("*").alias("ndoc"), F.sum("tf").alias("nentry")))
    if min_ndoc > 1:
        out = out.where(F.col("ndoc") >= min_ndoc)
    if min_nentry > 1:
        out = out.where(F.col("nentry") >= min_nentry)
    return out


def ts_stat_indexed(index, min_ndoc: int = 1, min_nentry: int = 1) -> DataFrame:
    """``ts_stat`` off a persisted index — zero re-tokenization.

    The postings table already IS the (term, doc, tf) aggregate, so the
    whole statistic is one vocabulary-keyed agg over tombstone-filtered
    live rows (load_index applies `_tombstones`, so stats reflect
    deletes/replaces immediately, before any compaction): ndoc = live
    postings rows per term, nentry = Σ tf. The terms/ dictionary is NOT
    read — its df/cf are build-time values that a not-yet-run tombstone
    sweep may not reflect; live rows are always correct.

    Accepts a main ``Index`` (plans/index_build.py) — for the fielded
    index use `ts_stat_fielded`, whose field filter is the analog of
    PG's ts_stat weights argument."""
    out = (index.postings
           .groupBy(F.col("term").alias("word"))
           .agg(F.count("*").alias("ndoc"), F.sum("tf").alias("nentry")))
    if min_ndoc > 1:
        out = out.where(F.col("ndoc") >= min_ndoc)
    if min_nentry > 1:
        out = out.where(F.col("nentry") >= min_nentry)
    return out


def ts_stat_fielded(findex, fields: list[str] | None = None,
                    min_ndoc: int = 1, min_nentry: int = 1) -> DataFrame:
    """``ts_stat('...', 'ab')`` — the weights-filtered form, mapped onto
    the fielded index (README: PG weight labels A-D ≙ BM25F fields).

    `fields` restricts the statistic to those field names (None = all);
    ndoc counts documents where the lexeme occurs in ANY selected field,
    matching PG's "count once per document" semantics when several
    weights are requested. Same live-rows-only contract as
    `ts_stat_indexed` (the fielded loader applies its tombstones)."""
    rows = findex.postings
    if fields is not None:
        codes = []
        for f in fields:
            if f not in findex.fields:
                raise ValueError(
                    f"unknown field {f!r}; index has {findex.fields}")
            codes.append(findex.fields.index(f))
        rows = rows.where(F.col("field").isin(codes))
    per_doc = (rows.groupBy(F.col("term").alias("word"), F.col("doc_id"))
               .agg(F.sum("tf").alias("tf")))
    out = (per_doc.groupBy("word")
           .agg(F.count("*").alias("ndoc"), F.sum("tf").alias("nentry")))
    if min_ndoc > 1:
        out = out.where(F.col("ndoc") >= min_ndoc)
    if min_nentry > 1:
        out = out.where(F.col("nentry") >= min_nentry)
    return out
