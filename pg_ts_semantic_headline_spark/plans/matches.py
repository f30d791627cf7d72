"""TSP_QUERY_MATCHES as a distributed DataFrame plan.

The core phrase-match operator (/root/reference/sql/tsp_query_matches.sql:56-97),
re-expressed Spark-first:

1. explode the lexeme stream to (doc_id, pos, lex), pruned to query lexemes
   *before* any join — the semi-join analog of the reference's
   ts_filter/setweight optimization (:42-54,68), which Catalyst pushes into
   the scan;
2. broadcast-hash-join the tiny exploded query table (:88-90);
3. the self-alignment trick: range_start = pos - rel_pos + 1 turns phrase
   adjacency into an equi group key (:85-87) — no range join needed;
4. groupBy(doc, phrase, range_start) HAVING count == phrase length (:91-92)
   and exact span (last-first == query span, :93-94) — this is exact
   position-adjacency intersection: partial matches are impossible by
   construction;
5. optional semantic re-check: re-analyze the matched slice and require the
   phrase to match it (:95-96), in a vectorized Arrow UDF;
6. per-document first-N matches in document order (:97 LIMIT, applied per
   doc because the reference evaluates per row).

Scale note: the only shuffle is the groupBy on (doc_id, phrase_id,
range_start) — a key that is near-unique, so it distributes evenly even when
one term is hot; the query side is always broadcast.

Steps 2-4 are `phrase_occurrences`, the one alignment kernel every phrase
match in the engine runs: this ad-hoc operator, the indexed boolean filter
(`search.phrase_match_docs`) and the registry matcher `match_registry`,
which `search.search_batch` and the percolator share.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..functions.lexize import analyze_text_simple
from .query_compiler import CompiledQuery, Node, require_no_prefixes

PHRASE_TABLE_SCHEMA = StructType([
    StructField("phrase_id", IntegerType(), False),
    StructField("q_lexeme", StringType(), False),
    StructField("q_pos", IntegerType(), False),
    StructField("q_len", IntegerType(), False),
    StructField("q_span", IntegerType(), False),
    StructField("phrase_query", StringType(), False),
])


def phrase_table_df(spark: SparkSession, query: CompiledQuery) -> DataFrame:
    rows = [(pid, lex, pos, length, span, rendered)
            for pid, lex, pos, length, span, rendered in query.phrase_table()]
    return spark.createDataFrame(rows, PHRASE_TABLE_SCHEMA)


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

    qdf = phrase_table_df(spark, query)
    # lexeme pruning before the join (isin folds to a literal filter the
    # optimizer can push down / turn into a bloom-ish semi filter)
    hay = (explode_lexemes(docs, doc_id)
           .where(F.col("lex").isin(list(query.lexemes))))

    grouped = phrase_occurrences(hay, qdf, [doc_id], carry=("phrase_query",))

    # `grouped` is referenced once: a self-semi-join of the recall arrays
    # to its doc ids would plan (and run) the whole alignment a second
    # time; a small match stream broadcasts into this join under AQE
    with_words = (grouped
                  .join(docs.select(doc_id, "tokens"), on=doc_id)
                  .withColumn(
                      "words",
                      F.array_join(
                          F.slice(F.col("tokens"),
                                  F.greatest(F.col("start_pos"), F.lit(1)),
                                  F.col("end_pos") - F.col("start_pos") + 1),
                          " ")))

    if not disable_semantic_check:
        check = _semantic_check_udf(query)
        with_words = with_words.where(check(F.col("words"), F.col("phrase_id")))

    w = Window.partitionBy(doc_id).orderBy("start_pos", "phrase_id")
    limited = (with_words
               .withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") <= match_limit))

    return limited.select(doc_id, "phrase_id", "words",
                          F.col("phrase_query").alias("ts_query"),
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


def _tree_expr(node: Node | None, pid_by_items) -> F.Column:
    """Boolean AST -> JVM column expression over the ok_phrases array."""
    if node is None:
        return F.lit(False)
    if node.op == "phrase":
        return F.array_contains(F.col("ok_phrases"),
                                pid_by_items[node.phrase.items])
    if node.op == "not":
        return ~_tree_expr(node.children[0], pid_by_items)
    sub = [_tree_expr(c, pid_by_items) for c in node.children]
    out = sub[0]
    for s in sub[1:]:
        out = (out & s) if node.op == "and" else (out | s)
    return out


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
            ok = F.when(F.col("query_id") == qid,
                        _tree_expr(root, pid_by_items)).otherwise(ok)
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
