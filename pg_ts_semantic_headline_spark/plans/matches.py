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
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..functions.lexize import analyze_text_simple
from .query_compiler import CompiledQuery

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
    slots) are dropped — their positions are already burned into `pos`."""
    return (docs
            .select(doc_id, F.posexplode("lexemes").alias("pos0", "lex"))
            .where(F.col("lex").isNotNull())
            .select(doc_id, (F.col("pos0") + 1).alias("pos"), "lex"))


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
    hay: DataFrame | None = None,
) -> DataFrame:
    """Exact phrase matches over analyzed docs (needs tokens+lexemes cols;
    or pass `hay` = pre-exploded (doc_id, pos, lex) rows — e.g. decoded
    postings — and docs only needs doc_id+tokens).

    Returns (doc_id, phrase_id, words, ts_query, start_pos, end_pos).
    """
    from .query_compiler import require_no_prefixes
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
    if hay is None:
        hay = explode_lexemes(docs, doc_id)
    # lexeme pruning before the join (isin folds to a literal filter the
    # optimizer can push down / turn into a bloom-ish semi filter)
    hay = hay.where(F.col("lex").isin(list(query.lexemes)))

    joined = hay.join(F.broadcast(qdf), hay.lex == qdf.q_lexeme)
    aligned = joined.withColumn(
        "range_start", F.col("pos") - F.col("q_pos") + F.lit(1))

    grouped = (aligned
               .groupBy(doc_id, "phrase_id", "range_start")
               .agg(F.count("*").alias("n_hits"),
                    F.min("pos").alias("start_pos"),
                    F.max("pos").alias("end_pos"),
                    F.first("q_len").alias("q_len"),
                    F.first("q_span").alias("q_span"),
                    F.first("phrase_query").alias("ts_query"))
               .where((F.col("n_hits") == F.col("q_len"))
                      & (F.col("end_pos") - F.col("start_pos") == F.col("q_span"))))

    # semi-join the recall vectors to the matched docs FIRST: only winners'
    # token arrays enter the words join — the match stream is usually a
    # tiny fraction of the corpus, and token arrays are the heavy column
    matched_ids = grouped.select(doc_id).distinct()
    matched_tokens = (docs.select(doc_id, "tokens")
                      .join(matched_ids, on=doc_id, how="left_semi"))
    with_words = (grouped
                  .join(matched_tokens, on=doc_id)
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

    return limited.select(doc_id, "phrase_id", "words", "ts_query",
                          "start_pos", "end_pos")


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
