"""BM25 top-k retrieval + phrase verification over the persisted index.

The reference has no scoring function (its "rank" is fragment match-count
density, /root/reference/sql/ts_fast_headline_cover_density.sql:96); BM25
top-k is the engine addition the north star requires. Scoring:

    idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))      [always positive]
    s(d,q)  = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
    k1=1.2, b=0.75; ties broken by doc_id ascending — fully deterministic.

One physical plan: scan postings rows for the query terms (bucket-pruned
scan), broadcast-join the tiny idf map, hash-aggregate per doc,
TakeOrdered k. A second, block-max WAND plan over per-block impact bounds
is not kept: it measured slower at every size tried, its designed best
case included (BENCH/BASELINE.md §2c-2e).

Phrase verification reuses the *same* pruned postings rows (positions ride
along), so a phrase query costs no second index scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .index_build import B, K1, Index
from .matches import (_distinct_phrases, _tree_expr, _tree_ops,
                      match_registry, phrase_occurrences, phrase_table_df)
from .query_compiler import CompiledQuery, Node


def _score_col(avgdl: float):
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    return (F.col("idf") * (tf * (K1 + 1))
            / (tf + K1 * (1 - B + B * dl / F.lit(float(avgdl)))))


def _pruned_postings(index: Index, terms: list[str]) -> DataFrame:
    """Postings rows for the query terms; bucket partition pruning applies
    because bucket = pmod(xxhash64(term), NB) folds to literals."""
    if not terms:
        return index.postings.where(F.lit(False))
    # bucket literals computed driver-side with a bit-identical Python
    # xxhash64 (no Spark job) -> parquet directory-partition pruning on the
    # scan
    from ..functions.xxhash import term_bucket
    buckets = sorted({term_bucket(t, index.n_buckets) for t in terms})
    return (index.postings
            .where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(terms)))


def _idf_lookup(index: Index, terms: list[str],
                cols: tuple = ("term", "idf")) -> DataFrame:
    """Dictionary columns for the query terms; the terms dictionary is
    bucket-partitioned on disk, so the same driver-side bucket routing that
    prunes postings prunes the dictionary scan."""
    from ..functions.xxhash import term_bucket
    buckets = sorted({term_bucket(t, index.n_buckets) for t in terms})
    return (index.terms
            .where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(terms))
            .select(*cols))


def explain_score(
    index: Index,
    terms: list[str],
    doc_ids: list[int] | None = None,
) -> DataFrame:
    """Per-term BM25 score breakdown — the "why did this document rank
    here" debugging view (Elasticsearch `_explain`). One row per
    (doc_id, term) the doc matches: the raw integers the formula saw
    (tf, dl, df), the idf, this term's score contribution, and the
    doc's total. Same pruned-scan + broadcast-idf plan as `bm25_topk`,
    plus one doc_id-partitioned window for the total; `doc_ids` narrows
    the scan to the documents under investigation (pass the top-k ids —
    explaining a whole corpus is a smell, not a plan).

    Returns (doc_id, term, tf, dl, df, idf, term_score, doc_score),
    deterministic order left to the caller."""
    from pyspark.sql import Window

    ts = sorted(set(terms))
    if not ts:
        return index.postings.sparkSession.createDataFrame(
            [], "doc_id long, term string, tf int, dl int, df long, "
                "idf double, term_score double, doc_score double")
    rows = _pruned_postings(index, ts)
    if doc_ids is not None:
        rows = rows.where(F.col("doc_id").isin([int(d) for d in doc_ids]))
    out = (rows.join(F.broadcast(_idf_lookup(index, ts,
                                             cols=("term", "idf", "df"))),
                     on="term")
           .withColumn("term_score", _score_col(index.avgdl))
           .withColumn("doc_score",
                       F.sum("term_score").over(
                           Window.partitionBy("doc_id"))))
    return out.select("doc_id", "term", "tf", "dl", "df", "idf",
                      "term_score", "doc_score")


def _scored(index: Index, terms: list[str]) -> DataFrame:
    """(doc_id, term, tf, dl, positions, score) for query terms."""
    rows = _pruned_postings(index, terms)
    return (rows.join(F.broadcast(_idf_lookup(index, terms)), on="term")
                .withColumn("score", _score_col(index.avgdl)))


def bm25_topk_federated(
    indexes: list[Index],
    query: CompiledQuery | list[str],
    k: int = 10,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k over MANY persisted indexes as if they were one — the
    sharded layout a 10^12-file corpus actually runs (an index per
    source / time bucket / repo shard, built and compacted
    independently), queried with GLOBAL statistics:

        df_g(t) = Σ_shard df,   N_g = Σ n_docs,
        avgdl_g = Σ (n_docs · avgdl) / N_g

    so scores — and therefore ranks — are IDENTICAL to a single
    monolithic index over the union (tested; Elasticsearch calls this
    dfs_query_then_fetch, its non-default mode, because per-shard local
    idf is cheaper but rank-unstable across shardings).

    Cost: one bounded dictionary lookup per shard (≤ |terms| rows each)
    to assemble the global constants driver-side, then ONE union plan
    over the shards' bucket-pruned postings scans — per-shard pruning
    survives the union, and the per-doc aggregation is a single hash
    agg (doc_ids must be globally unique across shards, the same
    contract the shards' builder already assumes)."""
    if not indexes:
        raise ValueError("need at least one index")
    if isinstance(query, CompiledQuery):
        # expand against the FIRST shard's dictionary (shards of one
        # corpus share an analyzer; a term unknown to a shard scores 0
        # there, same as any federated term)
        query = expand_query_prefixes(indexes[0], query)
    terms = sorted(set(
        query.lexemes if isinstance(query, CompiledQuery) else query))
    spark = indexes[0].postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")

    n_g = sum(ix.n_docs for ix in indexes)
    total_dl = sum(ix.n_docs * ix.avgdl for ix in indexes)
    avgdl_g = total_dl / max(n_g, 1)
    df_g: dict = {}
    for ix in indexes:
        for r in _idf_lookup(ix, terms, cols=("term", "df")).collect():
            df_g[r["term"]] = df_g.get(r["term"], 0) + int(r["df"])
    if not df_g:
        return spark.createDataFrame([], "doc_id long, score double")
    from .index_build import idf_expr
    idf_rows = spark.createDataFrame(
        [(t, d) for t, d in sorted(df_g.items())], "term string, df long"
    ).select("term", idf_expr(F.col("df"), n_g).alias("idf"))

    parts = [_pruned_postings(ix, terms).select("term", "doc_id", "tf", "dl")
             for ix in indexes]
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    if candidate_docs is not None:
        rows = rows.join(candidate_docs.select("doc_id"), on="doc_id",
                         how="left_semi")
    scored = (rows.join(F.broadcast(idf_rows), on="term")
              .withColumn("score", _score_col(avgdl_g)))
    return (scored.groupBy("doc_id")
            .agg(F.sum("score").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


def search_federated(
    indexes: list[Index],
    query: CompiledQuery,
    k: int = 10,
) -> DataFrame:
    """`search` over shards: boolean/phrase filtering runs per shard
    (each shard's `matching_docs` keeps its anchored, bucket-pruned
    plan; shards hold disjoint doc_ids so the union IS the global match
    set), then `bm25_topk_federated` ranks the union with global
    statistics — rank-identical to `search` on a monolithic index."""
    if not indexes:
        raise ValueError("need at least one index")
    cands = matching_docs(indexes[0], query)
    for ix in indexes[1:]:
        cands = cands.unionByName(matching_docs(ix, query))
    return bm25_topk_federated(indexes, query, k=k, candidate_docs=cands)


def plan_search(index: Index, query: CompiledQuery | list[str]) -> DataFrame:
    """EXPLAIN for a retrieval: one row per query term with the numbers
    the planner sees — df, idf, corpus fraction, the bucket its postings
    scan prunes to, whether the term exists at all. Read this before
    pointing an expensive query at a 10^12-doc index; cost is one
    bucket-pruned dictionary lookup, nothing else."""
    from ..functions.xxhash import term_bucket

    query = expand_query_prefixes(index, query) \
        if isinstance(query, CompiledQuery) else query
    spark = index.postings.sparkSession
    schema = ("term string, bucket int, df long, idf double, "
              "corpus_frac double, in_dictionary boolean")
    terms = sorted(set(
        query.lexemes if isinstance(query, CompiledQuery) else query))
    if not terms:
        return spark.createDataFrame([], schema)
    known = {r["term"]: (int(r["df"]), float(r["idf"])) for r in
             _idf_lookup(index, terms, cols=("term", "df", "idf")).collect()}
    rows = []
    for t in terms:
        df_, idf_ = known.get(t, (0, None))
        rows.append((t, term_bucket(t, index.n_buckets), df_, idf_,
                     df_ / max(index.n_docs, 1), t in known))
    return spark.createDataFrame(rows, schema)


def bm25_topk(
    index: Index,
    query: CompiledQuery | list[str],
    k: int = 10,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k (doc_id, score), deterministic order (score desc, doc_id asc)."""
    if isinstance(query, CompiledQuery):
        query = expand_query_prefixes(index, query)
    terms = list(query.lexemes) if isinstance(query, CompiledQuery) else list(query)
    if not terms:
        spark = index.postings.sparkSession
        return spark.createDataFrame([], "doc_id long, score double")

    scored = _scored(index, terms)
    if candidate_docs is not None:
        scored = scored.join(candidate_docs.select("doc_id"), on="doc_id",
                             how="left_semi")
    return (scored.groupBy("doc_id")
            .agg(F.sum("score").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


def bm25_topk_weighted(
    index: Index,
    weights: dict[str, float],
    k: int = 10,
    min_should_match: int = 1,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """ES-style weighted retrieval: per-term query boosts plus
    `minimum_should_match` over the OR of the query terms —

        score(d) = Σ_t boost_t · bm25_t(d)  over d's matched terms,
        keep d iff |{t : tf(d, t) > 0}| ≥ min_should_match.

    Exactly bm25_topk's physical plan (one bucket-pruned postings scan,
    broadcast idf) plus a broadcast (term, boost) join and a
    count-distinct gate before the top-k — boosts and the match-count
    filter are plan algebra, no extra scan. min_should_match counts
    DISTINCT matched terms (ES semantics); boost 0 keeps a term as a
    match-count voter that contributes no score. Returns
    (doc_id, score, n_matched), ordered (score desc, doc_id asc)."""
    if min_should_match < 1:
        raise ValueError("min_should_match must be >= 1")
    bad = {t: b for t, b in weights.items() if float(b) < 0.0}
    if bad:
        raise ValueError(f"negative boosts: {bad}")
    terms = sorted(weights)
    spark = index.postings.sparkSession
    out_schema = "doc_id long, score double, n_matched int"
    if not terms or min_should_match > len(terms):
        return spark.createDataFrame([], out_schema)
    scored = _scored(index, terms)
    if candidate_docs is not None:
        scored = scored.join(candidate_docs.select("doc_id"), on="doc_id",
                             how="left_semi")
    wdf = F.broadcast(spark.createDataFrame(
        [(t, float(b)) for t, b in sorted(weights.items())],
        "term string, _boost double"))
    per_doc = (scored.join(wdf, on="term")
               .groupBy("doc_id")
               .agg(F.sum(F.col("score") * F.col("_boost")).alias("score"),
                    F.count_distinct("term").cast("int")
                    .alias("n_matched")))
    return (per_doc.where(F.col("n_matched") >= int(min_should_match))
            .select("doc_id", "score", "n_matched")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


def bm25_topk_batch(
    index: Index,
    queries: dict[str, CompiledQuery | list[str]],
    k: int = 10,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Top-k for MANY queries in ONE plan — the offline-retrieval shape
    (eval sets, hard-negative mining, distillation): a training pipeline
    scoring 10k queries must not launch 10k driver actions.

    Plan: the union of all query terms prunes ONE postings scan (bucket
    literals + term pushdown); a tiny broadcast (query_id, term) table fans
    each posting row out to exactly the queries containing its term; one
    hash aggregation per (query_id, doc_id); one window per query for the
    top-k cut. Scan cost is paid once for the whole workload instead of
    once per query, and every per-query result is rank-identical to
    `bm25_topk` (tested). Ties: score desc, doc_id asc.

    `candidates`, when given, is a (query_id, doc_id) frame restricting
    each query's scored set (the boolean-match semi-join `search_batch`
    feeds in); rank is assigned AFTER the restriction.

    Returns (query_id, doc_id, score, rank) with rank 1..k."""
    from pyspark.sql import Window

    qterms = {
        qid: sorted(set(q.lexemes if isinstance(q, CompiledQuery) else q))
        for qid, q in queries.items()}
    pairs = [(qid, t) for qid, ts in qterms.items() for t in ts]
    spark = index.postings.sparkSession
    if not pairs:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int")
    all_terms = sorted({t for _, t in pairs})
    qdf = spark.createDataFrame(pairs, "query_id string, term string")
    scored = (_pruned_postings(index, all_terms)
              .join(F.broadcast(_idf_lookup(index, all_terms)), on="term")
              .withColumn("score", _score_col(index.avgdl))
              .join(F.broadcast(qdf), on="term"))
    agg = (scored.groupBy("query_id", "doc_id")
           .agg(F.sum("score").alias("score")))
    if candidates is not None:
        agg = agg.join(candidates.select("query_id", "doc_id"),
                       on=["query_id", "doc_id"], how="left_semi")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (agg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank"))


def _narrow_candidates(df: DataFrame, candidate_ids: list | None,
                       candidate_docs: DataFrame | None) -> DataFrame:
    """Keep `df`'s rows of the candidate docs: `candidate_ids`
    (driver-side literals, e.g. an already-collected top-k) push into the
    scan as an IN-list filter, so it row-group-prunes instead of
    post-filtering a full read; `candidate_docs` broadcast-semi-joins."""
    if candidate_ids is not None:
        return df.where(F.col("doc_id").isin([int(d)
                                              for d in candidate_ids]))
    if candidate_docs is not None:
        return df.join(F.broadcast(candidate_docs.select("doc_id")),
                       on="doc_id", how="left_semi")
    return df


def _positions_hay(index: Index, terms: list[str],
                   candidate_docs: DataFrame | None = None,
                   candidate_ids: list | None = None) -> DataFrame:
    """(doc_id, term, pos) rows for the query terms, exploded from the
    bucket-pruned row postings (the index's one positional store),
    narrowed to the candidates (see `_narrow_candidates`) BEFORE the
    explode."""
    rows = _narrow_candidates(_pruned_postings(index, terms),
                              candidate_ids, candidate_docs)
    return rows.select("doc_id", "term", F.explode("positions").alias("pos"))


def phrase_match_docs(index: Index, query: CompiledQuery,
                      anchor_docs: DataFrame | None = None,
                      anchor_small: bool = False) -> DataFrame:
    """(doc_id, phrase_id, n_matches) via positional intersection on the
    pruned postings — the indexed form of the matches plan. NB phrase_id
    numbering follows the query's OWN tree; callers that pass a prefix
    query get it expanded here, so compute phrase ids from the SAME
    expanded query (matching_docs expands before calling in).

    Length-1 "phrases" (plain boolean leaves like the `a` in `a & !b`)
    never touch positions: occurrence == tf > 0, so they resolve from the
    row postings' tf column (n_matches = tf). Only real multi-lexeme
    phrases explode position arrays.

    `anchor_docs` (a SUPERSET of every doc that can satisfy the boolean
    query — see matching_docs) semi-joins each scan before any shuffle:
    a common term AND-ed with a rare one shuffles only the rare term's
    docs into the per-doc aggregation, not its own millions. With
    `anchor_small` (the caller KNOWS the anchor's df is bounded) the
    anchor broadcast-joins the positional rows BEFORE the explode — a
    phrase containing a common lexeme explodes a handful of docs' arrays
    instead of the lexeme's whole posting list."""
    query = expand_query_prefixes(index, query)
    spark = index.postings.sparkSession
    if not query.phrases:
        return spark.createDataFrame([], "doc_id long, phrase_id int, n_matches long")

    singles = [(pid, ph.items[0][0])
               for pid, ph in enumerate(query.phrases) if ph.length == 1]
    multi_lexemes = sorted({lex for ph in query.phrases if ph.length > 1
                            for lex, _ in ph.items})

    single_hits = None
    if singles:
        sdf = spark.createDataFrame(
            [(t, pid) for pid, t in singles], "term string, phrase_id int")
        rows = _pruned_postings(index, sorted({t for _, t in singles}))
        if anchor_docs is not None:
            rows = rows.join(anchor_docs, on="doc_id", how="left_semi")
        single_hits = (rows.join(F.broadcast(sdf), on="term")
                       .select("doc_id", "phrase_id",
                               F.col("tf").cast("long").alias("n_matches")))

    multi_hits = None
    if multi_lexemes:
        qdf = (phrase_table_df(spark, query)
               .where(F.col("q_len") > 1))
        if anchor_docs is not None and anchor_small:
            # pre-explode pruning: semi-join the anchor's doc ids first
            hay = _positions_hay(index, multi_lexemes,
                                 candidate_docs=anchor_docs)
        else:
            hay = _positions_hay(index, multi_lexemes)
            if anchor_docs is not None:
                hay = hay.join(anchor_docs, on="doc_id", how="left_semi")
        multi_hits = (phrase_occurrences(hay, qdf, ["doc_id"], lex="term")
                      .groupBy("doc_id", "phrase_id")
                      .agg(F.count("*").alias("n_matches")))

    if single_hits is not None and multi_hits is not None:
        return single_hits.unionByName(multi_hits)
    return single_hits if single_hits is not None else multi_hits


def _required_lexemes(node: Node | None) -> set[str]:
    """Lexemes EVERY satisfying doc must contain: a phrase requires all its
    lexemes, AND requires the union of its children's requirements, OR the
    intersection (a lexeme required by every branch is required), NOT
    nothing."""
    if node is None:
        return set()
    if node.op == "phrase":
        return {lex for lex, _ in node.phrase.items}
    if node.op == "and":
        out: set[str] = set()
        for c in node.children:
            out |= _required_lexemes(c)
        return out
    if node.op == "or" and node.children:
        out = _required_lexemes(node.children[0])
        for c in node.children[1:]:
            out &= _required_lexemes(c)
        return out
    return set()


# matching_docs: an anchor term with df at or below this cap is small
# enough to broadcast its doc ids and prune the positional rows to them
# before any position array is exploded (see phrase_match_docs)
ANCHOR_PRUNE_DOC_CAP = 16_384


def matching_docs(index: Index, query: CompiledQuery) -> DataFrame:
    """Boolean @@ filter: docs satisfying the query's AND/OR/NOT tree, with
    phrase nodes requiring exact positional adjacency.

    Selective-term-first evaluation: when the tree REQUIRES some lexeme
    (see _required_lexemes) the rarest required one — df from a tiny
    bucket-pruned dictionary lookup — anchors the plan: every other
    term's scan is semi-joined down to the anchor's docs before the
    per-doc aggregation, so `rare & common` shuffles O(df_rare) rows
    instead of the common term's millions. A required lexeme absent from
    the dictionary short-circuits to an empty result with no corpus
    scan."""
    from dataclasses import replace

    query = expand_query_prefixes(index, query)
    spark = index.postings.sparkSession
    phrases = _distinct_phrases(query.root)
    full_query = replace(query, phrases=tuple(phrases))

    anchor = None
    anchor_small = False
    required = _required_lexemes(query.root)
    if required:
        dfs = {r["term"]: int(r["df"]) for r in
               _idf_lookup(index, sorted(required), cols=("term", "df"))
               .collect()}
        missing = required - set(dfs)
        if missing:
            return spark.createDataFrame([], "doc_id long")
        rarest = min(sorted(required), key=lambda t: dfs[t])
        # anchoring only pays when it actually shrinks the doc stream
        if len(query.lexemes) > 1 and dfs[rarest] * 4 <= index.n_docs:
            anchor = (_pruned_postings(index, [rarest])
                      .select("doc_id"))
            # a provably-bounded anchor can also prune the position
            # explode (broadcast of ≤cap doc ids)
            anchor_small = dfs[rarest] <= ANCHOR_PRUNE_DOC_CAP

    phrase_docs = phrase_match_docs(index, full_query, anchor_docs=anchor,
                                    anchor_small=anchor_small)
    flags = (phrase_docs.groupBy("doc_id")
             .agg(F.collect_set("phrase_id").alias("ok_phrases")))

    phrase_ids = {ph.items: pid for pid, ph in enumerate(phrases)}
    if "not" in _tree_ops(query.root):
        # NOT semantics need the full doc universe, not just phrase
        # hitters — unless an anchor exists, in which case the anchor's
        # docs ARE the universe of possible matches
        universe = (anchor if anchor is not None
                    else index.tokens.select("doc_id"))
        flags = universe.join(flags, on="doc_id", how="left").withColumn(
            "ok_phrases", F.coalesce(F.col("ok_phrases"), F.array().cast("array<int>")))
    return flags.where(_tree_expr(query.root, phrase_ids)).select("doc_id")


def search(
    index: Index,
    query: CompiledQuery,
    k: int = 10,
    enforce_boolean: bool = True,
) -> DataFrame:
    """Full retrieval: boolean/phrase filter → BM25 top-k.

    Returns (doc_id, score) in deterministic rank order.
    """
    query = expand_query_prefixes(index, query)  # once, for both stages
    cands = matching_docs(index, query) if enforce_boolean else None
    return bm25_topk(index, query, k=k, candidate_docs=cands)


def search_batch(
    index: Index,
    queries: dict[str, CompiledQuery],
    k: int = 10,
) -> DataFrame:
    """N full boolean+phrase retrievals in ONE pair of index scans — the
    batched form of `search` the way `bm25_topk_batch` batches
    `bm25_topk` (offline query workloads: eval sets, alert backfills,
    saved-search refreshes must not launch N driver actions).

    Plan: the registry matcher the percolator runs
    (`matches.match_registry`) over ONE positional scan pruned to the
    union of every query's lexemes: one broadcast phrase table for all
    queries, one alignment, and each query's boolean tree folded over
    its satisfied-phrase set — a JVM CASE expression for a handful of
    queries, the Arrow spec evaluator past that, so plan size does not
    grow with an offline workload's query count. The match set then
    semi-joins `bm25_topk_batch`'s single scored scan per query.

    NOT semantics: queries containing a negation must see every corpus
    doc (a doc matching no phrase can still satisfy them), so those —
    and only those — pay a corpus×negated-queries evaluation against
    the column-pruned doc list, exactly like the percolator's batch
    form. Per-query results are rank-identical to `search` (tested);
    like `search`, a query with no positive lexeme ranks nothing.

    Returns (query_id, doc_id, score, rank) with rank 1..k per query."""
    spark = index.postings.sparkSession
    if not queries:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int")
    queries = {qid: expand_query_prefixes(index, q)
               for qid, q in queries.items()}
    matches = match_registry(
        queries,
        lambda lexemes: (_positions_hay(index, lexemes)
                         .select("doc_id", "pos",
                                 F.col("term").alias("lex"))),
        index.tokens)
    return bm25_topk_batch(index, queries, k=k, candidates=matches)


#: winners per `_winner_headlines` job of `search_with_headlines`: the
#: IN-list literals and the collected recall arrays stay bounded
HEADLINE_CHUNK = 512


def search_with_headlines(
    index: Index,
    query: CompiledQuery,
    k: int = 10,
    options: str = "",
) -> DataFrame:
    """Top-k + whole-phrase highlighted headline per hit (the fast path over
    the persisted index: position lookup + recall-array slicing only).

    The k hits are COLLECTED first (k rows — bounded driver work). Then
    one job per HEADLINE_CHUNK (512) winners, narrowed to their doc_ids
    as IN-list literals (parquet row-group pruning), reads their recall
    arrays from `tokens` and their query-lexeme rows from the
    bucket-pruned row postings, and the driver runs the fast-headline
    kernel over them (`_winner_headlines`). The answer is a driver-local
    frame in rank order, so the caller's collect runs no job."""
    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType

    # expand prefixes up front: the headline stage must highlight the
    # concrete expansions, not the raw ':*' lexeme
    query = expand_query_prefixes(index, query)
    hits = search(index, query, k=k)
    rows = hits.collect()
    ids = [int(r["doc_id"]) for r in rows]
    heads = []
    for i in range(0, len(ids), HEADLINE_CHUNK):
        heads += _winner_headlines(index, query, options,
                                   ids[i:i + HEADLINE_CHUNK])
    # an Arrow table becomes a driver-local relation: the caller's collect
    # reads it back without a Spark job (a list of rows would be
    # parallelized, and its collect run as a job of its own)
    table = pa.table({**{c: [r[c] for r in rows] for c in hits.columns},
                      "headline": heads})
    schema = StructType(hits.schema.fields
                        + [StructField("headline", StringType())])
    return index.postings.sparkSession.createDataFrame(table, schema)


def _winner_headlines(index: Index, query: CompiledQuery, options: str,
                      ids: list[int]) -> list:
    """Headlines of the docs `ids` (one chunk of winners), in order (None
    where no phrase matches). One Spark job reads both inputs, narrowed
    to `ids` as IN-list literals: the recall arrays from `tokens` and the
    query lexemes' row postings. Per doc, the positions rebuild the
    lexeme stream (None in every other slot) and the fast-headline
    kernel runs over it, as `headline.ts_fast_headline` runs it over an
    analyzed row."""
    from .headline import (_fast_headline_kernel, _fast_options,
                           _present_headlines)

    recall = (index.tokens.where(F.col("doc_id").isin(ids))
              .select("doc_id", "tokens"))
    occurrences = (_narrow_candidates(
        _pruned_postings(index, list(query.lexemes)), ids, None)
        .select("doc_id", "term", "positions"))
    tokens: dict = {}
    occ: dict = {}
    for r in (recall.unionByName(occurrences, allowMissingColumns=True)
              .collect()):
        if r["term"] is None:
            tokens[r["doc_id"]] = r["tokens"]
        else:
            occ.setdefault(r["doc_id"], []).append(
                (r["term"], r["positions"]))
    o = _fast_options(options)
    kernel = _fast_headline_kernel(query, o)
    raw = []
    for d in ids:
        if d not in tokens:
            raw.append(None)
            continue
        toks = tokens[d]
        terms = occ.get(d, [])
        lexs = [None] * max([len(toks)] + [max(ps) for _, ps in terms])
        for term, ps in terms:
            for p in ps:
                # one lexeme per position: the analyzer emits at most one
                # per token
                assert lexs[p - 1] is None, (d, p, lexs[p - 1], term)
                lexs[p - 1] = term
        raw.append(kernel(toks, lexs))
    return _present_headlines(raw, o.stop_sel).tolist()


def hybrid_search_rrf(
    index: Index,
    query: CompiledQuery | list[str],
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    depth: int = 100,
    k_rrf: int = 60,
    ann=None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval: fuse BM25 and embedding-cosine rankings with
    reciprocal rank fusion — score(d) = Σ_systems 1/(k_rrf + rank_d(s))
    (Cormack/Clarke/Buettcher's published RRF constant k=60 default).

    Each branch retrieves its top-`depth` (bounded, depth-sized frames),
    ranks are assigned over e4-ROUNDED scores (1e-4 quantization) with a
    doc-id tiebreak so the fused ordering is deterministic and
    reproducible across engines/float-accumulation orders, then a
    full-outer join sums the reciprocal ranks. Pass `ann` (a loaded
    AnnIndex/IvfIndex handle) to use the approximate vector branch
    instead of brute-force cosine over `embeddings`.

    Returns (doc_id, rrf_e4, bm25_rank, cosine_rank) — ranks NULL for a
    doc only one system retrieved; rrf_e4 = round(score * 1e8) (RRF
    scores live in [0, 2/61], so e8 keeps 4 significant digits)."""
    from pyspark.sql import Window

    from ..operators.similarity import cosine_topk

    lex = bm25_topk(index, query, k=depth)
    w_lex = Window.orderBy(
        F.desc(F.round(F.col("score") * 10000).cast("long")),
        F.asc("doc_id"))
    lexr = (lex.withColumn("bm25_rank", F.row_number().over(w_lex))
            .select("doc_id", "bm25_rank"))
    if ann is not None:
        # ANN handles store canonical (vec_id, embedding) columns; align
        # the output id to the caller's id_col so both branches agree
        vec = ann.query(query_vec, k=depth)
        if id_col != "vec_id":
            vec = vec.withColumnRenamed("vec_id", id_col)
    else:
        vec = cosine_topk(embeddings, query_vec, k=depth,
                          emb_col=emb_col, id_col=id_col)
    w_vec = Window.orderBy(
        F.desc(F.round(F.col("cosine") * 10000).cast("long")),
        F.asc(id_col))
    vecr = (vec.withColumn("cosine_rank", F.row_number().over(w_vec))
            .select(F.col(id_col).alias("doc_id"), "cosine_rank"))
    fused = (lexr.join(vecr, on="doc_id", how="full_outer")
             .withColumn(
                 "_rrf",
                 F.coalesce(1.0 / (F.lit(k_rrf) + F.col("bm25_rank")),
                            F.lit(0.0))
                 + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("cosine_rank")),
                              F.lit(0.0)))
             .withColumn("rrf_e4",
                         F.round(F.col("_rrf") * 100000000).cast("long")))
    return (fused.orderBy(F.desc("rrf_e4"), F.asc("doc_id")).limit(k)
            .select("doc_id", "rrf_e4", "bm25_rank", "cosine_rank"))


def facet_counts(
    index: Index,
    query: CompiledQuery,
    meta: DataFrame,
    facet_cols: list[str],
) -> DataFrame:
    """Facet aggregation over ALL docs matching a boolean/phrase query —
    the search-engine "aggregations" sidebar (count per language, per
    source, per repo) computed beside the top-k list.

    One match plan + one shuffle: `matching_docs` anchors on the rarest
    required term (bucket-pruned postings scan), the matched doc_ids
    left-semi-join the metadata table on doc_id, and a single stack()
    unpivot + hash aggregate produces every facet's counts — N facet
    columns never cost N scans or N joins. Facet cardinality is small,
    so map-side partial aggregation collapses the final shuffle to
    ~|distinct values| rows per partition; at 10^12 docs the only heavy
    edge is the doc_id semi-join, which AQE converts to a broadcast
    whenever the match set is small.

    Returns (facet, value, doc_count) — one row per facet value present
    among the matched docs; NULL values group like SQL GROUP BY."""
    if not facet_cols:
        raise ValueError("facet_cols must name at least one column")
    docs = matching_docs(index, query)
    sel = meta.join(docs, on="doc_id", how="left_semi")
    stack = "stack({}, {}) as (facet, value)".format(
        len(facet_cols),
        ", ".join(f"'{c}', cast(`{c}` as string)" for c in facet_cols))
    return (sel.selectExpr(stack)
            .groupBy("facet", "value")
            .agg(F.count("*").alias("doc_count")))


def top_per_facet(
    index: Index,
    terms: list[str],
    meta: DataFrame,
    facet_col: str,
    k: int = 3,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 results WITHIN each facet value — the "best 3 hits per
    source / per language" result-diversification query (Elasticsearch
    `top_hits` inside a terms aggregation). Complements `facet_counts`:
    that returns the sidebar counts, this returns the documents.

    One pruned postings scan → per-doc BM25 sum (match-set-sized), an
    equi-join onto the metadata table for the facet column (AQE
    broadcasts the match side when it is small — the metadata table is
    never shuffled by hand), then one row_number window per facet value.
    Ties break score desc, doc_id asc. `candidate_docs` pre-filters the
    scan (boolean/phrase compositions), same contract as `bm25_topk`.

    Skew note: the window sorts each facet partition, so one dominant
    facet value costs a sort of its match subset — acceptable because the
    input is the MATCH set, not the corpus; for stopword-scale queries
    over a near-single-valued facet, cut the match set first (filters or
    a global `bm25_topk` pre-pass).

    Returns (facet_value, doc_id, score, rank), rank 1-based per value;
    NULL facet values rank in their own group like SQL GROUP BY."""
    from pyspark.sql import Window

    ts = sorted(set(terms))
    if not ts:
        return index.postings.sparkSession.createDataFrame(
            [], "facet_value string, doc_id long, score double, rank int")
    scored = _scored(index, ts)
    if candidate_docs is not None:
        scored = scored.join(candidate_docs.select("doc_id"), on="doc_id",
                             how="left_semi")
    per_doc = scored.groupBy("doc_id").agg(F.sum("score").alias("score"))
    sel = per_doc.join(
        meta.select("doc_id",
                    F.col(facet_col).cast("string").alias("facet_value")),
        on="doc_id")
    win = (Window.partitionBy("facet_value")
           .orderBy(F.desc("score"), F.asc("doc_id")))
    return (sel.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("facet_value", "doc_id", "score", "rank"))


def significant_terms(
    index: Index,
    query: CompiledQuery,
    top_n: int = 20,
    min_fg_df: int = 2,
    exclude_query_terms: bool = False,
) -> DataFrame:
    """Terms statistically over-represented in the docs matching a query
    vs the whole corpus — Elasticsearch's `significant_terms` aggregation
    ("what is this result set ABOUT that the corpus is not?"): search
    'crash' over a bug corpus and the segfault/backtrace vocabulary
    surfaces even though it never appeared in the query.

    Scoring is the foreground/background rate lift,
    `(fg_df / fg_n) / (bg_df / bg_n)`, computed as one division of two
    exact long products — every input is an integer straight off the
    index (fg_df from the match set's postings, bg_df from the
    dictionary, bg_n from stats), so the double is bit-identical across
    engines/partitionings and the (lift desc, term asc) ranking carries
    no float-combine-order risk. Lift is ES's "simple" heuristic; JLH /
    chi² re-rank the same four integers, so callers can recompute.

    Plan shape (the 100 TB audit): `matching_docs` resolves the query
    with its usual anchored bucket-pruned scans; the match set semi-joins
    the postings on doc_id — the one heavy edge, and AQE broadcasts it
    whenever the match set is small, which is the typical case for a
    selective query; the per-term counts come out of a map-side-combined
    groupBy (shuffle is match-vocabulary-sized, not postings-sized); the
    dictionary join runs on the ALREADY-AGGREGATED term table; fg_n
    rides along as a one-row broadcast cross-join, so the whole result
    is a single action. `min_fg_df` mirrors ES's `min_doc_count` — a
    term seen once in the foreground is noise, and the filter runs
    before the top-n window sorts anything.

    Returns (term, fg_df, bg_df, fg_n, bg_n, lift, rank), rank 1-based
    by lift desc / term asc, at most `top_n` rows."""
    from pyspark.sql import Window

    docs = matching_docs(index, query)
    fg_n = docs.agg(F.count("*").alias("fg_n"))
    fg = (index.postings.join(docs, on="doc_id", how="left_semi")
          .groupBy("term").agg(F.count("*").alias("fg_df"))
          .where(F.col("fg_df") >= min_fg_df))
    if exclude_query_terms and query.lexemes:
        fg = fg.where(~F.col("term").isin(*query.lexemes))
    bg_n = int(index.n_docs)
    joined = (fg.join(index.terms.select("term",
                                         F.col("df").alias("bg_df")),
                      on="term")
              .crossJoin(F.broadcast(fg_n)))
    lift = ((F.col("fg_df") * F.lit(bg_n)).cast("double")
            / (F.col("fg_n") * F.col("bg_df")).cast("double"))
    win = Window.orderBy(F.desc("lift"), F.asc("term"))
    return (joined.withColumn("lift", lift)
            .withColumn("rank", F.row_number().over(win).cast("long"))
            .where(F.col("rank") <= top_n)
            .select("term", "fg_df", "bg_df",
                    F.col("fg_n").cast("long").alias("fg_n"),
                    F.lit(bg_n).cast("long").alias("bg_n"),
                    "lift", "rank"))


def more_like_this(
    index: Index,
    content: str,
    k: int = 10,
    max_terms: int = 10,
    exclude_doc_id: int | None = None,
    config: str | None = None,
) -> DataFrame:
    """"More like this": rank the corpus by BM25 similarity to a free-text
    source document (Elasticsearch MLT / the "related articles" query).

    The source text is analyzed DRIVER-side with the index's own analyzer
    (one document — no Spark job), then query terms are chosen by an
    integer-only rule: highest tf first, then rarest (df ascending, from
    a bucket-pruned dictionary lookup), then term ascending. All-integer
    selection is deterministic and reproducible in plain SQL — no
    cross-engine float-tie risk in which terms get picked. The selected
    terms feed the normal `bm25_topk` plan, so
    retrieval cost is one pruned postings scan no matter how long the
    source document is.

    `exclude_doc_id` drops the source itself when it is part of the
    corpus. Returns (doc_id, score) in rank order (score desc, doc_id
    asc)."""
    from collections import Counter

    from ..functions.lexize import analyze_text_simple

    spark = index.postings.sparkSession
    tf = Counter(lx for lx in analyze_text_simple(
        content or "", config or index.config) if lx is not None)
    if not tf:
        return spark.createDataFrame([], "doc_id long, score double")
    # bounded driver work: one dictionary row per DISTINCT source term
    dfs = {r["term"]: int(r["df"]) for r in
           _idf_lookup(index, sorted(tf), cols=("term", "df")).collect()}
    present = [t for t in sorted(tf) if t in dfs]
    if not present:
        return spark.createDataFrame([], "doc_id long, score double")
    selected = sorted(present, key=lambda t: (-tf[t], dfs[t], t))[:max_terms]
    fetch = k + 1 if exclude_doc_id is not None else k
    top = bm25_topk(index, selected, k=fetch)
    if exclude_doc_id is not None:
        top = (top.where(F.col("doc_id") != int(exclude_doc_id))
               .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
    return top


def bm25f_topk_adhoc(
    df: DataFrame,
    field_weights: dict[str, float],
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25F: weighted-multi-field BM25 over an ad-hoc frame — a title
    hit outranks the same words buried in a body (Robertson's simplified
    BM25F: fold field tf/length into weighted totals FIRST, then apply
    the usual saturation once):

        wtf(t,d) = Σ_f w_f·tf_f(t,d)      wdl(d) = Σ_f w_f·len_f(d)
        score    = Σ_t idf(t)·wtf·(k1+1)/(wtf + k1·(1−b+b·wdl/avgwdl))

    idf uses documents containing t in ANY field. One projection builds
    every per-field count as column algebra (whitespace tokens — run the
    fields through `with_analysis` first for config-aware tokens), ONE
    aggregation action fixes n_docs/avg(wdl)/per-term df, and per-term
    scores combine left-to-right in sorted-term order so the doubles are
    engine-reproducible. Two actions total, no UDFs, no shuffle beyond
    the final top-k — the candidate-set-scoring shape (an indexed BM25F
    would need per-field postings; use `bm25_topk` for the single-field
    indexed path)."""
    import math

    terms = sorted(set(terms))
    fields = sorted(field_weights)
    if not fields:
        raise ValueError("field_weights must name at least one column")
    spark = df.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")

    def toks(f):
        return F.filter(F.split(F.col(f), " "), lambda x: x != "")

    def eq(term):
        # closure factory: a 2-arg lambda would be read by F.filter as
        # the (element, index) form and bind `term` to the index column
        return lambda x: x == term

    wdl = None
    for f in fields:
        part = F.size(toks(f)).cast("double") * float(field_weights[f])
        wdl = part if wdl is None else wdl + part
    cols = [F.col(id_col).alias("doc_id"), wdl.alias("wdl")]
    for i, t in enumerate(terms):
        wtf = None
        for f in fields:
            c = (F.size(F.filter(toks(f), eq(t)))
                 .cast("double") * float(field_weights[f]))
            wtf = c if wtf is None else wtf + c
        cols.append(wtf.alias(f"wtf_{i}"))
    per = df.select(*cols)

    stats = per.agg(
        F.count("*").alias("n"), F.avg("wdl").alias("a"),
        *[F.sum((F.col(f"wtf_{i}") > 0).cast("int")).alias(f"df_{i}")
          for i in range(len(terms))]).first()
    n_docs, avgwdl = int(stats["n"]), float(stats["a"] or 0.0)

    score = F.lit(0.0)
    any_wtf = F.lit(0.0)
    for i in range(len(terms)):
        any_wtf = any_wtf + F.col(f"wtf_{i}")
        dfi = int(stats[f"df_{i}"])
        if dfi == 0:
            continue
        idf = math.log(1 + (n_docs - dfi + 0.5) / (dfi + 0.5))
        wtf = F.col(f"wtf_{i}")
        score = score + F.when(
            wtf > 0,
            F.lit(idf) * wtf * (K1 + 1)
            / (wtf + K1 * (1 - B + B * F.col("wdl") / F.lit(avgwdl)))
        ).otherwise(F.lit(0.0))
    return (per.where(any_wtf > 0)
            .select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def more_like_this_by_id(
    index: Index,
    doc_id: int,
    **kwargs,
) -> DataFrame:
    """`more_like_this` addressed by doc_id: the source document's recall
    token array is point-read from the index's tokens table (one row —
    parquet row-group min/max pruning on doc_id, the same trick
    `search_with_headlines` uses for winners) and re-analyzed. The
    tokens column is the analyzer's own canonical output, so re-analysis
    reproduces the postings' lexeme stream exactly. The source doc is
    excluded from the results."""
    row = (index.tokens.where(F.col("doc_id") == int(doc_id))
           .select("tokens").first())
    if row is None:
        raise KeyError(f"doc_id {doc_id} not in index")
    return more_like_this(index, " ".join(row["tokens"]),
                          exclude_doc_id=int(doc_id), **kwargs)


def bm25_topk_paged(
    index: Index,
    query: CompiledQuery | list[str],
    k: int = 10,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Keyset ("search_after") pagination for BM25: the page of k docs
    strictly after the cursor `(score, doc_id)` in (score desc, doc_id
    asc) order — deep pagination without OFFSET's recompute-and-discard.

    A float cursor is only meaningful if the score is REPRODUCIBLE, and
    a hash-aggregate float sum is not (partial-sum addition order varies
    run to run, so the same doc can score ±1 ulp differently on the next
    page's job and fall on the wrong side of `score == cursor`). Scores
    here are built from per-term conditional aggregates — one addend per
    (doc, term), so each aggregate is order-free — combined left-to-right
    in sorted-term order: bit-deterministic across jobs, pages, and
    engines given the same idf inputs. Each page costs one bucket-pruned
    postings scan; the cursor filter reaches the aggregate before the
    top-k sort, so page depth never grows the sorted set."""
    if isinstance(query, CompiledQuery):
        query = expand_query_prefixes(index, query)
    terms = sorted(set(query.lexemes if isinstance(query, CompiledQuery)
                       else query))
    spark = index.postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    rows = _scored(index, terms)
    aggs = [F.sum(F.when(F.col("term") == t, F.col("score")))
            .alias(f"_s{i}") for i, t in enumerate(terms)]
    per_doc = rows.groupBy("doc_id").agg(*aggs)
    total = F.coalesce(F.col("_s0"), F.lit(0.0))
    for i in range(1, len(terms)):
        total = total + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
    scored = per_doc.select("doc_id", total.alias("score"))
    if after is not None:
        s, d = float(after[0]), int(after[1])
        scored = scored.where((F.col("score") < s)
                              | ((F.col("score") == s)
                                 & (F.col("doc_id") > d)))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def fuzzy_bm25_topk(
    index: Index,
    words: list[str],
    k: int = 10,
    threshold: float = 0.25,
    config: str | None = None,
) -> DataFrame:
    """BM25 top-k with typo tolerance: query words missing from the index
    dictionary are rewritten to their nearest dictionary term by pg_trgm
    trigram similarity (the `suggest_terms` "did you mean" operator)
    before scoring — `wnidow` retrieves `window` docs.

    Only OUT-of-vocabulary words are corrected (a valid word is never
    rewritten). Correction is top-1 by (similarity desc, term asc); the
    similarity is an integer trigram-set ratio |∩| / |∪|, so the argmax
    is bit-deterministic across engines. OOV words with no candidate ≥
    threshold are dropped with a warning — pg_trgm's own behavior for
    hopeless typos — never silently kept as zero-hit terms. Driver work
    is bounded: one dictionary presence lookup for the whole query, and
    ONE thresholded top-1 pass over the vocabulary-sized dictionary for
    ALL OOV words together (`suggest_terms_multi` — never a scan per
    word)."""
    import logging

    from ..functions.lexize import lexize_word
    from ..operators.trigram import suggest_terms_multi

    spark = index.postings.sparkSession
    lexed: list[str] = []
    for w in words:
        lx = lexize_word(w, config or index.config)
        if lx is not None and lx not in lexed:
            lexed.append(lx)
    if not lexed:
        return spark.createDataFrame([], "doc_id long, score double")
    known = {r["term"] for r in
             _idf_lookup(index, lexed, cols=("term",)).collect()}
    oov = [lx for lx in lexed if lx not in known]
    corrections = {}
    if oov:
        corrections = {r["word"]: r["term"] for r in
                       suggest_terms_multi(index.terms, oov,
                                           threshold=threshold).collect()}
    terms, dropped = [], []
    for lx in lexed:
        if lx in known:
            terms.append(lx)
        elif lx in corrections:
            terms.append(corrections[lx])
        else:
            dropped.append(lx)
    if dropped:
        logging.getLogger(__name__).warning(
            "fuzzy_bm25_topk: no dictionary term within %.2f of %s; dropped",
            threshold, dropped)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return bm25_topk(index, sorted(set(terms)), k=k)


def _expand_lexized_full(index: Index, lx: str,
                         max_expansions: int) -> tuple[list[str], bool]:
    """(dictionary terms starting with the ALREADY-LEXIZED prefix `lx`
    (df desc, term asc, capped at max_expansions), truncated?) — the
    shared scan behind expand_prefix and expand_query_prefixes (which
    hold query-side lexemes and must not lexize twice: stemming is not
    idempotent)."""
    rows = (index.terms.where(F.col("term").startswith(lx))
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions + 1).collect())
    truncated = len(rows) > max_expansions
    return [r["term"] for r in rows[:max_expansions]], truncated


def _expand_lexized(index: Index, lx: str, max_expansions: int) -> list[str]:
    import warnings

    terms, truncated = _expand_lexized_full(index, lx, max_expansions)
    if truncated:
        warnings.warn(
            f"prefix {lx!r} matches more than {max_expansions} "
            f"dictionary terms; using the {max_expansions} most frequent")
    return terms


#: a lexeme no analyzer can emit (tokenization strips control chars):
#: substituted for a prefix with zero dictionary expansions so the
#: phrase keeps its place in the boolean tree and matches nothing —
#: dropping the phrase instead would CHANGE and/or semantics
_IMPOSSIBLE_LEXEME = "\x00<no-expansion>"


def expand_query_prefixes(index: Index, query: CompiledQuery,
                          max_expansions: int = 32,
                          max_phrase_alternatives: int = 256) -> CompiledQuery:
    """Rewrite a `:*` prefix query into a concrete query against this
    index's dictionary: every prefix slot is replaced by its dictionary
    expansions (df desc, capped per slot at `max_expansions`, like
    Lucene's max_expansions contract), a phrase with several prefix
    slots becomes an OR over the cartesian product of expansions (capped
    at `max_phrase_alternatives` — raises past it rather than silently
    truncating a phrase), and a prefix with NO expansions becomes an
    impossible phrase so AND/NOT semantics stay exact. The result has
    no prefix slots and flows through every plan — matching, ranking,
    headlines highlight each concrete expansion — unchanged.

    No-op (same object) for queries without prefixes. One bucket-
    pruned two-column dictionary scan per distinct prefix lexeme;
    nothing corpus-sized is touched."""
    from itertools import product

    from .query_compiler import (
        _collect_positive_phrases, _dedupe, CompiledQuery as _CQ, Node,
        Phrase)

    if not isinstance(query, CompiledQuery) or not query.has_prefixes:
        return query

    cache: dict[str, tuple[list[str], bool]] = {}

    def expansions(lx: str) -> tuple[list[str], bool]:
        if lx not in cache:
            cache[lx] = _expand_lexized_full(index, lx, max_expansions)
        return cache[lx]

    def walk(node, negated: bool = False):
        if node is None:
            return None
        if node.op == "phrase":
            ph = node.phrase
            if not ph.prefix_slots:
                return node
            star = set(ph.prefix_slots)
            lists = []
            for lx, pos in ph.items:
                if pos in star:
                    exp, truncated = expansions(lx)
                    if truncated:
                        if negated:
                            # truncating a NEGATED prefix is not a recall
                            # haircut, it is WRONG results: docs holding
                            # only the dropped terms would pass the NOT
                            raise ValueError(
                                f"negated prefix '{lx}':* matches more "
                                f"than {max_expansions} dictionary terms;"
                                " truncation under NOT would return docs"
                                " that do contain the prefix — raise "
                                "max_expansions to cover the full set")
                        import warnings
                        warnings.warn(
                            f"prefix {lx!r} matches more than "
                            f"{max_expansions} dictionary terms; using "
                            f"the {max_expansions} most frequent")
                    if not exp:
                        return Node("phrase", phrase=Phrase(
                            ((_IMPOSSIBLE_LEXEME, 1),)))
                    lists.append([(e, pos) for e in exp])
                else:
                    lists.append([(lx, pos)])
            total = 1
            for lst in lists:
                total *= len(lst)
            if total > max_phrase_alternatives:
                raise ValueError(
                    f"prefix phrase {ph.render()} expands to {total} "
                    f"alternatives (> {max_phrase_alternatives}); narrow "
                    "the prefixes or raise max_phrase_alternatives")
            alts = [Node("phrase", phrase=Phrase(tuple(combo)))
                    for combo in product(*lists)]
            return alts[0] if len(alts) == 1 else Node("or", tuple(alts))
        if node.op == "not":
            return Node("not", (walk(node.children[0], not negated),))
        return Node(node.op,
                    tuple(walk(c, negated) for c in node.children))

    root = walk(query.root)
    return _CQ(query.config, query.raw, root,
               _dedupe(_collect_positive_phrases(root)))


def expand_prefix(index: Index, prefix: str,
                  max_expansions: int = 32,
                  config: str | None = None) -> list[str]:
    """Dictionary terms starting with the lexized `prefix`, most frequent
    first — the expansion set behind tsquery's `'pre':*`.

    The prefix is normalized through the index's own analyzer (PG stems
    it too: `to_tsquery('english','running:*')` → `'run':*`); a prefix
    that lexizes away (stopword) expands to nothing, with a warning.
    Selection is deterministic: (df desc, term asc), capped at
    `max_expansions` — the Lucene `max_expansions` contract — and a hit
    count past the cap warns rather than truncating silently.

    Scale shape: the dictionary is the vocabulary-sized SMALL table; a
    prefix predicate cannot bucket-prune (buckets are term-hash routed),
    so this is one pruned two-column scan of terms/ — O(|vocab|) rows
    read in parallel, ≤ max_expansions + 1 rows ever reach the driver."""
    import warnings

    from ..functions.lexize import lexize_word

    lx = lexize_word(prefix, config or index.config)
    if lx is None:
        warnings.warn(f"prefix {prefix!r} lexizes to a stopword; "
                      "prefix query matches nothing")
        return []
    return _expand_lexized(index, lx, max_expansions)


def prefix_search(
    index: Index,
    prefix: str,
    k: int = 10,
    max_expansions: int = 32,
    config: str | None = None,
) -> DataFrame:
    """tsquery prefix matching (`'pre':*`) as retrieval: every dictionary
    term starting with the lexized prefix ORs into one BM25 top-k — docs
    matching any expansion score by the expansions they contain.

    Each expansion keeps its own idf (Lucene's "blended" multi-term
    scoring rather than PG's rank-agnostic match): rare full words under
    a common prefix still contribute their full specificity. Cost is one
    dictionary scan (see `expand_prefix`) + the ordinary ≤32-term BM25
    plan — posting scans stay bucket-pruned per expansion term."""
    spark = index.postings.sparkSession
    terms = expand_prefix(index, prefix, max_expansions, config=config)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    return bm25_topk(index, sorted(terms), k=k)
