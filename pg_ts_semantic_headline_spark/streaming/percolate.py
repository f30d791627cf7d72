"""Percolation: standing queries matched against a document stream.

The inverse of search — instead of one query probing a persisted corpus
index, a (small) registry of standing TSPQueries probes every ARRIVING
document. The reference has no analog (its trigger upkeep,
/root/reference/development_schema.sql:18-34, only maintains index columns);
at ingest scale this is the alerting/routing primitive: "which saved
searches does this new document satisfy?".

Spark-first design, one plan for ALL standing queries:

1. all queries' phrase patterns flatten into ONE broadcastable table
   (query_id, phrase_id, q_lexeme, q_pos, q_len, q_span) — phrase_id is
   globally unique across queries, so one alignment join serves every
   query at once;
2. each batch's docs analyze once (`with_analysis`, unless they already
   carry `lexemes`), explode to (doc_id, pos, lex) pruned to the UNION of
   all query lexemes before the join;
3. the self-alignment trick (pos - rel_pos) + groupBy HAVING count==len
   and exact span finds every exact phrase occurrence — the one
   alignment kernel of plans/matches.py, identical semantics to
   tsp_query_matches (reference sql/tsp_query_matches.sql:85-94);
4. per (doc, query) the satisfied phrase set folds through that query's
   boolean AST — one JVM CASE expression keyed on query_id for a handful
   of queries, a vectorized Arrow kernel holding the tree specs past
   that (plan size O(1) in #queries; it touches only the sparse flag
   rows).

Steps 1 and 3-4 are `plans.matches.match_registry`, which
`plans.search.search_batch` runs over an index too.

NOT semantics: a query whose tree contains a negation can match a document
that satisfies NO phrase at all, so negated queries are evaluated against
the full (batch_docs × negated_queries) frame — bounded by the micro-batch
size times the number of negated standing queries; pure-positive queries
stay on the sparse phrase-hit stream.

Scale: the standing-query table is broadcast (registries are small: even
10^5 phrases is a few MB); the only shuffle is the alignment groupBy on a
near-unique key. Per micro-batch the work is O(batch tokens matching any
query lexeme), independent of corpus history. The aggregation is
batch-local by construction (a document never splits across batches), so
the streaming form runs in foreachBatch — the same pattern as
`streaming/incremental.py` — not as an unbounded stateful aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.matches import explode_lexemes, match_registry
from ..plans.query_compiler import CompiledQuery


def percolate(
    docs: DataFrame,
    queries: dict[str, CompiledQuery],
    doc_id: str = "doc_id",
    content_col: str = "content",
    config: str | None = None,
) -> DataFrame:
    """(doc_id, query_id) — every standing query each document satisfies.

    `docs` either already carries a `lexemes` column (analyzed form) or raw
    `content_col` + `config` naming the text search config to analyze with
    (defaults to the first standing query's config). Each (doc, query)
    boolean fold runs in the registry matcher (`match_registry`): a JVM
    CASE expression for a handful of queries, the Arrow spec evaluator
    for larger registries.
    """
    if not queries:
        return docs.sparkSession.createDataFrame(
            [], f"{doc_id} long, query_id string")
    if "lexemes" not in docs.columns:
        from ..plans.analyze import with_analysis
        cfg = config or next(iter(queries.values())).config
        docs = with_analysis(docs, content_col, cfg)
    docs = docs.select(doc_id, "lexemes")
    matches = match_registry(
        queries,
        lambda lexemes: (explode_lexemes(docs, doc_id)
                         .where(F.col("lex").isin(lexemes))),
        docs, doc_id=doc_id)
    return matches.select(F.col(doc_id).cast("long").alias(doc_id),
                          "query_id")


def percolate_stream(
    stream_docs: DataFrame,
    queries: dict[str, CompiledQuery],
    on_batch,
    doc_id: str = "doc_id",
    content_col: str = "content",
    config: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Run the percolator over a streaming DataFrame via foreachBatch.

    `on_batch(matches_df, batch_id)` receives each micro-batch's
    (doc_id, query_id) matches — route them to a sink/alert bus there.
    Returns the StreamingQuery handle (caller owns trigger/await).
    """
    def _handle(batch_df, batch_id):
        on_batch(percolate(batch_df, queries, doc_id=doc_id,
                           content_col=content_col, config=config),
                 batch_id)

    writer = stream_docs.writeStream.foreachBatch(_handle)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


# above this many standing patterns the inline plan (one candidate gate
# + verify expression PER pattern — plan width grows with the registry,
# and every pattern re-intersects the doc trigram set) is replaced by
# the broadcast-join plan, whose width is O(1) in registry size.
# Measured crossover (1k docs, BENCH/BASELINE.md §3d): inline wins ≤16
# patterns (0.4-0.6 s vs join's flat ~0.9 s scan+join floor), join wins
# from 32 up (0.9 s vs 1.0 s) and stays flat where inline grows
# linearly (256: 1.7 s vs 10.5 s; 1,024: 3.4 s vs off the chart)
PATTERNS_INLINE_MAX = 16


def percolate_patterns(docs: DataFrame, patterns: dict[str, str],
                       kind: str = "substring",
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, query_id) for every standing SUBSTRING or REGEX pattern a
    document matches — the keyword/PII-filter counterpart of `percolate`
    (which handles boolean/phrase TSPQueries). One plan for ALL patterns,
    in either of two result-identical shapes, switched at
    PATTERNS_INLINE_MAX patterns:

    inline (small registries) — each document's trigram set is computed
    ONCE (`trigrams_col`, pure codegen), and every pattern contributes a
    cheap candidate predicate — ALL-of containment via array_intersect
    size — from its provably-required trigrams (`pattern_trigrams` /
    `regex_required_trigrams`, the index-side extraction reused
    driver-side), so the expensive verify (`contains` / `rlike`) runs
    only on candidate rows. Plan width grows with the registry: right
    for tens of patterns.

    join (large registries) — the 10^4-registry shape: required
    trigrams become ONE broadcast (query_id, tg) table equi-joined
    against the exploded doc trigram sets; a (doc, query) pair whose
    matched-trigram count hits the pattern's requirement count is a
    candidate, and candidates verify with the COLUMN forms of the same
    predicates (`contains(lower(text), lower(pattern))` /
    `regexp_like(text, pattern)` — still the JVM regex engine, so both
    shapes agree on every pattern). Patterns with no required trigram
    (too short, alternations) verify every row in both shapes — the
    same loud degradation contract as the trigram index; in the join
    they ride a (docs × ungated) broadcast cross join, so keep them rare.

    kind: 'substring' (case-insensitive contains) or 'regex' (rlike)."""
    from ..operators.trigram import (pattern_trigrams,
                                     regex_required_trigrams, trigrams_col)

    if kind not in ("substring", "regex"):
        raise ValueError(f"kind must be 'substring' or 'regex', got {kind!r}")
    spark = docs.sparkSession
    if not patterns:
        return spark.createDataFrame([], "doc_id long, query_id string")
    extract = (pattern_trigrams if kind == "substring"
               else regex_required_trigrams)

    if len(patterns) <= PATTERNS_INLINE_MAX:
        doc_tg = trigrams_col(text_col)
        hay = F.lower(F.col(text_col))
        matches = []
        for qid, pat in patterns.items():
            req = extract(pat)
            verify = (F.contains(hay, F.lit(pat.lower()))
                      if kind == "substring"
                      else F.col(text_col).rlike(pat))
            if req:
                req_arr = F.array(*[F.lit(t) for t in req])
                cand = F.size(F.array_intersect(F.col("_tg"), req_arr)) \
                    == len(req)
                pred = cand & verify
            else:
                pred = verify
            matches.append(F.when(pred, F.lit(qid)))
        return (docs
                .withColumn("_tg", doc_tg)
                .select(F.col(id_col).alias("doc_id"),
                        F.explode(F.array_compact(F.array(*matches)))
                        .alias("query_id")))

    req_rows, meta_rows, ungated = [], [], []
    for qid, pat in patterns.items():
        req = extract(pat)
        if req:
            req_rows += [(qid, t) for t in req]
            meta_rows.append((qid, len(req), pat))
        else:
            ungated.append((qid, pat))
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("_txt"))

    def _verify(frame):
        pred = (F.contains(F.lower(F.col("_txt")),
                           F.lower(F.col("pattern")))
                if kind == "substring"
                else F.regexp_like(F.col("_txt"), F.col("pattern")))
        return frame.where(pred).select("doc_id", "query_id")

    out = None
    if meta_rows:
        tgdf = spark.createDataFrame(req_rows, "query_id string, tg string")
        meta = spark.createDataFrame(
            meta_rows, "query_id string, n_req int, pattern string")
        # doc trigram sets and per-pattern requirement lists are both
        # DISTINCT, so a plain count of equi-join hits is the number of
        # distinct requirements met
        cand = (base.select("doc_id",
                            F.explode(trigrams_col("_txt")).alias("tg"))
                .join(F.broadcast(tgdf), on="tg")
                .groupBy("doc_id", "query_id")
                .agg(F.count("*").alias("_n"))
                .join(F.broadcast(meta), on="query_id")
                .where(F.col("_n") == F.col("n_req")))
        out = _verify(cand.join(base, on="doc_id"))
    if ungated:
        udf = spark.createDataFrame(ungated, "query_id string, pattern string")
        o2 = _verify(base.crossJoin(F.broadcast(udf)))
        out = o2 if out is None else out.unionByName(o2)
    return out


def percolate_patterns_stream(stream_docs: DataFrame,
                              patterns: dict[str, str], sink_fn,
                              kind: str = "substring",
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              checkpoint_dir: str | None = None,
                              trigger_available_now: bool = True):
    """Streaming form: per micro-batch, `sink_fn(matches_df, batch_id)`
    receives the (doc_id, query_id) matches — same foreachBatch shape as
    `percolate_stream`."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink_fn(percolate_patterns(batch_df, patterns, kind,
                                   id_col, text_col), batch_id)

    from .wiring import start_foreach_batch
    return start_foreach_batch(stream_docs, handle, checkpoint_dir,
                               trigger_available_now)
