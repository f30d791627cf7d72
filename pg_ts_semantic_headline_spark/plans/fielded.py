"""Indexed BM25F: per-field postings so weighted-field ranking runs off a
persisted index instead of re-tokenizing the corpus per query (the scale
path behind `search.bm25f_topk_adhoc`).

Layout under `out_dir` (mirrors the main index's bucket routing so the
same driver-side xxhash64 literals prune the scan):

    postings/bucket=B/  (doc_id, field:int, term, tf, dls:array<int>)
                        dls is the per-field length vector, denormalized
                        onto every row like the main index's dl — scoring
                        needs no docstats join
    terms/bucket=B/     (term, df) — df counts docs containing the term
                        in ANY field (the BM25F document frequency)
    stats/              one row: n_docs, per-field avg dl vector, field
                        names (order = the `field` codes), config,
                        n_buckets

Field WEIGHTS are query-time parameters, not build-time: the build
stores the EXACT per-field length sums (integers), so any weight
vector's average weighted doc length reconstructs as
(Σ_f w_f·sumdl_f) / n — one division, bit-identical to computing
avg(Σ_f w_f·dl_f) directly (per-field MEANS would not be: float
division is not distributive over the weighted sum). With integer
tf/dl and exactly-representable weights every weighted fold is an
order-exact double, so the indexed path reproduces
`bm25f_topk_adhoc` bit-for-bit.
"""

from __future__ import annotations

from ..io_codec import INDEX_CODEC

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import lifecycle as lc
from .index_build import B, K1


@dataclass
class FieldedIndex:
    root: str
    postings: DataFrame
    terms: DataFrame
    fields: list[str]
    n_docs: int
    sumdls: list[int]
    config: str
    n_buckets: int
    gen: int = 0


def build_fielded_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    field_cols: list[str],
    config: str = "english",
    n_buckets: int = 32,
    id_col: str = "doc_id",
) -> None:
    """One analysis pass per field (same Arrow kernel as the main build),
    postings unioned with a field code and range-written bucket-
    partitioned; the analyzed frame is persisted for the duration so the
    per-field branches and the stats aggregate share one UDF pass."""
    fields = list(field_cols)
    if not fields:
        raise ValueError("field_cols must name at least one column")
    lc.recover(spark, out_dir)  # the meta step below publishes
    rows, a = _field_rows(docs, fields, config, n_buckets, id_col, gen=0)
    try:
        (rows.repartition("bucket")
         .write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket")
         .parquet(f"{out_dir}/postings"))
    finally:
        a.unpersist()
    _recompute_meta(spark, out_dir, fields, config, n_buckets, gen=0)


def _field_rows(docs: DataFrame, fields: list[str], config: str,
                n_buckets: int, id_col: str,
                gen: int) -> tuple[DataFrame, DataFrame]:
    """(postings rows, persisted analyzed frame): the shared analyze →
    explode → bucket pipeline of build and incremental add. Caller
    unpersists the analyzed frame after its last action."""
    from .analyze import analyze_index_udf

    a = docs.select(F.col(id_col).alias("doc_id"), *fields)
    for i, f in enumerate(fields):
        a = a.withColumn(f"_a{i}",
                         analyze_index_udf(F.col(f), F.lit(config)))
    dls = F.array(*[F.coalesce(F.col(f"_a{i}.dl"), F.lit(0))
                    for i in range(len(fields))])
    a = a.select("doc_id", dls.alias("dls"),
                 *[F.col(f"_a{i}.postings").alias(f"_p{i}")
                   for i in range(len(fields))]).persist()
    parts = None
    for i in range(len(fields)):
        p = (a.select("doc_id", "dls", F.lit(i).alias("field"),
                      F.explode(f"_p{i}").alias("p"))
             .select("doc_id", "dls", "field",
                     F.col("p.term").alias("term"),
                     F.col("p.tf").alias("tf")))
        parts = p if parts is None else parts.unionByName(p)
    rows = (parts.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
        .withColumn("gen", F.lit(int(gen))))
    return rows, a


def _live_postings(spark: SparkSession, out_dir: str,
                   pending: bool = False) -> DataFrame:
    """Live postings; with `pending`, as they will be once the calling
    writer publishes what it staged (lifecycle.with_staged)."""
    post = spark.read.parquet(f"{out_dir}/postings")
    tombs = lc.read_tombstones(spark, f"{out_dir}/_tombstones")
    if pending:
        post = lc.with_staged(spark, out_dir, "postings", post)
        tombs = lc.with_staged(spark, out_dir, "_tombstones", tombs)
    return lc.live_rows(post, tombs, "doc_id")


def _recompute_meta(spark: SparkSession, out_dir: str, fields: list[str],
                    config: str, n_buckets: int, gen: int) -> None:
    """Dictionary + corpus stats from the live (tombstone-filtered)
    postings, staged next to whatever the caller staged and published
    with it in one commit — same policy as the main index's
    `_reaggregate` (idf/df never drift after adds/deletes). The OUTPUT
    is metadata-scale, but the aggregation reads the postings' skinny
    columns once per call: batch your mutations to whatever cadence
    amortizes that scan."""
    live = _live_postings(spark, out_dir, pending=True)
    terms = (live.groupBy("term")
             .agg(F.count_distinct("doc_id").alias("df"),
                  F.first("bucket").alias("bucket")))
    lc.stage(spark, out_dir, "terms", terms, "bucket")
    per_doc = live.groupBy("doc_id").agg(F.first("dls").alias("dls"))
    st = per_doc.agg(F.count("*").alias("n"),
                     *[F.sum(F.col("dls")[i]).alias(f"s{i}")
                       for i in range(len(fields))]).first()
    lc.stage(spark, out_dir, "stats", spark.createDataFrame(
        [(int(st["n"]),
          [int(st[f"s{i}"] or 0) for i in range(len(fields))],
          fields, config, int(n_buckets), int(gen))],
        "n_docs long, sumdls array<long>, fields array<string>, "
        "config string, n_buckets int, gen long"
    ).coalesce(1))
    lc.publish(spark, out_dir)


def load_fielded_index(spark: SparkSession, out_dir: str) -> FieldedIndex:
    lc.check_committed(spark, out_dir)
    st = spark.read.parquet(f"{out_dir}/stats").first()
    return FieldedIndex(
        root=out_dir,
        postings=_live_postings(spark, out_dir),
        terms=spark.read.parquet(f"{out_dir}/terms"),
        fields=list(st["fields"]),
        n_docs=int(st["n_docs"]),
        sumdls=[int(x) for x in st["sumdls"]],
        config=str(st["config"]),
        n_buckets=int(st["n_buckets"]),
        gen=int(st["gen"]),
    )


def _scored_terms(index: FieldedIndex, field_weights: dict[str, float],
                  terms: list[str],
                  candidate_docs: DataFrame | None = None) -> DataFrame | None:
    """Per-(doc, term) BM25F contributions `_s` for the sorted distinct
    `terms`: one bucket-pruned postings scan, the per-(doc, term)
    weighted-tf fold (map-side combinable — at most |fields| rows per
    key), a broadcast idf join. The fold `bm25f_topk` and
    `bm25f_topk_batch` both sum; None when nothing can score."""
    import math

    from ..functions.xxhash import term_bucket

    unknown = set(field_weights) - set(index.fields)
    if unknown:
        raise ValueError(f"unknown fields {sorted(unknown)}; "
                         f"index has {index.fields}")
    w = [float(field_weights.get(f, 0.0)) for f in index.fields]
    # exact integer weighted sum, ONE division — bit-identical to the
    # ad-hoc path's avg(wdl) (see module docstring)
    avgwdl = (sum(wi * si for wi, si in zip(w, index.sumdls))
              / index.n_docs) if index.n_docs else 0.0
    if avgwdl <= 0:
        return None
    buckets = sorted({term_bucket(t, index.n_buckets) for t in terms})
    rows = (index.postings
            .where(F.col("bucket").isin(buckets))
            .where(F.col("term").isin(terms)))
    if candidate_docs is not None:
        rows = rows.join(candidate_docs.select("doc_id"), on="doc_id",
                         how="left_semi")
    wexpr = F.lit(0.0)
    for i, wi in enumerate(w):
        wexpr = F.when(F.col("field") == i, F.lit(wi)).otherwise(wexpr)
    wdl = F.lit(0.0)
    for i, wi in enumerate(w):
        wdl = wdl + F.lit(wi) * F.col("dls").getItem(i).cast("double")
    per_term = (rows.groupBy("doc_id", "term")
                .agg(F.sum(wexpr * F.col("tf").cast("double")).alias("wtf"),
                     F.first("dls").alias("dls"))
                .where(F.col("wtf") > 0))

    n = index.n_docs
    idf_rows = [(r["term"], math.log(1 + (n - int(r["df"]) + 0.5)
                                     / (int(r["df"]) + 0.5)))
                for r in (index.terms
                          .where(F.col("bucket").isin(buckets))
                          .where(F.col("term").isin(terms))
                          .select("term", "df").collect())]
    if not idf_rows:
        return None
    idf_df = index.postings.sparkSession.createDataFrame(
        idf_rows, "term string, idf double")
    return (per_term.join(F.broadcast(idf_df), on="term")
            .withColumn("_wdl", wdl)
            .withColumn(
                "_s",
                F.col("idf") * F.col("wtf") * (K1 + 1)
                / (F.col("wtf")
                   + K1 * (1 - B + B * F.col("_wdl") / F.lit(avgwdl)))))


def bm25f_topk_batch(
    index: FieldedIndex,
    field_weights: dict[str, float],
    queries: dict[str, list[str]],
    k: int = 10,
) -> DataFrame:
    """Top-k for MANY BM25F queries in ONE plan (the offline-retrieval
    shape, mirroring `search.bm25_topk_batch`): the union of all query
    terms prunes one postings scan, the per-(doc, term) weighted fold
    happens once for the whole workload, a tiny broadcast
    (query_id, term) table fans each folded row out to the queries
    containing its term, and one window per query cuts the top-k.
    Rank-identical to per-query `bm25f_topk` (tested). Returns
    (query_id, doc_id, score, rank), ties score desc / doc_id asc."""
    from pyspark.sql import Window

    spark = index.postings.sparkSession
    qterms = {qid: sorted(set(ts)) for qid, ts in queries.items()}
    pairs = [(qid, t) for qid, ts in qterms.items() for t in ts]
    if not pairs:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int")
    scored = _scored_terms(index, field_weights,
                           sorted({t for _, t in pairs}))
    if scored is None:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int")
    scored = scored.join(F.broadcast(spark.createDataFrame(
        pairs, "query_id string, term string")), on="term")
    agg = (scored.groupBy("query_id", "doc_id")
           .agg(F.sum("_s").alias("score")))
    win = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                 F.asc("doc_id"))
    return (agg.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank"))


def add_documents(index: FieldedIndex, docs: DataFrame,
                  id_col: str = "doc_id") -> None:
    """Incremental add: analyze ONLY the batch (O(batch)), append its
    postings at gen+1, then recompute the metadata-scale dictionary and
    stats from live rows; both publish in one commit. Re-adding an
    existing doc_id without deleting first duplicates it (the shared
    generation contract — `lifecycle.py`); replace = `delete_documents`
    then add."""
    spark = index.postings.sparkSession
    lc.recover(spark, index.root)
    new_gen = index.gen + 1
    rows, a = _field_rows(docs, index.fields, index.config,
                          index.n_buckets, id_col, gen=new_gen)
    try:
        lc.stage(spark, index.root, "postings", rows.repartition("bucket"),
                 "bucket", append=True)
    finally:
        a.unpersist()
    _recompute_meta(spark, index.root, index.fields, index.config,
                    index.n_buckets, gen=new_gen)
    # advance the handle (as the trigram/ANN handles do): a later
    # delete_documents through this handle stamps tombstones at index.gen,
    # and a stale gen would leave just-added rows (gen > tombstone) alive
    index.gen = new_gen


def delete_documents(index: FieldedIndex, doc_ids: list[int]) -> None:
    """Tombstone-delete: rows with gen <= the tombstone's die (see the
    shared contract); queries through a fresh `load_fielded_index` stop
    seeing them immediately, `compact_fielded_index` drops them
    physically. O(deletes) writes + a metadata recompute, one commit."""
    spark = index.postings.sparkSession
    lc.recover(spark, index.root)
    lc.stage(spark, index.root, "_tombstones", spark.createDataFrame(
        [(int(i), index.gen) for i in doc_ids], "doc_id long, gen long"),
        append=True)
    _recompute_meta(spark, index.root, index.fields, index.config,
                    index.n_buckets, gen=index.gen)


def compact_fielded_index(spark: SparkSession, out_dir: str) -> None:
    """Physically drop tombstoned rows (`lifecycle.fold_tombstones`):
    rewrite live postings with gens PRESERVED, delete the tombstones
    LAST. terms/stats already describe the live rows."""
    lc.fold_tombstones(spark, out_dir, "_tombstones", {"postings": "bucket"},
                       "doc_id", shape=lambda _, df: df.repartition("bucket"))


def bm25f_topk(
    index: FieldedIndex,
    field_weights: dict[str, float],
    terms: list[str],
    k: int = 10,
    candidate_docs: DataFrame | None = None,
) -> DataFrame:
    """BM25F top-k from the fielded index: one bucket-pruned postings
    scan; per-(doc, term) weighted-tf fold (map-side combinable — at
    most |fields| rows per key); broadcast idf join; per-doc sum;
    TakeOrdered k. Identical formula to `bm25f_topk_adhoc` — for
    exactly-representable weights and integer tf/dl the two agree
    bit-for-bit. One caveat: idf's document frequency counts ANY-field
    occurrences (precomputed in the dictionary); with a ZERO weight the
    ad-hoc form's df excludes docs matching only that field — supply
    strictly positive weights for exact parity.

    `candidate_docs` (a doc_id frame — e.g. `matching_docs` output from
    a sibling boolean index, or a dedup survivor set) semi-joins the
    scan BEFORE aggregation, the same contract as `bm25_topk`; idf stays
    corpus-global, matching pg/Lucene filtered-query semantics. Phrase-
    or boolean-FILTERED BM25F composes exactly this way: build the main
    positional index over the concatenated fields and pass its
    `matching_docs(query)` here (tested)."""
    spark = index.postings.sparkSession
    ts = sorted(set(terms))
    scored = _scored_terms(index, field_weights, ts, candidate_docs) \
        if ts else None
    if scored is None:
        return spark.createDataFrame([], "doc_id long, score double")
    return (scored.groupBy("doc_id").agg(F.sum("_s").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
