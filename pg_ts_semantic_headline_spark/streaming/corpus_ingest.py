"""Streaming corpus preparation: the `prepare_corpus` cleaning pipeline
(annotate → filter-with-reason → dedup) run per micro-batch over a
document firehose, with EXACT dedup extended ACROSS batches via a
persisted fingerprint store — the continuous-ingestion counterpart of
the batch pipeline (a training-data feed never sees its corpus all at
once).

Layout under `out_dir`:

    data/batch_id=N/     kept rows of batch N (drop_reason IS NULL)
    _seen/batch_id=N/    md5 fingerprints of batch N's kept rows
    _report/batch_id=N/  one-row `corpus_report` for batch N

Semantics: within a batch, `prepare_corpus`'s rules apply unchanged
(lowest doc_id per hash is canonical); across batches, first-batch-wins —
a row whose text hash appears in ANY EARLIER batch's fingerprints is
dropped as 'exact_dup'. With `cross_near_dedup=True`, NEAR dedup also
extends across batches through a persisted MinHash band store
(`_minhash/batch_id=N/`): a new row whose banded signature collides
with an earlier kept row becomes a candidate, and candidates are
verified by EXACT shingle Jaccard — the earlier docs' texts are
point-read back from `data/` with (batch_id, doc_id) pruning, so the
verify step reads only the candidate rows, never the corpus. LSH
parameters are pinned in `_minhash/_meta` at first use and validated
every batch (mixed-parameter stores would silently lose recall).
Assumes doc_id is unique across the stream (the same assumption the
data store itself makes).

Crash safety / exactly-once: every write is `mode("overwrite")` into a
batch_id-deterministic directory, so a replayed micro-batch (checkpoint
not yet committed) rewrites the same paths instead of appending
duplicates; the cross-batch fingerprint read filters `batch_id <
current`, so a replay never collides with its own half-written
fingerprints. Readers between a crash and the replay may see a
partially written batch directory — the same parquet-append caveat as
`attach_vector_indexer`.

Scale shape: the fingerprint store grows with the corpus (16-byte md5
per kept doc), so the dedup join is structured so the STORE is never
shuffled — the batch's distinct hashes broadcast INTO the store scan
(left-semi), and only the ≤|batch| hits broadcast back onto the batch
frame. At 10^12 docs, partition `_seen` by a hash prefix so the
semi-join prunes directories as well.
"""

from __future__ import annotations

from ..io_codec import INDEX_CODEC

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..operators.pipeline import corpus_report, prepare_corpus


def _seen_hashes(spark: SparkSession, seen_dir: str,
                 before_batch: int) -> DataFrame | None:
    """Fingerprints of batches STRICTLY BEFORE `before_batch` (None when
    the store does not exist yet). The `<` filter is what makes replays
    safe: batch N never deduplicates against its own prior attempt."""
    try:
        seen = spark.read.parquet(seen_dir)
    except AnalysisException:
        return None
    return seen.where(F.col("batch_id") < before_batch).select("h")


def _band_rows(docs: DataFrame, text_col: str, n: int, num_hashes: int,
               bands: int) -> tuple[DataFrame, DataFrame]:
    """(band_rows, shingles) for `docs`: the same shingle → minhash →
    banded-signature recipe as `operators.dedup.lsh_candidate_pairs`,
    kept row-shaped (doc_id, band, band_sig) so it can persist."""
    from ..operators.dedup import minhash_signatures, shingle_df

    sh = shingle_df(docs, text_col=text_col, id_col="doc_id", n=n)
    sig = minhash_signatures(sh, num_hashes=num_hashes)
    rows_per_band = num_hashes // bands
    out = None
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}")
                for r in range(rows_per_band)]
        part = sig.select("doc_id", F.lit(b).alias("band"),
                          F.md5(F.concat_ws("|", *cols)).alias("band_sig"))
        out = part if out is None else out.unionByName(part)
    return out, sh


def _check_minhash_meta(spark: SparkSession, mh_dir: str, n: int,
                        num_hashes: int, bands: int) -> None:
    """Pin the LSH parameters at first use; raise if a later batch tries
    different ones (mixed-parameter band stores silently lose recall)."""
    meta_path = f"{mh_dir}/_meta"
    try:
        row = spark.read.parquet(meta_path).first()
    except AnalysisException:
        (spark.createDataFrame([(n, num_hashes, bands)],
                               "n int, num_hashes int, bands int")
         .coalesce(1).write.option("compression", INDEX_CODEC).mode("overwrite").parquet(meta_path))
        return
    got = (row["n"], row["num_hashes"], row["bands"])
    if got != (n, num_hashes, bands):
        raise ValueError(
            f"minhash store at {mh_dir} was built with (n, num_hashes, "
            f"bands)={got}; refusing to mix with {(n, num_hashes, bands)}")


def _check_substr_meta(spark: SparkSession, sub_dir: str, n: int) -> None:
    """Pin the window width at first use (a store probed with a different
    n matches nothing and silently stops deduplicating)."""
    meta_path = f"{sub_dir}/_meta"
    try:
        row = spark.read.parquet(meta_path).first()
    except AnalysisException:
        (spark.createDataFrame([(n,)], "n int")
         .coalesce(1).write.option("compression", INDEX_CODEC).mode("overwrite").parquet(meta_path))
        return
    if row["n"] != n:
        raise ValueError(
            f"substring store at {sub_dir} was built with n={row['n']}; "
            f"refusing to mix with n={n}")


def _substr_store_keys(spark: SparkSession, sub_dir: str,
                       before_batch: int) -> DataFrame | None:
    try:
        store = spark.read.parquet(f"{sub_dir}/data")
    except AnalysisException:
        return None
    return store.where(F.col("batch_id") < before_batch).select("key")


def _cross_substring_cut(spark: SparkSession, batch_df: DataFrame,
                         out_dir: str, batch_id: int, n: int,
                         text_col: str, id_col: str) -> DataFrame:
    """Rewrite the batch's text with ExactSubstr cuts extended ACROSS
    batches: an n-token window registered by ANY earlier batch cuts
    every occurrence in this batch; unregistered windows keep their
    batch-first occurrence (the batch-local Lee-et-al rule). The store
    is never shuffled — the batch's distinct window fingerprints
    broadcast INTO the store scan, and only the hits come back. Adds
    `n_substr_tokens_removed`; text is whitespace-normalized (the
    token-level-op convention)."""
    from ..operators.dedup import cut_spans, substr_windows

    sub_dir = f"{out_dir}/_substr"
    _check_substr_meta(spark, sub_dir, n)
    base = batch_df.select(F.col(id_col).alias("doc_id"),
                           F.split(F.col(text_col), " ").alias("toks"))
    wins = substr_windows(base, n)
    prior = _substr_store_keys(spark, sub_dir, batch_id)
    if prior is not None:
        batch_keys = wins.select("key").distinct()
        hits = (prior.join(F.broadcast(batch_keys), on="key",
                           how="left_semi")
                .distinct().withColumn("_prior", F.lit(True)))
        wins = wins.join(F.broadcast(hits), on="key", how="left")
    else:
        wins = wins.withColumn("_prior", F.lit(None).cast("boolean"))
    winners = (wins.groupBy("key")
               .agg(F.min(F.struct("doc_id", F.col("s").alias("start")))
                    .alias("w"),
                    F.count("*").alias("c"),
                    F.first("_prior").alias("_p"))
               .where((F.col("c") > 1) | F.col("_p"))
               .select("key", "w", "_p"))
    cuts = (wins.drop("_prior").join(winners, on="key")
            .where(F.col("_p")                      # prior: cut ALL
                   | ~((F.col("doc_id") == F.col("w.doc_id"))
                       & (F.col("s") == F.col("w.start"))))
            .select("doc_id", "s"))
    rebuilt = cut_spans(base, cuts, n)
    return (batch_df.drop(text_col)
            .join(rebuilt.withColumnRenamed("doc_id", id_col), on=id_col)
            .withColumnRenamed("text_dedup", text_col)
            .withColumnRenamed("n_tokens_removed",
                               "n_substr_tokens_removed"))


def _register_substr_windows(spark: SparkSession, kept: DataFrame,
                             out_dir: str, batch_id: int, n: int,
                             text_col: str) -> None:
    """Register the windows actually SHIPPED (the kept rows' post-cut
    text) so future batches cut later copies; keys an earlier batch
    already owns are excluded via the same broadcast-probe shape."""
    from ..operators.dedup import substr_windows

    sub_dir = f"{out_dir}/_substr"
    base = kept.select(F.col("doc_id"),
                       F.split(F.col(text_col), " ").alias("toks"))
    keys = substr_windows(base, n).select("key").distinct()
    prior = _substr_store_keys(spark, sub_dir, batch_id)
    if prior is not None:
        hits = prior.join(F.broadcast(keys), on="key", how="left_semi")             .distinct()
        keys = keys.join(F.broadcast(hits), on="key", how="left_anti")
    keys.write.option("compression", INDEX_CODEC).mode("overwrite")         .parquet(f"{sub_dir}/data/batch_id={batch_id}")


def _cross_near_dups(spark: SparkSession, ann: DataFrame, out_dir: str,
                     batch_id: int, text_col: str, n: int, num_hashes: int,
                     bands: int, threshold: float,
                     max_band_size: int | None) -> tuple[DataFrame, DataFrame]:
    """(ann', new_band_rows): mark batch rows near-duplicating an EARLIER
    batch's kept row as 'near_dup'; return the surviving-candidate band
    rows for the caller to persist.

    Plan shape (store never shuffled): the batch's band keys BROADCAST
    into a semi-join over the persisted band store; the ≤hits rows come
    back, are capped per key (degenerate boilerplate signatures emit a
    logged warning, mirroring `lsh_candidate_pairs`), and the candidate
    pairs are verified by EXACT shingle Jaccard — old texts point-read
    from data/ with batch_id-directory + doc_id pruning."""
    import logging

    from ..operators.dedup import jaccard_for_pairs

    kept = ann.where(F.col("drop_reason").isNull()) \
              .select("doc_id", text_col)
    new_bands, sh_new = _band_rows(kept, text_col, n, num_hashes, bands)
    mh_dir = f"{out_dir}/_minhash"
    _check_minhash_meta(spark, mh_dir, n, num_hashes, bands)
    try:
        store = spark.read.parquet(mh_dir)
    except AnalysisException:
        return ann, new_bands
    store = store.where(F.col("batch_id") < batch_id)

    keys = new_bands.select("band", "band_sig").distinct()
    hits = (store.join(F.broadcast(keys), on=["band", "band_sig"],
                       how="left_semi")
            .select("band", "band_sig",
                    F.col("doc_id").alias("old_id"),
                    F.col("batch_id").alias("old_batch")))
    pinned = []
    if max_band_size is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("band", "band_sig")
        hits = hits.withColumn("_n", F.count("*").over(w)).persist()
        pinned.append(hits)
        n_over = hits.where(F.col("_n") > max_band_size).count()
        if n_over:
            logging.getLogger(__name__).warning(
                "cross-batch near-dedup: %d store rows in band buckets "
                "larger than %d dropped from candidate generation "
                "(batch %d); recall for those docs relies on their "
                "other bands", n_over, max_band_size, batch_id)
        hits = hits.where(F.col("_n") <= max_band_size).drop("_n")

    try:
        pairs = (new_bands.join(hits, on=["band", "band_sig"])
                 .where(F.col("doc_id") != F.col("old_id"))
                 .select(F.col("old_id").alias("a"),
                         F.col("doc_id").alias("b"), "old_batch")
                 .distinct().persist())
        pinned.append(pairs)
        old_refs = [(int(r["old_batch"]), int(r["a"])) for r in
                    pairs.select("old_batch", "a").distinct().collect()]
        if not old_refs:
            return ann, new_bands

        from ..operators.dedup import shingle_df
        batch_ids = sorted({b for b, _ in old_refs})
        old_docs = (spark.read.parquet(f"{out_dir}/data")
                    .where(F.col("batch_id").isin(batch_ids))
                    .join(F.broadcast(
                        pairs.select(F.col("a").alias("doc_id"))
                        .distinct()),
                        on="doc_id", how="left_semi")
                    .select("doc_id", text_col))
        sh_all = sh_new.unionByName(
            shingle_df(old_docs, text_col=text_col, id_col="doc_id", n=n))
        # bounded collect (≤ batch rows): folding the verified dup ids to
        # driver literals lets both caches release before the caller's
        # write actions instead of recomputing the store subplan per write
        dup_ids = [int(r["doc_id"]) for r in
                   jaccard_for_pairs(pairs.select("a", "b"), sh_all)
                   .where(F.col("jaccard") >= threshold)
                   .select(F.col("b").alias("doc_id")).distinct()
                   .collect()]
    finally:
        for df in pinned:
            df.unpersist()
    if not dup_ids:
        return ann, new_bands
    dup_new = spark.createDataFrame(
        [(i,) for i in dup_ids], "doc_id long").withColumn(
        "_xnear", F.lit(True))
    ann = (ann.join(F.broadcast(dup_new), on="doc_id", how="left")
           .withColumn("drop_reason",
                       F.coalesce(F.col("drop_reason"),
                                  F.when(F.col("_xnear"),
                                         F.lit("near_dup"))))
           .drop("_xnear"))
    return ann, new_bands


def prepare_corpus_batch(
    batch_df: DataFrame,
    out_dir: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    cross_near_dedup: bool = False,
    near_n: int = 3,
    near_num_hashes: int = 16,
    near_bands: int = 4,
    near_threshold: float = 0.5,
    near_max_band_size: int | None = 4096,
    cross_substring_dedup_n: int | None = None,
    index_dir: str | None = None,
    **prep_kwargs,
) -> None:
    """One incremental step: run `prepare_corpus(**prep_kwargs)` on the
    batch, extend exact dedup against all earlier batches' fingerprints,
    then write kept rows, new fingerprints, and the per-batch report —
    each idempotently into `.../batch_id={batch_id}`. Callable directly
    (backfill jobs) or per micro-batch via `attach_corpus_preparer`.

    `cross_near_dedup=True` also drops rows near-duplicating an EARLIER
    batch's kept row (MinHash band store + exact-Jaccard verify; see
    module docstring), turns within-batch `near_dedup` on by default so
    the two scopes agree, and persists the batch's band rows. Keep the
    flag constant for a store — batches ingested with it off leave holes
    later batches cannot near-match against.

    `index_dir` additionally folds the kept rows into a persisted BM25
    index via `merge_batch` — the full clean→dedup→index ingestion in
    one attacher. The index must already exist (build it once first);
    replays are swept idempotent via `_merge_into_index`'s
    marker-before-merge protocol. Replayed batches leave tombstoned rows
    behind — run `compact_index` periodically to drop them."""
    spark = batch_df.sparkSession
    if cross_near_dedup:
        prep_kwargs.setdefault("near_dedup", True)
        prep_kwargs.setdefault("jaccard_threshold", near_threshold)
    if cross_substring_dedup_n is not None:
        if prep_kwargs.get("substring_dedup_n") is not None:
            raise ValueError(
                "pass cross_substring_dedup_n OR substring_dedup_n, not "
                "both — the cross-batch form subsumes the batch-local one")
        batch_df = _cross_substring_cut(
            spark, batch_df, out_dir, batch_id,
            cross_substring_dedup_n, text_col, id_col)
    ann = prepare_corpus(batch_df, text_col=text_col, id_col=id_col,
                         **prep_kwargs)
    ann = ann.withColumn("_h", F.md5(F.col(text_col)))
    seen = _seen_hashes(spark, f"{out_dir}/_seen", batch_id)
    if seen is not None:
        # store-side scan is semi-joined by the BROADCAST batch hashes
        # (the store is huge, the batch is small — never shuffle the
        # store); the ≤|batch| hits broadcast back onto the batch frame
        batch_h = ann.select("_h").distinct()
        hits = (seen.withColumnRenamed("h", "_h")
                .join(F.broadcast(batch_h), on="_h", how="left_semi")
                .distinct()
                .withColumn("_prior", F.lit(True)))
        ann = (ann.join(F.broadcast(hits), on="_h", how="left")
               .withColumn("drop_reason",
                           F.coalesce(F.col("drop_reason"),
                                      F.when(F.col("_prior"),
                                             F.lit("exact_dup"))))
               .drop("_prior"))
    pinned = [ann.persist()]
    ann = pinned[0]
    new_bands = None
    try:
        if cross_near_dedup:
            ann, new_bands = _cross_near_dups(
                spark, ann, out_dir, batch_id, text_col, near_n,
                near_num_hashes, near_bands, near_threshold,
                near_max_band_size)
            ann = ann.persist()
            pinned.append(ann)
        kept = ann.where(F.col("drop_reason").isNull())
        (kept.drop("_h").write.option("compression", INDEX_CODEC).mode("overwrite")
         .parquet(f"{out_dir}/data/batch_id={batch_id}"))
        (kept.select(F.col("_h").alias("h")).distinct()
         .write.option("compression", INDEX_CODEC).mode("overwrite")
         .parquet(f"{out_dir}/_seen/batch_id={batch_id}"))
        if new_bands is not None:
            # band rows only for rows that SURVIVED every rule — dropped
            # rows must not shadow future duplicates of the kept copy
            (new_bands.join(F.broadcast(kept.select("doc_id")),
                            on="doc_id", how="left_semi")
             .write.option("compression", INDEX_CODEC).mode("overwrite")
             .parquet(f"{out_dir}/_minhash/batch_id={batch_id}"))
        if cross_substring_dedup_n is not None:
            _register_substr_windows(spark, kept, out_dir, batch_id,
                                     cross_substring_dedup_n, text_col)
        (corpus_report(ann).write.option("compression", INDEX_CODEC).mode("overwrite")
         .parquet(f"{out_dir}/_report/batch_id={batch_id}"))
        if index_dir is not None and not kept.isEmpty():
            _merge_into_index(spark, index_dir, kept.drop("_h"), out_dir,
                              batch_id, text_col)
    finally:
        for df in pinned:
            df.unpersist()


def _merge_into_index(spark: SparkSession, index_dir: str, kept: DataFrame,
                      out_dir: str, batch_id: int, text_col: str) -> None:
    """Fold the batch's kept rows into a persisted BM25 index (which must
    already exist — build it once before attaching; its own config is
    reused so a mismatch is impossible).

    Replay idempotence uses marker-BEFORE-merge: the marker under
    `_indexed/batch_id=N` is written before the first merge attempt, so
    a replay (marker present) knows rows may already exist — from a
    merge that published, or one that died mid-publish and is rolled
    forward by the sweep's own `lifecycle.recover` — and sweeps them
    with `delete_docs(through_gen=stats.gen + 2)` before re-merging.
    The kept set is deterministic on replay (the dedup-store reads
    exclude the batch's own attempt), so the sweep ids are exactly the
    crashed attempt's ids."""
    from ..lifecycle import path_exists, recover
    from ..plans.index_build import IndexPaths, _read_stats
    from .incremental import delete_docs, merge_batch

    marker = f"{out_dir}/_indexed/batch_id={batch_id}"
    recover(spark, index_dir)
    stats = _read_stats(spark, IndexPaths(index_dir))
    if path_exists(spark, marker):
        # distributed sweep: the kept ids go to delete_docs as a DataFrame
        # (materialized to a scratch table inside), never to the driver —
        # a giant replayed batch must not OOM it. Callers guarantee kept
        # is non-empty (prepare_corpus_batch gates on isEmpty).
        delete_docs(spark, index_dir, kept.select("doc_id"),
                    through_gen=int(stats["gen"]) + 2)
    else:
        (spark.createDataFrame([(int(batch_id),)], "batch_id long")
         .coalesce(1).write.option("compression", INDEX_CODEC).mode("overwrite").parquet(marker))
    merge_batch(spark, index_dir,
                kept.select(F.col("doc_id"),
                            F.col(text_col).alias("content")),
                config=str(stats["config"]))


def compact_corpus_stores(spark: SparkSession, out_dir: str,
                          upto: int | None = None) -> dict:
    """Fold the per-batch `_seen` and `_minhash` directories into ONE
    `batch_id=0` directory each (deduplicated), keeping every batch ≥
    `upto` untouched. A long-running stream accumulates thousands of tiny
    batch directories; file-listing cost at the head of every batch's
    store read grows with them, and this folds it back to O(1).

    `upto` defaults to the highest batch id present — the one batch a
    restarting stream may legally replay is never folded, so the replay's
    `batch_id < N` filter still excludes its own prior attempt. Pass an
    explicit `upto` (the checkpoint's committed offset) to fold more
    aggressively. Run while the stream is stopped, or trust the default.

    Crash window: the swap is write-hidden-tmp → delete old dirs → rename
    tmp into place; a crash between the last delete and the rename leaves
    the folded hashes invisible until the compaction is re-run. That can
    only cause duplicates to be RETAINED (dedup recall loss), never data
    loss — re-running the compaction is always safe.

    Returns {store_name: n_batches_folded}."""
    from ..lifecycle import delete_path, rename_path

    stats: dict = {}
    for store in ("_seen", "_minhash", "_substr/data"):
        path = f"{out_dir}/{store}"
        try:
            df = spark.read.parquet(path)
        except AnalysisException:
            continue
        bids = sorted(r["batch_id"] for r in
                      df.select("batch_id").distinct().collect())
        hi = upto if upto is not None else (max(bids) if bids else 0)
        merge = [b for b in bids if b < hi]
        if len(merge) <= 1:
            continue
        merged = (df.where(F.col("batch_id").isin(merge))
                  .drop("batch_id").distinct())
        tmp = f"{path}/.compact_tmp"
        delete_path(spark, tmp)
        merged.write.parquet(tmp)
        for b in merge:
            if b != 0:
                delete_path(spark, f"{path}/batch_id={b}")
        delete_path(spark, f"{path}/batch_id=0")
        rename_path(spark, tmp, f"{path}/batch_id=0")
        stats[store] = len(merge)
    return stats


def attach_corpus_preparer(
    stream_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_available_now: bool = True,
    **prep_kwargs,
):
    """writeStream wiring: each micro-batch runs `prepare_corpus_batch`.
    `prep_kwargs` forward there — `cross_near_dedup=True` (+ its near_*
    knobs) enables the cross-batch MinHash store, `index_dir=` folds
    kept rows into a persisted BM25 index, everything else (min_tokens,
    min_quality, allowed_langs, redact, ...) reaches `prepare_corpus`.

    `compact_every=N` runs housekeeping after every Nth batch:
    `compact_corpus_stores` folds the dedup stores (the just-committed
    batch is never folded, so its replay stays safe) and — when an index
    is attached — `compact_index` physically drops tombstoned rows
    without an operator in the loop (a no-op when no tombstone exists).
    Both are amortized costs; size N to the batch cadence."""
    spark = stream_docs.sparkSession
    compact_every = prep_kwargs.pop("compact_every", None)
    index_dir = prep_kwargs.get("index_dir")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        prepare_corpus_batch(batch_df, out_dir, batch_id,
                             text_col=text_col, id_col=id_col,
                             **prep_kwargs)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_corpus_stores(spark, out_dir)
            if index_dir is not None:
                from .incremental import compact_index
                compact_index(spark, index_dir)

    from .wiring import start_foreach_batch
    return start_foreach_batch(stream_docs, handle, checkpoint_dir,
                               trigger_available_now)
