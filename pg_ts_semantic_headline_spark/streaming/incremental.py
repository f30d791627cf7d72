"""Incremental index maintenance (the reference's trigger analog).

The reference keeps content_tsv/content_arr fresh with a BEFORE INSERT/UPDATE
trigger (/root/reference/development_schema.sql:18-34). The Spark-native
analog is Structured Streaming: a stream of new documents is folded into the
persisted index with `foreachBatch`, each micro-batch running the same
deterministic build pipeline over just the batch.

Merge protocol (`merge_batch`):

1. tokens/postings rows for the batch (postings WITH positions, like the
   build's) are appended under the existing layouts, stamped with the new
   generation number. Row postings are the index's only positional store,
   so every query shape — BM25, boolean, phrase, headlines — sees the
   merged docs as soon as the rows land.
2. with `replace=True`, a (doc_id, before_gen) tombstone is appended per
   batch doc: loaders drop shadowed older-generation rows via a broadcast
   join, so a re-ingested doc is visible exactly once without rewriting
   the append-only tables.
3. terms/stats are re-aggregated from the (tombstone-filtered) postings.

`delete_docs` is the pure-delete variant (tombstones only).

`compact_index` is the tombstone fold: it rewrites tokens/postings without
the rows tombstones shadow, re-aggregates terms/stats, then clears the
tombstones. It is a no-op when there are none. Compaction is an offline
maintenance job (the reference analog of VACUUM): the tokens/postings swap
is not snapshot-isolated.

`merge_batch` is the foreachBatch body and is directly unit-testable without
a streaming runtime; `attach_incremental_indexer` wires it to a stream.
"""

from __future__ import annotations

from ..io_codec import INDEX_CODEC

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.index_build import (STATS_SCHEMA, IndexPaths, _apply_tombstones,
                                 _path_exists, _read_stats, _write_manifest,
                                 idf_expr)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _delete_path(spark: SparkSession, path: str) -> None:
    fs, p, _ = _fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def _rename_path(spark: SparkSession, src: str, dst: str) -> None:
    """Rename, raising on failure: Hadoop FileSystem.rename returns False
    instead of throwing for common failures (missing dst parent, dst
    exists on some FSs, cross-filesystem move). Callers here rename into
    place AFTER deleting the live table, so a silently-ignored False would
    strand the data in the tmp path and leave the index without the table."""
    fs, p_src, jvm = _fs(spark, src)
    if not fs.rename(p_src, jvm.org.apache.hadoop.fs.Path(dst)):
        raise RuntimeError(
            f"rename {src} -> {dst} failed (FileSystem.rename returned "
            f"false); data preserved at {src}")


def _write_stats(spark: SparkSession, paths: IndexPaths, n_docs: int,
                 avgdl: float, stats_row, *, gen: int) -> None:
    spark.createDataFrame(
        [(n_docs, avgdl, stats_row["config"], stats_row["prep_version"],
          int(stats_row["n_buckets"]), int(gen))],
        STATS_SCHEMA,
    ).write.option("compression", INDEX_CODEC).mode("overwrite").parquet(paths.stats)


def _reaggregate(spark: SparkSession, paths: IndexPaths, stats_row,
                 new_gen: int) -> None:
    """Dictionary + corpus stats from the current (tombstone-filtered) row
    tables — metadata-scale relative to postings."""
    tokens = spark.read.parquet(paths.tokens)
    postings = spark.read.parquet(paths.postings)
    if _path_exists(spark, paths.tombstones):
        tombs = spark.read.parquet(paths.tombstones)
        tokens = _apply_tombstones(tokens, tombs)
        postings = _apply_tombstones(postings, tombs)
    srow = tokens.select(F.count("*").alias("n"),
                         F.avg("dl").alias("a")).first()
    n_docs, avgdl = int(srow["n"]), float(srow["a"] or 0.0)
    terms = (postings.groupBy("term")
             .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"),
                  F.first("bucket").alias("bucket"))
             .withColumn("idf", idf_expr(F.col("df"), n_docs)))
    terms.write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket").parquet(paths.terms)
    _write_stats(spark, paths, n_docs, avgdl, stats_row, gen=new_gen)


def merge_batch(
    spark: SparkSession,
    index_dir: str,
    batch_docs: DataFrame,
    content_col: str = "content",
    config=None,
    doc_id: str = "doc_id",
    replace: bool = False,
) -> None:
    """Fold one batch of new documents into the persisted index.

    `replace=True` tombstones prior generations of the batch's doc_ids
    (doc update); without it a re-ingested doc_id is duplicated until a
    caller-driven cleanup — the append-only contract.

    `config=None` (the default) analyzes the batch with the INDEX's own
    persisted config — the only value that keeps the dictionary
    consistent. Passing a different string warns loudly (mixed-analyzer
    postings are a silent-corruption class); an index built with a
    per-document config column (stats config = 'percolumn') cannot
    default and requires an explicit str or Column, same as
    build_index."""
    import warnings

    from pyspark.sql import Column as _Column

    paths = IndexPaths(index_dir)
    stats = _read_stats(spark, paths)
    n_buckets = int(stats["n_buckets"])
    new_gen = int(stats["gen"]) + 1

    if config is None:
        if stats["config"] == "percolumn":
            raise ValueError(
                "index was built with a per-document config column; pass "
                "config= (a str or Column) to merge_batch explicitly")
        config = stats["config"]
    elif (isinstance(config, str) and stats["config"] != "percolumn"
            and config != stats["config"]):
        warnings.warn(
            f"merge_batch config {config!r} differs from the index's "
            f"{stats['config']!r}; mixed-analyzer postings will not "
            "match queries compiled with either config")
    cfg_col = config if isinstance(config, _Column) else F.lit(config)

    from ..plans.analyze import analyze_index_udf
    analyzed = (batch_docs
                .withColumn("_a", analyze_index_udf(
                    F.col(content_col), cfg_col))
                .select(F.col(doc_id).alias("doc_id"),
                        F.col("_a.tokens").alias("tokens"),
                        F.col("_a.dl").alias("dl"),
                        F.col("_a.postings").alias("postings"),
                        F.sha2(F.col(content_col), 256).alias("sha256"))
                .cache())

    batch_postings = (analyzed
                      .select("doc_id", "dl", F.explode("postings").alias("p"))
                      .select("doc_id", "dl",
                              F.col("p.term").alias("term"),
                              F.col("p.tf").alias("tf"),
                              F.col("p.positions").alias("positions"))
                      .withColumn("bucket",
                                  F.pmod(F.xxhash64("term"), F.lit(n_buckets))
                                  .cast("int"))
                      .withColumn("gen", F.lit(new_gen)))

    if replace:
        # validate BEFORE any append: a doc_id that does not cast to
        # long would become a NULL tombstone that joins no postings in
        # _apply_tombstones — the replace silently degrades to a
        # duplicate-producing plain append. Same refusal contract as
        # delete_docs' DataFrame form; a refused batch leaves the index
        # untouched.
        if analyzed.where(F.col("doc_id").try_cast("long").isNull()) \
                .limit(1).count():
            analyzed.unpersist()
            raise ValueError(
                "merge_batch(replace=True): batch contains null or "
                "non-numeric doc_ids that do not cast to long — their "
                "tombstones would be silent no-ops, so refusing the "
                "whole batch")

    analyzed.select("doc_id", "tokens", "dl", "sha256") \
        .withColumn("gen", F.lit(new_gen)) \
        .write.option("compression", INDEX_CODEC).mode("append").parquet(paths.tokens)
    (batch_postings.repartition("bucket")
     .write.option("compression", INDEX_CODEC).mode("append").partitionBy("bucket").parquet(paths.postings))

    if replace:
        # tombstones land AFTER the new rows: a mid-merge reader sees a
        # transient duplicate (old+new), never a transiently-missing doc.
        # Written distributed — the batch's id set never lands on the
        # driver (a 10^8-doc re-crawl batch must not OOM it). Lineage is
        # safe against recache-by-path: `analyzed` is cached (materialized
        # by the tokens append above) and roots at batch_docs, never at
        # the index's own tables.
        (analyzed.select(F.col("doc_id").try_cast("long").alias("doc_id"))
         .distinct()
         .withColumn("before_gen", F.lit(new_gen).cast("int"))
         .write.option("compression", INDEX_CODEC).mode("append")
         .parquet(paths.tombstones))

    _reaggregate(spark, paths, stats, new_gen)
    analyzed.unpersist()


def upsert_documents(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    content_col: str = "content",
    doc_id: str = "doc_id",
    config=None,
    broadcast_ids: bool = True,
) -> dict:
    """Re-crawl ingestion: fold `docs` into the index, SKIPPING rows whose
    content the index already holds — the sha256 recall column doubles as
    a change detector, so a mostly-unchanged re-crawl (the common case at
    corpus scale) costs one column-pruned (doc_id, sha256) scan and
    leaves the index untouched when nothing changed. Changed doc_ids are
    replaced (tombstone + new generation, merge_batch semantics); unseen
    doc_ids append.

    Returns {"unchanged": n, "changed": n, "new": n}.

    Plan shape (nothing batch-sized ever lands on the driver):

    1. change detection — the batch's doc_ids semi-join the live tokens
       projection (only 2 columns of the corpus are read). With
       `broadcast_ids=True` (default, the micro-batch case) the id set
       broadcasts so the corpus side is neither shuffled nor built as a
       hash table; pass False for a giant re-crawl batch and let AQE
       pick a shuffle join instead. The ≤batch-sized hit set then joins
       the batch itself. A doc_id holding several live generations
       counts as unchanged if ANY of them carries the batch's hash.
    2. the per-doc classification is materialized to a parquet scratch
       table under the index dir — this breaks the plan's lineage to the
       index's own parquet files (the merge appends to tokens/, and
       Spark's recache-by-path would otherwise re-evaluate a lazy
       to_ingest against the already-updated index, reclassifying
       everything as unchanged mid-merge) while keeping the id set
       distributed. The driver collects only the 3-row status counts.
    3. rows to ingest are recovered with a semi-join against the scratch
       table and folded in with ONE merge_batch."""
    from ..plans.index_build import load_index

    live = (load_index(spark, index_dir).tokens
            .select("doc_id", F.col("sha256").alias("_old_sha")))
    bk = docs.select(F.col(doc_id).alias("doc_id"),
                     F.sha2(F.col(content_col), 256).alias("_sha"))
    batch_ids = bk.select("doc_id").distinct()
    if broadcast_ids:
        batch_ids = F.broadcast(batch_ids)
    live_hits = live.join(batch_ids, on="doc_id", how="left_semi")
    same = F.max(F.when(F.col("_old_sha") == F.col("_sha"), 1)
                 .otherwise(0))
    exists = F.max(F.when(F.col("_old_sha").isNotNull(), 1).otherwise(0))
    flags = (bk.join(live_hits, on="doc_id", how="left")
             .groupBy("doc_id")
             .agg(F.when(exists == 0, F.lit("new"))
                  .when(same == 1, F.lit("unchanged"))
                  .otherwise(F.lit("changed")).alias("_status")))
    scratch = f"{index_dir}/_upsert_scratch"
    flags.write.option("compression", INDEX_CODEC) \
        .mode("overwrite").parquet(scratch)
    try:
        flagged = spark.read.parquet(scratch)
        report = {"unchanged": 0, "changed": 0, "new": 0}
        for r in flagged.groupBy("_status").count().collect():  # ≤ 3 rows
            report[r["_status"]] = int(r["count"])
        if report["changed"] + report["new"] == 0:
            # no gen bump: the index is left byte-identical
            return report
        ids_df = (flagged.where(F.col("_status") != "unchanged")
                  .select(F.col("doc_id").alias(doc_id)))
        # no broadcast hint: the ingest set can be the whole batch; both
        # sides are batch-scale and AQE broadcasts the small side on its
        # own
        to_ingest = docs.join(ids_df, on=doc_id, how="left_semi")
        # replace=True tombstones every ingested id; for brand-new ids
        # that is a no-op (tombstones kill strictly-lower generations
        # only), so one merge covers both classes
        merge_batch(spark, index_dir, to_ingest, content_col=content_col,
                    config=config, doc_id=doc_id,
                    replace=report["changed"] > 0)
        return report
    finally:
        # the scratch dir must not outlive the call even on a failed
        # merge: it sits inside the index tree and a later run's
        # mode("overwrite") could race a reader of the leftover
        _delete_path(spark, scratch)


def delete_docs(spark: SparkSession, index_dir: str,
                doc_ids: "list[int] | DataFrame",
                through_gen: int | None = None) -> None:
    """Tombstone-delete documents: queries stop seeing them immediately
    (broadcast tombstone filter in load_index); compact_index physically
    drops their rows.

    `doc_ids` is either a driver-side list (ad-hoc deletes) or a
    single-column DataFrame of ids — the scale form: the id set never
    lands on the driver. A DataFrame is materialized to a parquet
    scratch table BEFORE the first index mutation, both to break
    recache-by-path lineage (an id plan derived from the index's own
    tables would otherwise re-evaluate against the tombstones this call
    appends) and to pin the id set before the tombstone write.

    `through_gen` overrides the tombstone generation (default
    stats.gen + 1 — everything currently visible dies). A crash-recovery
    caller that may race a HALF-FINISHED merge passes stats.gen + 2:
    a merge that died between its row appends and its stats update left
    rows at gen + 1 which the default sweep would spare (tombstones kill
    strictly-lower generations only); the +2 sweep covers them, and the
    stats generation advances to `through_gen` so the recovery re-merge
    lands above the sweep (streaming replay — see corpus_ingest)."""
    paths = IndexPaths(index_dir)
    stats = _read_stats(spark, paths)
    new_gen = (int(through_gen) if through_gen is not None
               else int(stats["gen"]) + 1)
    if new_gen <= int(stats["gen"]):
        raise ValueError(
            f"through_gen={new_gen} must exceed the current stats "
            f"generation {int(stats['gen'])}")
    scratch = None
    try:
        if isinstance(doc_ids, DataFrame):
            if len(doc_ids.columns) != 1:
                raise ValueError(
                    f"doc_ids DataFrame must have exactly one column, got "
                    f"{doc_ids.columns}")
            scratch = f"{index_dir}/_delete_scratch"
            # try_cast (NULL on failure in ANSI and legacy modes alike)
            # then an explicit null gate: a non-numeric or null id must
            # raise, like the list form's int(i) does — a silent NULL
            # would turn the whole delete into a no-op (NULL joins
            # nothing in _apply_tombstones)
            (doc_ids.select(F.col(doc_ids.columns[0]).try_cast("long")
                            .alias("doc_id")).distinct()
             .write.option("compression", INDEX_CODEC)
             .mode("overwrite").parquet(scratch))
            ids = spark.read.parquet(scratch)
            if ids.where(F.col("doc_id").isNull()).limit(1).count():
                raise ValueError(
                    "delete_docs: doc_ids contains null or non-numeric "
                    "values that do not cast to long — deleting nothing "
                    "would be silent, so refusing the whole batch")
            tombs = ids.withColumn("before_gen",
                                   F.lit(new_gen).cast("int"))
        else:
            tombs = spark.createDataFrame(
                [(int(i), new_gen) for i in doc_ids],
                "doc_id long, before_gen int")
        tombs.write.option("compression", INDEX_CODEC).mode("append") \
            .parquet(paths.tombstones)
        _reaggregate(spark, paths, stats, new_gen)
    finally:
        if scratch is not None:
            _delete_path(spark, scratch)


def compact_index(spark: SparkSession, index_dir: str) -> None:
    """Tombstone fold: rewrite tokens/postings without the rows that
    tombstones shadow, re-aggregate terms/stats, then clear the
    tombstones. No document is re-analyzed. A no-op when the index has
    no tombstones.

    The tombstones are cleared LAST: until then a reader or a re-run
    still applies them, and applying them to already-folded tables
    changes nothing. Each table's swap (delete, then rename the staged
    copy into place) is not atomic."""
    from ..plans.fsck import _footer_rows

    t0 = time.time()
    paths = IndexPaths(index_dir)
    if not _path_exists(spark, paths.tombstones):
        return
    stats = _read_stats(spark, paths)
    tombs = spark.read.parquet(paths.tombstones)
    lineage = []
    for tbl, part_by in ((paths.tokens, None), (paths.postings, "bucket")):
        # stage to a temp dir (the job READS tbl — Spark rightly refuses a
        # self-overwrite), then swap it into place
        tmp = tbl + "_compact_tmp"
        _delete_path(spark, tmp)
        w = (_apply_tombstones(spark.read.parquet(tbl), tombs)
             .write.option("compression", INDEX_CODEC).mode("overwrite"))
        if part_by:
            w = w.partitionBy(part_by)
        w.parquet(tmp)
        _delete_path(spark, tbl)
        _rename_path(spark, tmp, tbl)
        # lineage from parquet footers (no Spark job): tokens rows as
        # partition 0, postings rows as partition 1
        lineage.append((len(lineage), _footer_rows(spark, tbl) or 0, None))
    _reaggregate(spark, paths, stats, int(stats["gen"]))
    _delete_path(spark, paths.tombstones)
    # compaction is keyed by wall time, not input signature — it consumes
    # merge state
    _write_manifest(spark, paths, "compact", (0, 0), lineage,
                    int((time.time() - t0) * 1000))


def attach_incremental_indexer(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    content_col: str = "content",
    config=None,
    trigger_available_now: bool = True,
    mode: str = "merge",
):
    """writeStream wiring: every micro-batch is merged into the index.
    `config=None` analyzes each batch with the index's own persisted
    config (see merge_batch). `mode`: "merge" appends every batch row
    (the append-only contract); "upsert" routes through
    `upsert_documents` — re-delivered or unchanged rows are skipped by
    content hash, so a replayed micro-batch (the at-least-once case
    after a checkpoint restart) is idempotent instead of duplicating."""
    if mode not in ("merge", "upsert"):
        raise ValueError(f"mode must be 'merge' or 'upsert', got {mode!r}")
    spark = stream_docs.sparkSession

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if mode == "upsert":
            upsert_documents(spark, index_dir, batch_df,
                             content_col=content_col, config=config)
        else:
            merge_batch(spark, index_dir, batch_df,
                        content_col=content_col, config=config)

    writer = (stream_docs.writeStream
              .foreachBatch(handle)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
