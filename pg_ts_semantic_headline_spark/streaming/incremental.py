"""Incremental index maintenance (the reference's trigger analog).

The reference keeps content_tsv/content_arr fresh with a BEFORE INSERT/UPDATE
trigger (/root/reference/development_schema.sql:18-34). The Spark-native
analog is Structured Streaming: a stream of new documents is folded into the
persisted index with `foreachBatch`, each micro-batch running the same
deterministic build pipeline over just the batch.

Merge protocol (`merge_batch`), one `lifecycle` commit:

1. the batch's tokens/postings rows (postings WITH positions, like the
   build's), stamped with the new generation, are staged for append;
2. with `replace=True`, a (doc_id, gen = new generation - 1) tombstone
   per batch doc is staged too (`lifecycle.live_rows` is the rule), so a
   re-ingested doc is visible once without rewriting the append-only
   tables;
3. terms/stats are re-aggregated from the live rows as they will be
   after the merge, and staged;
4. `lifecycle.publish` makes all of it live at once, so every query
   shape — phrases and headlines included — sees the merged docs, and a
   merge killed at any point leaves the old index or (after the next
   writer's `lifecycle.recover`) the new one.

`delete_docs` stages tombstones only; `compact_index` is the tombstone
fold (`lifecycle.fold_tombstones`), a no-op without tombstones.

`merge_batch` is the foreachBatch body and is directly unit-testable without
a streaming runtime; `attach_incremental_indexer` wires it to a stream.
"""

from __future__ import annotations

from ..io_codec import INDEX_CODEC

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import lifecycle as lc
from ..plans.index_build import (POSTINGS_SCHEMA, STATS_SCHEMA,
                                 TOKENS_SCHEMA, TOMBSTONES_SCHEMA,
                                 IndexPaths, _analyze_docs, _posting_rows,
                                 _read_stats, _write_manifest, idf_expr)


def _reaggregate(spark: SparkSession, paths: IndexPaths, stats_row,
                 new_gen: int) -> None:
    """Stage the dictionary + corpus stats of the live rows as they will
    be once this writer publishes (live tables plus its staged appends)
    — metadata-scale relative to postings."""
    root = paths.root
    tombs = lc.with_staged(spark, root, "_tombstones",
                           lc.read_tombstones(spark, paths.tombstones,
                                              TOMBSTONES_SCHEMA))
    tokens, postings = (
        lc.live_rows(lc.with_staged(spark, root, name, spark.read.schema(
            schema).parquet(f"{root}/{name}")), tombs, "doc_id")
        for name, schema in (("tokens", TOKENS_SCHEMA),
                             ("postings", POSTINGS_SCHEMA)))
    srow = tokens.select(F.count("*").alias("n"),
                         F.avg("dl").alias("a")).first()
    n_docs, avgdl = int(srow["n"]), float(srow["a"] or 0.0)
    terms = (postings.groupBy("term")
             .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"),
                  F.first("bucket").alias("bucket"))
             .withColumn("idf", idf_expr(F.col("df"), n_docs)))
    lc.stage(spark, root, "terms", terms, "bucket")
    lc.stage(spark, root, "stats", spark.createDataFrame(
        [(n_docs, avgdl, stats_row["config"], stats_row["prep_version"],
          int(stats_row["n_buckets"]), int(new_gen))], STATS_SCHEMA))


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
    lc.recover(spark, index_dir)
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

    analyzed = _analyze_docs(batch_docs, content_col, cfg_col,
                             doc_id).cache()

    if replace:
        # validate BEFORE staging: a doc_id that does not cast to long
        # would become a NULL tombstone that kills no row — the replace
        # silently degrades to a duplicate-producing plain append. Same
        # refusal contract as delete_docs' DataFrame form.
        if analyzed.where(F.col("doc_id").try_cast("long").isNull()) \
                .limit(1).count():
            analyzed.unpersist()
            raise ValueError(
                "merge_batch(replace=True): batch contains null or "
                "non-numeric doc_ids that do not cast to long — their "
                "tombstones would be silent no-ops, so refusing the "
                "whole batch")

    root = paths.root
    lc.stage(spark, root, "tokens",
             analyzed.select("doc_id", "tokens", "dl", "sha256")
             .withColumn("gen", F.lit(new_gen)), append=True)
    lc.stage(spark, root, "postings",
             _posting_rows(analyzed, n_buckets)
             .withColumn("gen", F.lit(new_gen)).repartition("bucket"),
             "bucket", append=True)
    if replace:
        # distributed: the batch's id set never lands on the driver (a
        # 10^8-doc re-crawl batch must not OOM it). Lineage is safe
        # against recache-by-path: `analyzed` is cached (materialized by
        # the tokens write above) and roots at batch_docs, never at the
        # index's own tables.
        lc.stage(spark, root, "_tombstones",
                 analyzed.select(F.col("doc_id").try_cast("long")
                                 .alias("doc_id"))
                 .distinct()
                 .withColumn("gen", F.lit(new_gen - 1).cast("long")),
                 append=True)
    _reaggregate(spark, paths, stats, new_gen)
    lc.publish(spark, root)
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
    a change detector, so a mostly-unchanged re-crawl costs one
    column-pruned (doc_id, sha256, gen) scan and leaves the index
    untouched when nothing changed. Changed doc_ids are replaced
    (merge_batch semantics); unseen doc_ids append. A doc_id counts as
    unchanged only if its one live generation carries the batch's hash.

    Returns {"unchanged": n, "changed": n, "new": n}.

    Plan shape (nothing batch-sized ever lands on the driver):

    1. change detection — the batch's doc_ids semi-join the live tokens
       projection; with `broadcast_ids=True` (default, the micro-batch
       case) the id set broadcasts, pass False for a giant re-crawl
       batch and let AQE pick a shuffle join.
    2. the per-doc classification is materialized to a parquet scratch
       table under the index dir: this breaks the plan's lineage to the
       index's own files (Spark's recache-by-path would otherwise
       re-evaluate a lazy to_ingest against the updated index
       mid-merge) while keeping the id set distributed. The driver
       collects only the 3-row status counts.
    3. rows to ingest are recovered with a semi-join against the scratch
       table and folded in with ONE merge_batch."""
    from ..plans.index_build import load_index

    lc.recover(spark, index_dir)
    live = (load_index(spark, index_dir).tokens
            .select("doc_id", F.col("sha256").alias("_old_sha"),
                    F.col("gen").alias("_old_gen")))
    bk = docs.select(F.col(doc_id).alias("doc_id"),
                     F.sha2(F.col(content_col), 256).alias("_sha"))
    batch_ids = bk.select("doc_id").distinct()
    if broadcast_ids:
        batch_ids = F.broadcast(batch_ids)
    live_hits = live.join(batch_ids, on="doc_id", how="left_semi")
    same = F.max(F.when(F.col("_old_sha") == F.col("_sha"), 1)
                 .otherwise(0))
    exists = F.max(F.when(F.col("_old_sha").isNotNull(), 1).otherwise(0))
    one_gen = F.min("_old_gen") == F.max("_old_gen")
    flags = (bk.join(live_hits, on="doc_id", how="left")
             .groupBy("doc_id")
             .agg(F.when(exists == 0, F.lit("new"))
                  .when((same == 1) & one_gen, F.lit("unchanged"))
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
        # that is a no-op (the tombstones kill only generations below
        # the merge's own), so one merge covers both classes
        merge_batch(spark, index_dir, to_ingest, content_col=content_col,
                    config=config, doc_id=doc_id,
                    replace=report["changed"] > 0)
        return report
    finally:
        # the scratch dir must not outlive the call even on a failed
        # merge: it sits inside the index tree and a later run's
        # mode("overwrite") could race a reader of the leftover
        lc.delete_path(spark, scratch)


def delete_docs(spark: SparkSession, index_dir: str,
                doc_ids: "list[int] | DataFrame",
                through_gen: int | None = None) -> None:
    """Tombstone-delete documents: queries stop seeing them immediately
    (broadcast tombstone filter in load_index); compact_index physically
    drops their rows.

    `doc_ids` is either a driver-side list (ad-hoc deletes) or a
    single-column DataFrame of ids — the scale form: the id set never
    lands on the driver. A DataFrame is materialized to a parquet
    scratch table first, to break recache-by-path lineage (an id plan
    derived from the index's own tables would otherwise re-evaluate
    against the tombstones this call writes) and to pin the id set.

    `through_gen` is the generation this delete publishes (default
    stats.gen + 1); its tombstones (gen = through_gen - 1) kill every
    row below it. A replaying caller passes stats.gen + 2 so its re-merge
    lands above the sweep (streaming replay — see corpus_ingest)."""
    paths = IndexPaths(index_dir)
    lc.recover(spark, index_dir)
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
            # would turn the whole delete into a no-op (a NULL tombstone
            # kills nothing)
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
            tombs = ids.withColumn("gen", F.lit(new_gen - 1).cast("long"))
        else:
            tombs = spark.createDataFrame(
                [(int(i), new_gen - 1) for i in doc_ids],
                "doc_id long, gen long")
        lc.stage(spark, paths.root, "_tombstones", tombs, append=True)
        _reaggregate(spark, paths, stats, new_gen)
        lc.publish(spark, paths.root)
    finally:
        if scratch is not None:
            lc.delete_path(spark, scratch)


def compact_index(spark: SparkSession, index_dir: str) -> None:
    """Tombstone fold (`lifecycle.fold_tombstones`): rewrite tokens and
    postings without the rows tombstones kill, in one commit, then clear
    the tombstones. No document is re-analyzed, and terms/stats already
    describe the live rows. A no-op when the index has no tombstones."""
    from ..plans.fsck import _footer_rows

    t0 = time.time()
    paths = IndexPaths(index_dir)
    lc.recover(spark, index_dir)
    _read_stats(spark, paths)
    if not lc.fold_tombstones(spark, index_dir, "_tombstones",
                              {"tokens": None, "postings": "bucket"},
                              "doc_id"):
        return
    # lineage from parquet footers (no Spark job): tokens rows as
    # partition 0, postings rows as partition 1. Compaction is keyed by
    # wall time, not input signature — it consumes merge state
    _write_manifest(spark, paths, "compact", (0, 0),
                    [(i, _footer_rows(spark, t) or 0, None)
                     for i, t in enumerate((paths.tokens, paths.postings))],
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
