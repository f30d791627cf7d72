"""Incremental index maintenance (the reference's trigger analog).

The reference keeps content_tsv/content_arr fresh with a BEFORE INSERT/UPDATE
trigger (/root/reference/development_schema.sql:18-34). The Spark-native
analog is Structured Streaming: a stream of new documents is folded into the
persisted index with `foreachBatch`, each micro-batch running the same
deterministic build pipeline over just the batch — plus a targeted
compaction job that brings the packed positions store back up to date
without a full rebuild.

Merge protocol (`merge_batch`):

1. a `_stale` marker row is written FIRST: from that instant loaders treat
   the index as packed=None (BM25 scoring reads row postings and sees
   everything; a phrase query on a lean index raises rather than read
   positions that miss the merged docs). The packed files themselves are
   KEPT on disk — on lean layouts they are the only positional copy of
   the pre-merge corpus, and compaction reads them back.
2. tokens/postings rows for the batch are appended under the existing
   layouts, stamped with the new generation number; on lean layouts the
   batch postings WITH positions also land in `pending/` (compaction
   input).
3. with `replace=True`, a (doc_id, before_gen) tombstone is appended per
   batch doc: loaders drop shadowed older-generation rows via a broadcast
   join, so a re-ingested doc is visible exactly once without rewriting
   the append-only tables.
4. terms/stats are re-aggregated from the (tombstone-filtered) postings.

`delete_docs` is the pure-delete variant (tombstones + wildcard marker).

`compact_index` is the targeted repack: it rebuilds packed blocks for ONLY
the buckets the markers name (decoding the old packed payloads + pending
rows, dropping tombstoned docs), physically rewrites tokens/postings only
when tombstones exist, then clears pending/markers/tombstones — the
packed store is live again without re-analyzing a single document.
`full=True` repacks every bucket. Compaction is an offline maintenance
job (the reference analog of VACUUM): concurrent readers keep seeing
packed=None until the marker is removed last, but the tokens/postings
swap is not snapshot-isolated.

`merge_batch` is the foreachBatch body and is directly unit-testable without
a streaming runtime; `attach_incremental_indexer` wires it to a stream.
"""

from __future__ import annotations

from ..io_codec import INDEX_CODEC

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.index_build import (STATS_SCHEMA, IndexPaths, _file_lineage,
                                 _path_exists, _streaming_packer,
                                 _write_manifest, idf_expr, PACKED_SCHEMA)

# compaction ships the tombstoned doc_ids into the packed-decode kernel
# when the set is at most this big (dead rows are skipped before they are
# even decoded); a mass delete past the cap switches to a distributed
# anti-join on the decoded rows so neither the driver nor the task
# closures ever hold the full id set
TOMBSTONE_DECODE_CAP = 100_000


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


def _try_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet dir that may not exist or may be empty (e.g. pending/
    after all its bucket subdirs were consumed)."""
    if not _path_exists(spark, path):
        return None
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def _write_stats(spark: SparkSession, paths: IndexPaths, n_docs: int,
                 avgdl: float, stats_row, *, gen: int) -> None:
    spark.createDataFrame(
        [(n_docs, avgdl, stats_row["config"], stats_row["prep_version"],
          int(stats_row["n_buckets"]), int(stats_row["block_span"]),
          int(gen))],
        STATS_SCHEMA,
    ).write.option("compression", INDEX_CODEC).mode("overwrite").parquet(paths.stats)


def _reaggregate(spark: SparkSession, paths: IndexPaths, stats_row,
                 new_gen: int) -> None:
    """Dictionary + corpus stats from the current (tombstone-filtered) row
    tables — metadata-scale relative to postings."""
    from ..plans.index_build import _apply_tombstones

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


def _write_stale_marker(spark: SparkSession, paths: IndexPaths,
                        buckets: list[int], gen: int) -> None:
    """bucket = -1 is the wildcard ("all buckets touched")."""
    spark.createDataFrame(
        [(int(b), int(gen)) for b in buckets], "bucket int, gen int"
    ).write.option("compression", INDEX_CODEC).mode("append").parquet(paths.stale)


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
    stats = spark.read.parquet(paths.stats).first()
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

    # the batch is small (a micro-batch); one action finds its touched
    # buckets so the marker — and later the compaction — stays targeted
    touched = sorted(r["bucket"] for r in
                     batch_postings.select("bucket").distinct().collect())
    if replace:
        # replaced docs' OLD postings live in arbitrary buckets; the
        # wildcard makes compaction rebuild everything they could shadow
        touched = [-1]
        # validate BEFORE any append: a doc_id that does not cast to
        # long would become a NULL tombstone that joins no postings in
        # _apply_tombstones — the replace silently degrades to a
        # duplicate-producing plain append. Same refusal contract as
        # delete_docs' DataFrame form; checked here, ahead of the
        # marker, so a refused batch leaves the index untouched.
        if analyzed.where(F.col("doc_id").try_cast("long").isNull()) \
                .limit(1).count():
            analyzed.unpersist()
            raise ValueError(
                "merge_batch(replace=True): batch contains null or "
                "non-numeric doc_ids that do not cast to long — their "
                "tombstones would be silent no-ops, so refusing the "
                "whole batch")

    # marker FIRST: any reader from here on sees packed=None, never new
    # rows scored against stale block metadata
    _write_stale_marker(spark, paths, touched, new_gen)

    analyzed.select("doc_id", "tokens", "dl", "sha256") \
        .withColumn("gen", F.lit(new_gen)) \
        .write.option("compression", INDEX_CODEC).mode("append").parquet(paths.tokens)

    # match the base table's schema: a positions-free scoring projection
    # (lean layout) stays positions-free in postings/, and the positional
    # copy of the batch goes to pending/ for compaction to pack
    existing_cols = spark.read.parquet(paths.postings).columns
    if "positions" not in existing_cols:
        (batch_postings.repartition("bucket")
         .write.option("compression", INDEX_CODEC).mode("append").partitionBy("bucket").parquet(paths.pending))
        row_out = batch_postings.drop("positions")
    else:
        row_out = batch_postings
    (row_out.repartition("bucket")
     .write.option("compression", INDEX_CODEC).mode("append").partitionBy("bucket").parquet(paths.postings))

    if replace:
        # tombstones land AFTER the new rows: a mid-merge reader sees a
        # transient duplicate (old+new), never a transiently-missing doc.
        # Written distributed — the batch's id set never lands on the
        # driver (a 10^8-doc re-crawl batch must not OOM it). Lineage is
        # safe against recache-by-path: `analyzed` is cached (materialized
        # by the touched-buckets action above) and roots at batch_docs,
        # never at the index's own tables.
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
    leaves the index — including its packed store — untouched
    when nothing changed. Changed doc_ids are replaced (tombstone + new
    generation, merge_batch semantics); unseen doc_ids append.

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
            # no gen bump, no stale marker: the packed store stays live
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
    drops their rows and repacks.

    `doc_ids` is either a driver-side list (ad-hoc deletes) or a
    single-column DataFrame of ids — the scale form: the id set never
    lands on the driver. A DataFrame is materialized to a parquet
    scratch table BEFORE the first index mutation, both to break
    recache-by-path lineage (an id plan derived from the index's own
    tables would otherwise re-evaluate against the tombstones this call
    appends) and to pin the id set against the marker write.

    `through_gen` overrides the tombstone generation (default
    stats.gen + 1 — everything currently visible dies). A crash-recovery
    caller that may race a HALF-FINISHED merge passes stats.gen + 2:
    a merge that died between its row appends and its stats update left
    rows at gen + 1 which the default sweep would spare (tombstones kill
    strictly-lower generations only); the +2 sweep covers them, and the
    stats generation advances to `through_gen` so the recovery re-merge
    lands above the sweep (streaming replay — see corpus_ingest)."""
    paths = IndexPaths(index_dir)
    stats = spark.read.parquet(paths.stats).first()
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
        # deleted docs' postings span arbitrary term buckets → wildcard
        # marker
        _write_stale_marker(spark, paths, [-1], new_gen)
        tombs.write.option("compression", INDEX_CODEC).mode("append") \
            .parquet(paths.tombstones)
        _reaggregate(spark, paths, stats, new_gen)
    finally:
        if scratch is not None:
            _delete_path(spark, scratch)


def _decode_packed_rows(tomb_ids: set):
    """mapInPandas kernel: packed payloads → positional postings rows
    (term, bucket, doc_id, tf, dl, positions). Tombstoned docs are dropped
    during decode: every live tombstone postdates the last pack, so ALL
    packed rows of a tombstoned doc are shadowed."""

    def gen(batches):
        import numpy as np

        from ..plans.packing import decode_block_positions, decode_block_scores

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for term, bucket, payload, base in zip(
                    pdf["term"], pdf["bucket"], pdf["payload"],
                    pdf["base_doc"]):
                payload = bytes(payload)
                doc_ids, tfs, dls = decode_block_scores(payload, int(base))
                _, flat, counts = decode_block_positions(payload, int(base))
                splits = np.split(flat, np.cumsum(counts)[:-1])
                for d, tf, dl, poss in zip(doc_ids.tolist(), tfs.tolist(),
                                           dls.tolist(), splits):
                    if int(d) in tomb_ids:
                        continue
                    out.append((term, int(bucket), int(d), int(tf), int(dl),
                                [int(p) for p in poss]))
            yield pd.DataFrame(out, columns=[
                "term", "bucket", "doc_id", "tf", "dl", "positions"])

    return gen


def compact_index(spark: SparkSession, index_dir: str,
                  full: bool = False,
                  postings_partitions: int | None = None) -> list[int]:
    """Targeted repack: bring the packed positions store live again after
    merges/deletes by rebuilding packed blocks for ONLY the buckets the
    stale markers name (no document is re-analyzed), physically dropping
    tombstoned rows, then clearing pending/markers/tombstones. Returns
    the repacked bucket list. `full=True` repacks every bucket."""
    t0 = time.time()
    paths = IndexPaths(index_dir)
    stats = spark.read.parquet(paths.stats).first()
    n_buckets = int(stats["n_buckets"])
    block_span = int(stats["block_span"])
    has_stale = _path_exists(spark, paths.stale)
    has_tombs = _path_exists(spark, paths.tombstones)
    if not has_stale and not full:
        return []

    wildcard = full
    touched: set[int] = set()
    if has_stale:
        for r in spark.read.parquet(paths.stale).collect():
            if int(r["bucket"]) < 0:
                wildcard = True
            else:
                touched.add(int(r["bucket"]))
    buckets = sorted(range(n_buckets)) if wildcard else sorted(touched)

    tomb_ids: set = set()
    tomb_anti: DataFrame | None = None
    if has_tombs:
        tomb_dids = (spark.read.parquet(paths.tombstones)
                     .select("doc_id").distinct())
        # bounded driver work: a small tombstone set rides the decode
        # kernel (dead rows are never even decoded); a mass-delete's set
        # would bloat the driver and every task closure, so past the cap
        # the drop becomes a distributed anti-join on the decoded rows
        # instead (sound on doc_id alone: every packed row predates every
        # live tombstone — see _decode_packed_rows)
        if tomb_dids.count() <= TOMBSTONE_DECODE_CAP:
            tomb_ids = {int(r["doc_id"]) for r in tomb_dids.collect()}
        else:
            tomb_anti = tomb_dids
    live_tombs = bool(tomb_ids) or tomb_anti is not None

    # ---- gather positional rows for the buckets being repacked ----
    lean = "positions" not in spark.read.parquet(paths.postings).columns
    if lean:
        src = None
        if _path_exists(spark, paths.packed):
            packed_old = (spark.read.parquet(paths.packed)
                          .where(F.col("bucket").isin(buckets)))
            src = (packed_old
                   .select("term", "bucket", "base_doc", "payload")
                   .mapInPandas(
                       _decode_packed_rows(tomb_ids),
                       schema="term string, bucket int, doc_id long, "
                              "tf int, dl int, positions array<int>"))
            if tomb_anti is not None:
                src = src.join(tomb_anti, on="doc_id", how="left_anti")
        pending_df = _try_parquet(spark, paths.pending)
        if pending_df is not None:
            pending = pending_df.where(F.col("bucket").isin(buckets))
            if live_tombs:
                from ..plans.index_build import _apply_tombstones
                pending = _apply_tombstones(
                    pending, spark.read.parquet(paths.tombstones))
            pending = pending.select("term", "bucket", "doc_id", "tf", "dl",
                                     "positions")
            src = pending if src is None else src.unionByName(pending)
        if src is None:
            src = spark.createDataFrame(
                [], "term string, bucket int, doc_id long, tf int, dl int, "
                    "positions array<int>")
    else:
        rows = (spark.read.parquet(paths.postings)
                .where(F.col("bucket").isin(buckets)))
        if live_tombs:
            from ..plans.index_build import _apply_tombstones
            rows = _apply_tombstones(
                rows, spark.read.parquet(paths.tombstones))
        src = rows.select("term", "bucket", "doc_id", "tf", "dl", "positions")

    sort_parts = (postings_partitions if postings_partitions is not None
                  else spark.sparkContext.defaultParallelism * 2)
    repacked = (src
                .repartitionByRange(sort_parts, "bucket", "term", "doc_id")
                .sortWithinPartitions("bucket", "term", "doc_id")
                .mapInPandas(_streaming_packer(block_span),
                             schema=PACKED_SCHEMA))
    # stage to a temp dir (the job READS paths.packed — Spark rightly
    # refuses a self-overwrite), then swap ONLY the repacked buckets'
    # directories; untouched bucket dirs are left byte-identical
    packed_tmp = paths.packed + "_compact_tmp"
    _delete_path(spark, packed_tmp)
    repacked.write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket").parquet(packed_tmp)
    for b in buckets:
        _delete_path(spark, f"{paths.packed}/bucket={b}")
        if _path_exists(spark, f"{packed_tmp}/bucket={b}"):
            _rename_path(spark, f"{packed_tmp}/bucket={b}",
                         f"{paths.packed}/bucket={b}")
    if not _path_exists(spark, paths.packed):
        # fresh/empty index edge: ensure the directory exists so loaders
        # see an (empty) packed store rather than an error
        fs, p, _ = _fs(spark, paths.packed)
        fs.mkdirs(p)
    _delete_path(spark, packed_tmp)

    # ---- physical tombstone apply (only when tombstones exist) ----
    if live_tombs:
        from ..plans.index_build import _apply_tombstones
        tombs = spark.read.parquet(paths.tombstones)
        for tbl, part_by in ((paths.tokens, None),
                             (paths.postings, "bucket"),
                             (paths.pending if lean else None, "bucket")):
            if tbl is None or _try_parquet(spark, tbl) is None:
                continue
            filtered = _apply_tombstones(spark.read.parquet(tbl), tombs)
            tmp = tbl + "_compact_tmp"
            w = filtered.write.option("compression", INDEX_CODEC).mode("overwrite")
            if part_by:
                w = w.partitionBy(part_by)
            w.parquet(tmp)
            _delete_path(spark, tbl)
            _rename_path(spark, tmp, tbl)

    # pending rows for the repacked buckets are now IN packed; with a
    # wildcard everything pending was consumed
    if lean and _path_exists(spark, paths.pending):
        if wildcard:
            _delete_path(spark, paths.pending)
        else:
            for b in buckets:
                _delete_path(spark, f"{paths.pending}/bucket={b}")
            if _try_parquet(spark, paths.pending) is None:
                _delete_path(spark, paths.pending)  # nothing left in it

    _delete_path(spark, paths.tombstones)

    # refresh stats/dictionary (n_docs/avgdl exclude dropped docs; gen is
    # preserved)
    tokens = spark.read.parquet(paths.tokens)
    srow = tokens.select(F.count("*").alias("n"),
                         F.avg("dl").alias("a")).first()
    postings = spark.read.parquet(paths.postings)
    n_docs = int(srow["n"])
    terms = (postings.groupBy("term")
             .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"),
                  F.first("bucket").alias("bucket"))
             .withColumn("idf", idf_expr(F.col("df"), n_docs)))
    terms.write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket").parquet(paths.terms)
    _write_stats(spark, paths, n_docs, float(srow["a"] or 0.0), stats,
                 gen=int(stats["gen"]))

    # marker removed LAST: readers keep seeing packed=None until every
    # write above is complete
    _delete_path(spark, paths.stale)

    # lineage: one manifest row per repacked bucket (compaction is keyed
    # by wall time, not input signature — it consumes merge state)
    import pyarrow.parquet as pq
    rows = []
    for b in buckets:
        try:
            files = spark.read.parquet(f"{paths.packed}/bucket={b}").inputFiles()
            n = sum(pq.ParquetFile(
                f[len("file:"):] if f.startswith("file:") else f
            ).metadata.num_rows for f in files)
        except Exception:
            n = 0
        rows.append((b, n, None))
    _write_manifest(spark, paths, "compact", (0, 0), rows,
                    int((time.time() - t0) * 1000))
    return buckets


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
