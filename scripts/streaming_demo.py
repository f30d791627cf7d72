"""Streaming ingestion demo: the continuous counterpart of
`pipeline_demo.py`, wiring the engine's Structured Streaming surface
end-to-end on real testdata:

    document stream (testdata split into micro-batch files)
      → attach_corpus_preparer   (per-batch prepare_corpus +
                                  CROSS-batch exact + substring dedup,
                                  kept rows folded into a BM25 index)
      → percolate_stream         (standing queries alert per batch)
      → compact_index            (fold tombstoned rows after the merges)
      → bm25 / search            (query the continuously-built index)

Run:  python scripts/streaming_demo.py [sf_dir]   (default sf0.01)

Every stage is a foreachBatch attacher over the same micro-batches, so
a replayed batch rewrites its own batch_id-keyed outputs instead of
duplicating — the crash-safety contract each attacher documents.
"""

import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from pg_ts_semantic_headline_spark.session import configured_builder  # noqa: E402


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)
    from pg_ts_semantic_headline_spark.plans.query_compiler import (
        phraseto_tspquery, websearch_to_tspquery)
    from pg_ts_semantic_headline_spark.plans.search import bm25_topk, search
    from pg_ts_semantic_headline_spark.streaming.corpus_ingest import (
        attach_corpus_preparer)
    from pg_ts_semantic_headline_spark.streaming.incremental import (
        compact_index)
    from pg_ts_semantic_headline_spark.streaming.percolate import (
        percolate_stream)

    spark = (configured_builder(cores=16, master="local[16]")
             .appName("tsp-streaming-demo").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    t_all = time.time()
    work = tempfile.mkdtemp(prefix="tsp_stream_demo_")

    def stage(name, fn):
        t0 = time.time()
        out = fn()
        print(f"[{time.time() - t0:6.1f}s] {name}: {out}")
        return out

    # stage the corpus as 4 micro-batch files so availableNow replays
    # them as a bounded stream
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stage_dir = f"{work}/incoming"
    (docs.withColumn("_b", F.col("doc_id") % 4)
     .repartition("_b").write.partitionBy("_b").parquet(stage_dir))
    stream = (spark.readStream
              .schema("doc_id long, text string, lang string, "
                      "source string, n_chars long")
              .option("maxFilesPerTrigger", 1)   # one file = one batch
              .parquet(stage_dir + "/_b=*"))

    # an (initially tiny) index the ingest folds kept rows into
    idx_dir = f"{work}/index"
    build_index(spark, docs.limit(1).selectExpr("doc_id",
                                                "text as content"),
                idx_dir, config="simple", n_buckets=8)

    corpus_dir = f"{work}/corpus"
    q = attach_corpus_preparer(
        stream, corpus_dir, f"{work}/ckpt_prep",
        min_tokens=5, cross_substring_dedup_n=8, index_dir=idx_dir,
        compact_every=4)
    stage("stream: prep + dedup + indexed ingest",
          lambda: (q.awaitTermination(), "done")[1])

    kept = spark.read.parquet(f"{corpus_dir}/data")
    stage("kept rows across batches", kept.count)
    rep = spark.read.parquet(f"{corpus_dir}/_report")
    stage("per-batch reports",
          lambda: sorted((r["batch_id"], r["n_kept"])
                         for r in rep.collect()))

    # standing-query alerting over the same stream
    alerts: list = []
    queries = {
        "merge-sort": phraseto_tspquery("simple", "merge sort"),
        "no-spark": websearch_to_tspquery("simple", "window -spark"),
    }
    writer = percolate_stream(
        (spark.readStream
         .schema("doc_id long, text string, lang string, source string, "
                 "n_chars long")
         .option("maxFilesPerTrigger", 1)
         .parquet(stage_dir + "/_b=*")),
        queries,
        on_batch=lambda m, bid: alerts.append((bid, m.count())),
        content_col="text", config="simple",
        checkpoint_dir=f"{work}/ckpt_perc")
    p = writer.trigger(availableNow=True).start()
    stage("stream: percolation alerts",
          lambda: (p.awaitTermination(),
                   f"{sum(c for _, c in alerts)} matches "
                   f"over {len(alerts)} batches")[1])

    # the merged index answers queries; compaction folds tombstoned rows
    stage("compact merged index",
          lambda: (compact_index(spark, idx_dir), "done")[1])
    index = load_index(spark, idx_dir)
    stage("bm25 over streamed index",
          lambda: bm25_topk(index, ["spark", "window"], k=10).count())
    stage("websearch over streamed index",
          lambda: search(index, websearch_to_tspquery(
              "simple", '"merge sort" or window'), k=10).count())

    print(f"total {time.time() - t_all:.1f}s")
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(*sys.argv[1:])
