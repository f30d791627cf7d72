"""End-to-end training-data pipeline demo: every stage a 100 TB corpus
run needs, chained over the engine's own operators on real testdata.

    raw documents
      → prepare_corpus      (PII scrub, quality/repetition gates,
                             exact + MinHash-LSH near dedup)
      → decontaminate       (eval-set n-gram overlap filter)
      → chunk_documents     (sliding token windows)
      → sample_token_budget (stratified token-budget sampling)
      → pick_canonicals     (quality-aware keep-best per dup cluster)
      → pack_sequences      (doc-boundary training-sequence packing)
      → build_index + bm25  (retrieval over the cleaned corpus)
      → ltr_features        (training features for the retrieved set)
      → rank_metrics        (ranking quality vs synthetic judgments)
      → upsert_documents    (day-2 re-crawl: unchanged corpus = no-op)

Run:  python scripts/pipeline_demo.py [sf_dir]   (default sf0.01)

Each stage prints row counts / timings; the point is that the stages
compose as DataFrame → DataFrame with no driver-side materialization
between them — the same composition is valid on a 1000-executor
cluster because every stage is a pruned scan, a broadcast join, or a
bounded-key shuffle (see each operator's docstring for its scale
contract).
"""

import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from pg_ts_semantic_headline_spark.session import configured_builder  # noqa: E402


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    from pg_ts_semantic_headline_spark.operators.chunking import (
        chunk_documents, sample_token_budget)
    from pg_ts_semantic_headline_spark.operators.decontaminate import (
        decontaminate)
    from pg_ts_semantic_headline_spark.operators.pipeline import (
        corpus_report, prepare_corpus)
    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)
    from pg_ts_semantic_headline_spark.plans.ranking import (
        ltr_features, rank_metrics)
    from pg_ts_semantic_headline_spark.plans.search import bm25_topk

    spark = (configured_builder(cores=16, master="local[16]")
             .appName("tsp-pipeline-demo").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    t_all = time.time()

    def stage(name, fn):
        t0 = time.time()
        out = fn()
        print(f"[{time.time() - t0:6.1f}s] {name}: {out}")
        return out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_raw = stage("raw corpus", docs.count)

    # 1. clean + dedup (one composed plan; kept=False rows carry reasons)
    prepared = prepare_corpus(docs, text_col="text",
                              near_dedup=True, redact=True).cache()
    kept = prepared.where(F.col("drop_reason").isNull())
    stage("prepare_corpus kept",
          lambda: f"{kept.count()}/{n_raw} "
                  f"(report: {corpus_report(prepared).collect()})")

    # 2. decontaminate against a synthetic eval set (50 docs' texts)
    eval_set = docs.orderBy("doc_id").limit(50).select("doc_id", "text")
    clean = decontaminate(kept.select("doc_id", "text"), eval_set, n=8)
    n_clean = stage("decontaminated", clean.count)

    # 2b. quality-aware canonical election over the near-dup clusters
    # (keep the LONGEST member instead of prepare_corpus' min-id rule)
    from pg_ts_semantic_headline_spark.operators.dedup import (
        duplicate_components, minhash_lsh_dedup, pick_canonicals)
    pairs = minhash_lsh_dedup(docs, threshold=0.5)
    comp = duplicate_components(docs, pairs)
    canon = pick_canonicals(
        comp, docs.select("doc_id",
                          F.size(F.split("text", " ")).alias("score")))
    stage("canonical election",
          lambda: f"{canon.where('is_canonical').count()} canonicals "
                  f"of {n_raw}")

    # 3. chunk + budget-sample + sequence-pack (what feeds a trainer)
    chunks = chunk_documents(clean, text_col="text",
                             chunk_tokens=128, overlap=16)
    stage("chunks", chunks.count)
    sampled = sample_token_budget(clean, budget_tokens=50_000,
                                  text_col="text")
    stage("token-budget sample",
          lambda: sampled.agg(
              F.count(F.lit(1)).alias("docs")).first()["docs"])
    from pg_ts_semantic_headline_spark.operators.chunking import (
        pack_sequences)
    packed = pack_sequences(clean, 512, n_shards=8)
    stage("sequence packing",
          lambda: f"{packed.select('shard', 'seq_id').distinct().count()} "
                  f"training sequences from {n_clean} docs")

    # 4. index the cleaned corpus, retrieve, featurize, evaluate
    idx_dir = tempfile.mkdtemp(prefix="tsp_demo_idx_")
    stage("index build", lambda: build_index(
        spark, clean.selectExpr("doc_id", "text as content"), idx_dir,
        config="simple", n_buckets=16) and "ok")
    index = load_index(spark, idx_dir)
    terms = ["spark", "query"]
    top = bm25_topk(index, terms, k=20).cache()
    stage("bm25 top-20", top.count)

    # the end-user query surface over the same index
    from pg_ts_semantic_headline_spark.plans.query_compiler import (
        websearch_to_tspquery)
    from pg_ts_semantic_headline_spark.plans.ranking import ts_rank_cd
    from pg_ts_semantic_headline_spark.plans.search import search
    wq = websearch_to_tspquery("simple", '"merge sort" or spark -window')
    stage("websearch retrieval", search(index, wq, k=10).count)
    stage("ts_rank_cd (cover density)",
          lambda: ts_rank_cd(index, terms,
                             candidate_ids=[r["doc_id"]
                                            for r in top.collect()]).count())
    feats = ltr_features(
        index, terms,
        candidate_ids=[r["doc_id"] for r in top.collect()])
    stage("ltr features", feats.count)

    # synthetic qrels: docs holding both terms within 30 tokens are rel
    from pg_ts_semantic_headline_spark.plans.ranking import min_span_docs
    qrels = (min_span_docs(index, terms)
             .select(F.lit("q0").alias("query_id"), "doc_id",
                     F.when(F.col("span") <= 30, 2).otherwise(1)
                     .alias("rel")))
    metrics = rank_metrics(
        top.select(F.lit("q0").alias("query_id"), "doc_id", "score"),
        qrels, k=10)
    stage("rank metrics", lambda: metrics.collect())

    # 5. the day-2 loop: re-crawl the same corpus — the sha256 gate
    # classifies everything unchanged and the index is untouched
    from pg_ts_semantic_headline_spark.streaming.incremental import (
        upsert_documents)
    stage("re-crawl upsert (no-op)",
          lambda: upsert_documents(
              spark, idx_dir, clean.selectExpr("doc_id",
                                               "text as content")))

    print(f"total {time.time() - t_all:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
