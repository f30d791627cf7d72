"""Benchmark harness: headline engine metrics at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Covered: index build (files/sec), BM25 top-k, boolean+phrase search,
whole-phrase headline generation per 1k docs, minhash dedup, embedding
cosine top-k.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS",
                      str(len(os.sched_getaffinity(0))))


def host_probes() -> dict:
    """Window-health probes (see scripts/scaling_job.py): this sandbox VM
    suffers hypervisor interference that varies by window — CPU steal AND
    memory-bandwidth collapse (measured: 4-process copy bandwidth swings
    0.3 ↔ 40 GB/s across windows, BENCH/BASELINE.md §1-2). Bench numbers
    are only comparable across rounds when the windows are comparable, so
    every bench run records the substrate it ran on: aggregate pure-CPU
    throughput at $CPUS processes and aggregate copy bandwidth at 4
    processes (the reference level for the recorded healthy ≈39-40 GB/s)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "tsp_scaling_job",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "scripts", "scaling_job.py"))
    sj = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sj)
    return {
        "host_cpu_units_per_sec": round(
            sj.host_cpu_probe(int(CPUS), seconds=4.0), 1),
        "host_membw_gb_per_sec_4p": round(
            sj.host_membw_probe(4, seconds=3.0), 2),
    }


def main():
    probe_before = host_probes()
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("tsp-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(CPUS), 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from pg_ts_semantic_headline_spark.operators import (
        cosine_topk_arrow, minhash_lsh_dedup)
    from pg_ts_semantic_headline_spark.plans.headline import ts_fast_headline
    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)
    from pg_ts_semantic_headline_spark.plans.query_compiler import (
        phraseto_tspquery, to_tspquery)
    from pg_ts_semantic_headline_spark.plans.search import (
        bm25_topk, search, search_with_headlines)

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .selectExpr("doc_id", "text as content"))
    n_files = docs.count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sf = SF_DIR.rstrip("/").split("sf")[-1]

    timings: dict[str, float] = {}
    idx_dir = tempfile.mkdtemp(prefix="tsp_bench_idx_")
    warm_dir = tempfile.mkdtemp(prefix="tsp_bench_warm_")
    try:
        # Session warmup: a miniature build pays the one-time costs (python
        # worker spin-up, Arrow serializer init, codegen, shuffle machinery)
        # outside every timed region, so timings reflect steady-state
        # throughput rather than JVM cold-start.
        build_index(spark, docs.limit(200), warm_dir, config="english",
                    n_buckets=4, resume=False)
        shutil.rmtree(warm_dir, ignore_errors=True)

        # min-of-2 on the build too (the r2 single-shot number was 2.5x off
        # run-to-run on this VM): build into a scratch dir, time it, then
        # build the real index and keep the min
        scratch = tempfile.mkdtemp(prefix="tsp_bench_idx2_")
        t0 = time.time()
        build_index(spark, docs, scratch, config="english",
                    n_buckets=32, resume=False)
        build_a = time.time() - t0
        shutil.rmtree(scratch, ignore_errors=True)
        t0 = time.time()
        build_index(spark, docs, idx_dir, config="english",
                    n_buckets=32, resume=False)
        build_b = time.time() - t0
        timings["index_build"] = min(build_a, build_b)
        # same steal guard as min_of: two wildly-disagreeing builds mean
        # at least one landed in a steal window — buy one clean sample
        if max(build_a, build_b) > 1.5 * min(build_a, build_b):
            scratch = tempfile.mkdtemp(prefix="tsp_bench_idx3_")
            t0 = time.time()
            build_index(spark, docs, scratch, config="english",
                        n_buckets=32, resume=False)
            timings["index_build"] = min(timings["index_build"],
                                         time.time() - t0)
            shutil.rmtree(scratch, ignore_errors=True)
        index = load_index(spark, idx_dir)

        queries = [
            to_tspquery("english", "spark & window"),
            to_tspquery("english", "batch | stream"),
            phraseto_tspquery("english", "batch batch"),
            phraseto_tspquery("english", "merge sort"),
            to_tspquery("english", "filter<2>scan"),
            to_tspquery("english", "query & !vector"),
        ]

        # min-of-2 on the short query sections: the sandbox VM shows 2-3x
        # run-to-run steal variance, and these are the latency-sensitive
        # numbers the rounds are compared on. When the two reps disagree
        # by more than 1.5x, BOTH may have landed in one sustained steal
        # window (observed: a 1.2s/query section reading 4x once), so an
        # extra rep buys a clean sample — bounded at one retry to keep the
        # bench wall time predictable.
        def min_of(fn, reps=2):
            samples = []
            for _ in range(reps):
                t0 = time.time()
                fn()
                samples.append(time.time() - t0)
            if len(samples) >= 2 and max(samples) > 1.5 * min(samples):
                t0 = time.time()
                fn()
                samples.append(time.time() - t0)
            return min(samples)

        def run_bm25():
            for q in queries:
                bm25_topk(index, q, k=10).collect()

        timings["bm25_topk_exact_x6"] = min_of(run_bm25)

        # the same 6 queries as ONE batched plan (single postings scan +
        # per-query window top-k) — the offline-retrieval amortization
        from pg_ts_semantic_headline_spark.plans.search import bm25_topk_batch
        batch_qs = {f"q{i}": list(q.lexemes) for i, q in enumerate(queries)}
        timings["bm25_batch_x6_one_plan"] = min_of(
            lambda: bm25_topk_batch(index, batch_qs, k=10).collect())

        def run_search():
            for q in queries[:3]:
                search(index, q, k=10).collect()

        timings["boolean_phrase_search_x3"] = min_of(run_search)

        # the same 3 boolean/phrase queries as ONE batched plan (shared
        # positional scan + shared scored scan)
        from pg_ts_semantic_headline_spark.plans.search import search_batch
        timings["search_batch_x3_one_plan"] = min_of(
            lambda: search_batch(
                index, {f"q{i}": q for i, q in enumerate(queries[:3])},
                k=10).collect())

        timings["search_with_headlines_k10"] = min_of(
            lambda: search_with_headlines(
                index, phraseto_tspquery("english", "merge sort"),
                k=10).collect())

        # query-language surface: websearch syntax, dictionary-prefix
        # expansion, and cover-density ranking in one section
        def run_query_lang():
            import warnings

            from pg_ts_semantic_headline_spark.plans.query_compiler import (
                websearch_to_tspquery)
            from pg_ts_semantic_headline_spark.plans.ranking import ts_rank_cd
            from pg_ts_semantic_headline_spark.plans.search import (
                prefix_search)
            wq = websearch_to_tspquery("english", '"merge sort" or window')
            search(index, wq, k=10).collect()
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                prefix_search(index, "s", k=10, max_expansions=16).collect()
            ts_rank_cd(index, ["merge", "sort"]).count()

        timings["websearch_prefix_rankcd_x3"] = min_of(run_query_lang)

        # headline throughput: every matching doc (ad-hoc fast path) —
        # normalized to per-1k-docs
        from pg_ts_semantic_headline_spark.plans.analyze import with_analysis
        sample = docs.limit(1000).cache()
        sample.count()
        analyzed = with_analysis(sample, "content", "english")
        timings["headline_per_1k_docs"] = min_of(
            lambda: ts_fast_headline(
                analyzed, phraseto_tspquery("english", "merge")).count())

        raw_docs_once = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        timings["dedup_minhash_lsh"] = min_of(
            lambda: minhash_lsh_dedup(raw_docs_once, threshold=0.5).count())

        # ExactSubstr window pass at the published n=50 (the synthetic
        # corpus has few organic 50-gram dups; this measures the
        # window-emit + fingerprint-shuffle cost, the dominant term)
        from pg_ts_semantic_headline_spark.operators.dedup import (
            dedup_substrings)
        timings["dedup_substrings_n50"] = min_of(
            lambda: dedup_substrings(raw_docs_once, n=50)
            .agg(F.sum("n_tokens_removed")).collect())

        qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
        timings["embedding_cosine_topk"] = min_of(
            lambda: cosine_topk_arrow(emb, qv, k=10).collect())

        # persisted-ANN path: one-time bucket build, then 5 probed queries
        from pg_ts_semantic_headline_spark.operators.similarity import (
            build_ann_index, load_ann_index)
        ann_dir = tempfile.mkdtemp(prefix="tsp_bench_ann_")
        try:
            timings["ann_index_build"] = min_of(
                lambda: build_ann_index(emb, ann_dir, n_planes=8, seed=42))
            ann = load_ann_index(spark, ann_dir)
            qvs = [r["embedding"] for r in emb.limit(5).collect()]
            ann.query(qvs[0], k=10).collect()   # warm the probe path
            t0 = time.time()
            for v in qvs:
                ann.query(v, k=10).collect()
            timings["ann_query_x5"] = time.time() - t0
        finally:
            shutil.rmtree(ann_dir, ignore_errors=True)

        # IVF ANN: trained coarse quantizer — build (sample + k-means +
        # one assignment pass + partitioned write), then 5 probed queries
        from pg_ts_semantic_headline_spark.operators.similarity import (
            build_ivf_index, load_ivf_index)
        ivf_dir = tempfile.mkdtemp(prefix="tsp_bench_ivf_")
        try:
            timings["ivf_index_build"] = min_of(
                lambda: build_ivf_index(emb, ivf_dir, n_lists=16, seed=42))
            ivf = load_ivf_index(spark, ivf_dir)
            ivf.query(qvs[0], k=10, nprobe=4).collect()   # warm
            t0 = time.time()
            for v in qvs:
                ivf.query(v, k=10, nprobe=4).collect()
            timings["ivf_query_x5"] = time.time() - t0

            # batch kNN JOIN: top-10 neighbors for EVERY vector in one
            # plan (the embedding-curation primitive) — vs 5 driver
            # round-trips above for 5 queries
            from pg_ts_semantic_headline_spark.operators.similarity import (
                ivf_knn_join)
            all_q = emb.selectExpr("vec_id as query_id", "embedding")
            timings["knn_join_all_vs_all"] = min_of(
                lambda: ivf_knn_join(ivf, all_q, k=10, nprobe=4).count())
        finally:
            shutil.rmtree(ivf_dir, ignore_errors=True)

        # IVF-PQ ANN: codebook training + one encode pass + two
        # partitioned writes, then 5 ADC-shortlist + re-rank queries
        from pg_ts_semantic_headline_spark.operators.similarity import (
            build_ivfpq_index, load_ivfpq_index)
        pq_dir = tempfile.mkdtemp(prefix="tsp_bench_ivfpq_")
        try:
            timings["ivfpq_index_build"] = min_of(
                lambda: build_ivfpq_index(emb, pq_dir, n_lists=16, m=8,
                                          nbits=8, seed=42))
            pq = load_ivfpq_index(spark, pq_dir)
            pq.query(qvs[0], k=10, nprobe=4, rerank=100).collect()  # warm
            t0 = time.time()
            for v in qvs:
                pq.query(v, k=10, nprobe=4, rerank=100).collect()
            timings["ivfpq_query_x5"] = time.time() - t0
        finally:
            shutil.rmtree(pq_dir, ignore_errors=True)

        # percolation: 4 standing queries against 1k docs in one plan
        from pg_ts_semantic_headline_spark.streaming import percolate
        standing = {
            "pq_and": to_tspquery("simple", "spark & window"),
            "pq_phrase": phraseto_tspquery("simple", "batch batch"),
            "pq_not": to_tspquery("simple", "merge & !join"),
            "pq_or": to_tspquery("simple", "stream | sort"),
        }
        timings["percolate_1k_docs_4q"] = min_of(
            lambda: percolate(sample, standing, config="simple").count())

        # standing substring/regex patterns over the same 1k docs
        from pg_ts_semantic_headline_spark.streaming import (
            percolate_patterns)
        pats = {"p1": "merge sort", "p2": "batch window", "p3": "spark"}
        timings["percolate_patterns_1k_docs_3p"] = min_of(
            lambda: percolate_patterns(
                sample.selectExpr("doc_id", "content as text"),
                pats).count())

        # alerting at registry scale: 256 standing tsqueries (Arrow
        # boolean fold) + 256 substring patterns (broadcast-trigram join
        # plan) over the same 1k docs — the 10^4-saved-searches shape
        _w = ["spark", "window", "batch", "stream", "filter", "merge",
              "sort", "scan", "query", "vector", "index", "table",
              "join", "shuffle", "stage", "task"]
        big_standing = {
            f"bq{i}": to_tspquery(
                "simple", f"{_w[i % 16]} & {_w[(i // 16) % 16]}"
                if _w[i % 16] != _w[(i // 16) % 16] else _w[i % 16])
            for i in range(256)}
        big_pats = {f"bp{i}": f"{_w[i % 16]} {_w[(i // 16) % 16]}"
                    for i in range(256)}
        sample_txt = sample.selectExpr("doc_id", "content as text")
        timings["percolate_registry_256q_1k_docs"] = min_of(
            lambda: percolate(sample, big_standing, config="simple").count())
        timings["percolate_patterns_256p_1k_docs"] = min_of(
            lambda: percolate_patterns(sample_txt, big_pats).count())

        # trigram index: one-time build, then substring + LIKE + regex +
        # similarity through the bucket-pruned postings (min-of-2 — these
        # are short latency-style queries)
        from pg_ts_semantic_headline_spark.operators.trigram import (
            build_trigram_index, like_search, load_trigram_index,
            regex_search, similarity_topk, substring_search)
        raw_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        trgm_dir = tempfile.mkdtemp(prefix="tsp_bench_trgm_")
        try:
            timings["trigram_index_build"] = min_of(
                lambda: build_trigram_index(raw_docs, trgm_dir,
                                            n_buckets=32))
            trgm = load_trigram_index(spark, trgm_dir)

            def run_trgm():
                substring_search(trgm, raw_docs, "merge join").count()
                like_search(trgm, raw_docs, "%batch%window%").count()
                regex_search(trgm, raw_docs, "batch [a-z]+ window").count()
                similarity_topk(trgm, "merge join batch window",
                                k=10, threshold=0.05).collect()

            timings["trigram_search_x4"] = min_of(run_trgm)
        finally:
            shutil.rmtree(trgm_dir, ignore_errors=True)

        # hybrid retrieval: BM25 (persisted index) + brute cosine, RRF-fused
        from pg_ts_semantic_headline_spark.plans.search import (
            hybrid_search_rrf)
        hq = [to_tspquery("english", "spark & window"),
              to_tspquery("english", "batch | stream"),
              to_tspquery("english", "query & !vector")]
        hv = [r["embedding"] for r in emb.limit(3).collect()]

        def run_hybrid():
            for q, v in zip(hq, hv):
                hybrid_search_rrf(index, q, emb, v, k=10,
                                  depth=100).collect()

        timings["hybrid_rrf_x3"] = min_of(run_hybrid)

        # search-page side features over the same persisted index:
        # faceted counts on the full match set, more-like-this (driver
        # analyze + integer term selection + BM25 top-k), fuzzy
        # retrieval (OOV word trigram-corrected against the dictionary)
        from pg_ts_semantic_headline_spark.plans.search import (
            facet_counts, fuzzy_bm25_topk, more_like_this)
        mlt_src = raw_docs.where(F.col("doc_id") == 42).first()["text"]

        def run_extras():
            facet_counts(
                index, to_tspquery("english", "(spark | batch) & !slow"),
                raw_docs, ["lang", "source"]).collect()
            more_like_this(index, mlt_src, k=10, max_terms=8,
                           exclude_doc_id=42).collect()
            fuzzy_bm25_topk(index, ["spark", "wnidow"], k=10).collect()

        timings["facet_mlt_fuzzy_x3"] = min_of(run_extras)

        # BM25F over ad-hoc fields (title = first 8 tokens ×2, body ×1)
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25f_topk_adhoc)
        sarr = F.split(F.col("text"), " ")
        fielded = raw_docs.select(
            "doc_id",
            F.array_join(F.slice(sarr, 1, 8), " ").alias("title"),
            F.array_join(
                F.slice(sarr, 9, F.greatest(F.size(sarr) - 8, F.lit(0))),
                " ").alias("body"))
        timings["bm25f_adhoc"] = min_of(
            lambda: bm25f_topk_adhoc(fielded, {"title": 2.0, "body": 1.0},
                                     ["spark", "window"], k=10).collect())

        # the indexed BM25F path: per-field postings build, then two
        # weight vectors against the SAME index (weights are query-time)
        from pg_ts_semantic_headline_spark.plans.fielded import (
            bm25f_topk, build_fielded_index, load_fielded_index)
        fdir = tempfile.mkdtemp(prefix="tsp_bench_fidx_")
        try:
            timings["bm25f_index_build"] = min_of(
                lambda: build_fielded_index(
                    spark, fielded, fdir, ["title", "body"],
                    config="english", n_buckets=32))
            fidx = load_fielded_index(spark, fdir)

            def run_fielded():
                bm25f_topk(fidx, {"title": 2.0, "body": 1.0},
                           ["spark", "window"], k=10).collect()
                bm25f_topk(fidx, {"title": 0.5, "body": 4.0},
                           ["spark", "window"], k=10).collect()

            timings["bm25f_indexed_query_x2"] = min_of(run_fielded)
        finally:
            shutil.rmtree(fdir, ignore_errors=True)

        # composed corpus-prep pipeline (annotate + filter + exact dedup)
        # reduced to its one-row report — the training-data cleaning cost
        from pg_ts_semantic_headline_spark.operators.pipeline import (
            corpus_report, prepare_corpus)
        timings["prepare_corpus_report"] = min_of(
            lambda: corpus_report(
                prepare_corpus(raw_docs, exact_dedup=True)).collect())

        # sliding-window chunking over the full corpus (training-sample
        # extraction)
        from pg_ts_semantic_headline_spark.operators.chunking import (
            chunk_documents)
        timings["chunk_documents"] = min_of(
            lambda: chunk_documents(raw_docs, chunk_tokens=128,
                                    overlap=16).count())

        # eval-set decontamination: 5-gram overlap of the doc_id%20==0
        # "benchmark" slice vs the rest (broadcast eval hashes, train
        # side scanned once)
        from pg_ts_semantic_headline_spark.operators.decontaminate import (
            decontaminate)
        ev_docs = raw_docs.where(F.col("doc_id") % 20 == 0)
        tr_docs = raw_docs.where(F.col("doc_id") % 20 != 0)
        timings["decontaminate_5gram"] = min_of(
            lambda: decontaminate(tr_docs, ev_docs, n=5).count())

        # corpus vocabulary analysis: per-doc keywords (integer tf/df
        # ranking) + PMI bigram collocations, each one action
        from pg_ts_semantic_headline_spark.operators.collocations import (
            doc_keywords, pmi_collocations)
        timings["keywords_pmi"] = min_of(
            lambda: (doc_keywords(raw_docs, top_n=5).count(),
                     pmi_collocations(raw_docs, min_count=5).count()))

        # ad-hoc 1:1 ts_headline replacement (pg-style passage selection +
        # fast path over the passage only), normalized per 1k docs
        from pg_ts_semantic_headline_spark.plans.headline import (
            ts_semantic_headline)
        timings["semantic_headline_per_1k_docs"] = min_of(
            lambda: ts_semantic_headline(
                sample, phraseto_tspquery("english", "merge"),
                config="english").count())

        # ranking extensions: proximity rerank over top-100 candidates
        # (positional decode pruned to the candidates' blocks) and LTR
        # feature extraction over every matching doc
        from pg_ts_semantic_headline_spark.plans.ranking import (
            ltr_features, proximity_rerank)
        rank_qs = [list(to_tspquery("english", "merge & sort").lexemes),
                   list(to_tspquery("english", "spark & window").lexemes)]
        timings["proximity_rerank_x2"] = min_of(
            lambda: [proximity_rerank(index, ts, k=10, depth=100).collect()
                     for ts in rank_qs])
        timings["ltr_features_full"] = min_of(
            lambda: ltr_features(index, rank_qs[0]).count())

        # PG ts_rank pair: the OR form ranks the whole match set from one
        # tf-only pruned scan; the AND (pairwise-proximity) form runs in
        # the rerank shape over the top-100 BM25 candidates
        from pg_ts_semantic_headline_spark.plans.ranking import ts_rank

        def run_ts_rank():
            ts_rank(index, rank_qs[0], variant="or").count()
            cand = [r["doc_id"] for r in
                    bm25_topk(index, rank_qs[1], k=100).collect()]
            ts_rank(index, rank_qs[1], variant="and",
                    candidate_ids=cand).count()

        timings["ts_rank_or_plus_and_rerank"] = min_of(run_ts_rank)

        # re-crawl change detection: upserting the UNCHANGED corpus must
        # classify every row as already-indexed and mutate nothing —
        # this prices the sha256 gate itself (one broadcast join onto a
        # 2-column tokens projection)
        from pg_ts_semantic_headline_spark.streaming.incremental import (
            upsert_documents)

        def run_upsert_noop():
            rep = upsert_documents(spark, idx_dir, docs)
            assert rep["changed"] == 0 and rep["new"] == 0, rep

        timings["upsert_recrawl_noop"] = min_of(run_upsert_noop)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    total = sum(timings.values())
    # bracket the timed region: the after-probe runs with the JVM alive
    # but idle, so a mid-run window change shows up as before/after drift
    probe_after = host_probes()
    out = {
        "metric": "tsp_spark_bench_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "n_files": n_files,
        "index_build_files_per_sec": round(n_files / timings["index_build"], 1),
        "cpus": int(CPUS),
        "host_window": {"before": probe_before, "after": probe_after,
                        "healthy_ref": {"host_membw_gb_per_sec_4p": 39.0}},
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
