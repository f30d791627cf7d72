"""Query-latency scaling probe: does search stay sublinear as the corpus
grows ~100x?

Builds the full index over the sf0.1 documents table replicated 1x and
Nx (default 96x => ~480k docs) into temp dirs, then times the same query
set at both scales:

- bm25 top-10 (scans every posting of the query terms)
- boolean+phrase search (anchored positional intersection)

Prints one JSON line per scale plus the growth ratios. The claim under
test: query cost is O(df of the query terms), not O(corpus), so latency
grows far slower than the corpus.

Usage: spark-submit --py-files pkg.zip scripts/query_scale_probe.py \
           [sf_dir] [replicate] [out_base]
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_queries(index, queries, search_fn, bm25_fn, reps: int = 2):
    out = {}

    def min_of(fn):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return best

    out["bm25_exact"] = min_of(
        lambda: [bm25_fn(index, q, k=10).collect() for q in queries])
    out["boolean_phrase"] = min_of(
        lambda: [search_fn(index, q, k=10).collect()
                 for q in queries[:3]])
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 96
    out_base = sys.argv[3] if len(sys.argv) > 3 else tempfile.gettempdir()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[32]")
             .appName("tsp-query-scale-probe")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)
    from pg_ts_semantic_headline_spark.plans.query_compiler import (
        phraseto_tspquery, to_tspquery)
    from pg_ts_semantic_headline_spark.plans.search import bm25_topk, search

    base = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "text as content"))
    queries = [
        to_tspquery("english", "spark & window"),
        to_tspquery("english", "batch | stream"),
        phraseto_tspquery("english", "merge sort"),
        to_tspquery("english", "filter<2>scan"),
        to_tspquery("english", "query & !vector"),
    ]

    results = {}
    for label, rep in (("small", 1), ("large", replicate)):
        docs = (base if rep == 1 else base
                .withColumn("rep", F.explode(
                    F.sequence(F.lit(0), F.lit(rep - 1))))
                .select((F.col("doc_id").cast("long")
                         + F.col("rep").cast("long") * 10_000_000)
                        .alias("doc_id"), "content"))
        idx_dir = f"{out_base}/qscale_{label}"
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.time()
        build_index(spark, docs, idx_dir, config="english",
                    n_buckets=32, resume=False,
                    min_analyze_partitions=0)
        build_sec = time.time() - t0
        index = load_index(spark, idx_dir)
        if label == "small":   # warm the query path once, outside timing
            bm25_topk(index, queries[0], k=10).collect()
        timings = run_queries(index, queries, search, bm25_topk)
        results[label] = {"n_docs": index.n_docs,
                          "build_sec": round(build_sec, 2),
                          **{k: round(v, 3) for k, v in timings.items()}}
        print(json.dumps({label: results[label]}), flush=True)
        shutil.rmtree(idx_dir, ignore_errors=True)

    growth = {k: round(results["large"][k] / results["small"][k], 2)
              for k in ("bm25_exact", "boolean_phrase")}
    print(json.dumps({
        "corpus_growth_x": round(results["large"]["n_docs"]
                                 / results["small"]["n_docs"], 1),
        "latency_growth_x": growth,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
