"""Index-build throughput job for the two-parallelism scaling evidence.

Run via spark-submit --py-files (see scripts/run_scaling.sh):
    spark-submit --master local[N] --py-files pkg.zip \
        scripts/scaling_job.py <sf_dir> <out_dir> <replicate>

Replicates the documents table `replicate`× with distinct doc_ids
(deterministic), builds the full index, and prints one JSON line with the
build wall time and files/sec. JVM/session startup is excluded — the
measured region is the index build only, which is what scales with
executors.
"""

import json
import shutil
import sys
import time


def host_cpu_probe(procs: int, seconds: float = 6.0) -> float:
    """Aggregate pure-CPU throughput of `procs` busy python processes —
    measures what the (steal-prone) host can actually deliver at this
    parallelism in THIS window, independent of Spark. The ratio
    probe(32)/probe(8) is the physical ceiling any 8→32 scaling
    measurement must be read against."""
    import multiprocessing as mp

    def spin(q, t_end):
        x, n = 0, 0
        while time.time() < t_end:
            for _ in range(100000):
                x = (x * 1103515245 + 12345) % (2 ** 31)
            n += 1
        q.put(n)

    q = mp.Queue()
    t_end = time.time() + seconds
    ps = [mp.Process(target=spin, args=(q, t_end)) for _ in range(procs)]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return total / seconds


def host_membw_probe(procs: int, seconds: float = 4.0,
                     mb: int = 256) -> float:
    """Aggregate memory-bandwidth throughput (GB/s of large-array copies)
    of `procs` processes — the substrate the cache-resident CPU probe is
    BLIND to. Measured necessity: a window where the CPU probe read a
    0.989 ceiling still ran the Arrow string stages at a third of their
    healthy speed (tokens 122.6 s vs 27–46 s, identical binary/input);
    only a bandwidth-bound probe exposes that interference. Read a
    scaling pair against BOTH ceilings: the engine's string-heavy stages
    sit between them."""
    import multiprocessing as mp

    import numpy as np

    def copy_loop(q, barrier):
        # allocate BEFORE the timed window (spawn + numpy import + a
        # 2×mb allocation can eat a whole short window otherwise), and
        # rendezvous so every process measures the same interval.
        # WARM UP untimed (round-5 fix): the first streaming burst after
        # a memory-idle period on this VM reads 30–100× low — measured
        # 0.39/0.76/11.4 GB/s cold-first vs 38–70 GB/s on the immediate
        # next call, three idle-gap trials — because the hypervisor
        # (free-page reporting / ballooning) must re-populate pages on
        # first touch. ~0.7 s of untimed copies pays that cost before
        # the barrier, so the timed window measures the SUSTAINABLE
        # bandwidth of the window rather than the cold-start transient
        # (this artifact is what put the r4 bench bracket at 0.38 GB/s).
        src = np.ones(mb * 1024 * 1024 // 8, dtype=np.int64)
        dst = np.empty_like(src)
        t_w = time.time()
        while time.time() - t_w < 0.7:
            np.copyto(dst, src)
        barrier.wait()
        t0 = time.time()
        n = 0
        while time.time() - t0 < seconds:
            np.copyto(dst, src)
            n += 1
        q.put(n * 2 * mb / 1024.0 / (time.time() - t0))

    q = mp.Queue()
    barrier = mp.Barrier(procs)
    ps = [mp.Process(target=copy_loop, args=(q, barrier))
          for _ in range(procs)]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return total  # aggregate GB/s (each iteration reads+writes mb MB)


def host_mixed_probe(procs: int, seconds: float = 3.0,
                     mb: int = 64) -> float:
    """Aggregate throughput (units/s) of a MIXED compute+memory loop —
    each unit is one large-buffer copy (memory stream) followed by a
    fixed integer spin (CPU) — approximating the tokens stage's Arrow
    string-kernel profile (bandwidth-hungry but not pure memcpy). The
    pure-CPU probe overstates what string-heavy work can reach at high
    thread counts (cache-resident) and pure memcpy at 16 procs trips a
    hypervisor throttle the real build never hits (BENCH/BASELINE.md §1
    round-4 correction); the ratio probe(4N)/probe(N)/4 of THIS probe is
    the honest ceiling for the build's dominant stage. Same untimed
    warm-up discipline as host_membw_probe (cold-first-read artifact)."""
    import multiprocessing as mp

    import numpy as np

    def mixed_loop(q, barrier):
        src = np.ones(mb * 1024 * 1024 // 8, dtype=np.int64)
        dst = np.empty_like(src)
        t_w = time.time()
        while time.time() - t_w < 0.7:
            np.copyto(dst, src)
        barrier.wait()
        t0 = time.time()
        n = 0
        x = 0
        while time.time() - t0 < seconds:
            np.copyto(dst, src)          # ~2·mb MB of memory traffic
            for _ in range(200_000):     # ~10ms of pure-CPU work
                x = (x * 1103515245 + 12345) % (1 << 31)
            n += 1
        q.put(n / (time.time() - t0))

    q = mp.Queue()
    barrier = mp.Barrier(procs)
    ps = [mp.Process(target=mixed_loop, args=(q, barrier))
          for _ in range(procs)]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return total


def main():
    sf_dir, out_dir, replicate = sys.argv[1], sys.argv[2], int(sys.argv[3])
    rep_len = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    cache_level = sys.argv[5] if len(sys.argv) > 5 else "DISK_ONLY"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from pg_ts_semantic_headline_spark.plans.index_build import build_index

    base = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "text as content"))
    docs = (base
            .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
            .select((F.col("doc_id").cast("long")
                     + F.col("rep").cast("long") * 10_000_000).alias("doc_id"),
                    # lengthen docs so per-doc analysis cost resembles real
                    # source files rather than 300-char rows
                    F.repeat(F.concat(F.col("content"), F.lit(" ")), rep_len)
                    .alias("content"))
            .repartition(cores * 3)
            .persist(getattr(__import__("pyspark").StorageLevel,
                             cache_level)))
    n_files = docs.count()  # materialize input outside the timed region

    # Session warmup build: pays one-time python-worker/codegen/shuffle
    # machinery costs before the timed region — both parallelism levels pay
    # the same fixed cost, so excluding it isolates the quantity that
    # actually scales with executors.
    shutil.rmtree(out_dir + "_warm", ignore_errors=True)
    build_index(spark, base.limit(200), out_dir + "_warm",
                config="english", n_buckets=4, resume=False)
    shutil.rmtree(out_dir + "_warm", ignore_errors=True)

    shutil.rmtree(out_dir, ignore_errors=True)
    metrics = {}
    # bracket the timed region with host probes: steal varies on ~minute
    # windows, so a single post-hoc probe can miss a spike that hit the
    # build; the before/after mean is the window estimate the efficiency
    # ratio is normalized against
    probe_before = host_cpu_probe(cores)
    # membw probes at a FIXED 4 processes regardless of the level's cores:
    # a pure-memcpy probe at 16 processes collapses to ~1 GB/s on this host
    # even in healthy windows (measured 16p=0.8 GB/s while 4p=61 GB/s
    # seconds apart, both orders) — a concurrency-triggered throttle the
    # mixed compute/memory Spark build does not hit. Per-level-cores probes
    # made the two levels' brackets incomparable and falsely flagged every
    # 4N level as window-polluted.
    membw_before = host_membw_probe(4)
    t0 = time.time()
    # min_analyze_partitions=0: input is already repartitioned+cached above;
    # the small-input guard keys off source inputFiles and would add a
    # shuffle that REDUCES parallelism here
    build_index(spark, docs, out_dir, config="english",
                n_buckets=32, resume=False,
                min_analyze_partitions=0, metrics=metrics,
                cache_level=cache_level)
    wall = time.time() - t0

    print(json.dumps({
        "cores": cores,
        "n_files": n_files,
        "build_sec": round(wall, 3),
        "files_per_sec": round(n_files / wall, 2),
        "host_cpu_units_per_sec": round(
            (probe_before + host_cpu_probe(cores)) / 2, 1),
        "host_membw_gb_per_sec": round(
            (membw_before + host_membw_probe(4)) / 2, 2),
        "stages": {k: round(v, 2) for k, v in metrics.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
