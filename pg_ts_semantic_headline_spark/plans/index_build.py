"""Global positional inverted-index build.

Replaces the reference's per-row trigger upkeep
(/root/reference/development_schema.sql:18-34: content_tsv/content_arr
columns + GIN index) with a batch job producing four persisted tables under
one index directory:

- tokens/    doc_id, tokens array<string>, dl, sha256   (recall vectors +
             per-row invariant column)
- postings/  bucket=<b>/ doc_id, dl, term, tf, positions array<int>, gen
             — columnar row form, directory-partitioned by term bucket so a
             query's term lookup prunes to a handful of files; doc length is
             denormalized to kill the docstats join at query time. This is
             the index's one positional store: parquet's dictionary, delta
             and zstd encodings compress it, and BM25 scoring, phrase
             verification and headlines all read it
- terms/     term, bucket, df, cf, idf — the dictionary
- stats/     n_docs, avgdl, config, prep_version — corpus stats + the
             engine's analog of the reference's TSPVector marker domain
             check (/root/reference/sql/base_domain.sql:23-28): a loader
             assertion that content went through the canonical pipeline

plus _manifest/ — per-stage, per-partition lineage rows (row counts,
checksums, wall ms, input signature). A re-run with the same input signature
skips completed stages: that is the checkpoint-resume contract. Lineage
costs no second scan of any stage output: per-file row counts come from
parquet footers (driver-side metadata read) and the global checksum rides
the write pass itself via Observation — at corpus scale a read-back would
double the build I/O.

Shuffle budget: the per-(term, doc) aggregation happens doc-locally inside
the analysis UDF (map-side combine) — no shuffle ever carries one row per
token occurrence. The shuffles that remain move one compact row per
(term, doc): ONE range repartition on (bucket, term, doc_id) whose sorted
layout feeds the postings write, plus the small terms-dictionary
aggregation (partial+final).

RANGE, not hash-on-bucket: a hash repartition into n_buckets partitions
caps sort parallelism at n_buckets reducers and sends a hot term's
entire posting list ("def", "the" — O(n_docs) rows) to ONE reducer. Range
partitioning on (bucket, term, doc_id) into ~cluster-core partitions
splits a hot term's run across consecutive reducers at doc_id granularity
— the skew unit collapses from "hottest term's df" to "rows per range
chunk". The directory layout is untouched (partitionBy("bucket") at
write).
"""

from __future__ import annotations

from ..io_codec import INDEX_CODEC

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .. import lifecycle as lc

K1 = 1.2
B = 0.75
# v3: tokens/postings rows carry a `gen` (generation) column so doc
# replaces/deletes resolve by tombstone without rewriting the
# append-only tables, and stats carries `gen`. v4: row postings always
# carry positions (the one positional store). v5: tombstones are
# (doc_id, gen = last dead generation), the encoding every index family
# shares (lifecycle.live_rows). The version gate in load_index rejects
# indexes written under older layouts, which must be rebuilt.
PREP_VERSION = "tsp-spark-5"

STATS_SCHEMA = ("n_docs long, avgdl double, config string, "
                "prep_version string, n_buckets int, gen int")
# the other tables as written (partition columns last); readers pass
# them, since inferring a parquet schema costs a Spark job per table
TOKENS_SCHEMA = ("doc_id long, tokens array<string>, dl int, "
                 "sha256 string, gen int")
POSTINGS_SCHEMA = ("doc_id long, dl int, term string, tf int, "
                   "positions array<int>, gen int, bucket int")
TERMS_SCHEMA = "term string, df long, cf long, idf double, bucket int"
TOMBSTONES_SCHEMA = "doc_id long, gen long"


def idf_expr(df_col, n_docs):
    """Lucene-style always-positive BM25 idf: ln(1 + (N - df + .5)/(df + .5))."""
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


@dataclass
class IndexPaths:
    root: str

    @property
    def tokens(self): return f"{self.root}/tokens"
    @property
    def postings(self): return f"{self.root}/postings"
    @property
    def terms(self): return f"{self.root}/terms"
    @property
    def stats(self): return f"{self.root}/stats"
    @property
    def manifest(self): return f"{self.root}/_manifest"
    # incremental-maintenance state (see streaming/incremental.py):
    # _tombstones (doc_id, gen): rows of doc_id with gen <= the
    #             tombstone's gen are dead (lifecycle.live_rows)
    @property
    def tombstones(self): return f"{self.root}/_tombstones"


def _input_signature(docs: DataFrame, doc_id: str) -> tuple[int, int]:
    row = docs.select(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(doc_id)), F.lit(0)).alias("h")).first()
    return int(row["n"]), int(row["h"])


def _completed_stages(spark: SparkSession, paths: IndexPaths,
                      signature: tuple[int, int]) -> set[str]:
    try:
        m = spark.read.parquet(paths.manifest)
    except Exception:
        return set()
    rows = (m.where((F.col("sig_n") == signature[0])
                    & (F.col("sig_h") == signature[1]))
            .select("stage").distinct().collect())
    return {r["stage"] for r in rows}


def _write_manifest(spark: SparkSession, paths: IndexPaths, stage: str,
                    signature: tuple[int, int], partition_rows,
                    wall_ms: int) -> None:
    schema = StructType([
        StructField("stage", StringType(), False),
        StructField("partition_id", LongType(), False),
        StructField("row_count", LongType(), False),
        # NULL = "not computed for this row" (per-file footer rows carry
        # counts only); the global partition_id=-1 row carries the real
        # observed checksum — distinguishable from a true xor of 0
        StructField("checksum", LongType(), True),
        StructField("wall_ms", LongType(), False),
        StructField("sig_n", LongType(), False),
        StructField("sig_h", LongType(), False),
    ])
    rows = [(stage, int(p), int(c), None if h is None else int(h), wall_ms,
             signature[0], signature[1]) for p, c, h in partition_rows]
    spark.createDataFrame(rows, schema).write.option("compression", INDEX_CODEC).mode("append").parquet(paths.manifest)


def _lineage(df: DataFrame, part_col, checksum_col) -> list:
    rows = (df.groupBy(part_col.alias("p"))
              .agg(F.count("*").alias("c"),
                   F.coalesce(F.bit_xor(F.xxhash64(checksum_col)), F.lit(0)).alias("h"))
              .collect())
    return [(r["p"], r["c"], r["h"]) for r in rows]


def _checksum_observation(name: str, checksum_col):
    """Global (row_count, xor-of-xxhash64) riding the write action itself —
    lineage without a second scan of the stage output."""
    from pyspark.sql import Observation
    obs = Observation(name)
    return obs, [F.count(F.lit(1)).alias("c"),
                 F.coalesce(F.bit_xor(F.xxhash64(checksum_col)),
                            F.lit(0)).alias("h")]


def _footer_counts(spark: SparkSession, path: str) -> list[int]:
    """Per-file row counts of the table at `path` from parquet FOOTERS
    (a driver-side metadata read — no data scan, no Spark job), files in
    path order. Raises where the files are not local."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    def n_rows(f):
        local = f[len("file:"):] if f.startswith("file:") else f
        return pq.ParquetFile(local).metadata.num_rows
    # footer opens are independent ~ms-scale IO calls; a serial loop
    # over a few hundred files was costing whole seconds of build wall
    with ThreadPoolExecutor(max_workers=16) as pool:
        return list(pool.map(n_rows,
                             sorted(spark.read.parquet(path).inputFiles())))


def _file_lineage(spark: SparkSession, out_path: str, observation,
                  count_key: str = "c", hash_key: str = "h",
                  fallback_df: DataFrame = None,
                  fallback_checksum_col=None) -> list:
    """Per-partition lineage rows: per-file row counts from parquet
    footers plus one global row (partition_id = -1) carrying the observed
    checksum of the write pass. Falls back to an aggregation job for
    non-local filesystems."""
    try:
        rows = [(i, c, None)
                for i, c in enumerate(_footer_counts(spark, out_path))]
    except Exception:
        if fallback_df is not None:
            return _lineage(fallback_df, F.spark_partition_id(),
                            fallback_checksum_col)
        rows = []
    got = observation.get
    rows.append((-1, int(got[count_key]), int(got[hash_key])))
    return rows


def _analyze_docs(docs: DataFrame, content_col: str, cfg_col,
                  doc_id: str) -> DataFrame:
    """(doc_id, tokens, dl, postings, sha256) per document: the one
    analysis pass the build and the incremental merge share."""
    from .analyze import analyze_index_udf

    return (docs.withColumn("_a", analyze_index_udf(F.col(content_col),
                                                    cfg_col))
            .select(F.col(doc_id).alias("doc_id"),
                    F.col("_a.tokens").alias("tokens"),
                    F.col("_a.dl").alias("dl"),
                    F.col("_a.postings").alias("postings"),
                    F.sha2(F.col(content_col), 256).alias("sha256")))


def _posting_rows(analyzed: DataFrame, n_buckets: int) -> DataFrame:
    """One (doc_id, dl, term, tf, positions, bucket) row per (term, doc)."""
    return (analyzed.select("doc_id", "dl", F.explode("postings").alias("p"))
            .select("doc_id", "dl", F.col("p.term").alias("term"),
                    F.col("p.tf").alias("tf"),
                    F.col("p.positions").alias("positions"))
            .withColumn("bucket", F.pmod(F.xxhash64("term"),
                                         F.lit(n_buckets)).cast("int")))


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    content_col: str = "content",
    config: "str | Column" = "english",
    doc_id: str = "doc_id",
    n_buckets: int = 32,
    resume: bool = True,
    min_analyze_partitions: int | None = None,
    postings_partitions: int | None = None,
    metrics: dict | None = None,
    cache_level: str = "DISK_ONLY",
) -> IndexPaths:
    """Batch index build; idempotent and stage-resumable.

    `metrics`, if given, is filled with per-stage wall seconds (same numbers
    the manifest persists) — the build-job observability hook.
    `min_analyze_partitions=0` disables the small-input spread guard (pass
    this when the caller already repartitioned/cached the input).
    `postings_partitions` overrides the postings sort shuffle width
    (default: 2× cluster parallelism).
    `cache_level`: StorageLevel name for the two inter-stage caches
    (analyzed docs, range-sorted postings); see the note at `storage`
    below for why DISK_ONLY is the scale-safe default.
    `config` may also be a pyspark Column producing a per-ROW config
    string (PG's `to_tsvector(config_col, text)` — the multilingual
    corpus pattern, e.g. `F.when(F.col("lang") == "de", "german")
    .otherwise("english")`): the analysis UDF already takes config as a
    per-row value, so routing costs nothing. The persisted stats then
    record config = "percolumn", and the few driver-side helpers that
    re-analyze text with the INDEX's config (fuzzy_bm25_topk,
    expand_prefix, more_like_this, rm3_expand) require an explicit
    `config=` argument on such an index.
    """
    from pyspark.sql import Column as _Column

    per_column = isinstance(config, _Column)
    cfg_col = config if per_column else F.lit(config)
    cfg_name = "percolumn" if per_column else config

    from pyspark import StorageLevel

    # `cache_level` names any pyspark StorageLevel constant. DISK_ONLY is
    # the default because each inter-stage cache is read a bounded number
    # of times by exactly the next stages, while the ON-HEAP columnar
    # cache of tokens+postings at corpus scale drives the JVM into GC
    # thrash (measured: 2.6x whole-build slowdown at 480k docs in a 24 GB
    # heap, bimodal stage times as the heap crossed the collection
    # threshold). On executor-local disks the serialized re-read streams
    # at page-cache speed and the heap stays flat.
    storage = getattr(StorageLevel, cache_level)

    paths = IndexPaths(out_dir)
    # the signature job exists to key resume decisions; skip it entirely for
    # fresh (resume=False) builds
    signature = _input_signature(docs, doc_id) if resume else (0, 0)
    done = _completed_stages(spark, paths, signature) if resume else set()
    if metrics is None:
        metrics = {}

    # A small upstream file count must not serialize the expensive tokenize
    # UDF: spread input across the cluster before analysis. (A 100 TB scan
    # already arrives in thousands of splits; this guards the small-file /
    # coalesced-scan case. inputFiles() is a metadata listing — cheap,
    # unlike df.rdd which forces a full plan-to-RDD conversion.)
    target_parts = (min_analyze_partitions
                    if min_analyze_partitions is not None
                    else spark.sparkContext.defaultParallelism * 2)
    if target_parts > 0:
        # inputFiles() reflects the SOURCE scan, not the current plan — a
        # caller that already repartitioned should pass 0 to opt out
        try:
            few_splits = len(docs.inputFiles()) < target_parts
        except Exception:
            few_splits = True
        if few_splits:
            docs = docs.repartition(target_parts)

    # Single-pass analysis: tokens + dl + doc-local postings in one Arrow
    # roundtrip; content is dropped from the cached projection, so the
    # expensive tokenize runs exactly once and every downstream stage reads
    # the compact cache (no raw lexeme stream is ever cached or shuffled)
    analyzed = _analyze_docs(docs, content_col, cfg_col,
                             doc_id).persist(storage)

    # ---- stage: tokens (recall vectors + invariant column) ----
    corpus_obs = None
    if "tokens" not in done:
        from pyspark.sql import Observation
        t0 = time.time()
        corpus_obs = Observation("corpus_stats")
        tok = (analyzed.select("doc_id", "tokens", "dl", "sha256")
               .withColumn("gen", F.lit(0)))
        # corpus stats AND the lineage checksum ride the same pass — no
        # separate stats or lineage scan
        (tok.observe(corpus_obs, F.count(F.lit(1)).alias("n_docs"),
                     F.avg("dl").alias("avgdl"),
                     F.coalesce(F.bit_xor(F.xxhash64("doc_id")),
                                F.lit(0)).alias("h"))
         .write.option("compression", INDEX_CODEC).mode("overwrite").parquet(paths.tokens))
        metrics["tokens_sec"] = time.time() - t0
        t1 = time.time()
        _write_manifest(spark, paths, "tokens", signature,
                        _file_lineage(spark, paths.tokens, corpus_obs,
                                      count_key="n_docs",
                                      fallback_df=tok,
                                      fallback_checksum_col=F.col("doc_id")),
                        int((time.time() - t0) * 1000))
        metrics["tokens_lineage_sec"] = time.time() - t1

    # ---- stage: postings rows, bucketed by term hash ----
    # per-(term, doc) aggregation happened doc-locally inside the analysis
    # UDF (map-side combine): no shuffle ever carries one-row-per-token —
    # the downstream shuffles move one compact row per (term, doc)
    per_term_doc = _posting_rows(analyzed, n_buckets)

    # ONE shuffle produces the postings table's physical layout (globally
    # range-ordered by bucket, term, doc_id); persisting it lets the terms
    # aggregation reuse the same partitions. Parallelism scales with the
    # cluster, not n_buckets
    # (see module docstring); the global range order also makes each
    # per-bucket file a term-ordered chunk, so query scans prune at the
    # parquet row-group level on term min/max.
    sort_parts = (postings_partitions
                  if postings_partitions is not None
                  else max(spark.sparkContext.defaultParallelism * 2,
                           n_buckets))
    bucketed = (per_term_doc
                .repartitionByRange(sort_parts, "bucket", "term", "doc_id")
                .sortWithinPartitions("bucket", "term", "doc_id")
                .persist(storage))

    if "postings" not in done:
        t0 = time.time()
        post_obs, post_aggs = _checksum_observation(
            "postings_lineage", F.concat_ws("|", "term", "doc_id"))
        (bucketed.withColumn("gen", F.lit(0))
         .observe(post_obs, *post_aggs)
         .write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket").parquet(paths.postings))
        metrics["postings_sec"] = time.time() - t0
        t1 = time.time()
        _write_manifest(spark, paths, "postings", signature,
                        _file_lineage(spark, paths.postings, post_obs,
                                      fallback_df=per_term_doc,
                                      fallback_checksum_col=F.concat_ws(
                                          "|", "term", "doc_id")),
                        int((time.time() - t0) * 1000))
        metrics["postings_lineage_sec"] = time.time() - t1

    # ---- stage: terms dictionary + corpus stats ----
    if "terms" not in done:
        t0 = time.time()
        if corpus_obs is not None:
            got = corpus_obs.get
            n_docs, avgdl = int(got["n_docs"]), float(got["avgdl"])
        else:
            stats_row = analyzed.select(
                F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")).first()
            n_docs, avgdl = int(stats_row["n_docs"]), float(stats_row["avgdl"])
        terms = (bucketed
                 .groupBy("term")
                 .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"),
                      F.first("bucket").alias("bucket"))
                 .withColumn("idf", idf_expr(F.col("df"), n_docs)))
        term_obs, term_aggs = _checksum_observation(
            "terms_lineage", F.col("term"))
        # bucket-partitioned like postings: a query's idf lookup
        # prunes to the terms' bucket directories instead of scanning the
        # whole dictionary
        terms.observe(term_obs, *term_aggs) \
            .write.option("compression", INDEX_CODEC).mode("overwrite").partitionBy("bucket").parquet(paths.terms)
        spark.createDataFrame(
            [(n_docs, avgdl, cfg_name, PREP_VERSION, n_buckets, 0)],
            STATS_SCHEMA,
        ).write.option("compression", INDEX_CODEC).mode("overwrite").parquet(paths.stats)
        metrics["terms_sec"] = time.time() - t0
        t1 = time.time()
        _write_manifest(spark, paths, "terms", signature,
                        _file_lineage(spark, paths.terms, term_obs,
                                      fallback_df=terms,
                                      fallback_checksum_col=F.col("term")),
                        int((time.time() - t0) * 1000))
        metrics["terms_lineage_sec"] = time.time() - t1

    analyzed.unpersist()
    bucketed.unpersist()
    return paths


@dataclass
class Index:
    paths: IndexPaths
    tokens: DataFrame
    postings: DataFrame
    terms: DataFrame
    n_docs: int
    avgdl: float
    config: str
    n_buckets: int = 32
    gen: int = 0


def _alias_versions(spark: SparkSession, alias_dir: str) -> list[int]:
    """COMPLETE alias versions under `alias_dir`, ascending: `v=N`
    subdirectories whose Spark commit finished (_SUCCESS present) — a
    publish that died mid-write is invisible to readers."""
    if not lc.path_exists(spark, alias_dir):
        return []
    fs, p, _ = lc._fs(spark, alias_dir)
    names = [st.getPath().getName() for st in fs.listStatus(p)
             if st.isDirectory()]
    return sorted(int(n[2:]) for n in names
                  if n.startswith("v=") and n[2:].isdigit()
                  and lc.path_exists(spark, f"{alias_dir}/{n}/_SUCCESS"))


#: name prefix of a publisher's pointer before its claim, followed by
#: `<version>_<uuid>`
_PUBLISH_TMP = ".publish_tmp_"


def publish_index(spark: SparkSession, index_dir: str,
                  alias_dir: str, keep: int = 2,
                  verify: "bool | str" = False) -> int:
    """Point `alias_dir` at `index_dir` — the zero-downtime (blue-green)
    reindex flip: build or compact into a NEW directory, then publish it
    under the alias every reader loads. Returns the new alias version.

    Reader-safe AND writer-safe: each publish writes a fresh pointer
    under a hidden temp name, then CLAIMS `v=N+1` with an atomic rename
    that throws if the version exists (`lifecycle.claim_path`): readers
    take the highest version whose commit completed (_SUCCESS), so a
    racing reader sees the old target or the new one, never a half
    state, and of two concurrent publishers exactly one claims the
    version while the loser raises (retry to land at v=N+2). Alias dirs
    therefore belong on a filesystem with atomic directory rename (HDFS,
    local, ABFS). The previous `keep-1` versions are retained so an
    in-flight reader that already resolved an older pointer can finish
    against its target; prune the superseded index DIRECTORIES on
    whatever delay covers the longest-running query. Validates the
    target before publishing (a typo'd path must not brick every reader
    at resolve time).

    Works for EVERY persisted index family: the main/fielded indexes
    carry `stats/`, the trigram and LSH indexes carry `meta/`, the
    IVF/IVF-PQ indexes carry `centroids/`. load_index follows an alias
    transparently; the other families' loaders take
    `resolve_index_alias(spark, alias_dir)`.

    `verify=True` runs the family-dispatched fsck (plans/fsck.py,
    shallow; `verify="deep"` adds the full-scan reconciliations) and
    REFUSES the flip on any failed check — the one-call pre-flight for
    pointing traffic at a restored or freshly-compacted index."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    if not (lc.path_exists(spark, IndexPaths(index_dir).stats)
            or lc.path_exists(spark, f"{index_dir}/meta")
            or lc.path_exists(spark, f"{index_dir}/centroids")):
        raise ValueError(
            f"{index_dir} is not a built index (no stats/, meta/, or "
            f"centroids/)")
    if verify:
        # verify=True runs the family-dispatched shallow audit;
        # verify="deep" adds the full-scan reconciliations. Any `fail`
        # row aborts the publish — never flip traffic onto an index
        # that does not pass its own invariants.
        from .fsck import verify_any_index
        rep = verify_any_index(spark, index_dir,
                               deep=(verify == "deep")).collect()
        fails = [f"{r['check']}: expected {r['expected']} got "
                 f"{r['actual']} ({r['detail']})"
                 for r in rep if r["status"] == "fail"]
        if fails:
            raise ValueError(
                f"refusing to publish {index_dir}: fsck found "
                f"{len(fails)} failed check(s) — " + "; ".join(fails))
    import uuid

    versions = _alias_versions(spark, alias_dir)
    n = (versions[-1] + 1) if versions else 1
    tmp = f"{alias_dir}/{_PUBLISH_TMP}{n}_{uuid.uuid4().hex}"
    (spark.createDataFrame([(index_dir,)], "target string")
     .coalesce(1).write.option("compression", INDEX_CODEC)
     .mode("overwrite").parquet(tmp))
    # tmp is a fully-committed pointer dir (_SUCCESS inside) BEFORE the
    # claim, so every v=N this protocol produces is complete. A v=N
    # WITHOUT _SUCCESS came from outside the protocol; refuse it rather
    # than delete it — any auto-reclaim is check-then-delete, and two
    # reclaimers can destroy each other's committed pointer.
    try:
        lc.claim_path(spark, tmp, f"{alias_dir}/v={n}")
    except Exception as e:
        lc.delete_path(spark, tmp)
        if "FileAlreadyExistsException" not in str(e):
            raise
        if lc.path_exists(spark, f"{alias_dir}/v={n}/_SUCCESS"):
            raise RuntimeError(
                f"publish race: {alias_dir}/v={n} was claimed by a "
                f"concurrent publisher — retry to publish as v={n + 1}"
            ) from e
        raise RuntimeError(
            f"{alias_dir}/v={n} exists without _SUCCESS — it was not "
            f"produced by publish_index (this protocol renames only "
            f"fully-committed pointer dirs into place); remove the "
            f"directory manually, then retry") from e
    for old in versions[:max(0, len(versions) - (keep - 1))]:
        lc.delete_path(spark, f"{alias_dir}/v={old}")
    # a publisher killed before its claim left its pointer behind; one
    # aimed at version <= n can no longer claim a version readers see
    fs, p, _ = lc._fs(spark, alias_dir)
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        aim = name[len(_PUBLISH_TMP):].split("_")[0]
        if name.startswith(_PUBLISH_TMP) and aim.isdigit() and int(aim) <= n:
            lc.delete_path(spark, f"{alias_dir}/{name}")
    return n


def resolve_index_alias(spark: SparkSession, alias_dir: str) -> str:
    """Target path of the newest complete alias version; raises if
    `alias_dir` holds no complete version."""
    versions = _alias_versions(spark, alias_dir)
    if not versions:
        raise ValueError(f"{alias_dir} has no published alias version")
    return str(spark.read.schema("target string")
               .parquet(f"{alias_dir}/v={versions[-1]}").first()["target"])


def _read_stats(spark: SparkSession, paths: IndexPaths):
    """The index's stats row; raises unless the index was written under
    this engine's layout version — readers and writers alike must not
    touch an index whose tables they cannot interpret."""
    stats = spark.read.schema(STATS_SCHEMA).parquet(paths.stats).first()
    if stats["prep_version"] != PREP_VERSION:
        raise ValueError(
            f"index at {paths.root} was built with prep "
            f"{stats['prep_version']!r}, engine expects {PREP_VERSION!r}: "
            f"rebuild it with build_index")
    return stats


def load_index(spark: SparkSession, out_dir: str) -> Index:
    paths = IndexPaths(out_dir)
    if not lc.path_exists(spark, paths.stats):
        # alias indirection: a directory holding v=N pointer versions
        # instead of index tables redirects to its newest target (ONE
        # level — an alias must name a real index, not another alias)
        versions = _alias_versions(spark, out_dir)
        if versions:
            target = resolve_index_alias(spark, out_dir)
            t = IndexPaths(target)
            if not lc.path_exists(spark, t.stats):
                raise ValueError(
                    f"alias {out_dir} points at {target}, which is not a "
                    f"built index (chained aliases are not followed)")
            paths = t
    lc.check_committed(spark, paths.root)
    stats = _read_stats(spark, paths)
    tombs = lc.read_tombstones(spark, paths.tombstones, TOMBSTONES_SCHEMA)
    return Index(
        paths=paths,
        tokens=lc.live_rows(spark.read.schema(TOKENS_SCHEMA)
                            .parquet(paths.tokens), tombs, "doc_id"),
        postings=lc.live_rows(spark.read.schema(POSTINGS_SCHEMA)
                              .parquet(paths.postings), tombs, "doc_id"),
        terms=spark.read.schema(TERMS_SCHEMA).parquet(paths.terms),
        n_docs=int(stats["n_docs"]),
        avgdl=float(stats["avgdl"]),
        config=stats["config"],
        n_buckets=int(stats["n_buckets"]),
        gen=int(stats["gen"]),
    )


def index_stats(index: Index) -> DataFrame:
    """One-row introspection frame for a loaded index — the `\\di+`-style
    health check an operator runs before pointing traffic at an index:
    corpus stats from the build manifest (free), live dictionary/postings
    counts (two count-only column-pruned scans), and the physical layout
    (bucket count, generation).

    Columns: n_docs, avgdl_e6, n_terms, n_postings, n_buckets, config,
    gen."""
    spark = index.postings.sparkSession
    n_terms = index.terms.count()
    n_postings = index.postings.count()
    return spark.createDataFrame(
        [(index.n_docs, int(round(index.avgdl * 1_000_000)), n_terms,
          n_postings, index.n_buckets, index.config, index.gen)],
        "n_docs long, avgdl_e6 long, n_terms long, n_postings long, "
        "n_buckets int, config string, gen long")
