"""Index integrity checker (fsck) for the persisted inverted index.

`verify_index` audits an on-disk index directory against the engine's
own invariants and returns a report DataFrame — the pre-flight an
operator runs before pointing query traffic at an index that was
copied, restored from backup, or survived a crashed writer. The
reference keeps its index consistent transactionally inside Postgres;
a file-based index has no transaction log, so the contract is
re-checkable invariants + this checker.

Invariants audited (each is a documented consequence of how the build
and the incremental writers behave — see plans/index_build.py and
streaming/incremental.py):

shallow (metadata reads + count-only column-pruned scans):
  - stats readable, prep_version matches the engine
  - tokens/postings/terms directories present
  - manifest internal consistency: per (stage, signature), the sum of
    per-file footer row counts equals the observed global row count
  - current physical file row counts vs the manifest: equal to a build
    signature's count at gen 0; >= it after appends (append-only tables)
  - stats.n_docs / stats.avgdl equal the live (tombstone-filtered)
    tokens table — `_reaggregate` republishes both on every mutation
  - terms dictionary bucket routing (bucket == xxhash64(term) mod NB)
  - no interrupted table swap (lifecycle commit record left behind)
  - tombstone generations stay below the published stats generation

deep (adds full scans / one groupBy over postings):
  - postings bucket routing (zero misrouted rows)
  - terms.df / terms.cf == live postings per-term count / sum(tf)
  - build-signature checksums recomputed from the current files vs the
    manifest's observed xor-of-xxhash64 (gen 0, single signature only —
    appends legitimately change the xor)

Everything driver-side is bounded (scalar aggregates, the small terms
table); no check collects data rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import lifecycle as lc
from .index_build import PREP_VERSION, IndexPaths, _footer_counts

REPORT_SCHEMA = ("check string, status string, expected string, "
                 "actual string, detail string")


def _footer_rows(spark: SparkSession, path: str) -> int | None:
    """Total row count from parquet footers (no Spark job); None when the
    directory is absent/unreadable."""
    try:
        return sum(_footer_counts(spark, path))
    except Exception:
        return None


def verify_index(spark: SparkSession, index_dir: str,
                 deep: bool = False) -> DataFrame:
    """Audit the index at `index_dir`; returns (check, status, expected,
    actual, detail) rows with status ok | fail | warn | skip. `deep=True`
    adds the full-scan reconciliations (bucket routing on postings,
    dictionary-vs-postings, build checksums)."""
    paths = IndexPaths(index_dir)
    rows, add = _new_report()
    if _interrupted_swap(spark, index_dir, add):
        return _report(spark, rows)

    # ---- stats + layout ----
    try:
        stats = spark.read.parquet(paths.stats).first()
    except Exception as exc:
        add("stats_readable", "fail", "readable stats/", type(exc).__name__,
            "cannot read stats; aborting remaining checks")
        return _report(spark, rows)
    add("stats_readable", "ok")
    if stats["prep_version"] != PREP_VERSION:
        add("prep_version", "fail", PREP_VERSION, stats["prep_version"],
            "index layout predates this engine build; rebuild it with "
            "build_index")
    else:
        add("prep_version", "ok", PREP_VERSION, stats["prep_version"])
    gen = int(stats["gen"])
    n_buckets = int(stats["n_buckets"])

    if not _layout_ok(spark, index_dir, ("tokens", "postings", "terms"), add):
        return _report(spark, rows)
    tombs = lc.read_tombstones(spark, paths.tombstones)

    # ---- manifest internal consistency + files vs manifest ----
    manifest = None
    try:
        manifest = spark.read.parquet(paths.manifest)
    except Exception:
        add("manifest_readable", "warn", "readable _manifest/", "absent",
            "no lineage to audit; file-count checks skipped")
    stage_globals: dict[str, list[int]] = {}
    if manifest is not None:
        agg = (manifest.groupBy("stage", "sig_n", "sig_h")
               .agg(F.sum(F.when(F.col("partition_id") >= 0,
                                 F.col("row_count"))).alias("file_sum"),
                    F.max(F.when(F.col("partition_id") == -1,
                                 F.col("row_count"))).alias("global_n"))
               .collect())
        bad = []
        for r in agg:
            stage_globals.setdefault(r["stage"], [])
            if r["global_n"] is not None:
                stage_globals[r["stage"]].append(int(r["global_n"]))
            if r["file_sum"] is not None and r["global_n"] is not None \
                    and int(r["file_sum"]) != int(r["global_n"]):
                bad.append(f"{r['stage']}@sig({r['sig_n']},{r['sig_h']}): "
                           f"files={r['file_sum']} observed={r['global_n']}")
        add("manifest_internal", "fail" if bad else "ok",
            "sum(file rows) == observed count per stage+signature",
            "; ".join(bad) if bad else "consistent",
            "per-file footer counts vs the write-pass Observation")

        # a compaction shrinks tokens/postings to the row counts its
        # manifest rows record (partition 0 = tokens, 1 = postings)
        for r in (manifest.where(F.col("stage") == "compact")
                  .groupBy("partition_id")
                  .agg(F.min("row_count").alias("n")).collect()):
            stage_globals.setdefault(
                ("tokens", "postings")[int(r["partition_id"])], []
            ).append(int(r["n"]))

        for name in ("tokens", "postings", "terms"):
            expect = stage_globals.get(name, [])
            if not expect:
                continue
            if name == "terms" and gen > 0:
                add("files_vs_manifest_terms", "skip", expect, "",
                    "every mutation rewrites terms from the live rows; "
                    "terms_vs_postings_* reconcile it instead")
                continue
            cur = _footer_rows(spark, getattr(paths, name))
            if cur is None:
                add(f"files_vs_manifest_{name}", "warn", expect, "unreadable",
                    "could not read parquet footers")
            elif gen == 0 and cur in expect:
                add(f"files_vs_manifest_{name}", "ok", expect, cur)
            elif gen > 0 and any(cur >= e for e in expect):
                add(f"files_vs_manifest_{name}", "ok", f">= one of {expect}",
                    cur, f"append-only table at gen {gen}")
            else:
                add(f"files_vs_manifest_{name}", "fail", expect, cur,
                    "physical rows lost since the manifest was written "
                    "(truncated/partial copy?)")

    # ---- live row tables (tombstone-filtered, as load_index sees them) ----
    tokens = lc.live_rows(spark.read.parquet(paths.tokens), tombs, "doc_id")
    postings = lc.live_rows(spark.read.parquet(paths.postings), tombs,
                            "doc_id")
    if tombs is not None:
        # every mutation publishes a new generation and stamps its
        # tombstones one below it, so a published tombstone is < stats.gen
        _check_tombstone_gen(add, tombs, gen - 1, "stats.gen-1")

    live = tokens.agg(F.count("*").alias("n"),
                      F.avg("dl").alias("a")).first()
    n_live, avgdl_live = int(live["n"]), float(live["a"] or 0.0)
    if n_live != int(stats["n_docs"]):
        add("stats_n_docs", "fail", stats["n_docs"], n_live,
            "stats.n_docs != live tokens count — idf/BM25 norms are wrong")
    else:
        add("stats_n_docs", "ok", stats["n_docs"], n_live)
    if abs(avgdl_live - float(stats["avgdl"])) > 1e-6 * max(1.0, avgdl_live):
        add("stats_avgdl", "fail", stats["avgdl"], avgdl_live,
            "stats.avgdl drifted from the live tokens table")
    else:
        add("stats_avgdl", "ok", stats["avgdl"], avgdl_live)

    # ---- bucket routing: terms is dictionary-scale, always checked ----
    def misrouted(df):
        return (df.where(F.pmod(F.xxhash64("term"), F.lit(n_buckets))
                         .cast("int") != F.col("bucket")).count())

    terms = spark.read.parquet(paths.terms)
    bad_terms = misrouted(terms)
    add("bucket_routing_terms", "fail" if bad_terms else "ok",
        0, bad_terms,
        "bucket != xxhash64(term) % n_buckets breaks directory pruning")

    if not deep:
        return _report(spark, rows)

    # ---- deep: bucket routing on postings ----
    bad_post = misrouted(postings)
    add("bucket_routing_postings", "fail" if bad_post else "ok", 0, bad_post)

    # ---- deep: dictionary vs live postings (one groupBy + join) ----
    per_term = (postings.groupBy("term")
                .agg(F.count("*").alias("df_live"),
                     F.sum("tf").alias("cf_live")))
    dict_bad = (terms.join(per_term, on="term", how="full")
                .where(F.coalesce("df", F.lit(-1))
                       != F.coalesce("df_live", F.lit(-1)))
                .count())
    cf_bad = (terms.join(per_term, on="term")
              .where(F.col("cf") != F.col("cf_live")).count())
    add("terms_vs_postings_df", "fail" if dict_bad else "ok", 0, dict_bad,
        "terms with df != live postings count (or present on one side only)")
    add("terms_vs_postings_cf", "fail" if cf_bad else "ok", 0, cf_bad)

    # ---- deep: recompute build-signature checksums ----
    sigs = (manifest.select("sig_n", "sig_h").distinct().count()
            if manifest is not None else 0)
    if manifest is None or gen != 0 or tombs is not None or sigs != 1:
        add("build_checksums", "skip", "", "",
            "only meaningful at gen 0 with a single build signature "
            "(appends/tombstones legitimately change the xor)")
    else:
        spec = {
            "tokens": F.xxhash64("doc_id"),
            "postings": F.xxhash64(F.concat_ws("|", "term", "doc_id")),
            "terms": F.xxhash64("term"),
        }
        recorded = {r["stage"]: int(r["checksum"]) for r in
                    manifest.where((F.col("partition_id") == -1)
                                   & F.col("checksum").isNotNull())
                    .select("stage", "checksum").collect()}
        for name, col in spec.items():
            if name not in recorded:
                add(f"build_checksum_{name}", "skip", "", "",
                    "no observed checksum row in the manifest")
                continue
            got = (spark.read.parquet(getattr(paths, name))
                   .agg(F.coalesce(F.bit_xor(col), F.lit(0)).alias("h"))
                   .first()["h"])
            ok = int(got) == recorded[name]
            add(f"build_checksum_{name}", "ok" if ok else "fail",
                recorded[name], got,
                "" if ok else "file contents differ from what the build "
                "wrote (bitrot / partial restore)")

    return _report(spark, rows)


# ---------------------------------------------------------------------------
# Family checkers: publish_index flips EVERY persisted family (main,
# fielded, trigram, LSH/IVF/IVF-PQ vector), so each family needs the same
# pre-flight audit before an alias flip or after a restore. Shallow =
# metadata + dictionary-scale scans; deep = full-scan reconciliations.
# All operator imports are lazy: fsck loads with plans/__init__ and must
# not drag the operators package (which imports back into plans) in at
# module-import time.
# ---------------------------------------------------------------------------


def _misrouted(df: DataFrame, col: str, n_buckets: int,
               bucket_col: str = "bucket") -> int:
    return (df.where(F.pmod(F.xxhash64(col), F.lit(n_buckets))
                     .cast("int") != F.col(bucket_col)).count())


def _report(spark: SparkSession, rows: list) -> DataFrame:
    return spark.createDataFrame(rows, REPORT_SCHEMA)


def _new_report() -> tuple:
    """(rows, add) pair every family checker accumulates its report in —
    one definition so the four reports' row shape cannot drift apart."""
    rows: list[tuple] = []

    def add(check, status, expected="", actual="", detail=""):
        rows.append((check, status, str(expected), str(actual), detail))

    return rows, add


def _interrupted_swap(spark: SparkSession, index_dir: str, add) -> bool:
    """Shared first check of every family: a publish that began and did
    not finish (lifecycle commit record present) leaves live tables half
    swapped, so the remaining checks would read a mix. True = abort."""
    if lc.interrupted(spark, index_dir):
        add("interrupted_swap", "fail", "no lifecycle commit record",
            f"{lc.STAGED}/{lc.COMMIT} present",
            "a writer died mid-publish; lifecycle.recover (which the "
            "next write runs first) rolls the publish forward")
        return True
    add("interrupted_swap", "ok")
    return False


def _layout_ok(spark: SparkSession, index_dir: str, names, add) -> bool:
    """One `layout_<name>` row per table directory; True iff all exist."""
    here = [lc.path_exists(spark, f"{index_dir}/{n}") for n in names]
    for name, ok in zip(names, here):
        add(f"layout_{name}", "ok" if ok else "fail", "directory present",
            ok)
    return all(here)


def _check_tombstone_gen(add, tombs, bound: int, bound_label: str) -> None:
    """Shared invariant across every generation-stamped family: no
    tombstone may postdate the published generation bound."""
    tgen = tombs.agg(F.max("gen").alias("m")).first()["m"]
    if tgen is not None and int(tgen) > bound:
        add("tombstone_gen", "fail", f"<= {bound_label}={bound}", tgen,
            "a tombstone postdates the published generation — a writer "
            "died between its tombstone write and its generation publish")
    else:
        add("tombstone_gen", "ok", f"<= {bound_label}={bound}", tgen)


def verify_fielded_index(spark: SparkSession, index_dir: str,
                         deep: bool = False) -> DataFrame:
    """Audit a fielded (BM25F) index — plans/fielded.py layout. Invariants
    are the documented consequences of `_recompute_meta` (df and the exact
    integer sumdls are republished from live rows on every mutation) and
    the delete-then-re-add replace contract (at most one live generation
    per doc). Same report shape as `verify_index`."""
    rows, add = _new_report()
    if _interrupted_swap(spark, index_dir, add):
        return _report(spark, rows)

    try:
        st = spark.read.parquet(f"{index_dir}/stats").first()
    except Exception as exc:
        add("stats_readable", "fail", "readable stats/",
            type(exc).__name__, "cannot read stats; aborting")
        return _report(spark, rows)
    add("stats_readable", "ok")
    fields = list(st["fields"])
    sumdls = [int(x) for x in st["sumdls"]]
    n_buckets, gen = int(st["n_buckets"]), int(st["gen"])
    if not fields or len(sumdls) != len(fields):
        add("stats_fields", "fail", "len(sumdls) == len(fields) >= 1",
            f"fields={fields} sumdls={sumdls}")
        return _report(spark, rows)
    add("stats_fields", "ok", len(fields), len(sumdls))

    if not _layout_ok(spark, index_dir, ("postings", "terms"), add):
        return _report(spark, rows)

    tombs = lc.read_tombstones(spark, f"{index_dir}/_tombstones")
    if tombs is not None:
        _check_tombstone_gen(add, tombs, gen, "stats.gen")

    terms = spark.read.parquet(f"{index_dir}/terms")
    bad_terms = _misrouted(terms, "term", n_buckets)
    add("bucket_routing_terms", "fail" if bad_terms else "ok", 0, bad_terms,
        "bucket != xxhash64(term) % n_buckets breaks directory pruning")

    if not deep:
        return _report(spark, rows)

    post = spark.read.parquet(f"{index_dir}/postings")
    bad_post = _misrouted(post, "term", n_buckets)
    add("bucket_routing_postings", "fail" if bad_post else "ok", 0, bad_post)

    live = lc.live_rows(post, tombs, "doc_id")
    multi_gen = (live.groupBy("doc_id")
                 .agg(F.count_distinct("gen").alias("g"))
                 .where(F.col("g") > 1).count())
    add("one_live_gen_per_doc", "fail" if multi_gen else "ok", 0, multi_gen,
        "docs with several live generations — a re-add without the "
        "delete half of the replace contract")

    per_term = (live.groupBy("term")
                .agg(F.count_distinct("doc_id").alias("df_live")))
    df_bad = (terms.join(per_term, on="term", how="full")
              .where(F.coalesce("df", F.lit(-1))
                     != F.coalesce("df_live", F.lit(-1))).count())
    add("terms_vs_postings_df", "fail" if df_bad else "ok", 0, df_bad,
        "terms whose df != live distinct-doc count (or one side only)")

    per_doc = (live.groupBy("doc_id")
               .agg(F.first("dls").alias("dls"),
                    F.count_distinct("dls").alias("ndls")))
    dls_bad = per_doc.where(F.col("ndls") > 1).count()
    add("dls_consistent", "fail" if dls_bad else "ok", 0, dls_bad,
        "docs whose rows disagree on the per-field length vector")
    agg = per_doc.agg(
        F.count("*").alias("n"),
        *[F.sum(F.col("dls")[i]).alias(f"s{i}")
          for i in range(len(fields))]).first()
    n_live = int(agg["n"])
    sums_live = [int(agg[f"s{i}"] or 0) for i in range(len(fields))]
    add("stats_n_docs", "fail" if n_live != int(st["n_docs"]) else "ok",
        st["n_docs"], n_live,
        "" if n_live == int(st["n_docs"]) else
        "stats.n_docs != live distinct docs — BM25F norms are wrong")
    add("stats_sumdls", "fail" if sums_live != sumdls else "ok",
        sumdls, sums_live,
        "" if sums_live == sumdls else
        "exact per-field length sums drifted — avg wdl reconstruction "
        "is no longer bit-identical")
    return _report(spark, rows)


def verify_trigram_index(spark: SparkSession, index_dir: str,
                         deep: bool = False) -> DataFrame:
    """Audit a trigram index — operators/trigram.py layout: distinct
    (tg, doc_id, gen) postings routed by xxhash64(tg), docstats carrying
    each live doc's |T(doc)|, generation-stamped tombstones."""
    rows, add = _new_report()
    if _interrupted_swap(spark, index_dir, add):
        return _report(spark, rows)

    try:
        meta = spark.read.parquet(f"{index_dir}/meta").first()
    except Exception as exc:
        add("meta_readable", "fail", "readable meta/", type(exc).__name__,
            "cannot read meta; aborting")
        return _report(spark, rows)
    add("meta_readable", "ok")
    n_buckets = int(meta["n_buckets"])
    max_gen = int(meta["max_gen"]) if "max_gen" in meta else 0

    if not _layout_ok(spark, index_dir, ("postings", "docstats"), add):
        return _report(spark, rows)

    tombs = lc.read_tombstones(spark, f"{index_dir}/tombstones")
    if tombs is not None:
        _check_tombstone_gen(add, tombs, max_gen, "meta.max_gen")

    if not deep:
        return _report(spark, rows)

    post = spark.read.parquet(f"{index_dir}/postings")
    bad_post = _misrouted(post, "tg", n_buckets)
    add("bucket_routing_postings", "fail" if bad_post else "ok", 0, bad_post,
        "bucket != xxhash64(tg) % n_buckets — the driver-side pure-Python "
        "bucket replica would prune these rows away")
    over_gen = post.where(F.col("gen") > max_gen).count()
    add("gen_vs_meta", "fail" if over_gen else "ok", 0, over_gen,
        "postings rows from a generation newer than meta.max_gen — a "
        "writer died between the append and the meta publish")
    dup = int(post.count()
              - post.select("tg", "doc_id", "gen").distinct().count())
    add("postings_distinct", "fail" if dup else "ok", 0, dup,
        "duplicate (tg, doc_id, gen) rows inflate AND-count candidates")

    live_post = lc.live_rows(post, tombs, "doc_id")
    live_stats = lc.live_rows(spark.read.parquet(f"{index_dir}/docstats"),
                              tombs, "doc_id")
    per_doc = (live_post.groupBy("doc_id")
               .agg(F.count_distinct("tg").alias("tg_live")))
    mism = (per_doc.join(live_stats.select("doc_id", "n_trigrams"),
                         on="doc_id", how="full")
            .where(F.coalesce("tg_live", F.lit(-1))
                   != F.coalesce("n_trigrams", F.lit(-1))).count())
    add("docstats_vs_postings", "fail" if mism else "ok", 0, mism,
        "live docs whose |T(doc)| disagrees between docstats and postings "
        "— similarity() denominators are wrong for these docs")
    return _report(spark, rows)


def verify_vector_index(spark: SparkSession, index_dir: str,
                        deep: bool = False) -> DataFrame:
    """Audit a persisted vector index — LSH (meta/), IVF (centroids/), or
    IVF-PQ (centroids/ + pq/), detected from the layout. The deep pass
    re-derives every row's partition from the STORED quantizer (planes /
    centroids) and counts disagreements: a misassigned row is silently
    unreachable at query time (the probe set never reads its directory),
    which no query-path test can catch."""
    rows, add = _new_report()
    if _interrupted_swap(spark, index_dir, add):
        return _report(spark, rows)

    has_meta = lc.path_exists(spark, f"{index_dir}/meta")
    has_cent = lc.path_exists(spark, f"{index_dir}/centroids")
    has_pq = lc.path_exists(spark, f"{index_dir}/pq")
    family = ("lsh" if has_meta else
              "ivfpq" if has_cent and has_pq else
              "ivf" if has_cent else None)
    if family is None:
        add("family", "fail", "meta/ or centroids/ present", "neither",
            "not a vector index directory")
        return _report(spark, rows)
    add("family", "ok", "", family)
    if not _layout_ok(spark, index_dir, ("vectors",), add):
        return _report(spark, rows)

    if family == "lsh":
        meta = spark.read.parquet(f"{index_dir}/meta").first()
        dim = int(meta["dim"])
        part_col = "bucket"
    else:
        from ..operators.similarity import _stack_centroids
        crows = spark.read.parquet(f"{index_dir}/centroids").collect()
        cent = _stack_centroids(crows)
        dim = cent.shape[1]
        part_col = "list_id"
        ids_ok = (sorted(int(r["list_id"]) for r in crows)
                  == list(range(len(crows))))
        add("centroid_ids_dense", "ok" if ids_ok else "fail",
            f"0..{len(crows) - 1}", "dense" if ids_ok else "gapped",
            "" if ids_ok else "loaders vstack by sorted list_id; a gap "
            "shifts every later list's centroid")

    max_gen = 0
    if lc.path_exists(spark, f"{index_dir}/genmeta"):
        max_gen = int(spark.read.parquet(f"{index_dir}/genmeta")
                      .first()["max_gen"])
    tombs = lc.read_tombstones(spark, f"{index_dir}/tombstones")
    if tombs is not None:
        _check_tombstone_gen(add, tombs, max_gen, "genmeta.max_gen")

    if not deep:
        return _report(spark, rows)

    vectors = spark.read.parquet(f"{index_dir}/vectors")
    bad_dim = vectors.where(F.size("embedding") != dim).count()
    add("embedding_dim", "fail" if bad_dim else "ok", 0, bad_dim,
        f"rows whose embedding length != {dim}")
    # the assignment re-derivation below feeds embeddings to the stored
    # quantizer's vstack/matmul kernel, which raises on a ragged batch —
    # run it over well-formed rows only (the ragged ones are already the
    # embedding_dim fail count; one corrupt row must not abort the audit)
    wellformed = (vectors if not bad_dim
                  else vectors.where(F.size("embedding") == dim))
    live = lc.live_rows(vectors, tombs, "vec_id")
    dup = (live.groupBy("vec_id").count()
           .where(F.col("count") > 1).count())
    add("unique_live_ids", "fail" if dup else "ok", 0, dup,
        "vec_ids with several live rows — re-add without delete")

    if family == "lsh":
        from ..operators.similarity import (lsh_bucket_arrow,
                                            random_hyperplanes)
        planes = random_hyperplanes(dim, int(meta["n_planes"]),
                                    int(meta["seed"]))
        recomputed = lsh_bucket_arrow(planes)(F.col("embedding"))
    else:
        from ..operators.similarity import ivf_assign_arrow
        recomputed = ivf_assign_arrow(cent)(F.col("embedding"))
    bad_assign = wellformed.where(F.col(part_col) != recomputed).count()
    add("partition_assignment", "fail" if bad_assign else "ok",
        0, bad_assign,
        f"rows whose stored {part_col} disagrees with the stored "
        "quantizer — unreachable by any probe set smaller than the "
        "whole index")

    if family == "ivfpq":
        # family detection only needs centroids/ + pq/, so a partial
        # restore can present an ivfpq index with codes/ missing — that
        # is a fail row for the report, not a raw AnalysisException that
        # aborts the audit (and the publish_index(verify=True) pre-flight)
        if not lc.path_exists(spark, f"{index_dir}/codes"):
            add("layout_codes", "fail", "directory present", False,
                "ivfpq index without its codes/ table — ADC shortlist "
                "has nothing to scan")
            return _report(spark, rows)
        codes = spark.read.parquet(f"{index_dir}/codes")
        live_codes = lc.live_rows(codes, tombs, "vec_id")
        bad_ids = (live.select("vec_id")
                   .exceptAll(live_codes.select("vec_id")).count()
                   + live_codes.select("vec_id")
                   .exceptAll(live.select("vec_id")).count())
        add("codes_vs_vectors_ids", "fail" if bad_ids else "ok", 0, bad_ids,
            "live id sets of codes/ and vectors/ diverge — ADC shortlist "
            "and re-rank see different candidate sets")
        m_val = (spark.read.parquet(f"{index_dir}/pq")
                 .agg(F.max("subspace").alias("m")).first()["m"])
        if m_val is not None:
            m = int(m_val) + 1
            bad_len = codes.where(F.length("code") != m).count()
            add("code_length", "fail" if bad_len else "ok", 0, bad_len,
                f"codes whose byte length != m={m} (one uint8 per subspace)")
    return _report(spark, rows)


def detect_index_family(spark: SparkSession, index_dir: str) -> str:
    """'main' | 'fielded' | 'trigram' | 'vector', from the layout:
    main and fielded both carry stats/ (distinguished by which schema the
    one-row table has); trigram and LSH carry meta/ (distinguished by
    fields); IVF / IVF-PQ carry centroids/. Raises on none of the above."""
    if lc.path_exists(spark, f"{index_dir}/stats"):
        st = spark.read.parquet(f"{index_dir}/stats").first()
        if "prep_version" in st.__fields__:
            return "main"
        if "fields" in st.__fields__:
            return "fielded"
        raise ValueError(f"{index_dir}/stats has neither a main nor a "
                         f"fielded schema: {st.__fields__}")
    if lc.path_exists(spark, f"{index_dir}/meta"):
        meta = spark.read.parquet(f"{index_dir}/meta").first()
        if "n_planes" in meta.__fields__:
            return "vector"
        # key off n_buckets, not max_gen: legacy trigram metas predate
        # max_gen (load_trigram_index and verify_trigram_index both
        # default it to 0), and the verify pre-flight matters most on
        # exactly those old indexes (n_planes was checked first, so an
        # LSH meta carrying n_buckets cannot reach this branch)
        if "n_buckets" in meta.__fields__:
            return "trigram"
        raise ValueError(f"{index_dir}/meta has neither a trigram nor an "
                         f"LSH schema: {meta.__fields__}")
    if lc.path_exists(spark, f"{index_dir}/centroids"):
        return "vector"
    raise ValueError(f"{index_dir} is not a persisted index of any family "
                     "(no stats/, meta/, or centroids/)")


def verify_any_index(spark: SparkSession, index_dir: str,
                     deep: bool = False) -> DataFrame:
    """Family-dispatching audit: detect what lives at `index_dir` and run
    the matching verifier. The one-call pre-flight `publish_index(...,
    verify=True)` uses before flipping an alias. An interrupted table
    swap is reported before detection, which it can defeat (the table
    the detection reads may be the one renamed aside)."""
    rows, add = _new_report()
    if _interrupted_swap(spark, index_dir, add):
        return _report(spark, rows)
    family = detect_index_family(spark, index_dir)
    fn = {"main": verify_index, "fielded": verify_fielded_index,
          "trigram": verify_trigram_index, "vector": verify_vector_index}
    return fn[family](spark, index_dir, deep=deep)
