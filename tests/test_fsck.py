"""verify_index (fsck): healthy index passes, mutations downgrade the
right checks, and physical corruption is detected."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from pg_ts_semantic_headline_spark.plans.fsck import verify_index
from pg_ts_semantic_headline_spark.plans.index_build import build_index
from pg_ts_semantic_headline_spark.streaming import delete_docs, merge_batch

CONFIG = "simple"
BASE = [(i, f"alpha beta gamma doc{i} common words here") for i in range(20)]


def _report(spark, out, deep=False):
    return {r["check"]: r for r in
            verify_index(spark, out, deep=deep).collect()}


@pytest.fixture()
def index_dir(spark, tmp_path):
    out = str(tmp_path / "idx")
    df = spark.createDataFrame(BASE, ["doc_id", "content"])
    build_index(spark, df, out, config=CONFIG, n_buckets=4)
    return out


def test_healthy_index_all_ok(spark, index_dir):
    rep = _report(spark, index_dir, deep=True)
    bad = {k: (v["status"], v["expected"], v["actual"], v["detail"])
           for k, v in rep.items() if v["status"] == "fail"}
    assert not bad, bad
    # the deep reconciliations actually ran on a fresh build
    for check in ("terms_vs_postings_df", "build_checksum_postings",
                  "stats_n_docs"):
        assert rep[check]["status"] == "ok", rep[check]


def test_merge_stays_consistent(spark, index_dir):
    batch = spark.createDataFrame(
        [(100, "fresh needle document beta")], ["doc_id", "content"])
    merge_batch(spark, index_dir, batch, config=CONFIG)
    rep = _report(spark, index_dir, deep=True)
    assert not [k for k, v in rep.items() if v["status"] == "fail"]
    assert rep["build_checksums"]["status"] == "skip"       # gen > 0
    # the live-stats and dictionary invariants hold across the merge
    for check in ("stats_n_docs", "stats_avgdl", "terms_vs_postings_df",
                  "terms_vs_postings_cf", "files_vs_manifest_postings"):
        assert rep[check]["status"] == "ok", rep[check]


def test_tombstoned_delete_keeps_invariants(spark, index_dir):
    delete_docs(spark, index_dir, [3, 4])
    rep = _report(spark, index_dir, deep=True)
    assert rep["tombstone_gen"]["status"] == "ok"
    assert rep["stats_n_docs"]["status"] == "ok"
    assert rep["terms_vs_postings_df"]["status"] == "ok"
    # a tombstone at stats.gen was written by a writer that never
    # published that generation (every published one is stamped below it)
    spark.createDataFrame([(5, 1)], "doc_id long, gen long") \
        .write.mode("append").parquet(f"{index_dir}/_tombstones")
    rep = _report(spark, index_dir)
    assert rep["tombstone_gen"]["status"] == "fail"
    assert rep["tombstone_gen"]["actual"] == "1"


def test_corrupt_stats_detected(spark, index_dir):
    stats = spark.read.parquet(f"{index_dir}/stats").collect()
    row = stats[0].asDict()
    row["n_docs"] = 999
    spark.createDataFrame([tuple(row.values())],
                          list(row.keys())).write.mode("overwrite") \
        .parquet(f"{index_dir}/stats")
    rep = _report(spark, index_dir)
    assert rep["stats_n_docs"]["status"] == "fail"


def test_lost_file_detected(spark, index_dir):
    victim = sorted(glob.glob(f"{index_dir}/postings/*/*.parquet"))[0]
    os.remove(victim)
    rep = _report(spark, index_dir)
    assert rep["files_vs_manifest_postings"]["status"] == "fail"


def test_bitflip_detected_by_deep_checksum(spark, index_dir):
    # rewrite one postings partition with an altered tf: footer row
    # counts survive, only the deep checksum pass can notice
    post = spark.read.parquet(f"{index_dir}/postings")
    tampered = post.withColumn(
        "doc_id", F.when(F.col("doc_id") == 0, F.lit(7777))
                   .otherwise(F.col("doc_id")))
    tampered.write.mode("overwrite").partitionBy("bucket") \
        .parquet(f"{index_dir}/postings_tmp")
    import shutil
    shutil.rmtree(f"{index_dir}/postings")
    os.rename(f"{index_dir}/postings_tmp", f"{index_dir}/postings")
    rep = _report(spark, index_dir, deep=True)
    assert rep["build_checksum_postings"]["status"] == "fail"


# ------------------------------------------------------------ family fsck

def _fam_report(df):
    return {r["check"]: r for r in df.collect()}


def _no_fails(rep):
    bad = {k: (v["status"], v["expected"], v["actual"], v["detail"])
           for k, v in rep.items() if v["status"] == "fail"}
    assert not bad, bad


class TestVerifyFieldedIndex:
    ROWS = [(i, f"title{i} alpha", f"body common beta doc{i} words")
            for i in range(12)]

    @pytest.fixture()
    def fdir(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            build_fielded_index)
        out = str(tmp_path / "fidx")
        df = spark.createDataFrame(self.ROWS, ["doc_id", "title", "body"])
        build_fielded_index(spark, df, out, field_cols=["title", "body"],
                            config=CONFIG, n_buckets=4)
        return out

    def test_healthy_all_ok(self, spark, fdir):
        from pg_ts_semantic_headline_spark.plans.fsck import (
            verify_fielded_index)
        rep = _fam_report(verify_fielded_index(spark, fdir, deep=True))
        _no_fails(rep)
        for check in ("terms_vs_postings_df", "stats_n_docs",
                      "stats_sumdls", "bucket_routing_postings"):
            assert rep[check]["status"] == "ok", rep[check]

    def test_delete_keeps_invariants(self, spark, fdir):
        from pg_ts_semantic_headline_spark.plans.fielded import (
            delete_documents, load_fielded_index)
        from pg_ts_semantic_headline_spark.plans.fsck import (
            verify_fielded_index)
        delete_documents(load_fielded_index(spark, fdir), [2, 5])
        rep = _fam_report(verify_fielded_index(spark, fdir, deep=True))
        _no_fails(rep)
        assert rep["tombstone_gen"]["status"] == "ok"

    def test_tampered_stats_detected(self, spark, fdir):
        from pg_ts_semantic_headline_spark.plans.fsck import (
            verify_fielded_index)
        st = spark.read.parquet(f"{fdir}/stats").collect()[0].asDict()
        st["n_docs"] = st["n_docs"] + 3
        st["sumdls"] = [int(x) + 1 for x in st["sumdls"]]
        spark.createDataFrame(
            [tuple(st.values())],
            "n_docs long, sumdls array<long>, fields array<string>, "
            "config string, n_buckets int, gen long"
        ).write.mode("overwrite").parquet(f"{fdir}/stats")
        rep = _fam_report(verify_fielded_index(spark, fdir, deep=True))
        assert rep["stats_n_docs"]["status"] == "fail"
        assert rep["stats_sumdls"]["status"] == "fail"


class TestVerifyTrigramIndex:
    ROWS = [(i, f"needle{i} haystack common words") for i in range(10)]

    @pytest.fixture()
    def tdir(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.operators.trigram import (
            build_trigram_index)
        out = str(tmp_path / "tgidx")
        df = spark.createDataFrame(self.ROWS, ["doc_id", "text"])
        build_trigram_index(df, out, n_buckets=4)
        return out

    def test_healthy_all_ok(self, spark, tdir):
        from pg_ts_semantic_headline_spark.plans.fsck import (
            verify_trigram_index)
        rep = _fam_report(verify_trigram_index(spark, tdir, deep=True))
        _no_fails(rep)
        for check in ("bucket_routing_postings", "postings_distinct",
                      "docstats_vs_postings"):
            assert rep[check]["status"] == "ok", rep[check]

    def test_delete_keeps_invariants(self, spark, tdir):
        from pg_ts_semantic_headline_spark.operators.trigram import (
            delete_documents, load_trigram_index)
        from pg_ts_semantic_headline_spark.plans.fsck import (
            verify_trigram_index)
        delete_documents(load_trigram_index(spark, tdir), [1, 4])
        rep = _fam_report(verify_trigram_index(spark, tdir, deep=True))
        _no_fails(rep)
        assert rep["tombstone_gen"]["status"] == "ok"
        # a tombstone above meta.max_gen (a writer that died before its
        # generation publish) is the tombstone_gen fail
        spark.createDataFrame([(2, 1)], "doc_id long, gen long") \
            .write.mode("append").parquet(f"{tdir}/tombstones")
        rep = _fam_report(verify_trigram_index(spark, tdir))
        assert rep["tombstone_gen"]["status"] == "fail"
        assert rep["tombstone_gen"]["actual"] == "1"

    def test_tampered_docstats_detected(self, spark, tdir):
        from pg_ts_semantic_headline_spark.plans.fsck import (
            verify_trigram_index)
        ds = spark.read.parquet(f"{tdir}/docstats")
        (ds.withColumn("n_trigrams",
                       F.when(F.col("doc_id") == 0,
                              F.col("n_trigrams") + 7)
                       .otherwise(F.col("n_trigrams")))
         .write.mode("overwrite").parquet(f"{tdir}/docstats_tmp"))
        import shutil
        shutil.rmtree(f"{tdir}/docstats")
        shutil.move(f"{tdir}/docstats_tmp", f"{tdir}/docstats")
        rep = _fam_report(verify_trigram_index(spark, tdir, deep=True))
        assert rep["docstats_vs_postings"]["status"] == "fail"
        assert rep["docstats_vs_postings"]["actual"] == "1"


class TestVerifyVectorIndex:
    @staticmethod
    def _vecs(spark, n=40, dim=8):
        import random
        rng = random.Random(7)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
                for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_lsh_healthy_and_misassignment_detected(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.operators.similarity import (
            build_ann_index)
        from pg_ts_semantic_headline_spark.plans.fsck import (
            verify_vector_index)
        out = str(tmp_path / "ann")
        build_ann_index(self._vecs(spark), out, n_planes=4)
        rep = _fam_report(verify_vector_index(spark, out, deep=True))
        _no_fails(rep)
        assert rep["family"]["actual"] == "lsh"
        assert rep["partition_assignment"]["status"] == "ok"

        # plant one row in the wrong bucket directory
        v = spark.read.parquet(f"{out}/vectors")
        row = v.limit(1).collect()[0]
        wrong = (int(row["bucket"]) + 1) % 16
        spark.createDataFrame(
            [(999_999, row["embedding"], 0, wrong)],
            "vec_id long, embedding array<double>, gen long, bucket int"
        ).write.mode("append").partitionBy("bucket") \
            .parquet(f"{out}/vectors")
        rep = _fam_report(verify_vector_index(spark, out, deep=True))
        assert rep["partition_assignment"]["status"] == "fail"

    def test_ivf_healthy_and_delete(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.operators.similarity import (
            build_ivf_index, delete_vectors, load_ivf_index)
        from pg_ts_semantic_headline_spark.plans.fsck import (
            verify_vector_index)
        out = str(tmp_path / "ivf")
        build_ivf_index(self._vecs(spark), out, n_lists=4)
        rep = _fam_report(verify_vector_index(spark, out, deep=True))
        _no_fails(rep)
        assert rep["family"]["actual"] == "ivf"
        delete_vectors(load_ivf_index(spark, out), [3, 9])
        rep = _fam_report(verify_vector_index(spark, out, deep=True))
        _no_fails(rep)

    def test_ivfpq_code_and_id_parity(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.operators.similarity import (
            build_ivfpq_index)
        from pg_ts_semantic_headline_spark.plans.fsck import (
            verify_vector_index)
        out = str(tmp_path / "ivfpq")
        build_ivfpq_index(self._vecs(spark), out, n_lists=4, m=4)
        rep = _fam_report(verify_vector_index(spark, out, deep=True))
        _no_fails(rep)
        assert rep["family"]["actual"] == "ivfpq"
        for check in ("codes_vs_vectors_ids", "code_length",
                      "partition_assignment"):
            assert rep[check]["status"] == "ok", rep[check]
