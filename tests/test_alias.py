"""Index aliasing: the zero-downtime (blue-green) reindex flip."""

import pytest

from pg_ts_semantic_headline_spark.plans.index_build import (
    _alias_versions, build_index, load_index, publish_index,
    resolve_index_alias)
from pg_ts_semantic_headline_spark.plans.search import bm25_topk

CONFIG = "simple"


@pytest.fixture(scope="module")
def two_indexes(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("alias")
    blue, green = str(root / "blue"), str(root / "green")
    build_index(spark, spark.createDataFrame(
        [(1, "blue corpus alpha"), (2, "blue corpus beta")],
        ["doc_id", "content"]), blue, config=CONFIG, n_buckets=4)
    build_index(spark, spark.createDataFrame(
        [(10, "green corpus alpha"), (11, "green corpus gamma")],
        ["doc_id", "content"]), green, config=CONFIG, n_buckets=4)
    return str(root), blue, green


def _hit_ids(index, term):
    return {r["doc_id"] for r in bm25_topk(index, [term], k=10).collect()}


class TestIndexAlias:
    def test_publish_resolve_load(self, spark, two_indexes):
        root, blue, green = two_indexes
        alias = f"{root}/serving"
        assert publish_index(spark, blue, alias) == 1
        assert resolve_index_alias(spark, alias) == blue
        assert _hit_ids(load_index(spark, alias), "blue") == {1, 2}

        # the flip: readers loading the alias now get green
        assert publish_index(spark, green, alias) == 2
        idx = load_index(spark, alias)
        assert _hit_ids(idx, "green") == {10, 11}
        assert _hit_ids(idx, "blue") == set()
        # previous version retained for in-flight readers (keep=2)
        assert _alias_versions(spark, alias) == [1, 2]

        # a third publish prunes v=1
        assert publish_index(spark, blue, alias) == 3
        assert _alias_versions(spark, alias) == [2, 3]

    def test_incomplete_version_is_invisible(self, spark, two_indexes,
                                             tmp_path):
        import os
        root, blue, green = two_indexes
        alias = str(tmp_path / "serving2")
        publish_index(spark, blue, alias)
        publish_index(spark, green, alias)
        # simulate a publish that died mid-commit: _SUCCESS missing
        os.remove(os.path.join(alias, "v=2", "_SUCCESS"))
        assert resolve_index_alias(spark, alias) == blue
        assert _hit_ids(load_index(spark, alias), "blue") == {1, 2}

    def test_publish_validates_target(self, spark, two_indexes, tmp_path):
        root, _, _ = two_indexes
        with pytest.raises(ValueError, match="not a built index"):
            publish_index(spark, str(tmp_path / "nowhere"),
                          f"{root}/bad_alias")

    def test_resolve_empty_alias_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="no published alias"):
            resolve_index_alias(spark, str(tmp_path / "empty_alias"))

    def test_chained_alias_rejected(self, spark, two_indexes):
        root, blue, _ = two_indexes
        a1, a2 = f"{root}/chain1", f"{root}/chain2"
        publish_index(spark, blue, a1)
        # an alias pointing at another alias fails publish's own gate...
        with pytest.raises(ValueError, match="not a built index"):
            publish_index(spark, a1, a2)

    def test_other_index_families_publish(self, spark, two_indexes):
        """Trigram/vector indexes (meta/ marker, no stats/) publish too;
        their loaders take resolve_index_alias."""
        from pg_ts_semantic_headline_spark.operators.trigram import (
            build_trigram_index, load_trigram_index, substring_search)
        root, _, _ = two_indexes
        docs = spark.createDataFrame(
            [(1, "needle in a haystack"), (2, "nothing here")],
            ["doc_id", "text"])
        tdir, alias = f"{root}/trgm", f"{root}/trgm_alias"
        build_trigram_index(docs, tdir)
        publish_index(spark, tdir, alias)
        idx = load_trigram_index(spark,
                                 resolve_index_alias(spark, alias))
        got = {r["doc_id"] for r in
               substring_search(idx, docs, "needle").collect()}
        assert got == {1}


class TestPublishRace:
    """Writer-vs-writer safety: a committed v=N is never clobbered; the
    claim itself is a non-overwriting FileContext rename, so the loser
    raises at the rename (not at a racy pre-check) and a foreign
    incomplete v=N is refused, never auto-deleted."""

    def test_concurrent_publish_raises_not_clobbers(self, spark,
                                                    two_indexes, tmp_path,
                                                    monkeypatch):
        import os
        from pg_ts_semantic_headline_spark.plans import index_build as ib
        root, blue, green = two_indexes
        alias = str(tmp_path / "race")
        assert publish_index(spark, blue, alias) == 1
        # simulate the race window: both publishers read versions=[1]
        # (stale) and compute n=2; the OTHER one claims v=2 first
        import shutil
        os.makedirs(os.path.join(alias, "v=2"))
        for f in os.listdir(os.path.join(alias, "v=1")):
            shutil.copy(os.path.join(alias, "v=1", f),
                        os.path.join(alias, "v=2", f))
        monkeypatch.setattr(ib, "_alias_versions",
                            lambda spark, d: [1])  # the stale read
        with pytest.raises(RuntimeError, match="publish race"):
            publish_index(spark, green, alias)
        monkeypatch.undo()
        # the winner's pointer survives untouched; blue (v=1)'s target is
        # still resolvable via its copied pointer at v=2
        assert resolve_index_alias(spark, alias) == blue
        # no temp litter left behind
        assert not [d for d in os.listdir(alias)
                    if d.startswith(".publish_tmp_")]
        # the loser retries with a fresh version read and lands at v=3
        assert publish_index(spark, green, alias) == 3
        assert resolve_index_alias(spark, alias) == green

    def test_foreign_incomplete_version_is_refused(self, spark,
                                                   two_indexes, tmp_path):
        """A v=N without _SUCCESS cannot be produced by publish_index
        (only fully-committed pointer dirs are renamed into place), so
        one that exists came from outside the protocol. Auto-reclaim
        would be check-then-delete — two reclaimers can destroy each
        other's committed pointer — so the publisher refuses loudly and
        tells the operator to remove it."""
        import os
        import shutil
        root, blue, green = two_indexes
        alias = str(tmp_path / "halfdead")
        assert publish_index(spark, blue, alias) == 1
        # someone hand-copied a pointer dir in, minus the commit marker
        os.makedirs(os.path.join(alias, "v=2"))
        with open(os.path.join(alias, "v=2", "part-junk.parquet"), "wb"):
            pass
        with pytest.raises(RuntimeError, match="without _SUCCESS"):
            publish_index(spark, green, alias)
        # refusal cleaned its temp pointer up and left v=1 live
        assert not [d for d in os.listdir(alias)
                    if d.startswith(".publish_tmp_")]
        assert resolve_index_alias(spark, alias) == blue
        # operator remediation: remove the foreign dir, retry
        shutil.rmtree(os.path.join(alias, "v=2"))
        assert publish_index(spark, green, alias) == 2
        assert resolve_index_alias(spark, alias) == green


class TestPublishVerify:
    """publish_index(verify=...) — the fsck pre-flight gates the flip."""

    def test_healthy_main_publishes_with_deep_verify(self, spark,
                                                     two_indexes):
        root, blue, _ = two_indexes
        alias = f"{root}/verified_alias"
        assert publish_index(spark, blue, alias, verify="deep") == 1
        assert resolve_index_alias(spark, alias) == blue

    def test_family_dispatch_and_ivf_publishes(self, spark, two_indexes):
        """An IVF index carries centroids/ but neither stats/ nor meta/ —
        it must both pass target validation and dispatch to the vector
        verifier."""
        import random

        from pg_ts_semantic_headline_spark.operators.similarity import (
            build_ivf_index)
        from pg_ts_semantic_headline_spark.plans.fsck import (
            detect_index_family)
        root, _, _ = two_indexes
        rng = random.Random(3)
        df = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(20)],
            "vec_id long, embedding array<double>")
        vdir, alias = f"{root}/ivf", f"{root}/ivf_alias"
        build_ivf_index(df, vdir, n_lists=3)
        assert detect_index_family(spark, vdir) == "vector"
        assert publish_index(spark, vdir, alias, verify="deep") == 1
        assert resolve_index_alias(spark, alias) == vdir

    def test_corrupt_index_refused(self, spark, two_indexes, tmp_path):
        """A tampered stats table must abort the publish loudly."""
        from pg_ts_semantic_headline_spark.plans.fielded import (
            build_fielded_index)
        root, _, _ = two_indexes
        fdir = str(tmp_path / "fidx")
        build_fielded_index(
            spark, spark.createDataFrame(
                [(1, "alpha", "beta gamma"), (2, "delta", "beta")],
                ["doc_id", "title", "body"]),
            fdir, field_cols=["title", "body"], config=CONFIG, n_buckets=2)
        st = spark.read.parquet(f"{fdir}/stats").collect()[0].asDict()
        st["n_docs"] = 99
        spark.createDataFrame(
            [tuple(st.values())],
            "n_docs long, sumdls array<long>, fields array<string>, "
            "config string, n_buckets int, gen long"
        ).write.mode("overwrite").parquet(f"{fdir}/stats")
        with pytest.raises(ValueError, match="refusing to publish"):
            publish_index(spark, fdir, f"{root}/bad_alias", verify="deep")
        # no alias version was claimed by the refused publish
        assert _alias_versions(spark, f"{root}/bad_alias") == []

    def test_detect_families(self, spark, two_indexes, tmp_path):
        from pg_ts_semantic_headline_spark.operators.trigram import (
            build_trigram_index)
        from pg_ts_semantic_headline_spark.plans.fsck import (
            detect_index_family)
        root, blue, _ = two_indexes
        assert detect_index_family(spark, blue) == "main"
        tdir = str(tmp_path / "trgm")
        build_trigram_index(spark.createDataFrame(
            [(1, "needle haystack")], ["doc_id", "text"]), tdir)
        assert detect_index_family(spark, tdir) == "trigram"
        with pytest.raises(ValueError, match="not a persisted index"):
            detect_index_family(spark, str(tmp_path / "nothing"))
