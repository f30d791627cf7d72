"""Incremental index maintenance: foreachBatch merge + a real stream run."""

import pytest
from pyspark.sql import functions as F

from pg_ts_semantic_headline_spark.plans.index_build import build_index, load_index
from pg_ts_semantic_headline_spark.plans.query_compiler import phraseto_tspquery
from pg_ts_semantic_headline_spark.plans.search import bm25_topk, phrase_match_docs
from pg_ts_semantic_headline_spark.streaming import (
    attach_incremental_indexer, merge_batch)

CONFIG = "simple"
BASE = [(i, f"alpha beta gamma doc{i} common words here") for i in range(20)]
NEW = [(100, "alpha beta fresh needle phrase target arrives"),
       (101, "another fresh document beta gamma")]


@pytest.fixture()
def index_dir(spark, tmp_path):
    out = str(tmp_path / "idx")
    df = spark.createDataFrame(BASE, ["doc_id", "content"])
    build_index(spark, df, out, config=CONFIG, n_buckets=4)
    return out


def test_merge_batch_updates_index(spark, index_dir):
    before = load_index(spark, index_dir)
    assert before.n_docs == 20
    batch = spark.createDataFrame(NEW, ["doc_id", "content"])
    merge_batch(spark, index_dir, batch, config=CONFIG)

    after = load_index(spark, index_dir)
    assert after.n_docs == 22
    # new docs searchable
    q = phraseto_tspquery(CONFIG, "needle phrase target")
    assert {r["doc_id"] for r in phrase_match_docs(after, q).collect()} == {100}
    top = bm25_topk(after, ["fresh"], k=5).collect()
    assert {r["doc_id"] for r in top} == {100, 101}
    # idf shifted: dictionary was re-aggregated over the union
    df_beta = after.terms.where(F.col("term") == "beta").first()["df"]
    assert df_beta == 22


def test_merge_replace_refuses_uncastable_doc_ids(spark, index_dir):
    """replace=True with doc_ids that don't cast to long must refuse the
    whole batch BEFORE any write: a silently-NULL tombstone would join no
    postings, degrading the replace to a duplicate-producing append."""
    bad = spark.createDataFrame(
        [("doc-5", "alpha beta replacement text")], ["doc_id", "content"])
    before = load_index(spark, index_dir)
    n_before = before.n_docs
    with pytest.raises(ValueError, match="non-numeric doc_ids"):
        merge_batch(spark, index_dir, bad, config=CONFIG, replace=True)
    # refusal happened ahead of any append: index unchanged
    after = load_index(spark, index_dir)
    assert after.n_docs == n_before
    assert after.tokens.where(F.col("doc_id").isNull()).count() == 0


def _phrase_answers(index, queries):
    """Per query: the `<->` phrase `search` ranking and the
    `search_with_headlines` rows, scores rounded past float-summation
    noise."""
    from pg_ts_semantic_headline_spark.plans.search import (
        search, search_with_headlines)
    out = []
    for q in queries:
        out.append([(r["doc_id"], round(r["score"], 9)) for r in
                    search(index, q, k=25).collect()])
        out.append([(r["doc_id"], round(r["score"], 9), r["headline"])
                    for r in search_with_headlines(index, q, k=25).collect()])
    return out


def test_phrase_queries_after_mutation_match_rebuild(spark, tmp_path):
    """Row postings are the only positional store, so `<->` phrase
    queries and headlines see an upsert's changed and new docs, and stop
    seeing deleted ones, at once — with no compaction in between — and
    answer exactly like an index rebuilt from the final corpus."""
    from pg_ts_semantic_headline_spark.streaming import (
        delete_docs, upsert_documents)

    out = str(tmp_path / "idx_mut")
    build_index(spark, spark.createDataFrame(BASE, ["doc_id", "content"]),
                out, config=CONFIG, n_buckets=4)
    changed = [(5, "needle phrase target replaces alpha beta gamma"),
               (6, "gamma alpha beta reordered words here")]
    rep = upsert_documents(spark, out, spark.createDataFrame(
        changed + NEW, ["doc_id", "content"]))
    assert rep == {"unchanged": 0, "changed": 2, "new": 2}
    queries = [phraseto_tspquery(CONFIG, "alpha beta gamma"),
               phraseto_tspquery(CONFIG, "needle phrase target")]

    def rebuilt(final, name):
        d = str(tmp_path / name)
        build_index(spark, spark.createDataFrame(final,
                                                 ["doc_id", "content"]),
                    d, config=CONFIG, n_buckets=4)
        return load_index(spark, d)

    final = dict(BASE)
    final.update(dict(changed + NEW))
    want = _phrase_answers(rebuilt(sorted(final.items()), "rebuilt_ups"),
                           queries)
    assert {d for d, _ in want[0]} == set(range(20)) - {6}
    assert {d for d, _ in want[2]} == {5, 100}
    assert _phrase_answers(load_index(spark, out), queries) == want

    delete_docs(spark, out, [5, 7])
    for d in (5, 7):
        del final[d]
    want = _phrase_answers(rebuilt(sorted(final.items()), "rebuilt_del"),
                           queries)
    assert {d for d, _ in want[2]} == {100}
    assert _phrase_answers(load_index(spark, out), queries) == want


class TestCompaction:
    """Tombstone fold: rows shadowed by deletes/replaces are dropped
    physically without re-analyzing any document."""

    def _build(self, spark, tmp_path, n_buckets=16):
        out = str(tmp_path / "idxc")
        df = spark.createDataFrame(BASE, ["doc_id", "content"])
        build_index(spark, df, out, config=CONFIG, n_buckets=n_buckets)
        return out

    def _ranks(self, index, terms, k=10):
        return [(r["doc_id"], round(r["score"], 10)) for r in
                bm25_topk(index, terms, k=k).collect()]

    def test_compact_keeps_merged_docs(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.streaming import compact_index
        out = self._build(spark, tmp_path)
        merge_batch(spark, out, spark.createDataFrame(NEW, ["doc_id", "content"]),
                    config=CONFIG)
        # a plain merge writes no tombstones: compaction has nothing to
        # fold and leaves no manifest row
        compact_index(spark, out)
        m = spark.read.parquet(f"{out}/_manifest")
        assert m.where(F.col("stage") == "compact").count() == 0

        after = load_index(spark, out)
        assert after.n_docs == 22
        got = self._ranks(after, ["fresh"], k=5)
        assert {d for d, _ in got} == {100, 101}
        q = phraseto_tspquery(CONFIG, "needle phrase target")
        assert {r["doc_id"] for r in
                phrase_match_docs(after, q).collect()} == {100}

        # a second merge+compact cycle keeps working
        merge_batch(spark, out, spark.createDataFrame(
            [(200, "cycle two zeta document")], ["doc_id", "content"]),
            config=CONFIG)
        compact_index(spark, out)
        final = load_index(spark, out)
        assert final.n_docs == 23
        got = self._ranks(final, ["zeta"], k=3)
        assert {d for d, _ in got} == {200}

    def test_replace_doc(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.streaming import compact_index
        out = self._build(spark, tmp_path)
        merge_batch(spark, out, spark.createDataFrame(
            [(5, "replaced brandnew content alpha shiny")],
            ["doc_id", "content"]), config=CONFIG, replace=True)

        mid = load_index(spark, out)
        assert mid.n_docs == 20  # replace, not insert
        # the old doc5-only term is gone, the new one resolves to doc 5
        assert bm25_topk(mid, ["doc5"], k=5).count() == 0
        got = {r["doc_id"] for r in
               bm25_topk(mid, ["brandnew"], k=5).collect()}
        assert got == {5}
        # and doc 5 appears exactly once through shared terms
        alpha = bm25_topk(mid, ["alpha"], k=25).collect()
        assert [r["doc_id"] for r in alpha].count(5) == 1

        compact_index(spark, out)
        after = load_index(spark, out)
        assert after.n_docs == 20
        got = self._ranks(after, ["brandnew"], k=5)
        assert {d for d, _ in got} == {5}
        # physical apply: shadowed generations are gone from the tables
        assert spark.read.parquet(f"{out}/tokens").count() == 20
        assert (spark.read.parquet(f"{out}/postings")
                .where(F.col("term") == "doc5").count()) == 0

    def test_delete_docs_tombstone_then_compact(self, spark, tmp_path):
        from pg_ts_semantic_headline_spark.streaming import (
            compact_index, delete_docs)
        out = self._build(spark, tmp_path)
        delete_docs(spark, out, [3])

        mid = load_index(spark, out)
        assert mid.n_docs == 19
        assert bm25_topk(mid, ["doc3"], k=5).count() == 0
        assert 3 not in {r["doc_id"] for r in
                         bm25_topk(mid, ["alpha"], k=25).collect()}

        compact_index(spark, out)
        after = load_index(spark, out)
        assert after.n_docs == 19
        got = self._ranks(after, ["alpha"], k=25)
        assert 3 not in {d for d, _ in got}
        assert spark.read.parquet(f"{out}/tokens").count() == 19
        # the fold leaves a manifest row: tokens rows, then postings rows
        m = spark.read.parquet(f"{out}/_manifest")
        rows = {int(r["partition_id"]): int(r["row_count"]) for r in
                m.where(F.col("stage") == "compact").collect()}
        assert rows == {0: 19,
                        1: spark.read.parquet(f"{out}/postings").count()}

    def test_mass_delete_compacts_via_anti_join(self, spark, tmp_path):
        """A multi-doc delete folds through the distributed tombstone
        join (no id set is collected to the driver): the dead docs'
        tokens, scores and positions are all gone afterwards."""
        from pg_ts_semantic_headline_spark.streaming import (
            compact_index, delete_docs)
        out = self._build(spark, tmp_path)
        delete_docs(spark, out, [3, 7, 11])
        compact_index(spark, out)
        after = load_index(spark, out)
        assert after.n_docs == 17
        got = self._ranks(after, ["alpha"], k=25)
        assert {d for d, _ in got} & {3, 7, 11} == set()
        assert spark.read.parquet(f"{out}/tokens").count() == 17
        # positions of the live docs survived the fold
        q = phraseto_tspquery(CONFIG, "alpha beta gamma")
        assert 3 not in {r["doc_id"] for r in
                         phrase_match_docs(after, q).collect()}


def test_v3_index_must_be_rebuilt(spark, tmp_path):
    """An index written under an older layout version must be rebuilt:
    tsp-spark-3 may hold its positions outside row postings, and
    tsp-spark-4 encodes tombstones as (doc_id, before_gen). Loading it
    and merging into it must refuse with a message that says to rebuild,
    and fsck must fail the version check."""
    import shutil

    from pg_ts_semantic_headline_spark.plans.fsck import verify_index

    out = str(tmp_path / "v3")
    build_index(spark, spark.createDataFrame(BASE, ["doc_id", "content"]),
                out, config=CONFIG, n_buckets=4)
    for old in ("tsp-spark-3", "tsp-spark-4"):
        stats = spark.read.parquet(f"{out}/stats")
        stats.withColumn("prep_version", F.lit(old)) \
            .write.mode("overwrite").parquet(f"{out}/stats_old")
        shutil.rmtree(f"{out}/stats")
        shutil.move(f"{out}/stats_old", f"{out}/stats")

        with pytest.raises(ValueError, match="rebuild"):
            load_index(spark, out)
        # writers refuse too, before touching any table
        with pytest.raises(ValueError, match="rebuild"):
            merge_batch(spark, out, spark.createDataFrame(
                NEW, ["doc_id", "content"]), config=CONFIG)
        rep = {r["check"]: r for r in verify_index(spark, out).collect()}
        assert rep["prep_version"]["status"] == "fail"
        assert rep["prep_version"]["actual"] == old


def test_windowed_term_counts_stream(spark, tmp_path):
    """Watermarked windowed term counts over a real (availableNow) stream
    must equal the batch aggregation of the same rows."""
    import datetime as dt

    from pg_ts_semantic_headline_spark.streaming import windowed_term_counts

    src = str(tmp_path / "stream_src")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (base, "alpha beta alpha"),
        (base + dt.timedelta(seconds=30), "beta gamma"),
        (base + dt.timedelta(minutes=1, seconds=10), "alpha alpha"),
    ]
    spark.createDataFrame(rows, "event_time timestamp, content string") \
        .write.parquet(src)

    stream = (spark.readStream
              .schema("event_time timestamp, content string").parquet(src))
    counts = windowed_term_counts(stream, config="simple",
                                  window="1 minute", watermark="2 minutes")
    # complete mode: append-mode windows only flush once the watermark
    # passes them, which a finite availableNow run never reaches
    q = (counts.writeStream.format("memory").queryName("wtc")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["window"]["start"].minute, r["term"]):
           (r["n_docs"], r["n_occurrences"])
           for r in spark.sql("SELECT * FROM wtc").collect()}
    assert got[(0, "alpha")] == (1, 2)
    assert got[(0, "beta")] == (2, 2)
    assert got[(0, "gamma")] == (1, 1)
    assert got[(1, "alpha")] == (1, 2)

    from pg_ts_semantic_headline_spark.streaming import doc_arrival_rates
    stream2 = (spark.readStream
               .schema("event_time timestamp, content string").parquet(src))
    rates = doc_arrival_rates(stream2, window="1 minute")
    q2 = (rates.writeStream.format("memory").queryName("dar")
          .outputMode("complete").trigger(availableNow=True).start())
    q2.awaitTermination(120)
    r = {row["window"]["start"].minute: (row["n_docs"], row["total_bytes"])
         for row in spark.sql("SELECT * FROM dar").collect()}
    assert r[0][0] == 2 and r[1][0] == 1
    assert r[0][1] == len("alpha beta alpha") + len("beta gamma")


def test_streaming_foreachbatch(spark, index_dir, tmp_path):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(NEW, ["doc_id", "content"]).write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, content string")
              .parquet(src))
    q = attach_incremental_indexer(stream, index_dir, ckpt, config=CONFIG)
    q.awaitTermination(120)
    after = load_index(spark, index_dir)
    assert after.n_docs == 22


def test_merge_batch_config_defaults_and_guards(spark, tmp_path_factory):
    import warnings

    import pytest as _pytest
    from pyspark.sql import functions as F

    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)
    from pg_ts_semantic_headline_spark.plans.search import bm25_topk

    out = str(tmp_path_factory.mktemp("cfg_merge_idx"))
    build_index(spark, spark.createDataFrame(
        [(0, "running dogs")], ["doc_id", "content"]), out,
        config="english", n_buckets=4)
    # default config=None analyzes with the INDEX's config: the new
    # doc's 'jumping' must stem ('jump'), proving english was applied
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        merge_batch(spark, out, spark.createDataFrame(
            [(1, "jumping cats")], ["doc_id", "content"]))
    got = {r["doc_id"] for r in
           bm25_topk(load_index(spark, out), ["jump"], k=10).collect()}
    assert got == {1}
    # explicit mismatching config warns loudly
    with _pytest.warns(UserWarning, match="differs from the index"):
        merge_batch(spark, out, spark.createDataFrame(
            [(2, "more cats")], ["doc_id", "content"]), config="simple")
    # per-column index refuses the default
    out2 = str(tmp_path_factory.mktemp("cfg_merge_ml"))
    build_index(spark, spark.createDataFrame(
        [(0, "en", "running dogs")], ["doc_id", "lang", "content"]), out2,
        config=F.when(F.col("lang") == "de", "german").otherwise("english"),
        n_buckets=4)
    with _pytest.raises(ValueError, match="per-document config"):
        merge_batch(spark, out2, spark.createDataFrame(
            [(1, "jumping cats")], ["doc_id", "content"]))
    # ...but an explicit Column routes per row, like build_index
    merge_batch(spark, out2, spark.createDataFrame(
        [(1, "de", "laufenden Hunde")], ["doc_id", "lang", "content"]),
        config=F.when(F.col("lang") == "de", "german").otherwise("english"))
    from pg_ts_semantic_headline_spark.functions.lexize import lexize_word
    got = {r["doc_id"] for r in bm25_topk(
        load_index(spark, out2),
        [lexize_word("laufenden", "german")], k=10).collect()}
    assert got == {1}


class TestUpsertDocuments:
    """sha256-gated re-crawl ingestion: unchanged batches are free and
    leave the index untouched; changed docs replace; new docs append."""

    @staticmethod
    def _build(spark, tmp, docs):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            build_index)
        out = str(tmp)
        df = spark.createDataFrame(docs, ["doc_id", "content"])
        build_index(spark, df, out, config="simple", n_buckets=4,
                    resume=False)
        return out

    def test_unchanged_recrawl_is_a_noop(self, spark, tmp_path_factory):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            load_index)
        from pg_ts_semantic_headline_spark.streaming.incremental import (
            upsert_documents)
        docs = [(1, "alpha beta gamma"), (2, "delta epsilon zeta")]
        out = self._build(spark, tmp_path_factory.mktemp("ups_noop"), docs)
        gen_before = load_index(spark, out).gen
        rep = upsert_documents(
            spark, out, spark.createDataFrame(docs, ["doc_id", "content"]))
        assert rep == {"unchanged": 2, "changed": 0, "new": 0}
        idx = load_index(spark, out)
        assert idx.gen == gen_before   # no merge ran
        assert idx.tokens.count() == 2

    def test_changed_and_new_docs(self, spark, tmp_path_factory):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            load_index)
        from pg_ts_semantic_headline_spark.plans.search import bm25_topk
        from pg_ts_semantic_headline_spark.streaming.incremental import (
            upsert_documents)
        docs = [(1, "alpha beta gamma"), (2, "delta epsilon zeta")]
        out = self._build(spark, tmp_path_factory.mktemp("ups_mix"), docs)
        batch = spark.createDataFrame(
            [(1, "alpha beta gamma"),          # unchanged
             (2, "omega rewritten text"),      # changed
             (3, "brandnew content here")],    # new
            ["doc_id", "content"])
        rep = upsert_documents(spark, out, batch)
        assert rep == {"unchanged": 1, "changed": 1, "new": 1}
        idx = load_index(spark, out)
        # old content of doc 2 is gone; new content of 2 and 3 is live
        assert not bm25_topk(idx, ["delta"], k=10).collect()
        assert {r["doc_id"] for r in
                bm25_topk(idx, ["omega"], k=10).collect()} == {2}
        assert {r["doc_id"] for r in
                bm25_topk(idx, ["brandnew"], k=10).collect()} == {3}
        assert {r["doc_id"] for r in
                bm25_topk(idx, ["alpha"], k=10).collect()} == {1}
        # doc 2 is not duplicated
        assert idx.tokens.where("doc_id = 2").count() == 1

    def test_no_batch_sized_driver_collect(self, spark, tmp_path_factory,
                                           monkeypatch):
        """The classification/ingest path must stay distributed: no single
        driver collect during an upsert may return O(batch) rows (the
        3-row status counts and 1-row stats reads are the only permitted
        driver landings). Guards the
        scale contract: a 10^8-doc re-crawl batch must not OOM the
        driver."""
        from pg_ts_semantic_headline_spark.streaming.incremental import (
            upsert_documents)
        docs = [(i, f"seed doc number {i} alpha") for i in range(8)]
        out = self._build(spark, tmp_path_factory.mktemp("ups_dist"), docs)
        n_batch = 64
        batch = spark.createDataFrame(
            [(i, f"rewritten body {i} omega") for i in range(n_batch)],
            ["doc_id", "content"])  # 8 changed + 56 new

        seen = []
        DataFrame = type(batch)  # the session's concrete DataFrame class
        real_collect = DataFrame.collect

        def counting_collect(df):
            rows = real_collect(df)
            seen.append(len(rows))
            return rows

        monkeypatch.setattr(DataFrame, "collect", counting_collect)
        rep = upsert_documents(spark, out, batch)
        monkeypatch.undo()
        assert rep == {"unchanged": 0, "changed": 8, "new": 56}
        assert seen, "expected at least the status-count collect"
        assert max(seen) < n_batch, (
            f"a driver collect returned {max(seen)} rows — batch-sized "
            f"state landed on the driver: {seen}")

    def test_new_only_batch_appends_without_tombstones(
            self, spark, tmp_path_factory):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            IndexPaths, load_index)
        from pg_ts_semantic_headline_spark.plans.search import bm25_topk
        from pg_ts_semantic_headline_spark.lifecycle import path_exists
        from pg_ts_semantic_headline_spark.streaming.incremental import (
            upsert_documents)
        docs = [(1, "alpha beta gamma")]
        out = self._build(spark, tmp_path_factory.mktemp("ups_new"), docs)
        rep = upsert_documents(spark, out, spark.createDataFrame(
            [(5, "fresh words only")], ["doc_id", "content"]))
        assert rep == {"unchanged": 0, "changed": 0, "new": 1}
        assert not path_exists(spark, IndexPaths(out).tombstones)
        idx = load_index(spark, out)
        assert {r["doc_id"] for r in
                bm25_topk(idx, ["fresh"], k=10).collect()} == {5}


def test_delete_docs_dataframe_form(spark, tmp_path):
    """delete_docs with a DataFrame id set (the scale form): ids stay
    distributed, results identical to the list form, scratch cleaned up,
    and a multi-column frame is rejected loudly."""
    import pytest
    from pg_ts_semantic_headline_spark.plans.index_build import (
        IndexPaths, build_index, load_index)
    from pg_ts_semantic_headline_spark.plans.search import bm25_topk
    from pg_ts_semantic_headline_spark.lifecycle import path_exists
    from pg_ts_semantic_headline_spark.streaming.incremental import (
        delete_docs)
    out = str(tmp_path / "del_df_idx")
    build_index(spark, spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        ["doc_id", "content"]), out, config="simple", n_buckets=4,
        resume=False)
    with pytest.raises(ValueError, match="one column"):
        delete_docs(spark, out, spark.createDataFrame(
            [(1, "x")], ["doc_id", "junk"]))
    # non-numeric ids cast to NULL would silently delete NOTHING
    # (NULL joins no tombstone) — the whole batch must be refused,
    # matching the list form's int(i) ValueError, and the refusal must
    # not leave scratch litter or tombstones behind
    with pytest.raises(ValueError, match="non-numeric"):
        delete_docs(spark, out, spark.createDataFrame(
            [("not-a-doc-id",), ("2",)], ["doc_id"]))
    assert not path_exists(spark, f"{out}/_delete_scratch")
    assert not path_exists(spark, IndexPaths(out).tombstones)
    assert len(load_index(spark, out).tokens
               .select("doc_id").distinct().collect()) == 3
    ids = spark.createDataFrame([(1,), (3,)], ["doc_id"])
    delete_docs(spark, out, ids)
    idx = load_index(spark, out)
    assert sorted(r["doc_id"] for r in
                  idx.tokens.select("doc_id").collect()) == [2]
    assert not bm25_topk(idx, ["alpha"], k=5).collect()
    assert [r["doc_id"] for r in
            bm25_topk(idx, ["gamma"], k=5).collect()] == [2]
    assert not path_exists(spark, f"{out}/_delete_scratch")
    assert path_exists(spark, IndexPaths(out).tombstones)


def test_streaming_upsert_mode_is_replay_idempotent(spark, tmp_path):
    """The same rows streamed TWICE through upsert mode index once —
    the at-least-once replay case merge mode would duplicate."""
    import time
    from pg_ts_semantic_headline_spark.plans.index_build import (
        build_index, load_index)
    from pg_ts_semantic_headline_spark.plans.search import bm25_topk
    from pg_ts_semantic_headline_spark.streaming.incremental import (
        attach_incremental_indexer)

    out = str(tmp_path / "ups_idx")
    build_index(spark, spark.createDataFrame(
        [(1, "alpha beta gamma")], ["doc_id", "content"]),
        out, config="simple", n_buckets=4, resume=False)

    src = str(tmp_path / "src")
    batch = spark.createDataFrame(
        [(7, "streamed fresh words")], ["doc_id", "content"])
    batch.write.parquet(src)

    for rnd in range(2):  # same rows delivered twice
        ckpt = str(tmp_path / f"ckpt{rnd}")
        stream = (spark.readStream.schema("doc_id long, content string")
                  .parquet(src))
        q = attach_incremental_indexer(stream, out, ckpt, mode="upsert")
        q.awaitTermination(60)
        time.sleep(0.2)

    idx = load_index(spark, out)
    assert idx.tokens.where("doc_id = 7").count() == 1  # not duplicated
    assert {r["doc_id"] for r in
            bm25_topk(idx, ["streamed"], k=10).collect()} == {7}
    import pytest as _p
    with _p.raises(ValueError):
        attach_incremental_indexer(
            spark.readStream.schema("doc_id long, content string")
            .parquet(src), out, str(tmp_path / "c2"), mode="nope")
