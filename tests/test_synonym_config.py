"""Synonym-dictionary configs: PG's `CREATE TEXT SEARCH DICTIONARY
(TEMPLATE = synonym)` analog — a casefolded token→lexeme map ahead of a
base config, shipped as a dictionary FILE whose path rides inside the
config string so every executor can load it (lexize.py SYNONYM_PREFIX)."""

import pytest

from pg_ts_semantic_headline_spark.functions.lexize import (
    analyze_document,
    is_supported_config,
    lexize_chunk,
    make_synonym_config,
)


@pytest.fixture(scope="module")
def syn_config(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dict") / "syn.json")
    # colour→color (spelling normalization), pgsql→postgres (alias),
    # noise→None (custom stopword)
    return make_synonym_config(
        "english",
        {"colour": "color", "PGSQL": "postgres", "noise": None},
        path)


class TestLexize:
    def test_hit_bypasses_stemmer(self, syn_config):
        # PG synonym semantics: a hit STOPS the pipeline — the output is
        # the mapped lexeme verbatim, never re-stemmed
        assert lexize_chunk("colour", syn_config) == "color"
        assert lexize_chunk("Colour", syn_config) == "color"  # casefolded
        assert lexize_chunk("pgsql", syn_config) == "postgres"

    def test_miss_falls_through_to_base(self, syn_config):
        assert lexize_chunk("running", syn_config) == "run"
        assert lexize_chunk("the", syn_config) is None   # base stopword
        # the SURFACE token is matched, not the stem: 'colours' misses
        # the map and stems to 'colour' (list both forms, like PG files)
        assert lexize_chunk("colours", syn_config) == "colour"

    def test_none_mapping_is_custom_stopword(self, syn_config):
        assert lexize_chunk("noise", syn_config) is None
        _, lexs = analyze_document("a noise remains", syn_config)
        assert lexs == [None, None, "remain"]  # position held, like PG

    def test_supported_and_malformed(self, syn_config):
        assert is_supported_config(syn_config)
        assert is_supported_config("english")
        assert not is_supported_config("synonym:english:/nonexistent.json")
        assert not is_supported_config("synonym:klingon:/tmp/x.json")
        assert not is_supported_config("klingon")

    def test_base_validation(self, tmp_path):
        with pytest.raises(ValueError, match="unknown base"):
            make_synonym_config("klingon", {}, str(tmp_path / "x.json"))


class TestDistributed:
    def test_index_query_headline_roundtrip(self, spark, syn_config,
                                            tmp_path_factory):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            build_index, load_index)
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            to_tspquery)
        from pg_ts_semantic_headline_spark.plans.search import (
            bm25_topk, search_with_headlines)

        docs = [(0, "the colour of water"),
                (1, "color theory for painters"),
                (2, "noise in pgsql replication streams"),
                (3, "running dogs run fast")]
        out = str(tmp_path_factory.mktemp("synidx"))
        df = spark.createDataFrame(docs, ["doc_id", "content"])
        build_index(spark, df, out, config=syn_config, n_buckets=4)
        index = load_index(spark, out)
        # the config string round-trips through the persisted stats
        assert index.config == syn_config

        # 'colour' and 'color' unify through the dictionary: querying
        # either retrieves docs 0 AND 1
        for qword in ("colour", "color"):
            got = {r["doc_id"] for r in
                   bm25_topk(index, to_tspquery(syn_config, qword),
                             k=10).collect()}
            assert got == {0, 1}, qword

        # alias: 'pgsql' query matches via the mapped lexeme
        got = {r["doc_id"] for r in
               bm25_topk(index, to_tspquery(syn_config, "PGSQL"),
                         k=10).collect()}
        assert got == {2}

        # custom stopword indexes nothing: 'noise' lexizes away and the
        # compiled query is empty
        assert to_tspquery(syn_config, "noise").root is None

        # headline recall still highlights the ORIGINAL surface form
        hits = search_with_headlines(
            index, to_tspquery(syn_config, "colour"), k=10).collect()
        heads = {r["doc_id"]: r["headline"] for r in hits}
        assert "<b>colour</b>" in heads[0]
        assert "<b>color</b>" in heads[1]


class TestThesaurus:
    @pytest.fixture(scope="class")
    def thes_config(self, tmp_path_factory):
        from pg_ts_semantic_headline_spark.functions.lexize import (
            make_thesaurus_config)
        path = str(tmp_path_factory.mktemp("thes") / "thes.json")
        return make_thesaurus_config(
            "english",
            {"supernovae stars": "sn",
             "supernovae stars explode": "snx",   # longest must win
             "state of the art": "sota",          # internal stopwords
             "colour": "color"},                  # single-word entry
            path)

    def test_subdictionary_matching(self, thes_config):
        # PG: the file AND the text both pass through the base stemmer,
        # so inflected forms match
        _, lexs = analyze_document("supernova star nearby", thes_config)
        assert lexs == ["sn", None, "nearbi"]

    def test_longest_match_wins_and_position_holes(self, thes_config):
        toks, lexs = analyze_document(
            "The supernovae stars explode loudly", thes_config)
        assert lexs == [None, "snx", None, None, "loud"]
        assert len(toks) == len(lexs)  # alignment invariant holds

    def test_internal_stopword_wildcard(self, thes_config):
        # 'of the' lexize to None; the entry's None slots match them
        _, lexs = analyze_document("truly state of the art", thes_config)
        assert lexs == ["truli", "sota", None, None, None]

    def test_single_word_entry_and_query_side(self, thes_config):
        from pg_ts_semantic_headline_spark.functions.lexize import (
            lexize_word)
        assert lexize_word("Colour", thes_config) == "color"
        assert lexize_word("running", thes_config) == "run"

    def test_greedy_no_overlap(self, tmp_path):
        from pg_ts_semantic_headline_spark.functions.lexize import (
            make_thesaurus_config)
        cfg = make_thesaurus_config(
            "simple", {"sort sort": "ss"}, str(tmp_path / "t.json"))
        _, lexs = analyze_document("sort sort sort", cfg)
        assert lexs == ["ss", None, "sort"]

    def test_entry_validation(self, tmp_path):
        from pg_ts_semantic_headline_spark.functions.lexize import (
            make_thesaurus_config)
        with pytest.raises(ValueError, match="starts with a stopword"):
            make_thesaurus_config("english", {"the art": "x"},
                                  str(tmp_path / "a.json"))
        with pytest.raises(ValueError, match="bad thesaurus entry"):
            make_thesaurus_config("english", {"good": None},
                                  str(tmp_path / "b.json"))

    def test_index_phrase_query_roundtrip(self, spark, thes_config,
                                          tmp_path_factory):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            build_index, load_index)
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            phraseto_tspquery)
        from pg_ts_semantic_headline_spark.plans.search import bm25_topk

        docs = [(0, "the supernovae stars are bright"),
                (1, "a lone supernova star"),
                (2, "stars without the phrase supernovae nearby"),
                (3, "nothing relevant here")]
        out = str(tmp_path_factory.mktemp("thesidx"))
        build_index(spark, spark.createDataFrame(
            docs, ["doc_id", "content"]), out, config=thes_config,
            n_buckets=4)
        index = load_index(spark, out)
        assert index.config == thes_config
        # the phrase query substitutes through the same dictionary, so
        # 'supernova star' retrieves exactly the docs holding the PHRASE
        q = phraseto_tspquery(thes_config, "supernova star")
        assert [p.items for p in q.phrases] == [(("sn", 1),)]
        got = {r["doc_id"] for r in bm25_topk(index, q, k=10).collect()}
        assert got == {0, 1}


class TestPerColumnConfig:
    """PG's `to_tsvector(config_col, text)`: one index, per-document
    analyzer routing through a config COLUMN."""

    @pytest.fixture(scope="class")
    def ml_index(self, spark, tmp_path_factory):
        from pyspark.sql import functions as F

        from pg_ts_semantic_headline_spark.plans.index_build import (
            build_index, load_index)
        docs = spark.createDataFrame(
            [(0, "en", "the running dogs jumped"),
             (1, "de", "die laufenden Hunde sprangen"),
             (2, "en", "nothing shared here")],
            ["doc_id", "lang", "content"])
        out = str(tmp_path_factory.mktemp("mlidx"))
        build_index(spark, docs, out,
                    config=F.when(F.col("lang") == "de", "german")
                    .otherwise("english"),
                    n_buckets=4)
        return load_index(spark, out)

    def test_stats_marker_roundtrip(self, ml_index):
        assert ml_index.config == "percolumn"

    def test_each_doc_got_its_own_analyzer(self, ml_index):
        from pg_ts_semantic_headline_spark.functions.lexize import (
            lexize_word)
        from pg_ts_semantic_headline_spark.plans.search import bm25_topk

        en_lex = lexize_word("running", "english")
        de_lex = lexize_word("laufenden", "german")
        assert en_lex != de_lex
        got_en = {r["doc_id"]
                  for r in bm25_topk(ml_index, [en_lex], k=10).collect()}
        got_de = {r["doc_id"]
                  for r in bm25_topk(ml_index, [de_lex], k=10).collect()}
        assert got_en == {0} and got_de == {1}
        # german stopword 'die' never indexed; english stopword 'the'
        # never indexed — each through its OWN stopword list
        assert bm25_topk(ml_index, ["die"], k=10).count() == 0
        assert bm25_topk(ml_index, ["the"], k=10).count() == 0

    def test_reanalysis_helpers_demand_explicit_config(self, ml_index):
        from pg_ts_semantic_headline_spark.plans.search import (
            expand_prefix, more_like_this)

        with pytest.raises(ValueError, match="per-document config"):
            expand_prefix(ml_index, "run")
        # the explicit-config override unblocks them
        assert expand_prefix(ml_index, "run", config="english") == ["run"]
        got = {r["doc_id"] for r in more_like_this(
            ml_index, "running dogs", k=5, config="english").collect()}
        assert 0 in got


def test_dictionary_config_flows_through_fielded_index(spark, syn_config,
                                                       tmp_path_factory):
    # dictionary configs are plain strings, so the per-field analysis of
    # the BM25F index inherits them with no special handling — pin it
    from pg_ts_semantic_headline_spark.plans.fielded import (
        bm25f_topk, build_fielded_index, load_fielded_index)

    docs = spark.createDataFrame(
        [(0, "colour swatches", "a body about colour mixing"),
         (1, "color charts", "painting with color pigments"),
         (2, "unrelated title", "nothing relevant")],
        ["doc_id", "title", "body"])
    out = str(tmp_path_factory.mktemp("fsyn"))
    build_fielded_index(spark, docs, out, ["title", "body"],
                        config=syn_config, n_buckets=4)
    fidx = load_fielded_index(spark, out)
    got = {r["doc_id"] for r in
           bm25f_topk(fidx, {"title": 2.0, "body": 1.0},
                      ["color"], k=10).collect()}
    assert got == {0, 1}   # colour and color unify in BOTH fields


class TestCodeConfig:
    """The 'code' analyzer: camelCase splitting for the source-code
    corpus the north star names, riding the same single-BELL intra-word
    machinery as hyphen splits — positions aligned, display exact."""

    def test_camel_and_acronym_split(self):
        toks, lexs = analyze_document(
            "def fooBar(HTTPServer): return snake_case", "code")
        assert lexs == ["def", "foo", "bar", "http", "server",
                        "return", "snake", "case"]
        assert len(toks) == len(lexs)   # recall alignment invariant

    def test_present_text_restores_source_exactly(self):
        from pg_ts_semantic_headline_spark.functions.textprep import (
            tsp_present_text)
        src = "call fooBar and HTTPServer now"
        toks, _ = analyze_document(src, "code")
        assert tsp_present_text(" ".join(toks)) == src

    def test_query_side_mirrors(self):
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            phraseto_tspquery, to_tspquery, websearch_to_tspquery)
        assert to_tspquery("code", "fooBar").phrases[0].items \
            == (("foo", 1), ("bar", 2))
        assert phraseto_tspquery("code", "HTTPServer up").phrases[0].items \
            == (("http", 1), ("server", 2), ("up", 3))
        assert websearch_to_tspquery("code", '"fooBar" or baz').lexemes \
            == ("foo", "bar", "baz")

    def test_other_configs_unaffected(self):
        _, lexs = analyze_document("fooBar HTTPServer", "simple")
        assert lexs == ["foobar", "httpserver"]

    def test_no_stopwords_no_stemming(self):
        _, lexs = analyze_document("the running of DogsHowl", "code")
        assert lexs == ["the", "running", "of", "dogs", "howl"]

    def test_dictionary_base_code(self, tmp_path):
        cfg = make_synonym_config("code", {"perf": "performance"},
                                  str(tmp_path / "c.json"))
        _, lexs = analyze_document("perf of fooBar", cfg)
        assert lexs == ["performance", "of", "foo", "bar"]

    def test_index_search_headline_roundtrip(self, spark,
                                             tmp_path_factory):
        from pg_ts_semantic_headline_spark.plans.index_build import (
            build_index, load_index)
        from pg_ts_semantic_headline_spark.plans.query_compiler import (
            to_tspquery)
        from pg_ts_semantic_headline_spark.plans.search import (
            search, search_with_headlines)

        docs = [(0, "class QueryPlanner builds the queryPlan tree"),
                (1, "def query_plan(): pass"),
                (2, "nothing matching at all")]
        out = str(tmp_path_factory.mktemp("codeidx"))
        build_index(spark, spark.createDataFrame(
            docs, ["doc_id", "content"]), out, config="code",
            n_buckets=4)
        index = load_index(spark, out)
        # 'queryPlan' matches camelCase, PascalCase AND snake_case forms
        q = to_tspquery("code", "queryPlan")
        got = {r["doc_id"] for r in search(index, q, k=10).collect()}
        assert got == {0, 1}
        # headlines highlight the matched pieces and restore the source
        heads = {r["doc_id"]: r["headline"] for r in
                 search_with_headlines(index, q, k=10).collect()}
        assert "<b>QueryPlanner</b>" in heads[0] \
            or "<b>queryPlan</b>" in heads[0]
        assert "query_plan" in heads[1].replace("<b>", "").replace(
            "</b>", "")
