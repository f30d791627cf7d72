"""The two workloads.  Each takes a `run.Bench` and returns
(metrics, report lines).

- index_lifecycle: `build_index` in a fresh JVM (part of the set-up),
  the seeded query list on the index, then upsert/delete micro-batches
  with a probe query after each.  Traced runs add `compact_index` and a
  deep `verify_index`.
- adhoc_headline: `ts_semantic_headline` over a long-tail corpus, no
  index.

Load is one closed-loop client: every call is `.collect()`ed before the
next one starts, and an untimed warm-up ends before the clock starts.
Each workload times a fixed list of calls, `b.passes` times over:

- index_lifecycle: bm25_topk and search (k=10) on each of the five
  timed queries of `corpus.query_list` (AND, OR, AND NOT, `<->` phrase,
  `<2>`) and search_with_headlines (k=10) on the `<->` phrase, then two
  micro-batches (an upsert, a delete), each followed by a probe search;
- adhoc_headline: one ts_semantic_headline call per phrase tier
  (common, mid, rare), each over its own part of ADHOC_DOCS_PER_CALL
  files.

End-to-end metrics, the same names on both workloads:

- setup_s: everything before the clock starts except input generation
  and the oracle: the median of `run.SESSION_STARTS` session starts in
  one JVM, plus the program's own set-up (index_lifecycle:
  `build_index` + `load_index`) and the warm-up call.
- call_ms: geometric mean, over the workload's call kinds, of each
  kind's mean call wall time over the fixed list (index_lifecycle:
  bm25_topk, search, search_with_headlines, upsert, delete, probe;
  adhoc_headline: ts_semantic_headline), so every call of the list
  counts.

The per-kind medians (`<op>_p50_ms`, `upsert_p50_ms`, ...) and the
throughputs are printed by name in the report lines, with their sample
counts, next to peak_rss_mb (the peak RSS of the driver
JVM plus its Python processes; reported, not gated, because JVM heap
growth makes it spread too widely).  `--trace 1` runs the same call
list in a traced session, repeats part of it untraced for the overhead,
and returns the per-layer metrics (PER_LAYER).
"""

from __future__ import annotations

import dataclasses
import math
import os
import statistics
import time

import numpy as np

import corpus
import oracle
from layers import INDEX_TABLES, EventLog, Recorder

N_BUCKETS = 8
K = 10
CONFIG = "english"
MEMO_SIZE = 131_072
INDEX_OPS = ("bm25_topk", "search", "search_with_headlines")
# search_with_headlines (~4x a search call) runs on the timed queries of
# these QUERY_PLAN shapes only: the `<->` phrase, whose headlines must
# mark the whole phrase
HEADLINE_SHAPES = ("phrase",)

BATCH = 10                 # new, changed, unchanged and deleted rows
ADHOC_BATCHES = 6          # parquet parts of the ad-hoc corpus; part 0 warms up
ADHOC_DOCS_PER_CALL = corpus.ADHOC.n_docs // ADHOC_BATCHES
ADHOC_TIERS = ("common", "mid", "rare")    # one timed call each
# Share of the files holding the exact phrase whose ad-hoc headline must
# mark it: PostgreSQL's cover selection may pick a window without it.
MIN_MARKED_SHARE = 0.5
MEMO_SAMPLE_DOCS = 300
INGEST_BATCHES = 2         # upsert, delete (per pass)

PER_LAYER = (
    [("query_compiler.compile_us", "us")]
    + [(f"search.{op}.{m}", u) for op in INDEX_OPS for m, u in (
        ("jobs", "count"), ("stages", "count"), ("injob_ms", "ms"),
        ("driver_gap_ms", "ms"), ("shuffle_bytes", "bytes"),
        ("python_ms", "ms"), ("python_bytes", "bytes"))]
    + [(f"search.{op}.scan_bytes.{t}", "bytes")
       for op in INDEX_OPS for t in INDEX_TABLES]
    + [("headline.indexed.jobs", "count"), ("headline.indexed.injob_ms", "ms"),
       ("headline.indexed.driver_gap_ms", "ms")]
    + [(f"index_build.{s}_s", "s")
       for s in ("tokens", "postings", "terms", "packed", "lineage")]
    + [("index_build.python_ms", "ms"), ("index_build.python_bytes", "bytes"),
       ("index_build.shuffle_bytes", "bytes")]
    + [(f"index_build.bytes.{t}", "bytes") for t in INDEX_TABLES]
    + [(f"incremental.{k}.{m}", u) for k in ("upsert", "delete", "compact")
       for m, u in (("jobs", "count"), ("injob_ms", "ms"),
                    ("driver_gap_ms", "ms"), ("bytes_written", "bytes"))]
    + [("analyze.kernel_mb_per_s", "MB/s"), ("lexize.memo_hit_ratio", "ratio")]
    + [(f"headline.adhoc.{m}", u) for m, u in (
        ("jobs", "count"), ("injob_ms", "ms"), ("driver_gap_ms", "ms"),
        ("python_ms", "ms"), ("python_bytes", "bytes"))]
    + [("spark.job_floor_ms", "ms"), ("trace.overhead_frac", "ratio")]
)


# ---------------------------------------------------------------- helpers

def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(values: list[float]) -> str:
    """The highest percentile with at least ten samples above it."""
    n = len(values)
    if n < 11:
        return "no percentile has 10 samples above it"
    p = math.floor(100 * (n - 10) / n)
    return f"p{p}={statistics.quantiles(values, n=100)[p - 1]:.1f}"


def median_line(name: str, values: list[float], unit: str = "ms") -> str:
    return (f"# {name} = {statistics.median(values):.4f} {unit} "
            f"(n={len(values)}, {tail(values)})")


def write_parquet(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = ("doc_id", "repo", "path", "commit", "lang", "content")
    table = pa.table({n: pa.array(c, type=pa.int64() if n == "doc_id"
                                  else pa.string())
                      for n, c in zip(names, zip(*rows))})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def lexize(word: str) -> str:
    from pg_ts_semantic_headline_spark.functions.lexize import lexize_word
    return lexize_word(word, CONFIG)


def compile_query(q):
    from pg_ts_semantic_headline_spark.plans import to_tspquery
    return to_tspquery(CONFIG, oracle.render(q))


def corpus_lines(name: str, rows: list[tuple]) -> list[str]:
    return [f"# corpus {name}: {len(rows)} docs, "
            f"{corpus.content_bytes(rows)} content bytes, "
            f"{corpus.distinct_surface_forms(rows)} distinct surface forms "
            f"(lexize memo holds {MEMO_SIZE})"]


def memo_layer(rows: list[tuple], seed: int) -> dict:
    """lexize memo hit ratio and kernel speed of a driver-side
    analyze_document pass over a seeded sample, from a cleared memo."""
    from pg_ts_semantic_headline_spark.functions.lexize import (
        analyze_document, lexize_chunk)

    rng = np.random.default_rng(seed + 31)
    pick = rng.choice(len(rows), min(MEMO_SAMPLE_DOCS, len(rows)),
                      replace=False)
    sample = [rows[i][5] for i in sorted(pick)]
    lexize_chunk.cache_clear()
    t0 = time.perf_counter()
    for text in sample:
        analyze_document(text, CONFIG)
    dt = time.perf_counter() - t0
    info = lexize_chunk.cache_info()
    return {"analyze.kernel_mb_per_s":
            sum(len(t.encode()) for t in sample) / 1e6 / dt,
            "lexize.memo_hit_ratio":
            info.hits / max(info.hits + info.misses, 1)}


def compile_layer(queries: list) -> dict:
    from pg_ts_semantic_headline_spark.plans import to_tspquery

    texts = [oracle.render(q) for q in queries]
    t0 = time.perf_counter()
    for _ in range(20):
        for t in texts:
            to_tspquery(CONFIG, t)
    return {"query_compiler.compile_us":
            (time.perf_counter() - t0) * 1e6 / (20 * len(texts))}


def job_floor_ms(spark) -> float:
    walls = []
    for _ in range(11):
        t0 = time.perf_counter()
        spark.range(1).collect()
        walls.append((time.perf_counter() - t0) * 1000)
    return statistics.median(walls[1:])


def build(b, rec, docs_path: str, index_dir: str, build_metrics: dict):
    from pg_ts_semantic_headline_spark.plans.index_build import build_index

    spark = b.spark
    rec.call("build", lambda: build_index(
        spark, spark.read.parquet(docs_path), index_dir, config=CONFIG,
        resume=False, n_buckets=N_BUCKETS, metrics=build_metrics))


def open_index(b, index_dir: str):
    from pg_ts_semantic_headline_spark.plans.index_build import load_index
    return load_index(b.spark, index_dir)


def build_layer(build_metrics: dict, index_dir: str) -> dict:
    m = build_metrics
    out = {f"index_build.{s}_s": m.get(f"{s}_sec", 0.0)
           for s in ("tokens", "postings", "terms", "packed")}
    out["index_build.lineage_s"] = sum(v for k, v in m.items()
                                       if k.endswith("_lineage_sec"))
    for t in INDEX_TABLES:
        out[f"index_build.bytes.{t}"] = dir_bytes(os.path.join(index_dir, t))
    return out


def mean_split(ev: EventLog, calls, after_site: str | None = None) -> dict:
    splits = [ev.split_after(c, after_site) if after_site
              else ev.split(c.job_ids, c.wall_ms) for c in calls]
    if not splits:
        return {}
    return {k: sum(s[k] for s in splits) / len(splits) for k in splits[0]}


def layer_metrics(ev: EventLog, traced: Recorder, untraced: Recorder,
                  extra: dict) -> dict:
    """Every PER_LAYER metric; a layer the workload does not exercise
    reads 0."""
    def of(kind):
        return [c for c in traced.calls if c.kind == kind]

    out = {}
    for op in INDEX_OPS:
        s = mean_split(ev, of(op))
        for key in ("jobs", "stages", "injob_ms", "driver_gap_ms",
                    "shuffle_bytes", "python_ms", "python_bytes"):
            out[f"search.{op}.{key}"] = s.get(key, 0)
        for t in INDEX_TABLES:
            out[f"search.{op}.scan_bytes.{t}"] = s.get(f"scan_bytes.{t}", 0)
    s = mean_split(ev, of("search_with_headlines"), after_site="plans/search.py")
    for key in ("jobs", "injob_ms", "driver_gap_ms"):
        out[f"headline.indexed.{key}"] = s.get(key, 0)
    s = mean_split(ev, of("build"))
    for key in ("python_ms", "python_bytes", "shuffle_bytes"):
        out[f"index_build.{key}"] = s.get(key, 0)
    for kind in ("upsert", "delete", "compact"):
        s = mean_split(ev, of(kind))
        for key in ("jobs", "injob_ms", "driver_gap_ms", "bytes_written"):
            out[f"incremental.{kind}.{key}"] = s.get(key, 0)
    s = mean_split(ev, of("ts_semantic_headline"))
    for key in ("jobs", "injob_ms", "driver_gap_ms", "python_ms",
                "python_bytes"):
        out[f"headline.adhoc.{key}"] = s.get(key, 0)
    # the untraced phase repeats the first calls of some kinds
    redo = [c.kind for c in untraced.calls]
    firsts = {k: [c for c in traced.calls if c.kind == k][:redo.count(k)]
              for k in set(redo)}
    t_traced = sum(c.wall_ms for cs in firsts.values() for c in cs)
    t_plain = sum(c.wall_ms for c in untraced.calls)
    out["trace.overhead_frac"] = t_traced / t_plain - 1
    out.update(extra)
    return {name: metric(out.get(name, 0), unit) for name, unit in PER_LAYER}


def traced_phase(b, run_calls):
    """Run `run_calls(rec, phase)` in a traced session (the first, cold
    session, as in an untraced run), then again untraced in a fresh
    session of the same JVM.  Returns (extra layer metrics, traced
    recorder, untraced recorder, event log)."""
    event_dir = b.path("events")
    b.start_session(event_dir)
    traced = Recorder(b.spark.sparkContext, traced=True)
    extra = run_calls(traced, "traced")
    b.start_session()                      # ends the traced session
    plain = Recorder(b.spark.sparkContext, traced=False)
    run_calls(plain, "plain")
    extra["spark.job_floor_ms"] = job_floor_ms(b.spark)
    return extra, traced, plain, EventLog(event_dir)


# --------------------------------------------------------- index_lifecycle

class QueryOracle:
    """Expected answers for each (op, query) on one built index."""

    def __init__(self, index_dir: str, docs: list, queries: list):
        self.bm = oracle.Bm25Oracle.from_index(index_dir)
        self.docs = docs
        self.queries = queries
        self.want = {}

    def expected(self, op: str, qi: int) -> list:
        key = ("bm25_topk" if op == "bm25_topk" else "search", qi)
        if key not in self.want:
            q = self.queries[qi]
            self.want[key] = (self.bm.topk(query_lexemes(q), K)
                              if key[0] == "bm25_topk"
                              else self.bm.search(q, self.docs, K, lexize))
        return self.want[key]

    def check(self, b, op: str, qi: int, rows) -> None:
        q = self.queries[qi]
        want = self.expected(op, qi)
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        ok = oracle.same_ranking(got, want)
        if op == "search_with_headlines":      # only on the `<->` phrase
            ok = ok and all(
                oracle.whole_phrase_marked(r["headline"], q[1])
                and oracle.marks_only_whole_phrase(r["headline"], q[1])
                for r in rows)
        b.check(ok, f"{op} {oracle.render(q)}: got {got[:3]} want {want[:3]}")


def query_lexemes(q) -> list[str]:
    return [lexize(w) for w in oracle.positive_words(q)]


class Lexemes:
    """Driver-side analyze_document lexeme streams (the kernel the
    with_analysis UDF runs), memoized by content."""

    def __init__(self):
        self.memo: dict[str, list] = {}

    def __call__(self, rows) -> list:
        from pg_ts_semantic_headline_spark.functions.lexize import (
            analyze_document)

        out = []
        for r in rows:
            lex = self.memo.get(r[5])
            if lex is None:
                lex = self.memo[r[5]] = analyze_document(r[5], CONFIG)[1]
            out.append((r[0], lex))
        return out


class AdhocInput:
    """The long-tail corpus ts_semantic_headline runs over, one parquet
    file per call, and a few seeded phrase queries."""

    def __init__(self, b):
        self.rows = corpus.generate(corpus.ADHOC, b.seed)
        self.paths, self.contents = [], []
        # deal files into parts by length rank, so every part carries the
        # same share of the heavy tail
        by_len = sorted(self.rows, key=lambda r: len(r[5]))
        for j in range(ADHOC_BATCHES):
            part = sorted(by_len[j::ADHOC_BATCHES])
            self.paths.append(b.path("input", f"adhoc{j}.parquet"))
            write_parquet(part, self.paths[-1])
            self.contents.append({r[0]: r[5] for r in part})
        # one seeded phrase per tier, in a fixed tier order: how many
        # files hold the phrase drives the cost of a call
        rng = np.random.default_rng(b.seed + 5)
        self.queries = [("phrase", ps[rng.integers(len(ps))], 1) for ps in
                        (corpus.PHRASE_WORDS[t] for t in ADHOC_TIERS)]

        self.carriers = self.marked = 0

    def check(self, b, got, part: int, q) -> None:
        """One row per input doc; marks only ever cover the whole phrase,
        and a doc without the phrase gets none.  Files holding the
        phrase are tallied, with how many of them got it marked: see
        check_marked_share."""
        contents, words = self.contents[part], q[1]
        heads = {int(r["doc_id"]): r["headline"] for r in got}
        ok = set(heads) == set(contents) and all(
            oracle.marks_only_whole_phrase(heads[d], words)
            and (" ".join(words) in text or "<b>" not in heads[d])
            for d, text in contents.items())
        b.check(ok, f"ts_semantic_headline {oracle.render(q)} on part {part}")
        if ok:
            carriers = [d for d, text in contents.items()
                        if " ".join(words) in text]
            self.carriers += len(carriers)
            self.marked += sum("<b>" in heads[d] for d in carriers)

    def check_marked_share(self, b) -> float:
        """At least MIN_MARKED_SHARE of the files holding the phrase get
        it marked.  (The rest may get an unmarked passage: PostgreSQL's
        cover selection ranks covers by query-word count, which can
        prefer a window with the words apart.)  A passage selection that
        ignores the phrase marks almost none."""
        share = self.marked / max(self.carriers, 1)
        b.check(share >= MIN_MARKED_SHARE,
                f"ts_semantic_headline marked the phrase in {self.marked} "
                f"of {self.carriers} files holding it")
        return share


def query_ops(qi: int) -> tuple:
    shape = corpus.QUERY_PLAN[qi][0]
    return INDEX_OPS if shape in HEADLINE_SHAPES else INDEX_OPS[:2]


def query_calls(b, rec: Recorder, idx, queries: list,
                expect: QueryOracle | None, passes: int = 1) -> tuple[float, int]:
    """bm25_topk and search on each query, and search_with_headlines on
    the one of HEADLINE_SHAPES, query by query, `passes` times; returns
    the wall seconds and the number of calls."""
    from pg_ts_semantic_headline_spark.plans import search as S

    fns = {"bm25_topk": S.bm25_topk, "search": S.search,
           "search_with_headlines": S.search_with_headlines}
    t0 = time.time()
    n = 0
    for _ in range(passes):
        for qi, q in enumerate(queries):
            for op in query_ops(qi):
                got = rec.call(op, lambda: fns[op](
                    idx, compile_query(q), k=K).collect())
                if expect is not None:
                    expect.check(b, op, qi, got)
                n += 1
    return time.time() - t0, n


# ------------------------------------------------- index_lifecycle: ingest

MARK = "zqmark"


def ingest_calls(b, rec: Recorder, rows: list[tuple], index_dir: str, *,
                 batches: int = INGEST_BATCHES, compact: bool = False) -> dict:
    """`batches` upsert/delete micro-batches, alternating, each followed
    by a probe query; then, with `compact`, compaction.  Returns the
    final model corpus and the markers the upserts planted."""
    from pg_ts_semantic_headline_spark.plans import search as S
    from pg_ts_semantic_headline_spark.streaming.incremental import (
        compact_index, delete_docs, upsert_documents)

    spark = b.spark
    model = {r[0]: r for r in rows}
    rng = np.random.default_rng(b.seed + 17)
    next_id = max(model) + 1
    markers: list[str] = []

    state = {"model": model, "markers": markers}

    def probe(marker: str) -> None:
        def call():
            return S.search(open_index(b, index_dir),
                            compile_query(("term", marker)),
                            k=4 * BATCH).collect()
        rows = rec.call("probe", call)
        got = {int(r["doc_id"]) for r in rows}
        want = {d for d, r in model.items() if f" {marker} " in r[5]}
        b.check(got == want, f"probe {marker}: got {sorted(got)[:5]} "
                             f"want {sorted(want)[:5]}")
        state["last_probe"] = (marker, [(int(r["doc_id"]), float(r["score"]))
                                        for r in rows])

    for i in range(batches):
        live = np.array(sorted(model))
        if i % 2 == 0:
            marker = f"{MARK}{i}"
            markers.append(marker)
            fresh = corpus.generate(dataclasses.replace(
                corpus.CODE, n_docs=2 * BATCH, first_id=next_id),
                b.seed * 1000 + i)
            next_id += BATCH
            picked = rng.choice(live, 2 * BATCH, replace=False).tolist()
            changed, same = picked[:BATCH], picked[BATCH:]
            note = f"\n# {marker} added\n"
            batch = ([r[:5] + (r[5] + note,) for r in fresh[:BATCH]]
                     + [model[d][:5] + (fresh[BATCH + j][5] + note,)
                        for j, d in enumerate(changed)]
                     + [model[d] for d in same])
            path = b.path("input", f"batch{i}.parquet")
            write_parquet(batch, path)
            rec.call("upsert", lambda: upsert_documents(
                spark, index_dir, spark.read.parquet(path)))
            model.update({r[0]: r for r in batch})
        else:
            marker = markers[-1]
            carriers = [d for d in live if f" {marker} " in model[d][5]]
            gone = (rng.choice(carriers, min(len(carriers), BATCH // 2),
                               replace=False).tolist()
                    + rng.choice(live, BATCH, replace=False).tolist())
            gone = sorted(set(int(d) for d in gone))[:BATCH]
            rec.call("delete", lambda: delete_docs(spark, index_dir, gone))
            for d in gone:
                model.pop(d)
        probe(marker)
    if compact:
        rec.call("compact", lambda: compact_index(spark, index_dir))
    return state


def ingest_oracle(b, index_dir: str, state: dict, lexemes: Lexemes,
                  deep: bool) -> None:
    """The last probe's ranking equals BM25 computed from scratch over
    the final corpus (driver-side analysis, pandas scoring).  With `deep`
    (after compaction), verify_index(deep=True) passes, and so does a
    phrase query, which needs the positions an index with merges not yet
    compacted does not serve (ValueError)."""
    from pg_ts_semantic_headline_spark.plans import search as S
    from pg_ts_semantic_headline_spark.plans import verify_index

    docs = lexemes(sorted(state["model"].values()))
    bm = oracle.Bm25Oracle.from_lexemes(docs)
    marker, got = state["last_probe"]
    checks = [(("term", marker), got)]
    if deep:
        bad = [r for r in verify_index(b.spark, index_dir, deep=True).collect()
               if r["status"] == "fail"]
        b.check(not bad, f"verify_index(deep=True) failed: {bad[:2]}")
        q = ("phrase", corpus.PHRASE_WORDS["mid"][0], 1)
        checks.append((q, [(int(r["doc_id"]), float(r["score"])) for r in
                           S.search(open_index(b, index_dir), compile_query(q),
                                    k=4 * BATCH).collect()]))
    for q, got in checks:
        want = bm.search(q, docs, 4 * BATCH, lexize)
        b.check(oracle.same_ranking(got, want),
                f"index after batches vs from-scratch BM25, {oracle.render(q)}: "
                f"{got[:3]} vs {want[:3]}")


LIFECYCLE_KINDS = INDEX_OPS + ("upsert", "delete", "probe")


def index_lifecycle(b):
    """Build an index (set-up, timed), serve the query list on it, fold
    upsert/delete micro-batches with a probe after each; traced runs
    then compact."""
    rows = corpus.generate(corpus.CODE, b.seed)
    *queries, warm_query = corpus.query_list(b.seed)
    docs = b.path("input", "docs.parquet")
    write_parquet(rows, docs)
    report = corpus_lines("index_lifecycle", rows)
    lexemes = Lexemes()

    def set_up(rec, index_dir, build_metrics):
        build(b, rec, docs, index_dir, build_metrics)
        idx = open_index(b, index_dir)
        return idx, dir_bytes_all(index_dir)

    def warm_up(idx) -> float:
        # search_with_headlines runs the search plan, which runs the
        # bm25_topk plan: one phrase call warms all three
        from pg_ts_semantic_headline_spark.plans.search import (
            search_with_headlines)
        t0 = time.time()
        search_with_headlines(idx, compile_query(warm_query), k=K).collect()
        return time.time() - t0

    if b.args.trace:
        state = {}

        def run_calls(rec, phase):
            index_dir, bm = b.path(f"index_{phase}"), {}
            if phase == "plain":     # the overhead baseline: the first query
                idx = open_index(b, state["dir"])
                warm_up(idx)
                query_calls(b, rec, idx, queries[:1], None)
                return {}
            idx, _ = set_up(rec, index_dir, bm)
            state["dir"] = index_dir
            expect = QueryOracle(index_dir, lexemes(rows), queries)
            warm_up(idx)
            query_calls(b, rec, idx, queries, expect)
            extra = build_layer(bm, index_dir)
            done = ingest_calls(b, rec, rows, index_dir, compact=True)
            ingest_oracle(b, index_dir, done, lexemes, deep=True)
            return extra

        extra, traced, plain, ev = traced_phase(b, run_calls)
        extra.update(compile_layer(queries))
        extra.update(memo_layer(rows, b.seed))
        return layer_metrics(ev, traced, plain, extra), report

    t_session = b.session_setup_s()
    rec = Recorder(b.spark.sparkContext, traced=False)
    index_dir = b.path("index")
    t0 = time.time()
    idx, index_bytes = set_up(rec, index_dir, {})
    t_build = time.time() - t0
    phases = [("setup", time.time())]
    expect = QueryOracle(index_dir, lexemes(rows), queries)
    phases.append(("oracle", time.time()))
    t_warm = warm_up(idx)
    phases.append(("warm-up", time.time()))
    setup_s = t_session + t_build + t_warm
    elapsed, n = query_calls(b, rec, idx, queries, expect, b.passes)
    phases.append(("queries", time.time()))
    state = ingest_calls(b, rec, rows, index_dir,
                         batches=INGEST_BATCHES * b.passes)
    phases.append(("ingest", time.time()))
    rss = b.peak_rss_mb()
    ingest_oracle(b, index_dir, state, lexemes, deep=False)
    phases.append(("ingest oracle", time.time()))
    build_s = rec.walls_ms("build")[0] / 1000
    means = [statistics.mean(rec.walls_ms(k)) for k in LIFECYCLE_KINDS]
    report += [f"# setup_s = {setup_s:.4f} s (session {t_session:.2f} s, "
               f"build + load {t_build:.2f} s, warm-up {t_warm:.2f} s)",
               f"# build_docs_per_s = {len(rows) / build_s:.4f} docs/s "
               f"({len(rows)} docs in {build_s:.2f} s)",
               f"# index_bytes_per_content_byte = "
               f"{index_bytes / corpus.content_bytes(rows):.4f} ratio"]
    report += [median_line(f"{op}_p50_ms", rec.walls_ms(op)) for op in INDEX_OPS]
    report += [f"# query_mix_qps = {n / elapsed:.4f} 1/s "
               f"({n} queries in {elapsed:.1f} s)",
               median_line("upsert_p50_ms", rec.walls_ms("upsert")),
               median_line("delete_p50_ms", rec.walls_ms("delete")),
               median_line("ingest_query_p50_ms", rec.walls_ms("probe")),
               f"# error_rate = {b.failed / max(b.attempted, 1):.4f}",
               f"# peak_rss_mb = {rss:.1f} MB",
               "# phase walls: " + ", ".join(
                   f"{name} {t1 - t0:.1f} s"
                   for (_, t0), (name, t1) in zip(phases, phases[1:]))]
    return {"setup_s": metric(setup_s, "s"),
            "call_ms": metric(geomean(means), "ms")}, report


def dir_bytes_all(index_dir: str) -> int:
    return sum(dir_bytes(os.path.join(index_dir, t)) for t in INDEX_TABLES)


def adhoc_headline(b):
    """ts_semantic_headline over a long-tail corpus, no index."""
    from pg_ts_semantic_headline_spark.plans.headline import ts_semantic_headline

    adhoc = AdhocInput(b)
    report = corpus_lines("adhoc_headline", adhoc.rows)

    def call(rec, part: int, q) -> list:
        df = b.spark.read.parquet(adhoc.paths[part])
        return rec.call("ts_semantic_headline", lambda: ts_semantic_headline(
            df, compile_query(q)).collect())

    def calls(rec, passes: int = 1, tiers: int = len(ADHOC_TIERS)) -> None:
        """One call per tier, each on its own part (parts 1..3)."""
        for _ in range(passes):
            for i, q in enumerate(adhoc.queries[:tiers]):
                adhoc.check(b, call(rec, 1 + i, q), 1 + i, q)

    def warm_up() -> float:
        t0 = time.time()
        call(Recorder(b.spark.sparkContext, False), 0, adhoc.queries[0])
        return time.time() - t0

    if b.args.trace:
        def run_calls(rec, phase):
            warm_up()
            # the overhead baseline repeats the first call only
            calls(rec, tiers=1 if phase == "plain" else len(ADHOC_TIERS))
            return {}

        extra, traced, plain, ev = traced_phase(b, run_calls)
        extra.update(compile_layer(adhoc.queries))
        extra.update(memo_layer(adhoc.rows, b.seed))
        return layer_metrics(ev, traced, plain, extra), report

    t_session = b.session_setup_s()
    t_warm = warm_up()
    setup_s = t_session + t_warm
    rec = Recorder(b.spark.sparkContext, traced=False)
    calls(rec, b.passes)
    share = adhoc.check_marked_share(b)
    walls = rec.walls_ms("ts_semantic_headline")
    docs_per_s = len(walls) * ADHOC_DOCS_PER_CALL / (sum(walls) / 1000)
    rss = b.peak_rss_mb()
    report += [f"# setup_s = {setup_s:.4f} s (session {t_session:.2f} s, "
               f"warm-up {t_warm:.2f} s)",
               median_line("ts_semantic_headline_p50_ms", walls),
               f"# adhoc_headline_docs_per_s = {docs_per_s:.4f} docs/s "
               f"({len(walls)} calls of {ADHOC_DOCS_PER_CALL} docs)",
               f"# phrase_marked_share = {share:.4f} ratio "
               f"({adhoc.marked} of {adhoc.carriers} files holding the phrase)",
               f"# error_rate = {b.failed / max(b.attempted, 1):.4f}",
               f"# peak_rss_mb = {rss:.1f} MB"]
    return {"setup_s": metric(setup_s, "s"),
            "call_ms": metric(statistics.mean(walls), "ms")}, report


WORKLOADS = {"index_lifecycle": index_lifecycle,
             "adhoc_headline": adhoc_headline}
