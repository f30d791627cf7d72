"""Crash drill: kill a real writer process at a lifecycle boundary.

A child Python process opens a tiny index and runs ONE lifecycle call.
Inside the child only, one of `lifecycle`'s step functions is wrapped to
call `os._exit(137)` at the chosen boundary, so the child's Python
process and its JVM really die mid-call. The test process then checks,
per kill point:

- `verify_any_index(deep=True)` passes or names the wreckage in a fail row;
- the loader returns the old state or the new one, or raises an error
  that names the recovery step — never a mix;
- re-running the killed call (which recovers first) gives doc ids and
  scores identical to a from-scratch build of the intended corpus.
"""

import json
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from pg_ts_semantic_headline_spark import lifecycle
from pg_ts_semantic_headline_spark.operators.trigram import (
    build_trigram_index, compact_trigram_index, delete_documents,
    load_trigram_index, similarity_scores)
from pg_ts_semantic_headline_spark.plans.fsck import verify_any_index
from pg_ts_semantic_headline_spark.plans.index_build import (
    build_index, load_index, publish_index, resolve_index_alias)
from pg_ts_semantic_headline_spark.plans.search import bm25_topk
from pg_ts_semantic_headline_spark.streaming import (
    compact_index, delete_docs, upsert_documents)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONFIG = "simple"
BASE = [(i, f"alpha beta doc{i} w{i % 5} w{i % 7} tail{i % 3} words")
        for i in range(30)]
# upsert batch: docs 2 and 3 change, 4 is resent unchanged, 100 is new
BATCH = [(2, "alpha fresh changed two"), (3, "beta fresh changed three"),
         BASE[4], (100, "fresh gamma newcomer alpha")]
GONE = [5, 6]
QUERIES = (["alpha", "w1"], ["fresh", "tail2"])

CHILD = r"""
import json, os, sys
spec = json.loads(sys.argv[1])
sys.path.insert(0, spec["repo"])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.driver.memory", "512m").getOrCreate())
from pg_ts_semantic_headline_spark import lifecycle
fn, arg, suffix, when = spec["kill"]
real = getattr(lifecycle, fn)

def dying(*args, **kwargs):
    hit = str(args[arg]).endswith(suffix)
    if hit and when == "before":
        os._exit(137)
    out = real(*args, **kwargs)
    if hit and when == "after":
        os._exit(137)
    return out

setattr(lifecycle, fn, dying)
call, d = spec["call"], spec["dir"]
if call == "upsert":
    from pg_ts_semantic_headline_spark.streaming import upsert_documents
    upsert_documents(spark, d, spark.createDataFrame(
        [tuple(r) for r in spec["batch"]], ["doc_id", "content"]))
elif call == "delete":
    from pg_ts_semantic_headline_spark.streaming import delete_docs
    delete_docs(spark, d, spec["ids"])
elif call == "compact":
    from pg_ts_semantic_headline_spark.streaming import compact_index
    compact_index(spark, d)
elif call == "compact_trigram":
    from pg_ts_semantic_headline_spark.operators.trigram import (
        compact_trigram_index)
    compact_trigram_index(spark, d)
elif call == "publish":
    from pg_ts_semantic_headline_spark.plans.index_build import publish_index
    publish_index(spark, spec["target"], d)
sys.exit(3)  # the kill point was never reached
"""

# kill point -> (call, lifecycle function, argument index, path suffix,
# before/after the call)
KILLS = {
    "a_upsert_before_tombstones": (
        "upsert", "write_table", 1, f"/{lifecycle.STAGED}/_tombstones"
        f"{lifecycle.APPEND_SUFFIX}", "before"),
    "b_delete_inside_stats_swap": (
        "delete", "rename_path", 2, f"/{lifecycle.ASIDE}/stats", "after"),
    "c_compact_between_table_swaps": (
        "compact", "rename_path", 2, f"/{lifecycle.ASIDE}/tokens", "before"),
    "c_compact_between_aside_and_rename_in": (
        "compact", "rename_path", 2, f"/{lifecycle.ASIDE}/postings",
        "after"),
    "d_compact_trigram_mid_swap": (
        "compact_trigram", "rename_path", 2, f"/{lifecycle.ASIDE}/postings",
        "after"),
    "e_publish_before_claim": ("publish", "claim_path", 1, "", "before"),
}


def _run_child(spec: dict) -> tuple[int, str]:
    """Run one child to its kill point; returns (exit code, stderr tail)
    once the child's whole process group (its JVM too) is gone."""
    proc = subprocess.Popen(
        [sys.executable, "-c", CHILD, json.dumps(spec)], cwd=REPO,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
        start_new_session=True)
    _, err = proc.communicate(timeout=300)
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.2)
    else:
        os.killpg(proc.pid, signal.SIGKILL)
    return proc.returncode, err[-2000:]


def _ranks(spark, d):
    idx = load_index(spark, d)
    return (idx.n_docs, round(idx.avgdl, 9),
            [[(r["doc_id"], round(r["score"], 9))
              for r in bm25_topk(idx, terms, k=40).collect()]
             for terms in QUERIES])


def _trgm(spark, d):
    return sorted((r["doc_id"], round(r["similarity"], 9)) for r in
                  similarity_scores(load_trigram_index(spark, d),
                                    "alpha doc12 w2", 0.05).collect())


def _build(spark, rows, d):
    build_index(spark, spark.createDataFrame(rows, ["doc_id", "content"]),
                d, config=CONFIG, n_buckets=4, resume=False,
                min_analyze_partitions=0, postings_partitions=2)


def _build_trgm(spark, rows, d):
    build_trigram_index(spark.createDataFrame(rows, ["doc_id", "text"]), d,
                        n_buckets=4)


@pytest.fixture(scope="module")
def drill(spark, tmp_path_factory):
    """Prepare one directory per kill point and start its child as soon
    as it is ready, build the reference indexes while
    the children run, and return the paths and child outcomes."""
    t0 = time.time()
    root = tmp_path_factory.mktemp("crash")
    p = {name: str(root / name) for name in
         ("base", "tombed", "trgm", "alias", "rebuilt_a", "rebuilt_gone",
          "trgm_gone")}
    work, futures = {}, {}
    with ThreadPoolExecutor(max_workers=len(KILLS)) as pool:
        def launch(src, *kills):
            for kill in kills:
                call, fn, arg, suffix, when = KILLS[kill]
                work[kill] = str(root / f"kill_{kill}")
                shutil.copytree(src, work[kill])
                futures[kill] = pool.submit(_run_child, {
                    "repo": REPO, "call": call, "dir": work[kill],
                    "kill": [fn, arg, suffix, when], "batch": BATCH,
                    "ids": GONE, "target": p["tombed"]})

        _build(spark, BASE, p["base"])
        launch(p["base"], "a_upsert_before_tombstones",
               "b_delete_inside_stats_swap")
        _build_trgm(spark, BASE, p["trgm"])
        delete_documents(load_trigram_index(spark, p["trgm"]), GONE)
        launch(p["trgm"], "d_compact_trigram_mid_swap")
        shutil.copytree(p["base"], p["tombed"])
        delete_docs(spark, p["tombed"], GONE)
        launch(p["tombed"], "c_compact_between_table_swaps",
               "c_compact_between_aside_and_rename_in")
        publish_index(spark, p["base"], p["alias"])
        launch(p["alias"], "e_publish_before_claim")

        old = {"base": _ranks(spark, p["base"]),
               "trgm": _trgm(spark, p["trgm"])}
        intended = dict(BASE)
        intended.update({d: c for d, c in BATCH})
        _build(spark, sorted(intended.items()), p["rebuilt_a"])
        kept = [r for r in BASE if r[0] not in GONE]
        _build(spark, kept, p["rebuilt_gone"])
        _build_trgm(spark, kept, p["trgm_gone"])
        new = {"a": _ranks(spark, p["rebuilt_a"]),
               "gone": _ranks(spark, p["rebuilt_gone"]),
               "trgm": _trgm(spark, p["trgm_gone"])}
        outcome = {k: f.result() for k, f in futures.items()}
    print(f"\ncrash drill set-up + children: {time.time() - t0:.1f} s")
    return {"paths": p, "work": work, "outcome": outcome, "old": old,
            "new": new}


def _fails(spark, d, deep=True):
    return {r["check"] for r in
            verify_any_index(spark, d, deep=deep).collect()
            if r["status"] == "fail"}


def _publish_tmps(alias):
    return [d for d in os.listdir(alias) if d.startswith(".publish_tmp_")]


@pytest.mark.parametrize("kill", sorted(KILLS))
def test_child_died_at_its_kill_point(drill, kill):
    code, err = drill["outcome"][kill]
    assert code == 137, err


def test_a_killed_upsert_serves_old_state_and_rerun_matches_rebuild(
        spark, drill):
    d = drill["work"]["a_upsert_before_tombstones"]
    # the dead writer published nothing: old state, staged debris only
    assert _fails(spark, d) == set()
    assert _ranks(spark, d) == drill["old"]["base"]
    rep = upsert_documents(spark, d, spark.createDataFrame(
        BATCH, ["doc_id", "content"]))
    assert rep == {"unchanged": 1, "changed": 2, "new": 1}
    assert _ranks(spark, d) == drill["new"]["a"]


@pytest.mark.parametrize("kill", [
    "b_delete_inside_stats_swap", "c_compact_between_table_swaps",
    "c_compact_between_aside_and_rename_in"])
def test_interrupted_swap_is_named_and_rerun_matches_rebuild(
        spark, drill, kill):
    d = drill["work"][kill]
    assert lifecycle.interrupted(spark, d)
    assert _fails(spark, d) == {"interrupted_swap"}
    with pytest.raises(RuntimeError, match="lifecycle.recover"):
        load_index(spark, d)
    if kill.startswith("b_"):
        delete_docs(spark, d, GONE)
    else:
        compact_index(spark, d)
    assert not os.path.exists(os.path.join(d, lifecycle.STAGED))
    assert not os.path.exists(os.path.join(d, lifecycle.ASIDE))
    assert _ranks(spark, d) == drill["new"]["gone"]
    assert _fails(spark, d, deep=False) == set()


def test_d_compact_trigram_mid_swap(spark, drill):
    d = drill["work"]["d_compact_trigram_mid_swap"]
    assert _fails(spark, d) == {"interrupted_swap"}
    with pytest.raises(RuntimeError, match="lifecycle.recover"):
        load_trigram_index(spark, d)
    compact_trigram_index(spark, d)
    idx = load_trigram_index(spark, d)
    assert idx.tombstones is None
    assert _trgm(spark, d) == drill["new"]["trgm"] == drill["old"]["trgm"]


def test_e_publish_killed_before_claim(spark, drill):
    alias = drill["work"]["e_publish_before_claim"]
    target = drill["paths"]["tombed"]
    # the alias still resolves to the old target
    assert resolve_index_alias(spark, alias) == drill["paths"]["base"]
    assert _ranks(spark, alias) == drill["old"]["base"]
    assert _fails(spark, target) == set()
    # the killed publisher's pointer is left behind until a publish sweeps it
    assert _publish_tmps(alias)
    assert publish_index(spark, target, alias) == 2
    assert _ranks(spark, alias) == drill["new"]["gone"]
    assert _publish_tmps(alias) == []
