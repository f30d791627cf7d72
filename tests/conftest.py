import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE_TESTS = "/root/reference/test"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("tsp-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def load_reference_corpus(test_file: str) -> str:
    """Extract the corpus literal from a reference pgTAP test file at runtime
    (keeps third-party corpus text out of this repo)."""
    path = os.path.join(REFERENCE_TESTS, test_file)
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    m = re.search(r"INSERT INTO _files VALUES\s*\('((?:[^']|'')*)'\)", src)
    if not m:
        raise ValueError(f"no corpus found in {test_file}")
    return m.group(1).replace("''", "'")


def reference_available() -> bool:
    return os.path.isdir(REFERENCE_TESTS)


requires_reference = pytest.mark.skipif(
    not reference_available(), reason="reference corpus not available")


def count_jobs(spark, action) -> int:
    """The number of Spark jobs `action()` runs (plan construction
    included), counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


_GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fast_headline_golden.json")


def fast_headline_golden() -> dict:
    """The frozen fast-path outputs (tests/fast_headline_golden.json):
    what the multi-stage DataFrame plan of `ts_fast_headline` and
    `ts_fast_headline_cover_density` answered before the per-row kernel
    replaced it (see that file's `about`)."""
    with open(_GOLDEN, encoding="utf-8") as fh:
        return json.load(fh)


def golden_record(section: str, **key) -> dict:
    """The one record of `section` whose fields equal `key`."""
    found = [r for r in fast_headline_golden()[section]
             if all(r[k] == v for k, v in key.items())]
    assert len(found) == 1, (section, key, len(found))
    return found[0]
