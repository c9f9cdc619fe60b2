import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("dashing_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(params=["fused", "distinct_first"])
def verify_placement(request, monkeypatch):
    """Run a near-dup test under each exact-verify placement. The
    distinct-first plan is forced by a zero broadcast cap; the returned
    list records every placement decision taken (True = fused), so a
    test can assert that the placement it asked for really ran."""
    from dashing_spark.operators import dedup

    if request.param == "distinct_first":
        monkeypatch.setattr(dedup, "FUSED_VERIFY_BROADCAST_BYTES", 0)
    decided = []
    decide = dedup.fused_verify

    def recording(*args):
        decided.append(decide(*args))
        return decided[-1]

    monkeypatch.setattr(dedup, "fused_verify", recording)
    return request.param, decided
