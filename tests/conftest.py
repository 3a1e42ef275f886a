import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from planet_dump_ng_spark.session import DEFAULT_SHUFFLE_PARTITIONS, get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Test-session planning knobs (NOT the production shape): at the
    # suite's few-hundred-row scale every stage is job-launch latency,
    # and AQE materializes each exchange as its own job.  One shuffle
    # partition + AQE off measured -27% on the slowest curation tests
    # (103 s -> 75 s for two representative end-to-end tests) with
    # identical results — the suite verifies CORRECTNESS; perfbench and
    # the pipeline/golden paths still run the production session
    # (get_spark defaults: AQE on).  Tests that assert PLAN shape under
    # the production planner opt back in via ``plan_session``.
    # A 2 GB driver heap instead of the production 8 GB: the suite's
    # inputs are a few MB, and G1 grows the heap toward its cap (the
    # test JVM reached 7.1 GB resident under 8 GB).
    spark = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=1,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.driver.memory": "2g",
        },
    )
    yield spark


@pytest.fixture(scope="session")
def plan_session(spark):
    """A sibling session over the same SparkContext with the PRODUCTION
    planning confs (AQE on, the engine's default shuffle width), so
    plan-shape assertions see the plans ``get_spark`` would run — the
    ones the QUERIES.md budgets were recorded under
    (tools/gen_query_inventory.py)."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    yield s2


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
