from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from twitter_followers_patterns_mapreduce_spark.session import get_spark
from twitter_followers_patterns_mapreduce_spark.sources.readers import EDGE_SCHEMA

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark(app_name="tests", cpus=8)
    yield s


def make_edges(spark: SparkSession, pairs: list[tuple[int, int]]):
    return spark.createDataFrame(pairs, schema=EDGE_SCHEMA)


@pytest.fixture(scope="session")
def sample_edges(spark):
    """README sample graph (FIXTURES.md §1.1): 6 nodes, 10 edges, 2 triangles."""
    return make_edges(
        spark,
        [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (5, 6), (6, 4), (3, 6), (2, 5), (5, 3)],
    )


@pytest.fixture(scope="session")
def mutual_edges(spark):
    """FIXTURES.md §1.3 round-trip discriminator."""
    return make_edges(spark, [(1, 2), (2, 1)])


@pytest.fixture(scope="session")
def max_cut_edges(spark):
    """FIXTURES.md §1.4 MAX-filter discriminator."""
    return make_edges(spark, [(1, 2), (2, 3), (3, 1), (1, 20000), (20000, 2)])
