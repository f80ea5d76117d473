import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from opensearch_spark.session import get_spark

    s = get_spark("opensearch_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_leg():
    """``with spark_leg(): ...`` runs its block with every driver leg
    refused: the request breaker refuses every charge, which routes a
    top-level match or a served bool to ``score()``'s plan and a sloppy
    phrase to its span Spark plan. Session-scoped so property tests can
    use it too."""
    from contextlib import contextmanager

    from opensearch_spark.common.breaker import request_breaker

    @contextmanager
    def forced():
        old = request_breaker.limit
        request_breaker.limit = 0
        try:
            yield
        finally:
            request_breaker.limit = old

    return forced

