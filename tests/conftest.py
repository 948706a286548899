from __future__ import annotations

import pytest

from puma_matcher_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "puma-matcher-tests", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL
