from __future__ import annotations

import os
import sys

import pytest

# the checkout this conftest belongs to, ahead of any other copy on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from videos_to_tfrecords_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        # full PushedFilters/ReadSchema text in explain output (default
        # truncates metadata at 100 chars — test_plans asserts on it)
        extra_conf={"spark.sql.maxMetadataStringLength": "2000"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
