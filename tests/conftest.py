from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

# the checkout this conftest belongs to, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandra_data_migrator_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cdm_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="cdm_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
