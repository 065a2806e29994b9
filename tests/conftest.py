from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="session")
def spark():
    from duckdb_delta_spark.session import get_spark

    # a fixed thread count keeps the tests' file layouts the same on
    # every host (an unpartitioned append writes one file per partition)
    s = get_spark("pytest", cpus=4)
    yield s


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "table")
