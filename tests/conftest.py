from __future__ import annotations

import pytest

from data_pipelines_using_llm_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    # One session serves the whole run; stop its JVM once the last test
    # is done with it.
    try:
        s.stop()
    except Exception:
        pass

