from __future__ import annotations

import os

import pytest

from block_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_DRIVER_MEM", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        s = get_spark("bcs-tests")
    yield s
    s.stop()
