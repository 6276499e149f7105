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


@pytest.fixture
def fail_pointer_flip(monkeypatch):
    """Call the returned function to arm it: the next
    ``commit.write_pointer`` then raises before it replaces anything, as a
    commit killed between its data write and its pointer flip would."""
    import errno

    from block_crawler_spark.streaming import commit

    flip = commit.write_pointer
    armed: list[bool] = []

    def write_pointer(path: str, text: str) -> None:
        if armed:
            armed.clear()
            raise OSError(errno.EIO, f"killed before flipping {os.path.basename(path)}")
        flip(path, text)

    monkeypatch.setattr(commit, "write_pointer", write_pointer)
    return lambda: armed.append(True)
