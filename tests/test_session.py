"""Session env parsing: a bad env value fails before Spark starts."""

from __future__ import annotations

import pytest

from block_crawler_spark.session import env_flag


@pytest.mark.parametrize(
    "raw, want",
    [("1", "true"), ("true", "true"), ("YES", "true"), (" True ", "true"),
     ("0", "false"), ("false", "false"), ("No", "false")],
)
def test_env_flag_normalises_spellings(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", raw)
    assert env_flag("SPARK_GRAFT_PREFER_SMJ", False) == want


def test_env_flag_default_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PREFER_SMJ", raising=False)
    assert env_flag("SPARK_GRAFT_PREFER_SMJ", False) == "false"
    assert env_flag("SPARK_GRAFT_PREFER_SMJ", True) == "true"


@pytest.mark.parametrize("raw", ["", "2", "on", "flase"])
def test_env_flag_rejects_other_values_naming_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_PREFER_SMJ"):
        env_flag("SPARK_GRAFT_PREFER_SMJ", False)
