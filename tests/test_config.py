from __future__ import annotations

from trackdechets_etl_spark.config import EngineConfig


def test_from_env_and_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_JDBC_URL", "jdbc:postgresql://db/x")
    monkeypatch.setenv("SPARK_GRAFT_DATA_DIR", "/from/env")
    cfg = EngineConfig.from_env(data_dir="/data/out")
    assert cfg.jdbc_url == "jdbc:postgresql://db/x"
    assert cfg.data_dir == "/data/out"
    # defaults survive
    assert cfg.datagouv_api_url == ""


def test_immutable_no_side_channel():
    """The reference's Variable.set mid-pipeline side channel has no
    equivalent: the config is frozen."""
    import pytest

    cfg = EngineConfig()
    with pytest.raises(Exception):
        cfg.jdbc_url = "mutated"


def test_jdbc_properties():
    cfg = EngineConfig(jdbc_user="u", jdbc_password="p")
    assert cfg.jdbc_properties() == {"user": "u", "password": "p"}
    assert EngineConfig().jdbc_properties() == {}
