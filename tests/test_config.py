"""Config discovery tests, mirroring cmd/mie/config_test.go: defaults,
env overrides, YAML round-trip, invalid version, path helpers, and the
walk-up search the Go tests exercise via findConfigFile."""

from __future__ import annotations

import os

import pytest

from mie_spark.config import (
    CONFIG_VERSION,
    Config,
    config_path,
    default_config,
    find_config_file,
    load_config,
    resolve_storage_path,
    save_config,
)

_ENV_KEYS = [
    "MIE_CONFIG_PATH",
    "MIE_STORAGE_ENGINE",
    "MIE_STORAGE_PATH",
    "MIE_EMBEDDING_ENABLED",
    "MIE_EMBEDDING_PROVIDER",
    "OLLAMA_HOST",
    "OLLAMA_EMBED_MODEL",
    "OPENAI_API_KEY",
    "NOMIC_API_KEY",
]


@pytest.fixture(autouse=True)
def clean_env(monkeypatch):
    for k in _ENV_KEYS:
        monkeypatch.delenv(k, raising=False)


def test_default_config():
    cfg = default_config()
    assert cfg.version == CONFIG_VERSION
    assert cfg.storage.engine == "parquet"
    assert cfg.embedding.enabled is True
    assert cfg.embedding.provider == "mock"
    assert cfg.embedding.dimensions == 768


def test_yaml_roundtrip(tmp_path):
    cfg = default_config()
    cfg.storage.path = "/data/mie"
    cfg.embedding.provider = "nomic"
    p = config_path(str(tmp_path))
    save_config(cfg, p)
    loaded = load_config(p)
    assert loaded.storage.path == "/data/mie"
    assert loaded.embedding.provider == "nomic"
    assert loaded.version == CONFIG_VERSION


def test_invalid_version_rejected(tmp_path):
    p = config_path(str(tmp_path))
    cfg = default_config()
    cfg.version = "999"
    save_config(cfg, p)
    with pytest.raises(ValueError, match="unsupported config version"):
        load_config(p)


def test_env_overrides(tmp_path, monkeypatch):
    p = config_path(str(tmp_path))
    save_config(default_config(), p)
    monkeypatch.setenv("MIE_STORAGE_ENGINE", "mem")
    monkeypatch.setenv("MIE_EMBEDDING_PROVIDER", "openai")
    monkeypatch.setenv("MIE_EMBEDDING_ENABLED", "false")
    cfg = load_config(p)
    assert cfg.storage.engine == "mem"
    assert cfg.embedding.provider == "openai"
    assert cfg.embedding.enabled is False


def test_api_key_implies_provider(tmp_path, monkeypatch):
    """OPENAI_API_KEY / NOMIC_API_KEY flip an ollama-default provider
    (config.go:232-244)."""
    p = config_path(str(tmp_path))
    cfg = default_config()
    cfg.embedding.provider = "ollama"
    save_config(cfg, p)
    monkeypatch.setenv("NOMIC_API_KEY", "nk")
    loaded = load_config(p)
    assert loaded.embedding.provider == "nomic"
    assert loaded.embedding.api_key == "nk"


def test_reference_engine_aliases(tmp_path):
    """An existing .mie/config.yaml written for the reference (engine:
    rocksdb/sqlite) keeps working: both map to the parquet engine."""
    p = config_path(str(tmp_path))
    cfg = default_config()
    cfg.storage.engine = "rocksdb"
    save_config(cfg, p)
    assert load_config(p).storage.engine == "parquet"


def test_unknown_engine_rejected(tmp_path):
    p = config_path(str(tmp_path))
    cfg = default_config()
    cfg.storage.engine = "cassette-tape"
    save_config(cfg, p)
    with pytest.raises(ValueError, match="unsupported storage engine"):
        load_config(p)


def test_walk_up_discovery(tmp_path):
    """config.go:179-207: a config two levels up is found from a nested
    working directory."""
    save_config(default_config(), config_path(str(tmp_path)))
    nested = tmp_path / "a" / "b"
    nested.mkdir(parents=True)
    found = find_config_file(start_dir=str(nested))
    assert found == config_path(str(tmp_path))
    assert load_config(start_dir=str(nested)).version == CONFIG_VERSION


def test_no_config_anywhere_is_an_error(tmp_path):
    with pytest.raises(FileNotFoundError, match="no .mie/config.yaml"):
        find_config_file(start_dir=str(tmp_path))


def test_config_path_env_override(tmp_path, monkeypatch):
    p = str(tmp_path / "elsewhere.yaml")
    save_config(default_config(), p)
    monkeypatch.setenv("MIE_CONFIG_PATH", p)
    assert find_config_file(start_dir="/") == p
    missing = str(tmp_path / "nope.yaml")
    monkeypatch.setenv("MIE_CONFIG_PATH", missing)
    with pytest.raises(FileNotFoundError, match="does not exist"):
        find_config_file(start_dir="/")


def test_resolve_storage_path():
    cfg = Config()
    cfg.storage.engine = "mem"
    assert resolve_storage_path(cfg) is None
    cfg.storage.engine = "parquet"
    cfg.storage.path = "/x/y"
    assert resolve_storage_path(cfg) == "/x/y"
    cfg.storage.path = ""
    assert resolve_storage_path(cfg).endswith(os.path.join(".mie", "data", "default"))


def test_client_from_config(spark, tmp_path, monkeypatch):
    from mie_spark.api import MieClient

    cfg = default_config()
    cfg.storage.engine = "mem"
    cfg.embedding.dimensions = 4
    save_config(cfg, config_path(str(tmp_path)))
    monkeypatch.setenv("MIE_CONFIG_PATH", config_path(str(tmp_path)))
    c = MieClient.from_config(spark)
    fid = c.store_fact("configured fact", "general")
    assert c.get_node_by_id(fid)["content"] == "configured fact"


def test_api_key_flips_mock_default_but_not_explicit_choice(
    tmp_path, monkeypatch
):
    """NOMIC_API_KEY against an init-written (mock-default) config must
    select nomic, but never override an explicit
    MIE_EMBEDDING_PROVIDER."""
    p = config_path(str(tmp_path))
    save_config(default_config(), p)  # provider: mock
    monkeypatch.setenv("NOMIC_API_KEY", "nk")
    assert load_config(p).embedding.provider == "nomic"
    monkeypatch.setenv("MIE_EMBEDDING_PROVIDER", "mock")
    assert load_config(p).embedding.provider == "mock"


def test_env_key_binds_only_to_its_own_provider(tmp_path, monkeypatch):
    """A stray NOMIC_API_KEY in the shell must not replace the api_key
    of a config that explicitly selects openai (cross-provider
    credential leakage); each env key binds only when its provider is
    the effective one."""
    cfg = default_config()
    cfg.embedding.provider = "openai"
    cfg.embedding.api_key = "sk-openai"
    p = config_path(str(tmp_path))
    save_config(cfg, p)

    monkeypatch.setenv("NOMIC_API_KEY", "nk-nomic")
    loaded = load_config(p)
    assert loaded.embedding.provider == "openai"
    assert loaded.embedding.api_key == "sk-openai"  # NOT the nomic key

    monkeypatch.setenv("OPENAI_API_KEY", "sk-env")
    loaded = load_config(p)
    assert loaded.embedding.provider == "openai"
    assert loaded.embedding.api_key == "sk-env"  # matching key does bind


def test_corrupt_yaml_raises_value_error(tmp_path):
    """yaml parse failures surface as the documented ValueError, so
    cli._load_cfg's fallback-to-defaults path (status.go:65-69 parity)
    catches them instead of crashing on a raw parser traceback."""
    import pytest

    p = config_path(str(tmp_path))
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as fh:
        fh.write("{[not yaml")
    with pytest.raises(ValueError):
        load_config(p)
