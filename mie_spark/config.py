"""Config discovery: `.mie/config.yaml` walk-up with env overrides.

Parity with the reference CLI's config plane (cmd/mie/config.go:74-245):
a YAML file found by walking from the working directory up to the
filesystem root (or pointed at directly via MIE_CONFIG_PATH), version-
checked, then overlaid with environment variables so a deployment can
tweak one knob without editing the file. The struct shape and env names
match the reference; the engine names map to THIS engine's storage
plane, which is one engine (versioned parquet snapshots, storage.py)
in two lifetimes — ``parquet`` keeps them in the configured directory,
``mem`` in a throwaway temp directory removed at exit. The reference's
``sqlite``/``rocksdb`` names are accepted as aliases of ``parquet`` so
an existing config file keeps working after a switch.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, field

CONFIG_DIR = ".mie"
CONFIG_FILE = "config.yaml"
CONFIG_VERSION = "1"

# reference engine names an existing .mie/config.yaml may carry
_ENGINE_ALIASES = {"sqlite": "parquet", "rocksdb": "parquet"}
_VALID_ENGINES = ("mem", "parquet")


@dataclass
class StorageConfig:
    engine: str = "parquet"
    path: str = ""  # resolved at runtime to ~/.mie/data/default/


@dataclass
class EmbeddingConfig:
    enabled: bool = True
    provider: str = "mock"
    base_url: str = ""
    model: str = ""
    dimensions: int = 768
    api_key: str = ""
    workers: int = 4


@dataclass
class Config:
    version: str = CONFIG_VERSION
    storage: StorageConfig = field(default_factory=StorageConfig)
    embedding: EmbeddingConfig = field(default_factory=EmbeddingConfig)


def default_config() -> Config:
    """Defaults for local development (config.go:49-66)."""
    return Config(
        embedding=EmbeddingConfig(
            enabled=True,
            provider="mock",
            base_url=os.environ.get("OLLAMA_HOST", "http://localhost:11434"),
            model=os.environ.get("OLLAMA_EMBED_MODEL", "nomic-embed-text"),
            dimensions=768,
            workers=4,
        )
    )


def config_path(directory: str) -> str:
    """<dir>/.mie/config.yaml (config.go:140-142)."""
    return os.path.join(directory, CONFIG_DIR, CONFIG_FILE)


def find_config_file(start_dir: str | None = None) -> str:
    """Walk from start_dir (default cwd) to the filesystem root looking
    for .mie/config.yaml (config.go:179-207). MIE_CONFIG_PATH short-
    circuits the walk; pointing it at a missing file is an error, not a
    silent fallback."""
    env_path = os.environ.get("MIE_CONFIG_PATH")
    if env_path:
        if os.path.exists(env_path):
            return env_path
        raise FileNotFoundError(
            f"MIE_CONFIG_PATH is set to {env_path!r} but the file does not exist"
        )
    directory = os.path.abspath(start_dir or os.getcwd())
    while True:
        candidate = config_path(directory)
        if os.path.exists(candidate):
            return candidate
        parent = os.path.dirname(directory)
        if parent == directory:
            break
        directory = parent
    raise FileNotFoundError(
        "no .mie/config.yaml found in current directory or any parent "
        "directory; create one with save_config(default_config(), path)"
    )


def _apply_env_overrides(cfg: Config) -> None:
    """Env-over-file precedence (config.go:209-245). OPENAI_API_KEY /
    NOMIC_API_KEY also flip the provider when it is still the ollama
    default, matching the reference's convenience behavior."""
    env = os.environ
    if v := env.get("MIE_STORAGE_ENGINE"):
        cfg.storage.engine = v
    if v := env.get("MIE_STORAGE_PATH"):
        cfg.storage.path = v
    if v := env.get("MIE_EMBEDDING_ENABLED"):
        cfg.embedding.enabled = v.lower() == "true" or v == "1"
    if v := env.get("MIE_EMBEDDING_PROVIDER"):
        cfg.embedding.provider = v
    if v := env.get("OLLAMA_HOST"):
        cfg.embedding.base_url = v
    if v := env.get("OLLAMA_EMBED_MODEL"):
        cfg.embedding.model = v
    # API keys imply their provider unless one was explicitly chosen
    # via MIE_EMBEDDING_PROVIDER. The reference only flips from its
    # "ollama" default (config.go:232-244); this engine's default is
    # "mock", so both defaults flip — otherwise setting NOMIC_API_KEY
    # against an `init`-written config would silently keep writing mock
    # embeddings.
    explicit = bool(env.get("MIE_EMBEDDING_PROVIDER"))
    openai_key = env.get("OPENAI_API_KEY")
    nomic_key = env.get("NOMIC_API_KEY")
    if openai_key and not explicit and cfg.embedding.provider in ("ollama", "mock"):
        cfg.embedding.provider = "openai"
    if nomic_key and not explicit and cfg.embedding.provider in ("ollama", "mock"):
        cfg.embedding.provider = "nomic"
    # Bind a credential ONLY to its own provider: a stray NOMIC_API_KEY
    # in the shell must never replace the api_key of a config that
    # explicitly selects openai (or vice versa) — that would POST the
    # wrong vendor's secret to the other vendor's endpoint.
    if openai_key and cfg.embedding.provider == "openai":
        cfg.embedding.api_key = openai_key
    if nomic_key and cfg.embedding.provider == "nomic":
        cfg.embedding.api_key = nomic_key


def validate_config(cfg: Config) -> None:
    """Engine whitelist (config.go:111-119), after alias mapping."""
    cfg.storage.engine = _ENGINE_ALIASES.get(
        cfg.storage.engine, cfg.storage.engine
    )
    if cfg.storage.engine not in _VALID_ENGINES:
        raise ValueError(
            f"unsupported storage engine {cfg.storage.engine!r} "
            f"(supported: {', '.join(_VALID_ENGINES)}; reference aliases: "
            f"{', '.join(sorted(_ENGINE_ALIASES))})"
        )


def load_config(path: str | None = None, start_dir: str | None = None) -> Config:
    """Load, version-check, env-override, validate (config.go:74-107)."""
    import yaml

    if not path:
        path = os.environ.get("MIE_CONFIG_PATH") or find_config_file(start_dir)
    try:
        with open(path) as fh:
            raw = yaml.safe_load(fh) or {}
    except OSError as exc:
        raise FileNotFoundError(f"cannot read config file {path}: {exc}") from exc
    except yaml.YAMLError as exc:
        # yaml.YAMLError is NOT a ValueError subclass; without this
        # wrap, a corrupt file escapes the documented "raises
        # ValueError on invalid config" contract and every caller's
        # fallback-to-defaults path (cli._load_cfg, status parity with
        # status.go:65-69) breaks on a raw parser traceback.
        raise ValueError(f"invalid YAML in config file {path}: {exc}") from exc
    if not isinstance(raw, dict):
        raise ValueError(f"invalid config format in {path}: not a mapping")

    version = str(raw.get("version", ""))
    if version != CONFIG_VERSION:
        raise ValueError(
            f"unsupported config version {version!r} (expected {CONFIG_VERSION!r})"
        )
    storage = raw.get("storage") or {}
    embedding = raw.get("embedding") or {}
    cfg = Config(
        version=version,
        storage=StorageConfig(
            engine=str(storage.get("engine", "parquet")),
            path=str(storage.get("path", "") or ""),
        ),
        embedding=EmbeddingConfig(
            enabled=bool(embedding.get("enabled", True)),
            provider=str(embedding.get("provider", "mock")),
            base_url=str(embedding.get("base_url", "") or ""),
            model=str(embedding.get("model", "") or ""),
            dimensions=int(embedding.get("dimensions", 768)),
            api_key=str(embedding.get("api_key", "") or ""),
            workers=int(embedding.get("workers", 4)),
        ),
    )
    _apply_env_overrides(cfg)
    validate_config(cfg)
    return cfg


def save_config(cfg: Config, path: str) -> None:
    """YAML write with parent-dir create (config.go:122-138)."""
    import yaml

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        yaml.safe_dump(asdict(cfg), fh, sort_keys=False)


def default_data_dir() -> str:
    """~/.mie/data/default (config.go:144-151)."""
    return os.path.join(os.path.expanduser("~"), ".mie", "data", "default")


def resolve_storage_path(cfg: Config) -> str | None:
    """Effective MieStore path: None (``mem``) opens an ephemeral store
    on a temp directory removed at exit; otherwise the configured (or
    default) snapshot directory (config.go:162-176)."""
    if cfg.storage.engine == "mem":
        return None
    return cfg.storage.path or default_data_dir()
