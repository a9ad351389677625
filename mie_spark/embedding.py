"""Embedding providers feeding the vector layer.

Provider interface parity with the reference (pkg/memory/embedding.go):
`embed(texts)` for documents, `embed_query(text)` for queries (nomic
distinguishes `search_document:` / `search_query:` prefixes,
embedding.go:189-204). All outputs are L2-normalized
(embedding.go:481-502) so dot product == cosine similarity downstream.

MockEmbeddingProvider reproduces the reference's deterministic test
mock bit-compatibly (embedding.go:130-146): djb2 over unicode
codepoints with uint64 wraparound, val_i = ((hash + i·7919) % 10000) /
10000 · 2 − 1, then normalize. Reproducing it exactly keeps similarity
*rankings* comparable across the two engines' test suites.

HTTP providers (Ollama/OpenAI/Nomic) carry retry with exponential
backoff + jitter (embedding.go:74-100); they require network and are
exercised only when their endpoint env vars are set.
"""

from __future__ import annotations

import json
import math
import operator
import os
import random
import time
import urllib.request
from dataclasses import dataclass

import numpy as np

_U64 = (1 << 64) - 1


def make_worker_embed(dimension: int):
    """Return a self-contained closure computing the mock embedding —
    the ONE definition executor-side UDFs ship BY VALUE (cloudpickle
    serializes a closure with its code and cells; a module-level
    function would pickle as an import reference, which breaks when
    workers don't have this package on their path). Both worker-side
    copies of the mock (streaming ingest, v_embed_corpus) build from
    here, and a test pins this closure bit-equal to
    MockEmbeddingProvider so the digest/oracle checks can never drift
    between driver and workers."""
    u64 = _U64

    def embed(text: str) -> list[float]:
        import math as _math

        h = 5381
        for ch in text:
            h = (((h << 5) & u64) + h + ord(ch)) & u64
        # & u64 before % 10000: uint64 wrap first (2^64 % 10000 != 0)
        vec = [
            float(((h + i * 7919) & u64) % 10000) / 10000.0 * 2.0 - 1.0
            for i in range(dimension)
        ]
        n = _math.sqrt(sum(x * x for x in vec)) or 1.0
        return [x / n for x in vec]

    return embed


def _normalize(vec: list[float]) -> list[float]:
    norm = math.sqrt(sum(x * x for x in vec))
    if norm == 0:
        return vec
    return [x / norm for x in vec]


class MockEmbeddingProvider:
    """Deterministic hash-based embeddings for tests; no I/O."""

    def __init__(self, dimension: int = 4):
        self.dimension = dimension
        self._steps = np.arange(dimension, dtype=np.uint64) * np.uint64(7919)

    @staticmethod
    def _hash(text: str) -> int:
        h = 5381
        for ch in text:
            h = (((h << 5) & _U64) + h + ord(ch)) & _U64
        return h

    def _deterministic(self, text: str) -> list[float]:
        h = np.uint64(self._hash(text))
        # uint64 arithmetic wraps h + i*7919 mod 2^64 BEFORE % 10000,
        # as Go's does (2^64 % 10000 = 7616 ≠ 0, so skipping the wrap
        # diverges from the reference mock for hashes within ~dim*7919
        # of 2^64); the float steps run in the scalar formula's order
        vals = ((h + self._steps) % np.uint64(10000)).astype(np.float64)
        vals = vals / 10000.0 * 2.0 - 1.0
        vec = vals.tolist()
        # a sequential sum, as _normalize's: numpy's pairwise sum can
        # differ in the last ulp
        norm = math.sqrt(sum(map(operator.mul, vec, vec)))
        return (vals / norm).tolist() if norm else vec

    def embed(self, texts: list[str]) -> list[list[float]]:
        return [self._deterministic(t) for t in texts]

    def embed_query(self, text: str) -> list[float]:
        return self._deterministic(text)


def _retry(fn, attempts: int = 3, base_delay: float = 0.5):
    """Exponential backoff with jitter (embedding.go:74-100)."""
    last: Exception | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — provider errors are opaque
            last = exc
            if attempt < attempts - 1:
                time.sleep(base_delay * (2**attempt) * (1 + random.random() * 0.25))
    raise last  # type: ignore[misc]


def _http_json(url: str, payload: dict, headers: dict[str, str]) -> dict:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json", **headers},
    )
    with urllib.request.urlopen(req, timeout=60) as resp:  # noqa: S310
        return json.loads(resp.read().decode("utf-8"))


@dataclass
class OllamaEmbeddingProvider:
    """Local Ollama /api/embeddings endpoint."""

    model: str = "nomic-embed-text"
    base_url: str = os.environ.get("OLLAMA_HOST", "http://localhost:11434")
    doc_prefix: str = "search_document: "
    query_prefix: str = "search_query: "

    def _one(self, text: str) -> list[float]:
        out = _retry(
            lambda: _http_json(
                f"{self.base_url}/api/embeddings",
                {"model": self.model, "prompt": text},
                {},
            )
        )
        return _normalize([float(x) for x in out["embedding"]])

    def embed(self, texts: list[str]) -> list[list[float]]:
        return [self._one(self.doc_prefix + t) for t in texts]

    def embed_query(self, text: str) -> list[float]:
        return self._one(self.query_prefix + text)


@dataclass
class OpenAIEmbeddingProvider:
    """OpenAI-compatible /v1/embeddings endpoint (1536-dim default)."""

    model: str = "text-embedding-3-small"
    base_url: str = os.environ.get("OPENAI_BASE_URL", "https://api.openai.com/v1")
    api_key: str = os.environ.get("OPENAI_API_KEY", "")

    def embed(self, texts: list[str]) -> list[list[float]]:
        out = _retry(
            lambda: _http_json(
                f"{self.base_url}/embeddings",
                {"model": self.model, "input": texts},
                {"Authorization": f"Bearer {self.api_key}"},
            )
        )
        rows = sorted(out["data"], key=lambda d: d["index"])
        return [_normalize([float(x) for x in r["embedding"]]) for r in rows]

    def embed_query(self, text: str) -> list[float]:
        return self.embed([text])[0]


@dataclass
class NomicEmbeddingProvider:
    """Nomic Atlas `/embedding/text` endpoint (embedding.go:372-476).

    Wire shape: POST {base_url}/embedding/text with
    ``{"texts": [...], "model": ..., "task_type": ...}`` under Bearer
    auth; response ``{"embeddings": [[...], ...]}``; errors carry a
    ``detail`` field. The reference distinguishes documents from
    queries via ``task_type`` ("search_document" / "search_query",
    embedding.go:411-419) rather than the prompt prefixes the Ollama
    path uses. Unlike the reference (one text per request), ``embed``
    ships the whole batch in a single call — the API field is a list,
    and per-text round-trips would dominate at corpus scale.
    """

    api_key: str = ""
    model: str = "nomic-embed-text-v1.5"
    base_url: str = "https://api-atlas.nomic.ai/v1"

    def __post_init__(self) -> None:
        if not self.api_key:
            self.api_key = os.environ.get("NOMIC_API_KEY", "")
        if not self.api_key:
            # parity with CreateEmbeddingProvider: key is mandatory
            raise ValueError("api_key is required for nomic provider")

    def _call(self, texts: list[str], task_type: str) -> list[list[float]]:
        out = _retry(
            lambda: _http_json(
                f"{self.base_url}/embedding/text",
                {"texts": texts, "model": self.model, "task_type": task_type},
                {"Authorization": f"Bearer {self.api_key}"},
            )
        )
        embeddings = out.get("embeddings") or []
        if len(embeddings) != len(texts):
            raise ValueError(
                f"nomic returned {len(embeddings)} embeddings for {len(texts)} texts"
            )
        return [_normalize([float(x) for x in e]) for e in embeddings]

    def embed(self, texts: list[str]) -> list[list[float]]:
        return self._call(texts, "search_document")

    def embed_query(self, text: str) -> list[float]:
        return self._call([text], "search_query")[0]

