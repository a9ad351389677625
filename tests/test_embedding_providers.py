"""HTTP embedding providers, exercised against a mocked transport.

Reference analog: pkg/memory/embedding_test.go — request shaping
(nomic task_type vs ollama prompt prefixes), error surfaces, and L2
normalization of whatever the API returns. Provider selection is
tested in tests/test_config.py.
"""

from __future__ import annotations

import json
import math

import pytest

import mie_spark.embedding as emb
from mie_spark.embedding import (
    MockEmbeddingProvider,
    NomicEmbeddingProvider,
    OllamaEmbeddingProvider,
)


class _FakeHTTP:
    """Captures (url, payload, headers) and returns canned responses."""

    def __init__(self, responses):
        self.responses = list(responses)
        self.calls = []

    def __call__(self, url, payload, headers):
        self.calls.append((url, payload, headers))
        r = self.responses.pop(0)
        if isinstance(r, Exception):
            raise r
        return r


@pytest.fixture
def no_sleep(monkeypatch):
    monkeypatch.setattr(emb.time, "sleep", lambda _: None)


def test_nomic_requires_api_key(monkeypatch):
    monkeypatch.delenv("NOMIC_API_KEY", raising=False)
    with pytest.raises(ValueError, match="api_key is required"):
        NomicEmbeddingProvider()


def test_nomic_embed_batches_and_sets_task_type(monkeypatch):
    fake = _FakeHTTP(
        [{"embeddings": [[3.0, 4.0], [0.0, 2.0]]}, {"embeddings": [[1.0, 0.0]]}]
    )
    monkeypatch.setattr(emb, "_http_json", fake)
    p = NomicEmbeddingProvider(api_key="k")

    vecs = p.embed(["alpha", "beta"])
    q = p.embed_query("gamma")

    url, payload, headers = fake.calls[0]
    assert url == "https://api-atlas.nomic.ai/v1/embedding/text"
    assert payload == {
        "texts": ["alpha", "beta"],
        "model": "nomic-embed-text-v1.5",
        "task_type": "search_document",
    }
    assert headers["Authorization"] == "Bearer k"
    assert fake.calls[1][1]["task_type"] == "search_query"
    # L2-normalized outputs (embedding.go normalizeEmbedding parity)
    assert vecs[0] == pytest.approx([0.6, 0.8])
    assert vecs[1] == pytest.approx([0.0, 1.0])
    assert math.hypot(*q) == pytest.approx(1.0)


def test_nomic_count_mismatch_is_an_error(monkeypatch, no_sleep):
    monkeypatch.setattr(
        emb, "_http_json", _FakeHTTP([{"embeddings": [[1.0, 0.0]]}] * 3)
    )
    p = NomicEmbeddingProvider(api_key="k")
    with pytest.raises(ValueError, match="1 embeddings for 2 texts"):
        p.embed(["a", "b"])


def test_nomic_retries_then_succeeds(monkeypatch, no_sleep):
    fake = _FakeHTTP(
        [OSError("boom"), OSError("boom"), {"embeddings": [[0.0, 5.0]]}]
    )
    monkeypatch.setattr(emb, "_http_json", fake)
    p = NomicEmbeddingProvider(api_key="k")
    assert p.embed(["a"]) == [pytest.approx([0.0, 1.0])]
    assert len(fake.calls) == 3


def test_nomic_retry_exhaustion_raises(monkeypatch, no_sleep):
    monkeypatch.setattr(emb, "_http_json", _FakeHTTP([OSError("down")] * 3))
    p = NomicEmbeddingProvider(api_key="k")
    with pytest.raises(OSError, match="down"):
        p.embed_query("q")


def test_ollama_prefixes_documents_and_queries(monkeypatch):
    fake = _FakeHTTP([{"embedding": [2.0, 0.0]}, {"embedding": [0.0, 3.0]}])
    monkeypatch.setattr(emb, "_http_json", fake)
    p = OllamaEmbeddingProvider()
    p.embed(["doc text"])
    p.embed_query("query text")
    assert fake.calls[0][1]["prompt"] == "search_document: doc text"
    assert fake.calls[1][1]["prompt"] == "search_query: query text"


def test_payloads_are_json_serializable(monkeypatch):
    # the transport json.dumps the payload; ensure nothing exotic leaks in
    fake = _FakeHTTP([{"embeddings": [[1.0, 0.0]]}])
    monkeypatch.setattr(
        emb,
        "_http_json",
        lambda url, payload, headers: fake(url, json.loads(json.dumps(payload)), headers),
    )
    NomicEmbeddingProvider(api_key="k").embed(["x"])


def test_mock_wraps_uint64_before_bucketing(monkeypatch):
    """Go's uint64 arithmetic wraps hash + i*7919 mod 2^64 BEFORE the
    % 10000 bucket, and 2^64 % 10000 = 7616 — so for hashes near 2^64
    the wrap changes the bucket. Pin the wrapped semantics with a
    forced near-overflow hash."""
    from mie_spark.embedding import MockEmbeddingProvider

    p = MockEmbeddingProvider(dimension=4)
    h = (1 << 64) - 100  # h + 1*7919 overflows 64 bits
    monkeypatch.setattr(MockEmbeddingProvider, "_hash", staticmethod(lambda _: h))
    vec = p.embed_query("anything")
    raw = [(((h + i * 7919) % (1 << 64)) % 10000) / 10000.0 * 2.0 - 1.0 for i in range(4)]
    import math

    n = math.sqrt(sum(x * x for x in raw))
    expected = [x / n for x in raw]
    assert vec == expected
    # and the wrap genuinely matters for this hash: the unwrapped value
    # would land in a different bucket for i >= 1
    assert ((h + 7919) % 10000) != (((h + 7919) % (1 << 64)) % 10000)


def test_worker_embed_factory_matches_provider():
    """make_worker_embed (the one definition every executor-shipped
    mock closure builds from) must stay bit-equal to
    MockEmbeddingProvider for any dimension."""
    from mie_spark.embedding import MockEmbeddingProvider, make_worker_embed

    for dim in (4, 8, 768):
        p = MockEmbeddingProvider(dim)
        w = make_worker_embed(dim)
        for text in ("", "hello world", "日本語", "x" * 500):
            assert w(text) == p.embed_query(text)


def _scalar_mock(h: int, dim: int) -> list[float]:
    """The reference mock's formula one element at a time: Python ints
    wrapped to uint64, then a sequential norm."""
    u64 = (1 << 64) - 1
    vec = [float(((h + i * 7919) & u64) % 10000) / 10000.0 * 2.0 - 1.0 for i in range(dim)]
    n = math.sqrt(sum(x * x for x in vec))
    return [x / n for x in vec] if n else vec


def test_mock_matches_scalar_formula_bit_for_bit(monkeypatch):
    """The numpy mock equals the scalar formula exactly: on 3,002 texts
    (ASCII, non-ASCII, empty, long) and on hashes within 768 * 7919 of
    2^64, where the uint64 wrap lands inside the vector."""
    import random

    rng = random.Random(17)
    alphabet = "abc XYZ 019 é日本😀\n"
    texts = ["", "x" * 5000] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 60)))
        for _ in range(3000)
    ]
    p = MockEmbeddingProvider(768)
    assert p.embed(texts) == [_scalar_mock(p._hash(t), 768) for t in texts]

    top = 1 << 64
    hashes = [top - 1, top - 7919, top - 7920, top - 768 * 7919, top - 768 * 7919 + 1]
    hashes += [rng.randrange(top - 768 * 7919, top) for _ in range(20)]
    for h in hashes:
        monkeypatch.setattr(MockEmbeddingProvider, "_hash", staticmethod(lambda _, h=h: h))
        for dim in (4, 768):
            assert MockEmbeddingProvider(dim).embed_query("t") == _scalar_mock(h, dim), h
