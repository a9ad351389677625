"""ID kernel tests, modeled on pkg/memory/ids_test.go:11-75."""

from __future__ import annotations

import hashlib

from mie_spark import ids


def test_generate_id_shape():
    out = ids.generate_id("fact", "a", "b")
    prefix, digest = out.split(":")
    assert prefix == "fact"
    assert len(digest) == 16
    assert digest == hashlib.sha256(b"a|b").hexdigest()[:16]


def test_deterministic_and_distinct():
    assert ids.fact_id("x", "general") == ids.fact_id("x", "general")
    assert ids.fact_id("x", "general") != ids.fact_id("x", "technical")
    assert ids.fact_id("x", "general") != ids.fact_id("y", "general")


def test_case_insensitive_entity_topic():
    assert ids.entity_id("PostgreSQL", "technology") == ids.entity_id(
        "postgresql", "technology"
    )
    assert ids.topic_id("Databases") == ids.topic_id("databases")


def test_prefixes_dispatch():
    assert ids.node_type_of(ids.fact_id("c", "general")) == "mie_fact"
    assert ids.node_type_of(ids.decision_id("t", "r")) == "mie_decision"
    assert ids.node_type_of(ids.entity_id("n", "other")) == "mie_entity"
    assert ids.node_type_of(ids.event_id("t", "2026-01-01")) == "mie_event"
    assert ids.node_type_of(ids.topic_id("n")) == "mie_topic"


def test_mock_embedding_deterministic():
    from mie_spark.embedding import MockEmbeddingProvider

    p = MockEmbeddingProvider(4)
    a = p.embed(["hello"])[0]
    b = p.embed_query("hello")
    assert a == b
    assert len(a) == 4
    # unit norm
    assert abs(sum(x * x for x in a) - 1.0) < 1e-6
    # djb2 reference value: hash("") == 5381
    assert MockEmbeddingProvider._hash("") == 5381
    # uint64 wraparound stays in range for long inputs
    assert MockEmbeddingProvider._hash("x" * 10_000) < (1 << 64)

