"""Deterministic content-hash identity.

Parity with the reference (pkg/memory/ids.go:16-47):
    GenerateID(prefix, fields...) = prefix + ":" + hex(sha256(join(fields, "|")))[:16]
Entity and topic names are lowercased before hashing (case-insensitive
dedup); prefixes double as type tags for dispatch (`fact:` `dec:` `ent:`
`evt:` `top:`, reader.go:310-325).

Same content ⇒ same ID ⇒ upsert gives idempotent, dedup-by-construction
writes.

KNOWN reference-inherited semantics (kept for parity — the content-hash
idempotency story depends on byte-identical IDs): the field separator
`|` is NOT escaped, exactly as in the reference's
``strings.Join(fields, "|")`` (ids.go:16-20). Fields that themselves
contain `|` can therefore collide under permutation or re-splitting —
e.g. ``generate_id("fact", "", "|") == generate_id("fact", "|", "")``
(both join to ``"||"``). This is the same class of inherited quirk as
the threshold comparison in SURVEY §2.10: documented, tested at the
boundary, deliberately not "fixed".

Plain Python: every write path derives its ids on the driver.
"""

from __future__ import annotations

import hashlib

PREFIXES = ("fact", "dec", "ent", "evt", "top")


def generate_id(prefix: str, *fields: str) -> str:
    digest = hashlib.sha256("|".join(fields).encode("utf-8")).hexdigest()
    return f"{prefix}:{digest[:16]}"


def fact_id(content: str, category: str) -> str:
    return generate_id("fact", content, category)


def decision_id(title: str, rationale: str) -> str:
    return generate_id("dec", title, rationale)


def entity_id(name: str, kind: str) -> str:
    return generate_id("ent", name.lower(), kind)


def event_id(title: str, event_date: str) -> str:
    return generate_id("evt", title, event_date)


def topic_id(name: str) -> str:
    return generate_id("top", name.lower())


def node_type_of(node_id: str) -> str:
    """Prefix-dispatch (writer.go:409-425): `fact:` is 5 chars, the rest 4."""
    for prefix, table in (
        ("fact:", "mie_fact"),
        ("dec:", "mie_decision"),
        ("ent:", "mie_entity"),
        ("evt:", "mie_event"),
        ("top:", "mie_topic"),
    ):
        if node_id.startswith(prefix):
            return table
    raise ValueError(f"unrecognized node id prefix: {node_id!r}")
