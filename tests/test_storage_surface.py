"""Every public ``MieStore`` method has a caller in the program.

The store's surface is what the agent tools, the CLI, the streaming
sinks and the benchmark call; a public method that only tests call is
dead weight that every change to the commit protocol must still carry.
"""

from __future__ import annotations

import os

from mie_spark.storage import MieStore

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _program_sources() -> str:
    texts = []
    for sub in ("mie_spark", "perfbench"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, sub)):
            for f in files:
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f)) as fh:
                        texts.append(fh.read())
    return "\n".join(texts)


def test_every_public_store_method_has_a_caller():
    source = _program_sources()
    public = sorted(
        name for name, v in vars(MieStore).items()
        if not name.startswith("_") and callable(v)
    )
    assert "atomic_upsert_rows" in public
    uncalled = [name for name in public if f".{name}(" not in source]
    assert uncalled == []
