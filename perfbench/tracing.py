"""Span tracer for the traced (``--trace 1``) run.

The tracer wraps the program's public functions where their callers
resolve them: methods on the ``MieStore`` / ``MieClient`` /
embedding-provider classes, and module-level functions at every
``mie_spark`` module that imported them by name. Nothing inside the
program changes; ``install`` returns a function that restores every
original binding.

Each span records name, layer, start, end, parent span and the op id of
the benchmark operation that caused it. Spans stay in memory and are
written out when the run ends. A span's *layer self time* is its
duration minus the part covered by descendants of OTHER layers (nested
spans of the same layer count as its own time), so summing it per layer
attributes every traced second to exactly one layer.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from typing import Any, Callable

# (module, layer) for module-level functions wrapped at their import sites
MODULE_LAYERS = (
    ("mie_spark.api.tools", "api"),
    ("mie_spark.sources.catalog", "sources"),
    ("mie_spark.streaming.ops", "streaming"),
    ("mie_spark.operators.vector", "operators.vector"),
    ("mie_spark.operators.dedup", "operators.dedup"),
    ("mie_spark.operators.text", "operators.text"),
    ("mie_spark.operators.graph", "operators.graph"),
    ("mie_spark.operators.retrieval", "operators.retrieval"),
)
OPERATOR_MODULES = tuple(
    layer.split(".", 1)[1] for _, layer in MODULE_LAYERS if layer.startswith("operators.")
)
# the tools the benchmark workloads call (memory_ingest's conflicts,
# status and export show up in its own layers report)
API_TOOLS = ("store", "bulk_store", "query", "list_nodes", "update")
COMMIT_METHODS = ("upsert_rows", "atomic_upsert_rows", "upsert_df", "atomic_upsert_dfs")
META_METHODS = ("meta_touch", "meta_set", "meta_increment")
LAYERS = ("api", "storage", "embedding", "operators", "sources", "streaming", "queries")


def user_bytes(rows: list[dict[str, Any]]) -> int:
    """Bytes of the rows as the user handed them over: UTF-8 text,
    4 bytes per embedding float, 8 per other number, 1 per bool."""
    total = 0
    for row in rows:
        for v in row.values():
            if isinstance(v, str):
                total += len(v.encode("utf-8"))
            elif isinstance(v, bool):
                total += 1
            elif isinstance(v, (int, float)):
                total += 8
            elif isinstance(v, (list, tuple)):
                total += 4 * len(v)
    return total


def new_snapshot_bytes(store_path: str, table: str) -> int:
    """Bytes a commit newly wrote for ``table``: files of its current
    snapshot with a single link. Buckets the merge did not touch are
    hard-linked from the previous snapshot (two links) and cost no
    new bytes."""
    tdir = os.path.join(store_path, table)
    try:
        with open(os.path.join(tdir, "_CURRENT")) as fh:
            snap = os.path.join(tdir, fh.read().strip())
    except FileNotFoundError:
        return 0
    total = 0
    for root, _, files in os.walk(snap):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if st.st_nlink == 1:
                total += st.st_size
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._next_id = 1
        self.op_id: str | None = None
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------------

    def span(self, name: str, layer: str, fn: Callable, args: tuple, kwargs: dict,
             on_exit: Callable | None = None) -> Any:
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        frame = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "name": name,
            "layer": layer,
            "child": 0.0,
            "foreign": 0.0,
        }
        self._next_id += 1
        self._stack.append(frame)
        frame["start"] = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            self._stack.pop()
            dur = end - frame["start"]
            frame["end"] = end
            frame["self_s"] = dur - frame.pop("child")
            frame["layer_self_s"] = dur - frame.pop("foreign")
            if parent is not None:
                parent["child"] += dur
                parent["foreign"] += (
                    dur if parent["layer"] != layer else dur - frame["layer_self_s"]
                )
            self.spans.append(frame)
        if on_exit is not None:
            on_exit(frame, args, kwargs, result)
        # bookkeeping before and after the wrapped call is the tracing cost
        self.overhead_s += (frame["start"] - t_in) + (time.perf_counter() - end)
        return result

    def wrapper(self, fn: Callable, name: str, layer: str,
                on_exit: Callable | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            return self.span(name, layer, fn, args, kwargs, on_exit)

        return traced

    # -- installation ------------------------------------------------------

    def _commit_exit(self, frame: dict, args: tuple, kwargs: dict, result: Any) -> None:
        method = frame["name"].split(".", 1)[1]
        store = args[0]
        if method in ("upsert_rows", "upsert_df"):
            tables = [args[1] if len(args) > 1 else kwargs["table"]]
        else:
            tables = list((args[1] if len(args) > 1 else kwargs["updates"]).keys())
        if method == "upsert_rows":
            rows = args[2] if len(args) > 2 else kwargs["rows"]
            frame["user_bytes"] = user_bytes(rows)
        elif method == "atomic_upsert_rows":
            updates = args[1] if len(args) > 1 else kwargs["updates"]
            frame["user_bytes"] = sum(user_bytes(r) for r in updates.values())
        frame["rows"] = sum(result.values()) if isinstance(result, dict) else int(result or 0)
        if store.path:
            frame["bytes_written"] = sum(new_snapshot_bytes(store.path, t) for t in tables)

    def _embed_exit(self, frame: dict, args: tuple, kwargs: dict, result: Any) -> None:
        texts = args[1] if len(args) > 1 else kwargs.get("texts", kwargs.get("text"))
        frame["texts"] = 1 if isinstance(texts, str) else len(texts)

    def install(self) -> Callable[[], None]:
        """Wrap every traced binding; returns the restore function."""
        import mie_spark.api.tools  # noqa: F401 — load every import site first
        from mie_spark.api.client import MieClient
        from mie_spark.embedding import MockEmbeddingProvider
        from mie_spark.queries import QUERIES
        from mie_spark.storage import MieStore

        saved: list[tuple[Any, str, Any]] = []

        def patch(owner: Any, attr: str, new: Any) -> None:
            saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, new)

        for name, fn in list(vars(MieStore).items()):
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            hook = self._commit_exit if name in COMMIT_METHODS else None
            patch(MieStore, name, self.wrapper(fn, f"MieStore.{name}", "storage", hook))
        for name, fn in list(vars(MieClient).items()):
            if name.startswith("_") and name not in ("_fetch_nodes_by_ids", "_traverse"):
                continue
            if inspect.isfunction(fn):
                patch(MieClient, name, self.wrapper(fn, f"MieClient.{name}", "api"))
        for name in ("embed", "embed_query"):
            fn = vars(MockEmbeddingProvider)[name]
            patch(
                MockEmbeddingProvider, name,
                self.wrapper(fn, f"embedding.{name}", "embedding", self._embed_exit),
            )
        # module functions: wrap the definition and every by-name import
        loaded = [m for n, m in list(sys.modules.items()) if n.startswith("mie_spark") and m]
        for modname, layer in MODULE_LAYERS:
            mod = sys.modules.get(modname)
            if mod is None:
                continue
            short = modname.rsplit(".", 1)[1]
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != modname:
                    continue
                traced = self.wrapper(fn, f"{short}.{name}", layer)
                for m in loaded:
                    if m.__dict__.get(name) is fn:
                        patch(m, name, traced)
        # registry callables are resolved through the QUERIES dict
        registry = dict(QUERIES)
        for name, fn in registry.items():
            QUERIES[name] = self.wrapper(fn, f"queries.{name}", "queries")

        def restore() -> None:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)
            QUERIES.update(registry)

        return restore

    # -- reporting -----------------------------------------------------------

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer totals over the spans of timed operations (set-up
        and the post-run checks are left out)."""
        spans = [s for s in self.spans if s["op"] is not None]
        by_id = {s["id"]: s for s in spans}
        m: dict[str, float] = defaultdict(float)

        def has_ancestor(s: dict, pred: Callable[[dict], bool]) -> bool:
            p = by_id.get(s["parent"])
            while p is not None:
                if pred(p):
                    return True
                p = by_id.get(p["parent"])
            return False

        def method(s: dict) -> str:
            return s["name"].rsplit(".", 1)[1]

        for s in spans:
            dur = s["end"] - s["start"]
            layer, name = s["layer"], s["name"]
            parent = by_id.get(s["parent"])
            if parent is None or parent["layer"] != layer:
                # layer self times partition the traced time
                m[f"layer.{layer.split('.')[0]}.self_s"] += s["layer_self_s"]
            if name.startswith("tools.") and not has_ancestor(
                s, lambda p: p["name"].startswith("tools.")
            ):
                tool = method(s)
                m[f"api.{tool}.calls"] += 1
                m[f"api.{tool}.s"] += dur
                m[f"api.{tool}.self_s"] += s["layer_self_s"]
            elif layer == "storage":
                in_meta = has_ancestor(s, lambda p: method(p) in META_METHODS)
                if (method(s) in COMMIT_METHODS and not in_meta
                        and not has_ancestor(s, lambda p: method(p) in COMMIT_METHODS)):
                    m["storage.commits"] += 1
                    m["storage.commit_s"] += dur
                    m["storage.commit_rows"] += s.get("rows", 0)
                if method(s) in META_METHODS and not in_meta:
                    m["storage.meta_commits"] += 1
                    m["storage.meta_s"] += dur
                if method(s) == "table":
                    m["storage.table_calls"] += 1
                    m["storage.table_s"] += dur
                if "bytes_written" in s:
                    m["storage.bytes_written"] += s["bytes_written"]
                    m["storage.user_bytes"] += s.get("user_bytes", 0)
            elif layer == "embedding":
                m["embedding.calls"] += 1
                m["embedding.texts"] += s.get("texts", 0)
                m["embedding.s"] += dur
            elif layer.startswith("operators.") and not has_ancestor(
                s, lambda p: p["layer"] == layer
            ):
                m[f"{layer}.s"] += dur
            elif name == "catalog.load_table":
                m["sources.load_s"] += dur
            elif name.startswith("ops.run_to_") and not has_ancestor(
                s, lambda p: p["layer"] == "streaming"
            ):
                m["streaming.drain_s"] += dur
        ub = m.pop("storage.user_bytes", 0.0)
        m["storage.write_amp"] = m.get("storage.bytes_written", 0.0) / ub if ub else 0.0
        m["trace.spans"] = float(len(self.spans))
        m["trace.overhead_s"] = self.overhead_s
        return dict(m)
