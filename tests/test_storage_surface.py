"""Every public ``MieStore`` method, every module-level function and
every module of ``mie_spark/`` has a caller in the program.

The program is ``mie_spark/``, ``perfbench/`` without its tests, and the
root scripts (``__spark_entry__.py``, ``bench.py``, ``tools_*.py``).
Code that only tests call is dead weight that every change to the
operators, the streaming module or the commit protocol must still
carry.
"""

from __future__ import annotations

import ast
import os

from mie_spark.storage import MieStore

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "mie_spark")


def _program_files() -> list[str]:
    """The program's ``.py`` files: ``mie_spark/``, ``perfbench/``
    without ``perfbench/tests`` (a call from a test is not a caller),
    and the root scripts."""
    paths = []
    for sub in ("mie_spark", "perfbench"):
        top = os.path.join(ROOT, sub)
        for dirpath, dirnames, files in os.walk(top):
            if dirpath == top and sub == "perfbench":
                dirnames[:] = [d for d in dirnames if d != "tests"]
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    paths += [os.path.join(ROOT, f) for f in os.listdir(ROOT) if f.endswith(".py")]
    return sorted(paths)


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def _parse(path: str) -> ast.Module:
    return ast.parse(_read(path), path)


def _names(*nodes: ast.AST) -> set[str]:
    """Identifiers a node refers to: names, attributes, and the original
    name behind an ``import ... as`` alias. Comments and docstrings are
    not code, so they never count."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias) and n.asname:
                out.add(n.name.rsplit(".", 1)[-1])
    return out


def _is_reexport(stmt: ast.stmt, path: str) -> bool:
    if isinstance(stmt, ast.Assign):
        return any(getattr(t, "id", None) == "__all__" for t in stmt.targets)
    return os.path.basename(path) == "__init__.py" and isinstance(
        stmt, (ast.Import, ast.ImportFrom)
    )


def _unreachable_functions() -> list[str]:
    """Module-level functions of ``mie_spark/`` that no program code
    reaches, as ``path:name``. Roots are every reference outside
    ``mie_spark/``, every ``mie_spark`` reference outside a module-level
    function body (class bodies, decorators, defaults, module code),
    and the ``@query``-registered functions. A function's body counts
    only once the function itself is reached; ``__all__`` and package
    re-exports never count. Matching is by name, so a name that any
    reached code uses keeps every function of that name."""
    bodies: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    for path in _program_files():
        tree = _parse(path)
        if not path.startswith(PACKAGE + os.sep):
            roots |= _names(tree)
            continue
        rel = os.path.relpath(path, ROOT)
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                body = _names(*stmt.body) - {stmt.name}
                bodies.setdefault(stmt.name, []).append((rel, body))
                roots |= _names(*stmt.decorator_list, stmt.args)
                if any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                    for d in stmt.decorator_list
                ):
                    roots.add(stmt.name)
            elif not _is_reexport(stmt, path):
                roots |= _names(stmt)
    reached: set[str] = set()
    todo = set(roots)
    while todo:
        name = todo.pop()
        reached.add(name)
        for _, body in bodies.get(name, []):
            todo |= body - reached
    return sorted(
        f"{rel}:{name}"
        for name, defs in bodies.items()
        if name not in reached
        for rel, _ in defs
    )


def _unimported_modules() -> list[str]:
    """Modules of ``mie_spark/`` that no other program file imports and
    that are not run as ``python -m`` entry points."""
    imported: set[str] = set()
    for path in _program_files():
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        package = rel[:-1]
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.Import):
                imported |= {a.name for a in n.names}
            elif isinstance(n, ast.ImportFrom):
                base = (n.module or "").split(".") if not n.level else (
                    package[: len(package) - n.level + 1]
                    + ([n.module] if n.module else [])
                )
                base = ".".join(p for p in base if p)
                imported.add(base)
                imported |= {f"{base}.{a.name}" for a in n.names}
    unimported = []
    for path in _program_files():
        if not path.startswith(PACKAGE + os.sep):
            continue
        rel = os.path.relpath(path, ROOT)
        module = rel[: -len(".py")].replace(os.sep, ".").removesuffix(".__init__")
        is_main = any(
            isinstance(s, ast.If) and "__main__" in ast.unparse(s.test)
            for s in _parse(path).body
        )
        if not is_main and not any(
            m == module or m.startswith(module + ".") for m in imported
        ):
            unimported.append(rel)
    return unimported


def test_every_public_store_method_has_a_caller():
    source = "\n".join(_read(p) for p in _program_files())
    public = sorted(
        name for name, v in vars(MieStore).items()
        if not name.startswith("_") and callable(v)
    )
    assert "atomic_upsert_rows" in public
    uncalled = [name for name in public if f".{name}(" not in source]
    assert uncalled == []


def test_every_package_function_and_module_is_reachable():
    files = [os.path.relpath(p, ROOT) for p in _program_files()]
    assert "mie_spark/storage.py" in files and "perfbench/run.py" in files
    assert not any(f.startswith("perfbench/tests") for f in files)
    dead = _unreachable_functions() + _unimported_modules()
    assert not dead, "reached only from tests:\n" + "\n".join(dead)
