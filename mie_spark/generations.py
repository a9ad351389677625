"""Versioned generation directories behind an atomic ``_CURRENT`` manifest.

The one commit protocol for persisted state outside ``MieStore``: every
foreachBatch-maintained streaming state in ``streaming/ops.py``. A
writer never mutates committed files: it writes a COMPLETE new
generation directory ``gNNNNNNNNN/`` under the root and then commits
by replacing ``_CURRENT``, a newline-separated manifest of the
generations that make up the live state (one entry for a full
snapshot, several for a delta log merged by the reader). Readers
resolve the manifest once and read only those directories, so an
in-flight reader keeps a consistent view, and a crash before the
commit leaves a generation no manifest names — invisible, and skipped
by the next allocation's higher number.

Manifest entries are generation names relative to the root. A line
that is already an absolute path or URI (the ``/abs/state/vN`` lines
earlier state dirs carry) is read as-is, so those dirs keep loading.

GC runs after each commit and deletes only generations numbered below
the new one that neither the new nor the superseded manifest names:
the superseded view survives for readers that resolved it before the
commit, and a concurrent writer's higher-numbered generation is never
touched.

All I/O goes through the Hadoop FileSystem API, so the protocol works
wherever the data lives (local disk, hdfs://, s3a://).
"""

from __future__ import annotations

from typing import Any

POINTER = "_CURRENT"


def _gen_name(n: int) -> str:
    return f"g{n:09d}"


def _basename(entry: str) -> str:
    return entry.rstrip("/").rsplit("/", 1)[-1]


def _gen_number(entry: str) -> int | None:
    name = _basename(entry)
    if name.startswith("g") and name[1:].isdigit():
        return int(name[1:])
    return None


def _fs(spark: Any, path: str) -> tuple[Any, Any]:
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def write_sidecar(spark: Any, root: str, name: str, text: str) -> None:
    """Replace the small text file ``root/name``: write a temp file,
    then rename it over the target, so a reader sees the old or the new
    content and never a partial write."""
    jvm = spark._jvm
    final = root.rstrip("/") + "/" + name
    fs, jfinal = _fs(spark, final)
    jtmp = jvm.org.apache.hadoop.fs.Path(final + ".tmp")
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri(), spark._jsc.hadoopConfiguration()
    )
    overwrite = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 1
    )
    overwrite[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(fs.makeQualified(jtmp), fs.makeQualified(jfinal), overwrite)


def read_sidecar(spark: Any, root: str, name: str) -> str | None:
    """Content of ``root/name``, or None when the file does not exist."""
    jvm = spark._jvm
    fs, jpath = _fs(spark, root.rstrip("/") + "/" + name)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    try:
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, True)
    finally:
        stream.close()
    return bytes(baos.toByteArray()).decode("utf-8").strip()


def manifest(spark: Any, root: str) -> list[str]:
    """The committed generations as paths, oldest first; [] when nothing
    was ever committed."""
    text = read_sidecar(spark, root, POINTER)
    if text is None:
        return []
    base = root.rstrip("/")
    return [
        ln if ln.startswith("/") or ":" in ln else f"{base}/{ln}"
        for ln in (raw.strip() for raw in text.splitlines())
        if ln
    ]


def _generations(spark: Any, root: str) -> list[int]:
    fs, jpath = _fs(spark, root)
    if not fs.exists(jpath):
        return []
    return sorted(
        n
        for st in fs.listStatus(jpath)
        if st.isDirectory()
        and (n := _gen_number(st.getPath().getName())) is not None
    )


def allocate(spark: Any, root: str) -> str:
    """Path of the next generation directory (not created): one past the
    highest on disk, committed or not, so crash debris is never reused."""
    n = max(_generations(spark, root), default=0) + 1
    return root.rstrip("/") + "/" + _gen_name(n)


def commit(spark: Any, root: str, paths: list[str]) -> None:
    """Make ``paths`` (the last one the newly written generation) the
    live manifest, then GC. Paths under the root are stored relative."""
    base = root.rstrip("/")
    superseded = {_basename(e) for e in manifest(spark, root)}
    entries = [
        p[len(base) + 1:] if p.startswith(base + "/") else p for p in paths
    ]
    write_sidecar(spark, root, POINTER, "\n".join(entries))
    keep = superseded | {_basename(e) for e in entries}
    newest = _gen_number(paths[-1])
    fs, jroot = _fs(spark, root)
    for n in _generations(spark, root):
        name = _gen_name(n)
        if n < newest and name not in keep:
            fs.delete(spark._jvm.org.apache.hadoop.fs.Path(jroot, name), True)
