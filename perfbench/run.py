"""Benchmark entry point.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 20 --trace 0

Runs one workload of ``perfbench/workloads.py`` against the ``mie_spark``
package of the checkout this file sits in, on the program's own
session (``mie_spark.session.get_spark``, ``local[$SPARK_GRAFT_CPUS]``,
default every core). Prints a human-readable report, then, as the last
line of standard output, one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
Exits non-zero without a result when the checkout has no ``mie_spark``.

Scratch (stores, corpus, Spark temp) lives in ``perfbench/.work`` and is
removed at exit; a traced run leaves its spans and per-layer report in
``perfbench/out``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = {  # name -> unit
    "setup_s": "s",
    "ops_per_s": "1/s",
    "memory_mb": "MB",
    "ok_rate": "ratio",
}



def per_layer_names() -> dict[str, str]:
    """Every per-layer metric, name -> unit. Each traced run reports all
    of them; layers a workload does not reach read 0."""
    from perfbench.gen import AGENT_OPS, CORPUS_QUERIES
    from perfbench.tracing import API_TOOLS, LAYERS, OPERATOR_MODULES

    out: dict[str, str] = {}
    for tool in API_TOOLS:
        out.update({f"api.{tool}.calls": "count", f"api.{tool}.s": "s", f"api.{tool}.self_s": "s"})
    out.update({
        "storage.commits": "count", "storage.commit_s": "s", "storage.commit_rows": "count",
        "storage.meta_commits": "count", "storage.meta_s": "s",
        "storage.table_calls": "count", "storage.table_s": "s",
        "storage.bytes_written": "B", "storage.write_amp": "ratio",
        "embedding.calls": "count", "embedding.texts": "count", "embedding.s": "s",
    })
    out.update({f"operators.{m}.s": "s" for m in OPERATOR_MODULES})
    for q in CORPUS_QUERIES:
        out.update({f"queries.{q}.build_s": "s", f"queries.{q}.exec_s": "s"})
    out.update({"sources.load_s": "s", "streaming.drain_s": "s"})
    out.update({f"layer.{layer}.self_s": "s" for layer in LAYERS})
    out.update({"trace.spans": "count", "trace.overhead_s": "s", "trace.overhead_share": "ratio"})
    for op in (*AGENT_OPS, *CORPUS_QUERIES):
        out.update({f"spark.jobs.{op}": "count", f"spark.stages.{op}": "count",
                    f"spark.tasks.{op}": "count"})
    return out


def prepare_env(work: str) -> None:
    """Environment the session and its Python workers inherit. Workers
    import mie_spark themselves (mapInPandas kernels), so the checkout
    goes on PYTHONPATH, not only on sys.path."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # a 2 GiB driver heap holds every workload; capping it keeps the
    # JVM's peak footprint (peak_rss_mb) from wandering with GC sizing
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on the next temp file
    # C1-only JIT: in runs this short, C2 compilation threads compete
    # with the four task threads for four cores; measured on 4 vCPUs it
    # cost a third more CPU per op and made run-to-run times wander
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        "-XX:TieredStopAtLevel=1"
    )


def memory_mb(spark, jvm_pid: int) -> tuple[float, float]:  # noqa: ANN001
    """(memory_mb, peak_rss_mb). ``memory_mb``: this driver's peak RSS
    plus what the JVM still holds (heap and non-heap) after the driver's
    garbage is collected and two full JVM collections at the end of the
    run. ``peak_rss_mb``: driver plus JVM peak RSS; it swings with the
    JVM's heap sizing, so it is only reported."""
    driver_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = spark.sparkContext._jvm
    jvm_hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_hwm_kb = int(line.split()[1])
    gc.collect()  # drops Python handles that keep JVM objects reachable
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return driver_mb + live / 2**20, driver_mb + jvm_hwm_kb / 1024.0


def cpu_clock(jvm_pid: int):  # noqa: ANN201
    """A clock of the CPU seconds used by this driver, its JVM and every
    process the JVM started (Python workers), exited ones included."""
    tick = os.sysconf("SC_CLK_TCK")

    def read() -> float:
        parent, used = {}, {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while listing
            parent[int(pid)] = int(fields[1])
            # utime, stime, and the reaped children's cutime, cstime
            used[int(pid)] = sum(int(x) for x in fields[11:15])
        total = used.get(os.getpid(), 0)
        for pid in used:
            p = pid
            while p > 1 and p != jvm_pid:
                p = parent.get(p, 0)
            if p == jvm_pid:
                total += used[pid]
        return total / tick

    return read


def stop_spark(spark) -> None:  # noqa: ANN001
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def report(workload: str, rec, e2e: dict[str, float], session_s: float,  # noqa: ANN001
           peak_rss: float) -> None:
    """The human-readable part of the output: every metric with its
    unit and sample count, including the workload's own figures."""
    print(f"workload {workload}: {len(rec.ops)} ops, session start {session_s:.2f} s, "
          f"set-ups {', '.join(f'{t:.2f}' for t in rec.setup_times)} s")
    for name, unit in E2E.items():
        print(f"  {name:<22} {e2e[name]:>12.4f} {unit}")
    print(f"  {'error_rate':<22} {1.0 - e2e['ok_rate']:>12.4f} ratio")
    print(f"  {'peak_rss_mb':<22} {peak_rss:>12.4f} MB")
    cpu = sum(r["cpu_s"] for r in rec.ops)
    print(f"  {'cpu_s_per_op':<22} {cpu / len(rec.ops):>12.4f} s      n={len(rec.ops)}")
    kinds: dict[str, list[float]] = {}
    for r in rec.ops:
        kinds.setdefault(r["kind"], []).append(r["s"])
    if workload == "agent_session":
        named = {
            "agent_ops_per_s": (e2e["ops_per_s"], "1/s", len(rec.ops)),
            "ingest_rows_per_s": (rec.extra["ingest_rows_per_s"], "1/s", 1),
            "bytes_per_user_byte": (rec.extra["bytes_per_user_byte"], "ratio", 1),
            "store_p50_s": (p50(kinds.get("store", [])), "s", len(kinds.get("store", []))),
            "semantic_p50_s": (p50(kinds.get("query_semantic", [])), "s",
                               len(kinds.get("query_semantic", []))),
            "exact_p50_s": (p50(kinds.get("query_exact", [])), "s",
                            len(kinds.get("query_exact", []))),
            "traverse_p50_s": (p50(kinds.get("query_graph", [])), "s",
                               len(kinds.get("query_graph", []))),
        }
        from perfbench.gen import BULK_ITEMS

        bulk = kinds.get("bulk_store", [])
        named["bulk_store_item_s"] = (sum(bulk) / (BULK_ITEMS * len(bulk)) if bulk else 0.0,
                                      "s", BULK_ITEMS * len(bulk))
    elif workload == "memory_ingest":
        named = {
            "ingest_rows_per_s": (rec.extra["ingest_rows_per_s"], "1/s",
                                  len(kinds.get("ingest_batch", []))),
            "bytes_per_user_byte": (rec.extra["bytes_per_user_byte"], "ratio", 1),
            "conflicts_s": (rec.extra["conflicts_s"], "s", 1),
            "status_s": (rec.extra["status_s"], "s", 1),
        }
    else:
        named = {"pipeline_s": (rec.extra["pipeline_s"], "s", 1)}
    for name, (value, unit, n) in named.items():
        print(f"  {name:<22} {value:>12.4f} {unit:<6} n={n}")
    for kind, values in kinds.items():
        print(f"  op {kind:<24} p50 {p50(values):8.3f} s  n={len(values)}")
    for f in rec.failures:
        print(f"  FAILED {f}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=35)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mie_spark", "__init__.py")):
        print(f"no mie_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    cwd = os.getcwd()
    os.chdir(work)  # anything Spark drops in the working directory is scratch
    spark = None
    try:
        t0 = time.perf_counter()
        from mie_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = restore = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer()
            restore = tracer.install()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rec = workloads.Recorder(spark, tracer, cpu_clock(jvm_pid))
        try:
            setup_s, timed_s = workloads.WORKLOADS[args.workload](spark, work, args.seed, rec)
        finally:
            if restore is not None:
                restore()
        failed = sum(1 for r in rec.ops if not r["ok"])
        mem, peak_rss = memory_mb(spark, jvm_pid)
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": len(rec.ops) / timed_s,
            "memory_mb": mem,
            "ok_rate": (len(rec.ops) - failed) / len(rec.ops),
        }
        report(args.workload, rec, e2e, session_s, peak_rss)
        if args.trace:
            metrics = layer_report(args, rec, tracer, timed_s)
            units = per_layer_names()
        else:
            metrics, units = e2e, E2E
    finally:
        os.chdir(cwd)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(rec.ops),
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0


def layer_report(args, rec, tracer, timed_s: float) -> dict[str, float]:  # noqa: ANN001
    """Per-layer metrics of a traced run; writes the spans and a text
    report to perfbench/out."""
    m = tracer.layer_metrics()
    m["trace.overhead_share"] = m["trace.overhead_s"] / timed_s
    m.update({k: v for k, v in rec.extra.items() if k.startswith("queries.")})
    for r in rec.ops:
        for key in ("jobs", "stages", "tasks"):
            m[f"spark.{key}.{r['kind']}"] = m.get(f"spark.{key}.{r['kind']}", 0) + r[key]
    out = os.path.join(HERE, "out")
    stem = f"{args.workload}-seed{args.seed}"
    tracer.write(os.path.join(out, f"spans-{stem}.jsonl"))
    with open(os.path.join(out, f"layers-{stem}.txt"), "w") as fh:
        for name in sorted(m):
            fh.write(f"{name:<48} {m[name]:>14.4f}\n")
    print(f"  traced: {len(tracer.spans)} spans, tracing overhead "
          f"{m['trace.overhead_s']:.3f} s ({100 * m['trace.overhead_share']:.2f}% of the timed phase)")
    return m


if __name__ == "__main__":
    sys.exit(main())
