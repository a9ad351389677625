"""r14 pregel A/B: AQE on vs off inside iterative-loop construction.

Alternating same-session A/B (the r13 methodology for this co-tenant
box): for each loop query, run arm A (spark.mie.graph.loopAdaptive=true
— the r13 behavior, AQE materializes each superstep stage as its own
job) and arm B (default — AQE off inside the loop, the whole
fixed-iteration chain executes as one job) back to back, N rounds,
noop sink. One JSON line per query with both arms' samples + medians.
g_pagerank, g_ppr and g_hits are not in the default list: their edge
lists fall under the session's broadcast threshold at sf0.1, so they
run on the driver and never enter the loop either arm would change.

Usage: [SPARK_GRAFT_SF_DIR=...] python tools_r14_pregel_ab.py [names...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mie_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUNDS = max(1, int(os.environ.get("R14_AB_ROUNDS", "4")))

DEFAULT = [
    "g_labelprop",
    "g_mis",
    "g_connected_components",
    "g_bfs_hops",
    "g_sssp",
    "g_kcore",
    "pipe_keep_best",
    "pipe_dedup_clusters",
]


def median(xs: list[float]) -> float:
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("r14_pregel_ab")
    spark.sparkContext.setLogLevel("ERROR")
    from mie_spark.queries import QUERIES

    QUERIES["s2_point_lookup"](spark, SF_DIR).collect()

    def _warm(it):  # noqa: ANN001, ANN202
        import numpy  # noqa: F401

        yield from it

    spark.range(0, 64, 1, 32).mapInPandas(_warm, "id long").count()

    def run(name: str, adaptive: str) -> float:
        spark.conf.set("spark.mie.graph.loopAdaptive", adaptive)
        spark.sparkContext.setJobDescription(f"r14 ab {name} loopAQE={adaptive}")
        t0 = time.perf_counter()
        df = QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    for name in names:
        if name not in QUERIES:
            print(json.dumps({"query": name, "error": "unknown"}), flush=True)
            continue
        # one untimed warm pass per arm so neither arm eats cold costs
        run(name, "true")
        run(name, "false")
        a, b = [], []
        for _ in range(ROUNDS):
            a.append(run(name, "true"))
            b.append(run(name, "false"))
        print(
            json.dumps(
                {
                    "query": name,
                    "aqe_on_median": median(a),
                    "aqe_off_median": median(b),
                    "aqe_on": a,
                    "aqe_off": b,
                    "load_1m": round(os.getloadavg()[0], 2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
