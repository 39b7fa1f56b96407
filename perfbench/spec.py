"""BENCHMARK.json as code: ``python3 perfbench/spec.py > BENCHMARK.json``.

``python3 perfbench/spec.py --layers`` prints the per-layer catalog:
each metric's module and the end-to-end metric and workload it should
move (BENCHMARK.json keeps only name, unit and direction per metric).

The end-to-end metrics, their regression bounds, the workloads and
why each exists, and the per-layer catalog (``layers.CATALOG``) live
here so the file and the benchmark cannot drift apart.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import CATALOG  # noqa: E402

RUN_SECONDS = 10

WORKLOADS = [
    ("serving",
     "1 client: Cypher reads (point..shortestPath, vector k-NN, Zipf anchors, plan-cache "
     "hits and misses) alternating with tenant reads, writes and saves in one session"),
    ("batch_analytics",
     "1 client, a fixed pass of pagerank/wcc/cdlp/bfs/sssp and exact/MinHash/SimHash "
     "dedup, k-means and IVF k-NN: shuffle and compute in exec, algorithms and "
     "datapipe; cypher unused"),
]

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cpu_ms_per_op", "ms", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]


def spec() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": x} for n, u, b, x in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b, *_ in CATALOG
        ],
    }


if __name__ == "__main__":
    if sys.argv[1:] == ["--layers"]:
        for name, unit, better, module, moves in CATALOG:
            where = ", ".join(f"{m} on {w}" for m, w in moves) or "-"
            print(f"{name:30} {unit:6} {better:7} {module:24} {where}")
    else:
        print(json.dumps(spec(), indent=2))
