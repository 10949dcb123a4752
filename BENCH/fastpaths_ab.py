"""Driver fast path vs distributed path, per contract query, in one window.

Times the nine contract queries whose operators pick between a bounded
driver replay and distributed Spark rounds (connected_components,
label_propagation, bfs_depth, k_core, gibberish_score). Each query runs
one warm pass per path, then alternating pairs (the first path of each
pair alternates too). Every pass is hashed with the contract's
value_hash, so a path that changes the answer shows up as a hash
mismatch, not only as a time.

The distributed path is forced in-process: by setting
``operators.DRIVER_MAX_ROWS = 0`` on a tree that has the shared size
gate, or by zeroing the per-function bound defaults
(``max_driver_edges`` / ``max_collect_tris``) on an older tree that
still has them. No source file is edited either way.

Run from the repository root:

    python BENCH/fastpaths_ab.py SF_DIR OUT.json [pairs]

An existing OUT.json gains the new runs (medians and IQRs are taken
over all of them), so two checkouts can be measured in alternating
windows, each into its own file, and machine drift between windows
lands on both sides.
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, ".")

QUERIES = [
    "dedup_components", "fuzzy_dedup_corpus", "dedup_keep_best",
    "semantic_clusters", "dedup_cluster_stats", "host_communities",
    "crawl_depth", "k_core_hosts", "gibberish_score",
]


def _set_default(fn, name, value):
    params = [
        p.name for p in inspect.signature(fn).parameters.values()
        if p.default is not inspect.Parameter.empty
    ]
    d = list(fn.__defaults__)
    d[params.index(name)] = value
    fn.__defaults__ = tuple(d)


def _path_switch():
    """Return set_fast(bool) for the tree on sys.path."""
    from navigator_document_parser_spark import operators
    from navigator_document_parser_spark.operators import dedup, graph, text

    if hasattr(operators, "DRIVER_MAX_ROWS"):
        bound = operators.DRIVER_MAX_ROWS

        def set_fast(fast: bool) -> None:
            operators.DRIVER_MAX_ROWS = bound if fast else 0

        return set_fast
    sites = [
        (dedup.connected_components, "max_driver_edges"),
        (graph.label_propagation, "max_driver_edges"),
        (graph.bfs_depth, "max_driver_edges"),
        (graph.k_core, "max_driver_edges"),
        (text.gibberish_score, "max_collect_tris"),
    ]
    bounds = [
        inspect.signature(fn).parameters[name].default for fn, name in sites
    ]

    def set_fast(fast: bool) -> None:
        for (fn, name), b in zip(sites, bounds):
            _set_default(fn, name, b if fast else 0)

    return set_fast


def _quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    sf_dir, out = sys.argv[1], sys.argv[2]
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 5

    import __spark_entry__ as E
    from navigator_document_parser_spark.config import build_spark
    from tools.check_contract import value_hash

    spark = build_spark(
        "fastpaths-ab", master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    set_fast = _path_switch()
    qs = E.queries()

    def run(name, fast):
        set_fast(fast)
        t0 = time.perf_counter()
        pdf = qs[name](spark, sf_dir).toPandas()
        dt = time.perf_counter() - t0
        return dt, value_hash(pdf), len(pdf)

    prev, windows = {}, 1
    if os.path.exists(out):
        with open(out) as f:
            doc = json.load(f)
        prev, windows = doc["queries"], doc["setup"]["windows"] + 1
    result = {}
    for name in QUERIES:
        old = prev.get(name)
        times = {
            True: list(old["fast"]["runs_s"]) if old else [],
            False: list(old["distributed"]["runs_s"]) if old else [],
        }
        hashes = set(old["hashes"]) if old else set()
        rows = set(old["rows"]) if old else set()
        for fast in (True, False):  # warm pass per side, not timed
            _, h, n = run(name, fast)
            hashes.add(h)
            rows.add(n)
        for i in range(pairs):
            order = (True, False) if i % 2 == 0 else (False, True)
            for fast in order:
                dt, h, n = run(name, fast)
                times[fast].append(round(dt, 4))
                hashes.add(h)
                rows.add(n)
        entry = {
            "rows": sorted(rows),
            "hashes": sorted(hashes),
            "hashes_equal": len(hashes) == 1,
        }
        for fast, side in ((True, "fast"), (False, "distributed")):
            q1, q3 = _quartiles(times[fast])
            entry[side] = {
                "runs_s": times[fast],
                "median_s": round(statistics.median(times[fast]), 4),
                "iqr_s": round(q3 - q1, 4),
            }
        entry["distributed_over_fast"] = round(
            entry["distributed"]["median_s"] / entry["fast"]["median_s"], 3
        )
        result[name] = entry
        print(name, json.dumps(entry), flush=True)
    set_fast(True)
    spark.stop()

    commit = subprocess.run(
        ["git", "describe", "--always", "--dirty"],
        capture_output=True, text=True,
    ).stdout.strip()
    doc = {
        "setup": {
            "sf_dir": os.path.basename(os.path.normpath(sf_dir)),
            "master": "local[4]",
            "shuffle_partitions": 4,
            "windows": windows,
            "warm_passes_per_side_per_window": 1,
            "alternating_pairs": len(result[QUERIES[0]]["fast"]["runs_s"]),
            "machine": f"{os.cpu_count()} vCPU",
            "git_head": commit or None,
            "distributed_path_forced_by": (
                "operators.DRIVER_MAX_ROWS = 0"
                if "DRIVER_MAX_ROWS" in dir(
                    sys.modules["navigator_document_parser_spark.operators"])
                else "max_driver_edges=0 / max_collect_tris=0 defaults"
            ),
        },
        "queries": result,
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
