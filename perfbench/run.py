"""Steady-state benchmark: one workload per run, or a traced run of all.

    python3 perfbench/run.py --workload extract_resume --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.perfbench/`` (generation is never timed). Every run
starts a fresh ``local[nproc]`` Spark session, runs a cold pass and
WARM_PASSES untimed passes, then times passes for ``--seconds`` seconds
and until MIN_PASSES of them ran while the hypervisor stole little CPU
(at most MAX_PASSES), checking every pass's output, and reports the
median of those passes.

With ``--trace 0`` the last stdout line is the end-to-end metrics of the
workload. With ``--trace 1`` the run covers all three workloads (after
warm-up, one traced pass each; ``--workload`` is then only validated),
and reports per-layer metrics read from spans around the benchmark's
calls and from Spark's status stores; the spans are written to
``.perfbench/trace/<run id>.jsonl``.

Exits non-zero without a result when the product cannot be imported or
a pass raises.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("extract_bulk", "extract_resume", "ops_suite")
WARM_PASSES = 4
MIN_PASSES = 3
MAX_PASSES = 5
# a timed pass counts only if the hypervisor stole at most this share of
# the machine's CPU time while it ran (read from /proc/stat); on a shared
# 4-vCPU VM, gusts were seen to steal 30-40% for a minute at a time
STEAL_MAX = 0.10
EXTRACT_DOCS = 2000
# the contract documents table at sf0.02; at sf0.1 (5,000 rows) the
# once-per-run DuckDB oracle check alone takes minutes
OPS_DOCS = 1000
CORE_SAMPLE = 1000
WORK_DIR = ".perfbench"

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--extract-docs", type=int, default=EXTRACT_DOCS,
                   help="extraction corpus size (smaller only for smoke runs)")
    p.add_argument("--ops-docs", type=int, default=OPS_DOCS,
                   help="operator-suite table size (smaller only for smoke runs)")
    p.add_argument("--core-sample", type=int, default=CORE_SAMPLE)
    return p.parse_args(argv)


def product_importable() -> bool:
    import importlib.util

    return all(
        importlib.util.find_spec(m) is not None
        for m in ("navigator_document_parser_spark", "__spark_entry__")
    )


class Runner:
    """One benchmark process: session, workloads, checks and metrics."""

    def __init__(self, args):
        from perfbench import session
        from perfbench.trace import Tracer
        from perfbench.workloads import Ctx

        self.args = args
        self.work = os.path.join(ROOT, WORK_DIR)
        session.prepare_environment(ROOT, self.work)
        self.tracer = Tracer(enabled=False)
        self.spark = session.build_session(self.work)
        self.ctx = Ctx(
            spark=self.spark, work=self.work, seed=args.seed,
            nproc=session.cpu_count(), tracer=self.tracer,
            extract_docs=args.extract_docs, ops_docs=args.ops_docs,
        )
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self.peak_rss: dict[str, float] = {}
        self.overhead: dict[str, float] = {}
        self.pass_stolen: list[float] = []

    def close(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def workload(self, name: str):
        from perfbench import workloads as W

        cls = {"extract_bulk": W.ExtractBulk, "extract_resume": W.ExtractResume,
               "ops_suite": W.OpsSuite}[name]
        w = cls(self.ctx)
        t0 = time.perf_counter()
        w.prepare()
        self.gen_s += time.perf_counter() - t0
        return w

    def record(self, check) -> None:
        self.attempted += check.units
        self.failed += check.failed
        self.reasons.extend(check.reasons)

    def one_pass(self, w) -> float:
        """Restore, GC, then one timed pass and its checks; returns the
        pass wall. Also notes the pass's stolen CPU share."""
        from perfbench.rss import steal_s
        from perfbench.session import jvm_gc

        w.restore()
        jvm_gc(self.spark)
        steal0 = steal_s()
        t0 = time.perf_counter()
        with self.tracer.span(f"pass.{w.name}") as root:
            check = w.run()
        wall = time.perf_counter() - t0
        self.pass_stolen.append((steal_s() - steal0) / (wall * self.ctx.nproc))
        if root is not None:
            self.root = root
        w.verify(check)
        self.record(check)
        return w.pass_wall(wall)

    def warm(self, w, passes: int) -> float:
        """Untimed warm-up passes; returns the last one's wall.

        The count is fixed rather than "until the pass time settles": on
        this JVM the pass time falls for about four passes after the cold
        one as the JIT compiles, then varies by 5-10% around a plateau,
        so two passes in a row within 10% say little and a settle rule
        stops at a different point of the curve in each run. A fixed
        count makes every run time the same passes, on the plateau."""
        wall = 0.0
        for _ in range(passes):
            wall = self.one_pass(w)
        return wall

    # -- end-to-end run -------------------------------------------------

    def measure(self, name: str) -> dict:
        w = self.workload(name)
        w.cold()
        self.warm(w, WARM_PASSES)
        setup_s = time.perf_counter() - T_START - self.gen_s
        walls, clean = [], []
        t_end = time.perf_counter() + self.args.seconds
        while len(walls) < MAX_PASSES:
            walls.append(self.one_pass(w))
            if self.pass_stolen[-1] <= STEAL_MAX:
                clean.append(walls[-1])
            if len(clean) >= MIN_PASSES and time.perf_counter() >= t_end:
                break
        for c in w.final_checks():
            self.record(c)
        # the median clean pass: on the plateau the fastest pass is an
        # outlier as often as the slowest one
        wall = statistics.median(clean or walls)
        info = {"passes": [round(x, 4) for x in walls], "clean": len(clean),
                "gen_s": round(self.gen_s, 3),
                "stolen": [round(x, 3) for x in self.pass_stolen]}
        print(json.dumps({"info": info}), file=sys.stderr)
        return {
            "setup_s": setup_s,
            "wall_s": wall,
            "docs_per_s": w.docs_out() / wall,
        }

    # -- traced run -----------------------------------------------------

    def traced_pass(self, w) -> tuple[float, list, list]:
        """Warm up, then one traced pass; returns the traced wall and the
        traced pass's stages and SQL executions.

        Peak RSS is sampled during the last warm-up pass, so the sampler
        runs in no traced pass. The tracing overhead (traced wall minus
        untraced wall) is read as the time the tracer's own bookkeeping
        took in the traced pass: it is microseconds, far below the noise
        between two passes, so their difference would not show it."""
        from perfbench import sparkstats
        from perfbench.rss import PeakRss

        self.warm(w, WARM_PASSES - 1)
        rss = PeakRss()
        rss.start()
        try:
            self.one_pass(w)
        finally:
            rss.stop()
        self.peak_rss[w.name] = rss.peak_mb
        smark = sparkstats.stage_mark(self.spark)
        emark = sparkstats.execution_mark(self.spark)
        cost0 = self.tracer.cost_s
        with self.traced(f"traced.{w.name}"):
            wall = self.one_pass(w)
        self.overhead[w.name] = self.tracer.cost_s - cost0
        return (wall, sparkstats.stages_since(self.spark, smark),
                sparkstats.executions_since(self.spark, emark))

    def self_times(self, w, names: list[str]) -> dict:
        from perfbench.trace import self_times

        st = self_times(self.tracer.spans, self.root)
        m = {f"self.{w.name}.{n}_s": st.get(n, 0.0) for n in names}
        m[f"self.{w.name}.pass_s"] = st[f"pass.{w.name}"]
        return m

    def trace_bulk(self) -> dict:
        from perfbench import core, sparkstats

        w = self.workload("extract_bulk")
        w.cold()
        wall, stages, execs = self.traced_pass(w)
        udf = {}
        for e in execs:
            for k, v in sparkstats.node_metrics(self.spark, e.execution_id,
                                                "ArrowEvalPython").items():
                udf[k] = udf.get(k, 0) + v
        udf_names = {
            "udf.init_ms": "time to initialize Python workers",
            "udf.python_ms": "time to run Python workers",
            "udf.bytes_sent": "data sent to Python workers",
            "udf.bytes_received": "data returned from Python workers",
            "udf.rows": "number of output rows",
        }
        missing = sorted(set(udf_names.values()) - set(udf))
        if missing:
            raise RuntimeError(f"ArrowEvalPython metrics missing: {missing}")
        t = sparkstats.totals(stages)
        udf_stage = max(stages, key=lambda s: s.m["executorRunTime"])
        udf_wall_ms = max(1, udf_stage.completed_ms - udf_stage.submitted_ms)
        m = {
            "job.stages": t["stages"],
            "job.tasks": t["numTasks"],
            "job.shuffle_bytes": t["shuffleWriteBytes"],
            "job.gc_s": t["jvmGcTime"] / 1000,
            **{k: udf[v] for k, v in udf_names.items()},
            "udf.core_util": udf_stage.m["executorRunTime"] / (udf_wall_ms * self.ctx.nproc),
        }
        m.update(self.self_times(w, ["sources.read", "plans.job.run_extraction", "execute"]))

        scans = []
        for _ in range(3):
            mark = sparkstats.stage_mark(self.spark)
            with self.traced("leaf.scan_only"):
                scans.append(w.scan_only())
            scan_stages = sparkstats.stages_since(self.spark, mark)
        if not scan_stages:
            raise RuntimeError("the scan-only action left no completed stage")
        st = sparkstats.totals(scan_stages)
        m["scan.s"] = statistics.median(scans)
        m["scan.bytes"] = st["inputBytes"]
        m["scan.tasks"] = max(s.m["numTasks"] for s in scan_stages)
        with self.traced("leaf.null_udf"):
            m["udf.null_floor_s"] = statistics.median(w.null_floor() for _ in range(2))

        # where the steady pass's wall goes: scan, Arrow transit (null
        # UDF floor minus scan), Python work spread over the cores, and
        # the driver-side calls; the sum over the traced wall
        python_s = m["udf.python_ms"] / 1000 / self.ctx.nproc
        driver_s = (m["self.extract_bulk.sources.read_s"]
                    + m["self.extract_bulk.plans.job.run_extraction_s"])
        m["bulk.transit_s"] = m["udf.null_floor_s"] - m["scan.s"]
        m["bulk.python_s"] = python_s
        m["bulk.accounted_share"] = (m["udf.null_floor_s"] + python_s + driver_s) / wall

        import pandas as pd

        docs = pd.concat(pd.read_parquet(f, columns=["url", "html"]) for f in w.files)
        rows = core.sample_rows(docs, self.args.core_sample)
        with self.traced("leaf.core"):
            m.update(core.profile(rows, self.tracer))
        self.bulk = w
        return m

    @contextmanager
    def traced(self, name: str):
        """Trace the block as one span (children included)."""
        self.tracer.enabled = True
        try:
            with self.tracer.span(name):
                yield
        finally:
            self.tracer.enabled = False

    def trace_resume(self) -> dict:
        from perfbench import sparkstats

        w = self.workload("extract_resume")
        w.cold()
        wall, stages, execs = self.traced_pass(w)
        for c in w.final_checks():
            self.record(c)
        spans = {s["name"]: s for s in self.tracer.spans if s["id"] > self.root["id"]}
        prune = spans["plans.sink.prune_extraction_input"]
        merge = spans["plans.sink.merge"]

        def within(e, span):
            return span["epoch_start"] * 1000 <= e.start_ms <= span["epoch_end"] * 1000

        sink_execs = [e for e in execs if within(e, prune) or within(e, merge)]
        merge_execs = [e for e in execs if within(e, merge)]
        by_id = {s.stage_id: s for s in stages}

        def stage_sum(es, f):
            return sum(by_id[i].m[f] for e in es for i in e.stage_ids if i in by_id)

        write = max(merge_execs, key=lambda e: stage_sum([e], "executorRunTime"))
        before = [e for e in merge_execs if e.execution_id < write.execution_id]
        after = [e for e in merge_execs if e.execution_id > write.execution_id]
        counts = [e for e in sink_execs if e.description.startswith("count")]
        key_scans = [e for e in sink_execs if e in counts or e in before]
        # the write execution also runs the scan, the prune anti-join and
        # the UDF; only its stages after the UDF stage (the dedup exchange
        # read, the dedup and the parquet write) are the sink's
        write_stages = [by_id[i] for i in write.stage_ids if i in by_id]
        udf_stage = max(write_stages, key=lambda s: s.m["executorRunTime"])
        after_udf = [s for s in write_stages if s.stage_id > udf_stage.stage_id]
        if not after_udf:
            raise RuntimeError("the merge write ran no stage after the UDF stage")
        m = {
            "sink.prune_s": prune["end"] - prune["start"],
            "sink.merge_s": merge["end"] - merge["start"],
            "sink.jobs": sum(e.jobs for e in sink_execs),
            "sink.count_jobs": sum(e.jobs for e in counts),
            "sink.key_scan_s": sum(e.seconds for e in key_scans),
            "sink.shuffle_write_bytes": stage_sum(merge_execs, "shuffleWriteBytes"),
            "sink.write_s": (max(s.completed_ms for s in after_udf)
                             - min(s.submitted_ms for s in after_udf)) / 1000,
            "sink.bytes_written": stage_sum([write], "outputBytes"),
            "sink.lineage_s": sum(e.seconds for e in after),
            "sink.wall_share": 1 - (udf_stage.completed_ms - udf_stage.submitted_ms) / 1000 / wall,
        }
        m.update(self.self_times(w, ["sources.read", "plans.sink.prune_extraction_input",
                                     "plans.job.run_extraction", "plans.sink.merge"]))
        return m

    def trace_ops(self) -> dict:
        from perfbench import sparkstats

        w = self.workload("ops_suite")
        w.cold()
        _, stages, _ = self.traced_pass(w)
        for c in w.final_checks():
            self.record(c)
        m = {}
        for q in w.queries:
            qs = w.query_stages[q]
            t = sparkstats.totals(qs)
            m[f"q.{q}.s"] = w.query_s[q][-1]
            m[f"q.{q}.stages"] = t["stages"]
            m[f"q.{q}.shuffle_bytes"] = t["shuffleWriteBytes"]
        t = sparkstats.totals(stages)
        m["ops.executor_cpu_s"] = t["executorCpuTime"] / 1e9
        m["ops.gc_s"] = t["jvmGcTime"] / 1000
        m["self.ops_suite.pass_s"] = self.self_times(w, [])["self.ops_suite.pass_s"]
        return m

    def control(self) -> dict:
        """Same-window control leaf: code no change to the product
        touches. A shift here is the box, not the program."""
        def loop():
            t0 = time.perf_counter()
            acc = 0
            for i in range(2_000_000):
                acc += i * i
            return time.perf_counter() - t0

        return {
            "control.py_loop_s": statistics.median(loop() for _ in range(3)),
            "control.scan_s": statistics.median(self.bulk.scan_only() for _ in range(3)),
        }

    def trace_all(self) -> dict:
        m = {}
        for part in (self.trace_bulk, self.trace_resume, self.trace_ops, self.control):
            m.update(part())
            print(f"perfbench: {part.__name__} done at "
                  f"{time.perf_counter() - T_START:.1f}s", file=sys.stderr)
        m.update({f"rss.{w}.peak_mb": mb for w, mb in self.peak_rss.items()})
        m.update({f"trace.{w}.overhead_s": s for w, s in self.overhead.items()})
        self.tracer.write(os.path.join(self.work, "trace", f"{self.tracer.run_id}.jsonl"))
        return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not product_importable():
        print("perfbench: the product package is not importable from "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    from perfbench.layers import PER_LAYER_UNITS

    runner = Runner(args)
    try:
        if args.trace:
            values = runner.trace_all()
            units = PER_LAYER_UNITS
        else:
            values = runner.measure(args.workload)
            units = E2E_UNITS
    finally:
        runner.close()
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    for r in runner.reasons:
        print(f"check failed: {r}", file=sys.stderr)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
