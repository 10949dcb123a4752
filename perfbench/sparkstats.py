"""Read Spark's own accounting: the stage list of the status store, and
the SQL executions and plan metrics of the SQL status store. Nothing
here changes what Spark runs.

The status store answers with ``spark.ui.enabled=false``. Stages are
attributed to a pass by id: every stage with an id above the mark taken
before the pass belongs to it (one job at a time runs in this benchmark).
"""

from __future__ import annotations

from dataclasses import dataclass, field

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "inputBytes",
    "outputBytes", "shuffleWriteBytes", "jvmGcTime",
)


@dataclass
class Stage:
    stage_id: int
    submitted_ms: int
    completed_ms: int
    m: dict = field(default_factory=dict)


def _stage_list(spark):
    sc = spark.sparkContext
    return sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
    )


def stage_mark(spark) -> int:
    """Highest stage id so far (-1 before any stage)."""
    stages = _stage_list(spark)
    return max((stages.apply(k).stageId() for k in range(stages.size())), default=-1)


def _epoch_ms(opt) -> int:
    return int(opt.get().getTime()) if opt.isDefined() else 0


def stages_since(spark, mark: int) -> list[Stage]:
    """Completed stages with an id above ``mark``, in id order. Skipped
    stages (reused shuffle output) are not in the store's list as
    complete and are ignored. Waits for the listeners first, so the
    last stage of the action just finished is there."""
    drain(spark)
    out = []
    stages = _stage_list(spark)
    for k in range(stages.size()):
        s = stages.apply(k)
        if s.stageId() <= mark or str(s.status()) != "COMPLETE":
            continue
        out.append(Stage(
            stage_id=s.stageId(),
            submitted_ms=_epoch_ms(s.submissionTime()),
            completed_ms=_epoch_ms(s.completionTime()),
            m={f: int(getattr(s, f)()) for f in STAGE_FIELDS},
        ))
    return sorted(out, key=lambda s: s.stage_id)


def totals(stages: list[Stage]) -> dict:
    t = {f: 0 for f in STAGE_FIELDS}
    for s in stages:
        for f in STAGE_FIELDS:
            t[f] += s.m[f]
    t["stages"] = len(stages)
    return t


def drain(spark) -> None:
    """Wait until Spark's listeners have seen every event so far, so the
    status stores are complete for the work just finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def execution_mark(spark) -> int:
    """Highest SQL execution id so far (-1 before any)."""
    ex = _sql_store(spark).executionsList()
    return max((ex.apply(k).executionId() for k in range(ex.size())), default=-1)


@dataclass
class Execution:
    execution_id: int
    description: str
    start_ms: int
    end_ms: int
    stage_ids: list[int]
    jobs: int

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000


def executions_since(spark, mark: int) -> list[Execution]:
    """Finished SQL executions (one per DataFrame action) with an id
    above ``mark``, in id order."""
    drain(spark)
    out = []
    ex = _sql_store(spark).executionsList()
    for k in range(ex.size()):
        e = ex.apply(k)
        if e.executionId() <= mark:
            continue
        it = e.stages().iterator()
        stage_ids = []
        while it.hasNext():
            stage_ids.append(int(it.next()))
        out.append(Execution(
            execution_id=int(e.executionId()), description=e.description(),
            start_ms=int(e.submissionTime()), end_ms=_epoch_ms(e.completionTime()),
            stage_ids=sorted(stage_ids), jobs=int(e.jobs().size()),
        ))
    return sorted(out, key=lambda e: e.execution_id)


def node_metrics(spark, execution_id: int, node_name: str) -> dict[str, int]:
    """Sum of each SQL metric, by its display name, over the plan nodes
    called ``node_name`` in one execution's final (adaptive) plan. Values
    come from the live accumulators, which Spark holds only weakly: keep
    a reference to the executed DataFrame until this has run. A metric
    whose accumulator is gone raises rather than reading as 0."""
    acc = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
    nodes = _sql_store(spark).planGraph(execution_id).allNodes()
    sums: dict[str, int] = {}
    for k in range(nodes.size()):
        node = nodes.apply(k)
        if node.name() != node_name:
            continue
        metrics = node.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            a = acc.get(m.accumulatorId())
            if not a.isDefined():
                raise RuntimeError(f"{node_name} metric {m.name()!r} of execution "
                                   f"{execution_id} was collected before it was read")
            sums[m.name()] = sums.get(m.name(), 0) + int(a.get().value())
    return sums
