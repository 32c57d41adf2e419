"""Spark-side counters read from outside the engine: job, stage and
task counts per job group from ``SparkContext.statusTracker()``,
shuffle bytes from the driver's status store, and SQL metrics from an
executed physical plan."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0  # shuffle write + shuffle read


class GroupCounter:
    """Counts the Spark work submitted under one job group. Jobs are
    identified by id, so a caller can attribute the jobs that started
    between two ``job_ids()`` calls to whatever ran in between."""

    def __init__(self, spark, group: str):
        self.sc = spark.sparkContext
        self.group = group
        self.sc.setJobGroup(group, group)
        self._store = self.sc._jsc.sc().statusStore()
        self._stage_defaults = [
            getattr(self._store, f"stageData$default${i}")() for i in (3, 4, 5)
        ]

    def job_ids(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def counts(self, job_ids: set[int] | None = None, shuffle: bool = False) -> Counts:
        tracker = self.sc.statusTracker()
        ids = self.job_ids() if job_ids is None else job_ids
        out = Counts(jobs=len(ids))
        for j in ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                if st is None:
                    continue
                out.stages += 1
                out.tasks += st.numTasks
                if shuffle:
                    out.shuffle_bytes += self._shuffle_bytes(s)
        return out

    def _shuffle_bytes(self, stage_id: int) -> int:
        attempts = self._store.stageData(stage_id, False, *self._stage_defaults)
        total = 0
        for i in range(attempts.size()):
            a = attempts.apply(i)
            total += a.shuffleWriteBytes() + a.shuffleReadBytes()
        return total

    def close(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)


def storage_used_mb(spark) -> float:
    """Memory the block managers hold for cached and persisted data
    (storage memory in use, summed over executors)."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    used = 0
    while it.hasNext():
        max_and_remaining = it.next()
        used += max_and_remaining._1() - max_and_remaining._2()
    return used / 2**20


def plan_metric(df, names: tuple[str, ...]) -> dict[str, int]:
    """Sum of the named SQL metrics over every node of ``df``'s executed
    physical plan, descending into cached relations and final adaptive
    plans. Call after ``df`` has been materialized."""
    totals = {n: 0 for n in names}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        metrics = node.metrics()
        for n in names:
            if metrics.contains(n):
                totals[n] += int(metrics.apply(n).value())
        kind = node.nodeName()
        if kind == "InMemoryTableScan":
            todo.append(node.relation().cachedPlan())
        elif kind.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return totals
