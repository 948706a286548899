"""Engine counters read from the JVM's application status store.

Spark records job, stage and task metrics for every application whether
or not its UI runs; the status store is the same data the UI and REST
API serve.  Reading it after a pass costs one Py4J round trip per list
(the lists are serialised to JSON inside the JVM), so the timing of the
pass itself is unchanged.

Spark 4.1's ``AppStatusStore.stageList`` takes five arguments
``(statuses, details, withSummaries, unsortedQuantiles, taskStatus)``;
the older one-argument form no longer exists.
"""

from __future__ import annotations

import json

#: session settings the reader needs: a matcher pass alone runs ~600
#: stages, and the default retention (1000) would drop the early ones
RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

SPARK_METRICS = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.stages_skipped", "count"),
    ("spark.tasks", "count"),
    ("spark.task_s", "s"),
    ("spark.cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("spark.driver_gap_s", "s"),
    ("spark.shuffle_per_input", "ratio"),
)


class StatusStore:
    """Snapshot reader over ``SparkContext``'s status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper.registerModule(scala_module)
        self._quantiles = sc._gateway.new_array(jvm.double, 0)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        return json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._quantiles, None)
            )
        )

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def stage_totals(stages: list[dict]) -> dict:
    """Sums over the stages that ran (skipped stages did no work)."""
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    return {
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "task_s": sum(s["executorRunTime"] for s in ran) / 1e3,
        "cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "input_bytes": sum(s["inputBytes"] for s in ran),
        "output_bytes": sum(s["outputBytes"] for s in ran),
    }


def pass_counters(
    store: StatusStore, after_job_id: int, start_ms: float, end_ms: float
) -> dict[str, float]:
    """Engine counters of the jobs submitted after ``after_job_id``,
    i.e. one pass; ``start_ms``/``end_ms`` bound the pass in epoch ms."""
    jobs = [j for j in store.jobs() if j["jobId"] > after_job_id]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [s for s in store.stages() if s["stageId"] in stage_ids]
    totals = stage_totals(stages)
    busy = covered_seconds(
        [
            (max(s["submissionTime"], start_ms), min(s["completionTime"], end_ms))
            for s in stages
            if s["status"] != "SKIPPED"
            and s.get("submissionTime")
            and s.get("completionTime")
        ]
    )
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_ids),
        "spark.stages_skipped": len(
            {s["stageId"] for s in stages if s["status"] == "SKIPPED"}
        ),
        "spark.tasks": totals["tasks"],
        "spark.task_s": totals["task_s"],
        "spark.cpu_s": totals["cpu_s"],
        "spark.gc_s": totals["gc_s"],
        "spark.shuffle_write_bytes": totals["shuffle_write_bytes"],
        "spark.input_bytes": totals["input_bytes"],
        "spark.output_bytes": totals["output_bytes"],
        "spark.driver_gap_s": max(0.0, (end_ms - start_ms) / 1e3 - busy / 1e3),
        "spark.shuffle_per_input": (
            totals["shuffle_write_bytes"] / totals["input_bytes"]
            if totals["input_bytes"]
            else 0.0
        ),
    }


def group_totals(store: StatusStore, after_job_id: int) -> dict[str, dict]:
    """Per job group: job count plus :func:`stage_totals` of its jobs."""
    by_group: dict[str, list[dict]] = {}
    for j in store.jobs():
        if j["jobId"] > after_job_id and j.get("jobGroup"):
            by_group.setdefault(j["jobGroup"], []).append(j)
    stages = {s["stageId"]: s for s in store.stages()}
    out = {}
    for group, jobs in by_group.items():
        ids = {sid for j in jobs for sid in j["stageIds"]}
        out[group] = {
            "jobs": len(jobs),
            **stage_totals([stages[i] for i in ids if i in stages]),
        }
    return out
