"""Pipeline orchestration — the rebuild of the reference's Stage/Pipeline/
PipelineConfig surface.

Reference: matching/pipepline/Pipeline.scala:28-247 runs a named list of
stages once per PipelineConfig, each config in its own Future with a
polling loop, storing `(config, outputName, DataFrameType, DataFrame)`
tuples under a lock, validating output schemas between stages and caching
every stage output.

Rebuild: each config's stages run in order, and the configs run
concurrently from a thread pool (Spark's scheduler is thread-safe, so a
ThreadPoolExecutor gives the same overlap without sleep-polling);
explicit schema validation via validator.
`Pipeline` itself never persists: a stage function persists the frames it
fans out (see apps.run_full_matcher).  Stage results are plain
DataFrames; no global mutable registry is needed beyond the run's own
dict.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from puma_matcher_spark.schemas import FrameType
from puma_matcher_spark.validator import assert_compliant


@dataclass
class PipelineConfig:
    """Per-entity-type bundle — matching/pipepline/PipelineConfig.scala:27-66."""

    name: str
    params: dict = field(default_factory=dict)


@dataclass
class Stage:
    """A named transform with declared io — matching/stage/Stage.scala:21-36.

    ``fn(config, inputs) -> DataFrame``; ``inputs`` maps each name in
    ``input`` to the producing stage's output.  ``frame_type`` (if set)
    is validated against the output schema, mirroring
    Pipeline.scala:193-201.  A stage that returns None raises.  The
    reference's optional stages, whose None passes their input through
    (Pipeline.scala:215-222), are not ported: no stage uses them.
    """

    name: str
    input: list[str]
    output: str
    fn: Callable[[PipelineConfig, dict[str, DataFrame]], DataFrame]
    frame_type: FrameType | None = None


class Pipeline:
    def __init__(self, name: str, stages: list[Stage]):
        self.name = name
        self.stages = stages
        outputs = [s.output for s in stages]
        dupes = {o for o in outputs if outputs.count(o) > 1}
        if dupes:  # Pipeline.scala:38-52 uniqueness check
            raise ValueError(f"duplicate stage outputs: {sorted(dupes)}")
        self.results: dict[tuple[str, str], DataFrame] = {}
        # guards the shared frame storage (the reference does the same,
        # Pipeline.scala:58,206)
        self._results_lock = threading.Lock()

    def run_config(self, config: PipelineConfig) -> dict[str, DataFrame]:
        frames: dict[str, DataFrame] = {}
        for stage in self.stages:
            missing = [i for i in stage.input if i not in frames]
            if missing:
                raise ValueError(
                    f"stage {stage.name} in {self.name}: missing inputs {missing}"
                )
            inputs = {i: frames[i] for i in stage.input}
            out = stage.fn(config, inputs)
            if out is None:
                raise ValueError(f"stage {stage.name} in {self.name} returned None")
            if stage.frame_type is not None:
                assert_compliant(
                    out, stage.frame_type.schema, f"{self.name}/{stage.name}"
                )
            frames[stage.output] = out
        return frames

    def run(self, configs: list[PipelineConfig]) -> dict[str, dict[str, DataFrame]]:
        """Run all configs; with more than one, each config's DAG is
        submitted from its own thread (Spark jobs interleave), matching the
        reference's per-config Futures without the sleep-poll loop.

        Each config thread inherits the caller's local properties and job
        tags (job group, description, scheduler pool), so the caller's
        ``cancelJobGroup`` and job-group status reach every config's jobs.
        Every config gets its own copy: threads sharing one would also
        share the SQL execution id Spark sets per query.

        Results are recorded in the order of ``configs``, not in the order
        the threads finish, so :meth:`as_data_source` builds the same
        union every run."""
        if len(configs) > 1:
            spark = SparkSession.active()
            with ThreadPoolExecutor(max_workers=len(configs)) as ex:
                futs = {
                    c.name: ex.submit(
                        inheritable_thread_target(spark)(self.run_config), c
                    )
                    for c in configs
                }
                outs = {name: f.result() for name, f in futs.items()}
        else:
            outs = {c.name: self.run_config(c) for c in configs}
        with self._results_lock:
            for name, frames in outs.items():
                for output, df in frames.items():
                    self.results[(name, output)] = df
        return outs

    def fork(self, name: str, stages: list[Stage]) -> "Pipeline":
        """New pipeline seeded with a snapshot of this one's accumulated
        results (Pipeline.scala:237-246) — downstream pipelines consume
        upstream outputs via ``as_data_source`` without rerunning them.
        The snapshot is a copy: the child's own runs never mutate the
        parent (and collide-by-name outputs stay isolated)."""
        with self._results_lock:
            snapshot = dict(self.results)
        child = Pipeline(name, stages)
        child.results = snapshot
        return child

    def as_data_source(self, output: str) -> DataFrame:
        """Union one output across all configs, in the order they were
        passed to :meth:`run` — Pipeline.scala:69-94 (column-aligned
        union; we use unionByName, safer than positional)."""
        with self._results_lock:
            frames = [df for (cfg, out), df in self.results.items() if out == output]
        if not frames:
            raise KeyError(f"no results for output {output}")
        result = frames[0]
        for f in frames[1:]:
            result = result.unionByName(f)
        return result
