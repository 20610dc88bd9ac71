"""Fluent Pipeline facade: extract → transform* → load* → run.

Reference: src/orchestration/pipeline.py:80-264 + pipeline_core.py.

The reference fully materialized every stage in driver memory
(pipeline.py:157) with a barrier between transformers
(pipeline_core.py:49). Here the pipeline is ONE lazy DataFrame chain:
transformers are DataFrame → DataFrame callables, Catalyst fuses the
narrow ones into a single stage, and nothing materializes until the
load actions. Multi-destination runs cache the final frame once
(ref pipeline_core.py:82-134 per-sink transactions → per-sink write
actions under Spark's job commit).

Staged mode (extract-only / transform-only / load-only crossing
process lifetimes, ref pipeline.py:345-475) persists checkpoint
parquet between stages.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame


@dataclass
class PipelineFailure:
    """Why a run failed: the stage that raised (``"plan"`` while the
    transformers build the frame, ``"execute"`` while it is computed
    and counted, ``"load[i]"`` in the i-th load), the exception's type
    name and its formatted traceback."""

    stage: str
    error_type: str
    traceback: str


@dataclass
class PipelineResult:
    success: bool
    records_loaded: int
    stage_durations: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    failure: Optional[PipelineFailure] = None


class Pipeline:
    def __init__(self, pipeline_id: str = "pipeline", checkpoint_dir: Optional[str] = None) -> None:
        self.pipeline_id = pipeline_id
        self.checkpoint_dir = checkpoint_dir
        self._source: Optional[DataFrame] = None
        self._transformers: list[Callable[[DataFrame], DataFrame]] = []
        self._loads: list[Callable[[DataFrame], None]] = []

    def extract(self, df: DataFrame) -> "Pipeline":
        self._source = df
        return self

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        self._transformers.append(fn)
        return self

    def load(self, fn: Callable[[DataFrame], None]) -> "Pipeline":
        self._loads.append(fn)
        return self

    def dataframe(self) -> DataFrame:
        """The composed lazy plan (the IR — ref's three lists become
        one logical plan Catalyst can optimize across)."""
        if self._source is None:
            raise ValueError("no source; call extract() first")
        return self._transformed(self._source)

    def _transformed(self, df: DataFrame) -> DataFrame:
        for t in self._transformers:  # user order preserved (ref :44-51)
            df = t(df)
        return df

    def run(self) -> PipelineResult:
        durations: dict[str, float] = {}
        stage = "plan"
        t0 = time.perf_counter()
        try:
            df = self.dataframe()
            durations["plan"] = time.perf_counter() - t0

            stage = "execute"
            t1 = time.perf_counter()
            # cache for ANY destination count: records_loaded comes
            # from count() before the writes, so without the cache a
            # single-destination run executes the whole transform
            # chain twice — and a nondeterministic step (sampling,
            # salting) could make the reported count differ from the
            # rows actually written
            df = df.cache()
            try:
                count = df.count()
                for i, load in enumerate(self._loads):
                    stage = f"load[{i}]"
                    load(df)
            finally:
                df.unpersist()
            durations["execute"] = time.perf_counter() - t1
            return PipelineResult(True, count, durations)
        except Exception as e:  # noqa: BLE001 — mirrors ref's error list
            failure = PipelineFailure(stage, type(e).__name__, traceback.format_exc())
            return PipelineResult(False, 0, durations, [str(e)], failure)

    # -- staged mode (ref pipeline.py:345-475) --------------------------

    def _ckpt(self, stage: str) -> str:
        if not self.checkpoint_dir:
            raise ValueError("staged mode needs checkpoint_dir")
        return os.path.join(self.checkpoint_dir, self.pipeline_id, stage)

    def run_extract_only(self) -> str:
        path = self._ckpt("extracted")
        self.dataframe_source().write.mode("overwrite").parquet(path)
        return path

    def dataframe_source(self) -> DataFrame:
        if self._source is None:
            raise ValueError("no source")
        return self._source

    def run_transform_only(self) -> str:
        spark = self.dataframe_source().sparkSession
        df = self._transformed(spark.read.parquet(self._ckpt("extracted")))
        path = self._ckpt("transformed")
        df.write.mode("overwrite").parquet(path)
        return path

    def run_load_only(self) -> PipelineResult:
        if self._source is None:
            raise ValueError("no source session")
        spark = self._source.sparkSession
        df = spark.read.parquet(self._ckpt("transformed"))
        count = df.count()
        for load in self._loads:
            load(df)
        return PipelineResult(True, count)
