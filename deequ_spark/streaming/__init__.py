"""Streaming verification — incremental data quality over Structured
Streaming.

The reference has NO streaming support (SURVEY §1: its incrementality is
persisted mergeable states, StateProvider.scala). Because every analyzer
state in this engine is a commutative semigroup, streaming falls out
naturally: each micro-batch contributes a batch state, merged into the
running state; metrics over all data seen so far are recomputed from the
merged states WITHOUT rescanning history (parity with the reference's
``runOnAggregatedStates`` idea, AnalysisRunner.scala:466-541, lifted onto
``foreachBatch``).

Scale notes (100 TB/day streams): per batch the work is the same fused
single-pass aggregation as the batch engine (one job for all scan
analyzers); the merged state is O(analyzers), not O(rows). Frequency
(GROUP BY) states are DataFrame-valued — merged via union + re-aggregate
and localCheckpoint()ed each batch so plan lineage stays bounded.

Usage::

    sv = StreamingVerification(analyzers=[Size(), Completeness("x")],
                               checks=[check])
    q = (stream_df.writeStream.foreachBatch(sv.foreach_batch)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    sv.latest_metrics()     # cumulative over all batches
    sv.results              # per-batch evaluation history
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame

from .. import storage
from ..analyzers.base import Analyzer, State
from ..checks import Check, CheckResult, CheckStatus
from ..runners.analysis_runner import (AnalyzerContext, do_analysis_run,
                                       run_on_aggregated_states)
from ..states import InMemoryStateProvider


@dataclass
class StreamingBatchResult:
    """Outcome of one micro-batch: metrics over data-so-far + check
    evaluation."""

    batch_id: int
    status: CheckStatus
    check_results: Dict[Check, CheckResult]
    context: AnalyzerContext
    rows_in_batch: int


class StreamingVerification:
    """Incremental VerificationSuite over ``foreachBatch``.

    ``mode='cumulative'`` (default) evaluates checks against metrics over
    ALL rows seen so far (states merged across batches).
    ``mode='batch'`` evaluates each micro-batch in isolation.
    """

    def __init__(self, analyzers: Optional[Sequence[Analyzer]] = None,
                 checks: Optional[Sequence[Check]] = None,
                 mode: str = "cumulative",
                 repository=None,
                 result_tags: Optional[Dict[str, str]] = None):
        if mode not in ("cumulative", "batch"):
            raise ValueError("mode must be 'cumulative' or 'batch'")
        self.checks: List[Check] = list(checks or [])
        required = list(analyzers or [])
        for c in self.checks:
            required.extend(c.required_analyzers())
        # stable dedup
        seen, self.analyzers = set(), []
        for a in required:
            if a not in seen:
                seen.add(a)
                self.analyzers.append(a)
        self.mode = mode
        self.repository = repository
        self.result_tags = dict(result_tags or {})
        self._cumulative = InMemoryStateProvider()
        self.results: List[StreamingBatchResult] = []

    # -- the foreachBatch hook -------------------------------------------

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_states = InMemoryStateProvider()
        # fused single-pass scan + grouping over THIS batch only. Inside
        # a storage scope the frequency states stay cached, so the
        # cumulative merge below reads the cache instead of re-running
        # the batch's groupBy shuffle (r12: the shuffle ran twice per
        # micro-batch — once for batch metrics, once inside the merge
        # checkpoint); the scope frees them on exit.
        with storage.scope() as s:
            batch_ctx = do_analysis_run(batch_df, self.analyzers,
                                        save_states_with=batch_states)
            if self.mode == "cumulative":
                self._merge_into_cumulative(batch_states, s)
                ctx = run_on_aggregated_states(
                    batch_df, self.analyzers, [self._cumulative])
            else:
                # the batch context IS the result — no recompute needed
                ctx = batch_ctx

        check_results = {c: c.evaluate(ctx.metric_map) for c in self.checks}
        order = {CheckStatus.SUCCESS: 0, CheckStatus.WARNING: 1,
                 CheckStatus.ERROR: 2}
        status = max((r.status for r in check_results.values()),
                     key=lambda s: order[s], default=CheckStatus.SUCCESS)

        # batch row count from the BATCH context/states (in cumulative mode
        # the evaluated ctx holds the running total, not this batch's rows)
        rows = next((int(m.value) for a, m in batch_ctx.metric_map.items()
                     if type(a).__name__ == "Size" and m.is_success), -1)
        self.results.append(StreamingBatchResult(
            int(batch_id), status, check_results, ctx, rows))

        if self.repository is not None:
            from ..repository import ResultKey
            self.repository.save(
                ResultKey(int(batch_id),
                          {**self.result_tags, "streaming_batch": str(batch_id)}),
                ctx)

    __call__ = foreach_batch  # so the instance itself can be passed

    def _merge_into_cumulative(self, batch_states: InMemoryStateProvider,
                               s: "storage.Scope"):
        # analyzers of one frequency group save ONE state object: merge
        # it once, so its previous checkpoint is released only after
        # every analyzer sharing it moved on
        merged_states: Dict[tuple, State] = {}
        for a in self.analyzers:
            new = batch_states.load(a)
            if new is None:
                continue
            prev = self._cumulative.load(a)
            key = (id(prev), id(new))
            if key not in merged_states:
                merged = new if prev is None else prev.merge(new)
                # DataFrame-valued states (frequency tables): cut lineage
                # so the merged plan doesn't grow with the number of
                # batches. The new checkpoint outlives the batch and
                # supersedes the previous one, released now so executor
                # storage stays bounded over long streams (the batch's
                # cache goes with the scope)
                freq_df = getattr(merged, "frequencies", None)
                if freq_df is not None:
                    object.__setattr__(merged, "frequencies", s.keep(
                        s.checkpoint(freq_df, eager=True)))
                    if prev is not None:
                        s.release(prev.frequencies)
                merged_states[key] = merged
            self._cumulative.persist(a, merged_states[key])

    # -- results ----------------------------------------------------------

    @property
    def latest(self) -> Optional[StreamingBatchResult]:
        return self.results[-1] if self.results else None

    def latest_metrics(self) -> Dict[Analyzer, Any]:
        if not self.results:
            return {}
        return {a: m.value for a, m in self.results[-1].context.metric_map.items()
                if m.is_success}

    def cumulative_states(self) -> InMemoryStateProvider:
        return self._cumulative


def verify_stream(stream_df: DataFrame,
                  checks: Sequence[Check],
                  analyzers: Optional[Sequence[Analyzer]] = None,
                  mode: str = "cumulative",
                  available_now: bool = True,
                  checkpoint_location: Optional[str] = None,
                  await_termination: bool = True) -> StreamingVerification:
    """One-call convenience: attach a StreamingVerification to a streaming
    DataFrame and (by default) drain it with Trigger.AvailableNow."""
    sv = StreamingVerification(analyzers=analyzers, checks=checks, mode=mode)
    writer = stream_df.writeStream.foreachBatch(sv.foreach_batch)
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if await_termination:
        query.awaitTermination()
    return sv


def verify_file_stream(spark, path: str,
                       checks: Sequence[Check] = (),
                       analyzers: Optional[Sequence[Analyzer]] = None,
                       mode: str = "cumulative",
                       source_format: str = "parquet",
                       schema=None,
                       max_files_per_trigger: Optional[int] = None,
                       max_bytes_per_trigger: Optional[str] = None,
                       available_now: bool = True,
                       checkpoint_location: Optional[str] = None,
                       await_termination: bool = True
                       ) -> StreamingVerification:
    """File-source streaming verification with the MICRO-BATCH SIZE knobs
    surfaced — the knob that governs throughput at scale.

    Each micro-batch pays a fixed scheduling + state-merge cost of
    ~0.2-0.35 s regardless of how many rows it carries (measured,
    tools/AB_B12_NOTE.md), so total cost ≈ batches × fixed + rows ×
    per-row. At 100 TB the failure mode is inheriting a tiny-batch shape
    (e.g. one small file per trigger → thousands of batches paying fixed
    cost); size batches in the hundreds-of-MB via
    ``max_bytes_per_trigger`` (e.g. ``"512m"``) or bound file count via
    ``max_files_per_trigger``. Leaving BOTH unset lets AvailableNow take
    everything pending in one batch — the cheapest drain for backfills.

    ``schema`` defaults to a one-time batch-read inference of ``path``
    (file streams require an explicit schema)."""
    if schema is None:
        schema = spark.read.format(source_format).load(path).schema
    reader = spark.readStream.format(source_format).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", max_bytes_per_trigger)
    return verify_stream(reader.load(path), checks=checks,
                         analyzers=analyzers, mode=mode,
                         available_now=available_now,
                         checkpoint_location=checkpoint_location,
                         await_termination=await_termination)


from .dedup import (streaming_deduplicate,  # noqa: E402,F401
                    streaming_deduplicate_exact,
                    streaming_fingerprint_deduplicate)
from .drift import (DriftBatchResult,  # noqa: E402,F401
                    StreamingDriftMonitor)
from .frequent import (streaming_heavy_hitters,  # noqa: E402,F401
                       verify_heavy_hitters)
