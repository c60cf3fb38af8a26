"""AnalysisRunner — fuses many analyzers into minimal Spark work.

Reference parity:
/root/reference/src/main/scala/com/amazon/deequ/analyzers/runners/
AnalysisRunner.scala:101-247 (orchestration), :342-387 (scan fusion with
offsets), :560-628 (grouping fusion), :122-134 (metric reuse from
repository), :389-416 (column pruning before agg).

Execution contract (the engine's scale story):
  * N scan-shareable analyzers  → exactly ONE ``df.agg(...)`` job = one
    pass over the data, regardless of N.
  * Frequency groups: every analyzer that reads a frequency table — the
    grouping analyzers (Uniqueness, Entropy, MutualInformation, …) and
    Histogram — joins the group of its (grouping columns, where). Each
    group runs ONE GROUP BY (one shuffle). With grouping analyzers it is
    null-inclusive: they read it minus the all-null-key group, with
    their second stages fused into one agg that also recovers num_rows
    as SUM(absolute) (one action, vs two jobs in the reference), and
    each Histogram reads its string-cast regrouping, a post-shuffle
    aggregation over distinct values. Histograms without a grouping
    analyzer share the first one's own string GROUP BY.
  * A Histogram stays standalone (its own GROUP BY on the string-cast
    value) when it has a ``binning_udf`` or ``sum_column`` (they change
    the grouped expression), a backticked column name, or a column that
    is float/double or not atomic: groupBy normalizes -0.0 and NaN —
    also inside arrays and structs — before the cast, which the
    Histogram's own string groupBy keeps apart.
  * Column pruning: the fused scan selects only referenced columns so
    parquet/DSv2 scans read a narrow projection.
"""

from __future__ import annotations

import contextvars
import json
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import AtomicType, DataType, DoubleType, FloatType
from pyspark.storagelevel import StorageLevel

from .. import storage
from ..analyzers.base import Analyzer, ScanShareableAnalyzer, State
from ..analyzers.grouping import (COUNT_COL, FrequenciesAndNumRows,
                                  FrequencyBasedAnalyzer, Histogram,
                                  ScanShareableFrequencyBasedAnalyzer,
                                  exclude_all_null_groups,
                                  frequencies_plan_all)
from ..compat import CamelCaseMixin, PyDeequCompatMeta
from ..metrics import DoubleMetric, Metric


@dataclass
class AnalyzerContext:
    """Computed metrics per analyzer (parity: AnalyzerContext.scala)."""

    metric_map: Dict[Analyzer, Metric] = field(default_factory=dict)

    def all_metrics(self) -> List[Metric]:
        return list(self.metric_map.values())

    def metric(self, analyzer: Analyzer) -> Optional[Metric]:
        return self.metric_map.get(analyzer)

    def __add__(self, other: "AnalyzerContext") -> "AnalyzerContext":
        merged = dict(self.metric_map)
        merged.update(other.metric_map)
        return AnalyzerContext(merged)

    def _simplified_rows(self, for_analyzers=None):
        """Flattened (entity, instance, name, value) rows with the metric
        name decorated by the analyzer's filter, exactly as the reference
        renders them (AnalyzerContext.scala:78-127: FilterableAnalyzer →
        'Name (where: cond)')."""
        rows = []
        for analyzer, metric in self.metric_map.items():
            if for_analyzers and analyzer not in for_analyzers:
                continue
            where = getattr(analyzer, "where", None)
            flattened = getattr(metric, "flattened", None)
            for m in (flattened if flattened is not None else [metric]):
                # flattened metrics are DoubleMetrics by contract; a
                # custom Metric subclass without a `flattened` property
                # and a non-numeric payload is skipped, not crashed on
                if m.is_success and isinstance(m.value, (int, float)) \
                        and not isinstance(m.value, bool):
                    name = (f"{m.name} (where: {where})" if where is not None
                            else m.name)
                    rows.append((m.entity.value, m.instance, name,
                                 float(m.value)))
        return rows

    def success_metrics_as_json(self, for_analyzers=None) -> str:
        return json.dumps([
            {"entity": e, "instance": i, "name": n, "value": v}
            for e, i, n, v in self._simplified_rows(for_analyzers)])

    def success_metrics_as_dataframe(self, spark: SparkSession,
                                     for_analyzers: Optional[Sequence[Analyzer]] = None
                                     ) -> DataFrame:
        return spark.createDataFrame(
            self._simplified_rows(for_analyzers),
            "entity string, instance string, name string, value double")


def _dedup(analyzers: Sequence[Analyzer]) -> List[Analyzer]:
    seen, out = set(), []
    for a in analyzers:
        if a not in seen:
            seen.add(a)
            out.append(a)
    return out


class _LockingStateProvider:
    """Serializes persist/load against a wrapped StateProvider: the
    runner's execution groups save DISJOINT analyzer keys, but provider
    internals (one backing dict, one filesystem directory) are shared
    and make no thread-safety promise of their own."""

    def __init__(self, inner):
        import threading
        self._inner = inner
        self._lock = threading.Lock()

    def persist(self, analyzer, state) -> None:
        with self._lock:
            self._inner.persist(analyzer, state)

    def load(self, analyzer):
        with self._lock:
            return self._inner.load(analyzer)


def _run_task_groups(data: DataFrame, tasks: List[Any]) -> AnalyzerContext:
    """Execute the runner's independent per-group actions, overlapped.

    Each task is one self-contained Spark action chain over a disjoint
    analyzer set (fused scan / KLL pass / one frequency group / one
    standalone analyzer). With ≥2 tasks they are submitted from a small
    thread pool so one group's tasks back-fill executors idled by
    another group's straggler tail (guide §2.6 — actions are only
    sequential because the driver calls them sequentially); results
    merge in SUBMISSION order, so the metric map is identical to a
    sequential run, value for value and key-order included.
    ``spark.deequ.runner.maxConcurrentGroups`` (default 3, guide §2.6:
    "2-3 jobs in flight is plenty") bounds in-flight actions; ≤1 runs
    sequentially in the calling thread. Pool threads run under
    ``inheritable_thread_target`` so the caller's job group / job
    description / other thread-local properties propagate to the jobs
    the tasks submit (and cancellation via job group still reaches
    them), and each task runs in a copy of the caller's context, so its
    storage scopes nest in the caller's."""
    results = AnalyzerContext()
    max_conc = 3
    try:
        max_conc = int(data.sparkSession.conf.get(
            "spark.deequ.runner.maxConcurrentGroups", "3"))
    except Exception:  # noqa: BLE001 — conf unreadable → default
        pass
    if len(tasks) <= 1 or max_conc <= 1:
        for t in tasks:
            results += t()
        return results
    from concurrent.futures import ThreadPoolExecutor

    try:
        from pyspark import inheritable_thread_target
        # session form (Spark 3.5+/4.x): inherits job group, job
        # description AND session tags into the pool threads
        deco = inheritable_thread_target(data.sparkSession)
        wrapped = [deco(t) for t in tasks]
    except Exception:  # noqa: BLE001 — utility unavailable → plain tasks
        wrapped = tasks
    with ThreadPoolExecutor(max_workers=min(max_conc, len(tasks))) as pool:
        # pool threads do not inherit the caller's context: each task
        # runs in a copy, so it sees the caller's storage scope
        futures = [pool.submit(contextvars.copy_context().run, t)
                   for t in wrapped]
        try:
            for fut in futures:
                results += fut.result()
        except BaseException:
            # first failure cancels every not-yet-started task so later
            # groups cannot persist states after the run has raised —
            # the closest a pool gets to sequential mode's
            # stop-at-first-failure (in-flight tasks still drain)
            for f in futures:
                f.cancel()
            raise
    return results


def do_analysis_run(data: DataFrame,
                    analyzers: Sequence[Analyzer],
                    metrics_repository=None,
                    reuse_existing_results_for_key=None,
                    save_or_append_results_with_key=None,
                    save_states_with=None,
                    aggregate_with=None,
                    fail_if_results_missing: bool = False) -> AnalyzerContext:
    """Compute all metrics with minimal passes (parity:
    AnalysisRunner.scala:101-247). Reuse and save are SEPARATE keys (as in
    the reference): passing a reuse key never writes back — otherwise a
    transient failure metric would poison the repository for that key.

    ``aggregate_with`` (parity: AnalysisRunner aggregateWith) is a state
    loader holding PRIOR states: the data (typically a delta partition) is
    scanned once with the usual fusion, its states are merged with the
    prior ones, and metrics come from the merged states — the incremental
    pattern (IncrementalAnalysisTest.scala:30-105). ``save_states_with``
    then persists the MERGED states, so consecutive deltas chain. Both
    may be the SAME FileSystemStateProvider, constructed with
    ``allow_overwrite=True`` (the default, HdfsStateProvider parity,
    refuses the second write): each metric is computed before its merged
    state is persisted, and a frequency table is written beside the one
    it was merged from and then swapped in.

    Saved frequency tables (the DataFrame-valued states of grouping
    analyzers and Histograms) stay cached exactly when the caller has a
    ``storage.scope()`` open: the scope then owns them and frees them on
    exit, so a merge inside it reads the cache instead of re-running the
    GROUP BY. Without an open scope a saved frequency state is a lazy
    plan and the run leaves no cache behind. The ``aggregate_with`` path
    opens a scope around the delta run and the merge."""
    analyzers = _dedup(analyzers)
    if not analyzers:
        return AnalyzerContext()

    if aggregate_with is not None:
        from ..states import InMemoryStateProvider
        delta_states = InMemoryStateProvider()
        # the delta's frequency tables stay cached through the merge,
        # which reads each of them twice (metric, then persist)
        with storage.scope():
            do_analysis_run(data, analyzers, save_states_with=delta_states)
            ctx = run_on_aggregated_states(
                data, analyzers, [aggregate_with, delta_states],
                save_states_with=save_states_with)
        if metrics_repository is not None and save_or_append_results_with_key is not None:
            metrics_repository.save(save_or_append_results_with_key, ctx)
        return ctx

    # 1. reuse SUCCESSFUL metrics already in the repository (:122-134)
    results = AnalyzerContext()
    to_run: List[Analyzer] = []
    if metrics_repository is not None and reuse_existing_results_for_key is not None:
        existing = metrics_repository.load_by_key(reuse_existing_results_for_key)
        existing_map = existing.metric_map if existing else {}
        for a in analyzers:
            if a in existing_map and existing_map[a].is_success:
                results.metric_map[a] = existing_map[a]
            else:
                to_run.append(a)
    else:
        to_run = list(analyzers)

    # 1b. strict-reuse mode: the caller asserted every metric is already in
    # the repository (parity: VerificationRunBuilder.scala:195-205,
    # ReusingNotPossibleResultsMissingException)
    if fail_if_results_missing and to_run:
        missing = ", ".join(str(a) for a in to_run)
        raise ValueError(
            "fail_if_results_missing is set but these analyzers have no "
            f"stored metrics for the reuse key: {missing}")

    # 2. preconditions → failure metrics without running (:143-152)
    passed: List[Analyzer] = []
    schema = data.schema
    for a in to_run:
        try:
            for check in a.preconditions():
                check(schema)
            passed.append(a)
        except Exception as exc:  # noqa: BLE001
            results.metric_map[a] = a.to_failure_metric(exc)

    # 3. partition by execution strategy (:154-160): every frequency
    # consumer joins the group of its (columns, where)
    from ..analyzers.kll import KLLSketch, compute_kll_states
    scanning = [a for a in passed if isinstance(a, ScanShareableAnalyzer)]
    klls = [a for a in passed if isinstance(a, KLLSketch)]
    types = {f.name: f.dataType for f in schema.fields}
    groups: Dict[Tuple, List[FrequencyBasedAnalyzer]] = {}
    for a in passed:
        key = _frequency_key(a, types)
        if key is not None:
            groups.setdefault(key, []).append(a)
    grouped = {a for members in groups.values() for a in members}
    others = [a for a in passed if a not in grouped
              and a not in scanning and a not in klls]

    # 4-6. the execution groups below — the fused scan, the shared KLL
    # Arrow pass, each frequency group, and each standalone analyzer —
    # are INDEPENDENT Spark actions over the same immutable input, yet
    # they used to run strictly one after another, so every group's
    # straggler tail left the cluster idle (guide §2.6 "overlap
    # independent jobs": actions are only sequential because driver
    # code calls them sequentially). They are built as task closures
    # and submitted from a small thread pool; each task touches a
    # DISJOINT set of analyzers and returns its own AnalyzerContext.
    # `spark.deequ.runner.maxConcurrentGroups` bounds the in-flight
    # actions (guide: 2-3 in flight is plenty — enough to back-fill a
    # tail, not enough to fight for executors); 1 restores fully
    # sequential submission.
    def run_klls() -> AnalyzerContext:
        # ONE extra Arrow pass for ALL KLL columns combined
        # (parity: KLLRunner.computeKLLSketchesInExtraPass, :162-167)
        ctx = AnalyzerContext()
        try:
            kll_states = compute_kll_states(data, klls)
            for a in klls:
                state = kll_states.get(a)
                if save_states_with is not None and state is not None:
                    save_states_with.persist(a, state)
                ctx.metric_map[a] = a.compute_metric_from_state(state)
        except Exception as exc:  # noqa: BLE001
            for a in klls:
                ctx.metric_map[a] = a.to_failure_metric(exc)
        return ctx

    def run_standalone(a: Analyzer) -> AnalyzerContext:
        # standalone execution (HistogramBinned, CustomSql, a Histogram
        # that cannot share its column's GROUP BY…)
        ctx = AnalyzerContext()
        try:
            state = a.compute_state_from(data)
            if save_states_with is not None and state is not None:
                save_states_with.persist(a, state)
            ctx.metric_map[a] = a.compute_metric_from_state(state)
        except Exception as exc:  # noqa: BLE001
            ctx.metric_map[a] = a.to_failure_metric(exc)
        return ctx

    # state providers make no thread-safety promise, so concurrent tasks
    # persist through one lock (disjoint analyzer keys, shared provider
    # internals — e.g. one backing dict or filesystem directory)
    if save_states_with is not None:
        save_states_with = _LockingStateProvider(save_states_with)

    tasks: List[Any] = []
    if scanning:
        tasks.append(lambda: _run_scanning_analyzers(
            data, scanning, save_states_with))
    if klls:
        tasks.append(run_klls)
    for (_, where), members in groups.items():
        tasks.append(lambda m=members, w=where: _run_frequency_group(
            data, list(m[0].grouping_columns), w, m, run_standalone,
            save_states_with))
    for a in others:
        tasks.append(lambda a=a: run_standalone(a))
    task_results = _run_task_groups(data, tasks).metric_map

    # one metric order for every run, whatever task computed what: scan,
    # KLL, grouping analyzers (fused second stage first), then
    # Histograms and the other standalone analyzers in input order
    order = scanning + klls
    for members in groups.values():
        bucket = [a for a in members if not isinstance(a, Histogram)]
        order += [a for a in bucket if isinstance(
            a, ScanShareableFrequencyBasedAnalyzer)]
        order += [a for a in bucket if not isinstance(
            a, ScanShareableFrequencyBasedAnalyzer)]
    order += [a for a in passed
              if a in others or isinstance(a, Histogram)]
    for a in order:
        results.metric_map[a] = task_results[a]

    # 7. store newly computed metrics ONLY under an explicit save key
    if metrics_repository is not None and save_or_append_results_with_key is not None:
        metrics_repository.save(save_or_append_results_with_key, results)

    return results


def _run_scanning_analyzers(data: DataFrame,
                            analyzers: List[ScanShareableAnalyzer],
                            save_states_with=None) -> AnalyzerContext:
    """ONE ``df.agg(...)`` for all analyzers (AnalysisRunner.scala:342-387)."""
    ctx = AnalyzerContext()

    # column pruning before agg (:389-416) — helps DSv2 scan planning and
    # keeps the parquet ReadSchema narrow
    referenced: Optional[set] = set()
    for a in analyzers:
        cols = a.columns_referenced()
        if cols is None:
            referenced = None
            break
        referenced.update(cols)
    pruned = data
    if referenced is not None and referenced and len(referenced) < len(data.columns):
        # backtick names so a literal dot/space in a column name is not
        # parsed as nested-field access
        pruned = data.select(
            *[F.col(f"`{c}`") for c in sorted(referenced)])

    aggregations = []
    offsets: List[int] = []
    current = 0
    runnable: List[ScanShareableAnalyzer] = []
    for a in analyzers:
        try:
            aggs = a.aggregation_functions()
        except Exception as exc:  # noqa: BLE001
            # Parity AnalysisTest.scala:342-365: a failure while BUILDING
            # the fused aggregation fails every analyzer in the scan group
            # (the expressions were to be computed in one shared pass)
            for other in analyzers:
                ctx.metric_map[other] = other.to_failure_metric(exc)
            return ctx
        aggregations.extend(aggs)
        offsets.append(current)
        current += len(aggs)
        runnable.append(a)

    if not runnable:
        return ctx

    try:
        result = pruned.agg(*aggregations).collect()[0]
    except Exception:  # noqa: BLE001
        # one analyzer's invalid expression (e.g. bad `where` SQL, parsed
        # lazily at agg time) must not poison the whole fused pass —
        # isolate by running each analyzer alone
        for a in runnable:
            try:
                state = a.compute_state_from(pruned)
                if save_states_with is not None and state is not None:
                    save_states_with.persist(a, state)
                ctx.metric_map[a] = a.compute_metric_from_state(state)
            except Exception as exc:  # noqa: BLE001
                ctx.metric_map[a] = a.to_failure_metric(exc)
        return ctx
    for a, offset in zip(runnable, offsets):
        try:
            state = a.from_aggregation_result(result, offset)
            if save_states_with is not None and state is not None:
                save_states_with.persist(a, state)
            ctx.metric_map[a] = a.compute_metric_from_state(state)
        except Exception as exc:  # noqa: BLE001
            ctx.metric_map[a] = a.to_failure_metric(exc)
    return ctx


def _frequency_key(a: Analyzer, types: Dict[str, DataType]
                   ) -> Optional[Tuple]:
    """The (sorted grouping columns, where) whose frequency table ``a``
    reads, or None when it runs standalone. A Histogram joins only on a
    plain, unbinned, unweighted column of an atomic, non-float type:
    binning and sum_column change the grouped expression, and groupBy
    normalizes -0.0 and NaN of a float or double — also one nested in an
    array or struct — BEFORE its string cast, which the Histogram's own
    string groupBy keeps apart."""
    if isinstance(a, Histogram):
        dtype = types.get(a.column)
        if (type(a) is not Histogram or a.binning_udf is not None
                or a.sum_column is not None or a.column != a._plain_column
                or not isinstance(dtype, AtomicType)
                or isinstance(dtype, (FloatType, DoubleType))):
            return None
        return (a.column,), a.where
    if isinstance(a, FrequencyBasedAnalyzer):
        return tuple(sorted(a.grouping_columns)), getattr(a, "where", None)
    return None


def _run_frequency_group(data: DataFrame,
                         grouping_columns: List[str],
                         where: Optional[str],
                         members: List[FrequencyBasedAnalyzer],
                         run_standalone,
                         save_states_with=None) -> AnalyzerContext:
    """ONE GROUP BY serves every member of one (columns, where) group
    (AnalysisRunner.scala:560-628). With grouping analyzers it is the
    null-inclusive table: they read it minus the all-null-key group,
    their second stages fused into one agg that also recovers num_rows,
    and Histograms read its string-cast regrouping. Histograms alone
    share the first one's own string GROUP BY. A table is persisted when
    more than one job reads it; a view over a table cached here is
    persisted only when it is a saved state's ``frequencies`` that the
    caller's storage scope keeps. The group's scope frees every other
    cache on exit.

    Failures: grouping analyzers keep the reference's all-fail contract
    (AnalysisTest.scala:342-365, 398-427), isolating per analyzer only
    when the fused job itself fails; a Histogram whose metric fails here
    falls back to its standalone path."""
    ctx = AnalyzerContext()
    hists = [a for a in members if isinstance(a, Histogram)]
    bucket = [a for a in members if not isinstance(a, Histogram)]
    shareable = [a for a in bucket
                 if isinstance(a, ScanShareableFrequencyBasedAnalyzer)]
    rest = [a for a in bucket if a not in shareable]
    saving = save_states_with is not None
    with storage.scope() as s:
        keep = saving and s.nested
        cached = False

        def persisted(df: DataFrame, readers: int) -> DataFrame:
            # once a table is cached here, every later one is a view
            # over it whose readers re-read that cache: cached only to
            # be kept
            nonlocal cached
            if readers <= 1 or (cached and not keep):
                return df
            cached = True
            return s.persist(df, StorageLevel.MEMORY_AND_DISK)

        def save(analyzers, state) -> None:
            if saving:
                for a in analyzers:
                    save_states_with.persist(a, state)
                if keep:
                    s.keep(state.frequencies)

        try:
            if bucket:
                table = persisted(frequencies_plan_all(
                    data, grouping_columns, where), 1 + bool(hists))
                # readers: the fused job, each other analyzer, the saved
                # state
                view = persisted(
                    exclude_all_null_groups(table, grouping_columns),
                    1 + len(rest) + saving)
        except Exception as exc:  # noqa: BLE001 (e.g. invalid `where` SQL)
            for a in bucket:
                ctx.metric_map[a] = a.to_failure_metric(exc)
            for h in hists:
                ctx += run_standalone(h)
            return ctx
        if bucket:
            ctx += _run_grouping_analyzers(data, view, shareable, rest, save)
        if hists:
            try:
                state = (hists[0].state_from_frequencies(table) if bucket
                         else hists[0].compute_state_from(data))
                state = FrequenciesAndNumRows(persisted(
                    state.frequencies, len(hists) + saving))
            except Exception:  # noqa: BLE001 — each falls back below
                state = None
            for h in hists:
                metric = h.compute_metric_from_state(state)
                try:
                    if metric.is_success:
                        save([h], state)
                        ctx.metric_map[h] = metric
                        continue
                except Exception:  # noqa: BLE001 — standalone reports it
                    pass
                ctx += run_standalone(h)
        return ctx


def _run_grouping_analyzers(data: DataFrame, frequencies: DataFrame,
                            shareable: List[FrequencyBasedAnalyzer],
                            rest: List[FrequencyBasedAnalyzer],
                            save) -> AnalyzerContext:
    """The grouping analyzers of one frequency group: one fused
    second-stage agg over their table (SUM(absolute) at offset 0
    recovers num_rows in the SAME action), then the analyzers that
    cannot fuse (MutualInformation) read the same table."""
    ctx = AnalyzerContext()
    analyzers = shareable + rest
    aggregations = [F.sum(F.col(COUNT_COL)).cast("long")]
    offsets: List[int] = []
    for a in shareable:
        try:
            aggs = a.aggregation_functions()
        except Exception as exc:  # noqa: BLE001
            # Parity AnalysisTest.scala:398-427: failure while building the
            # fused second stage fails every analyzer sharing the GROUP BY
            for other in analyzers:
                ctx.metric_map[other] = other.to_failure_metric(exc)
            return ctx
        offsets.append(len(aggregations))
        aggregations.extend(aggs)

    try:
        result = frequencies.agg(*aggregations).collect()[0]
    except Exception:  # noqa: BLE001
        # isolate a poisoned expression (bad `where`/column) per analyzer
        for a in analyzers:
            try:
                state = a.compute_state_from(data)
                ctx.metric_map[a] = a.compute_metric_from_state(state)
            except Exception as exc:  # noqa: BLE001
                ctx.metric_map[a] = a.to_failure_metric(exc)
        return ctx
    num_rows = int(result[0] or 0)

    for a, offset in zip(shareable, offsets):
        ctx.metric_map[a] = a.metric_from_aggregation_result(result, offset, num_rows)

    state = FrequenciesAndNumRows(frequencies, num_rows)
    for a in rest:
        try:
            ctx.metric_map[a] = a.compute_metric_from_state(state)
        except Exception as exc:  # noqa: BLE001
            ctx.metric_map[a] = a.to_failure_metric(exc)
    save(analyzers, state)
    return ctx


def run_on_aggregated_states(schema_source: DataFrame,
                             analyzers: Sequence[Analyzer],
                             state_loaders: Sequence[Any],
                             save_states_with=None) -> AnalyzerContext:
    """Compute metrics purely from merged persisted states — no data scan
    (parity: AnalysisRunner.scala:466-541, runOnAggregatedStates).
    ``save_states_with`` persists the merged states (saveStatesWith)."""
    ctx = AnalyzerContext()
    for a in _dedup(analyzers):
        merged: Optional[State] = None
        try:
            for loader in state_loaders:
                state = loader.load(a)
                if state is not None:
                    merged = state if merged is None else merged.merge(state)
            # the metric first: the merged state may read the very files
            # its persist replaces (one provider loads and saves)
            ctx.metric_map[a] = a.compute_metric_from_state(merged)
            if save_states_with is not None and merged is not None:
                save_states_with.persist(a, merged)
        except Exception as exc:  # noqa: BLE001
            ctx.metric_map[a] = a.to_failure_metric(exc)
    return ctx


class AnalysisRunBuilder(CamelCaseMixin):
    """Fluent analysis entry point (parity: runners/AnalysisRunBuilder.scala
    + AnalysisRunner.scala onData). Adding the SAME analyzer twice is an
    error, matching the reference builder's require (AnalysisRunnerTests
    "should give error for duplicate analyzers"); distinct where-filtered
    variants of one analyzer coexist fine."""

    def __init__(self, data: DataFrame):
        self._data = data
        self._analyzers: List[Analyzer] = []
        self._repository = None
        self._reuse_key = None
        self._save_key = None
        self._fail_if_results_missing = False
        self._state_provider = None

    def add_analyzer(self, analyzer: Analyzer) -> "AnalysisRunBuilder":
        if analyzer in self._analyzers:
            raise ValueError(f"Analyzer {analyzer} can only be added once")
        self._analyzers.append(analyzer)
        return self

    def add_analyzers(self, analyzers: Sequence[Analyzer]) -> "AnalysisRunBuilder":
        for a in analyzers:
            self.add_analyzer(a)
        return self

    def use_repository(self, repository) -> "AnalysisRunBuilder":
        self._repository = repository
        return self

    def reuse_existing_results_for_key(
            self, key, fail_if_results_missing: bool = False
    ) -> "AnalysisRunBuilder":
        self._reuse_key = key
        self._fail_if_results_missing = fail_if_results_missing
        return self

    def save_or_append_result(self, key) -> "AnalysisRunBuilder":
        self._save_key = key
        return self

    def save_states_with(self, provider) -> "AnalysisRunBuilder":
        self._state_provider = provider
        return self

    def aggregate_with(self, loader) -> "AnalysisRunBuilder":
        """Merge this run's states with PRIOR states from ``loader``
        before computing metrics — the incremental pattern
        (AnalysisRunner.scala aggregateWith)."""
        self._aggregate_with = loader
        return self

    def run(self) -> AnalyzerContext:
        return do_analysis_run(
            self._data, self._analyzers,
            metrics_repository=self._repository,
            reuse_existing_results_for_key=self._reuse_key,
            save_or_append_results_with_key=self._save_key,
            save_states_with=self._state_provider,
            aggregate_with=getattr(self, "_aggregate_with", None),
            fail_if_results_missing=self._fail_if_results_missing)


class AnalysisRunner(metaclass=PyDeequCompatMeta):
    """Parity: AnalysisRunner.scala onData/run entry points.
    PyDeequ-compatible static camelCase: ``AnalysisRunner.onData(df)``."""

    @staticmethod
    def on_data(data: DataFrame) -> AnalysisRunBuilder:
        return AnalysisRunBuilder(data)

    @staticmethod
    def run(data: DataFrame, analyzers: Sequence[Analyzer],
            aggregate_with=None, save_states_with=None) -> AnalyzerContext:
        return do_analysis_run(data, analyzers,
                               aggregate_with=aggregate_with,
                               save_states_with=save_states_with)
