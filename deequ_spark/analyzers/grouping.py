"""Frequency-based (grouping) analyzers (SURVEY §2b).

All analyzers over the same (grouping columns, filter) pair share ONE
``GROUP BY`` frequency table (state ``FrequenciesAndNumRows``); the runner
fuses their second-stage aggregations into one ``agg`` over it.

Reference parity (semantics only):
/root/reference/src/main/scala/com/amazon/deequ/analyzers/
{GroupingAnalyzers,Uniqueness,UniqueValueRatio,Distinctness,CountDistinct,
Entropy,MutualInformation,DuplicateRowCount,Histogram,HistogramBinned}.scala

Scale notes (100 TB):
  * The frequency table is ONE shuffle on the grouping keys; every
    second-stage aggregate reuses it (no second scan of the base data).
  * Unlike the reference (GroupingAnalyzers.scala:93-97), ``num_rows`` is
    recovered as ``SUM(count)`` inside the same second-stage aggregation
    instead of a second ``count()`` scan over the raw data — one base-table
    pass instead of two.
  * Entropy/MI use closed-form column expressions (no Python UDF), so the
    whole second stage stays in whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, List, Optional, Sequence, Tuple

import pandas

from pyspark.errors import PySparkValueError
from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .. import storage
from ..metrics import (Distribution, DistributionValue, DoubleMetric, Entity,
                       HistogramMetric, Metric)
from .base import (Analyzer, EmptyStateError, State, has_column,
                   is_not_nested, is_numeric)
from .scan import _col

COUNT_COL = "absolute"


def entity_from(columns: Sequence[str]) -> Entity:
    return Entity.COLUMN if len(columns) == 1 else Entity.MULTICOLUMN


@dataclass
class FrequenciesAndNumRows(State):
    """Grouped frequency table + row count (GroupingAnalyzers.scala:159-192).

    DataFrame-valued state: ``frequencies`` has the grouping columns plus
    ``absolute`` (the group count); ``num_rows`` counts in-scope rows.

    ``num_rows`` is LAZY: when constructed without it, the count is
    recovered as SUM(absolute) fused into the consumer's second-stage
    aggregation (one job) — or on first ``.num_rows`` access as a
    fallback. The reference always pays a separate count
    (GroupingAnalyzers.scala:93-97).
    """
    frequencies: DataFrame
    _num_rows: Optional[int] = None

    @property
    def num_rows(self) -> int:
        if self._num_rows is None:
            self._num_rows = int(
                self.frequencies.agg(F.sum(COUNT_COL)).collect()[0][0] or 0)
        return self._num_rows

    def merge(self, other: "FrequenciesAndNumRows") -> "FrequenciesAndNumRows":
        """Union + re-aggregate (one shuffle with map-side partial agg) —
        semantically the reference's null-safe outer join
        (GroupingAnalyzers.scala:173-181: groupBy groups NULL keys together
        exactly like eqNullSafe), but a far cheaper plan at scale."""
        cols = [c for c in self.frequencies.columns if c != COUNT_COL]
        merged = (self.frequencies.unionByName(other.frequencies)
                  .groupBy(*cols)
                  .agg(F.sum(F.col(COUNT_COL)).alias(COUNT_COL)))
        return FrequenciesAndNumRows(merged, self.num_rows + other.num_rows)


def frequencies_plan_all(data: DataFrame, grouping_columns: Sequence[str],
                         where: Optional[str] = None) -> DataFrame:
    """Lazy plan for SELECT cols, COUNT(*) FROM data [WHERE where] GROUP BY
    cols — the one frequency-table builder. It keeps the all-null-key
    group, so one GROUP BY serves both the grouping analyzers (through
    :func:`exclude_all_null_groups`) and a Histogram of the same column
    (through :meth:`Histogram.state_from_frequencies`)."""
    columns = list(grouping_columns) if grouping_columns else list(data.columns)
    if not columns:
        raise ValueError("no grouping columns and DataFrame has no columns")
    # filter BEFORE projecting: the where may reference non-grouping
    # columns (Catalyst pushes the filter into the scan either way)
    filtered = data.filter(where) if where is not None else data
    return (filtered.select(*[_col(c) for c in columns])
            .groupBy(*[_col(c) for c in columns])
            .agg(F.count(F.lit(1)).alias(COUNT_COL)))


def exclude_all_null_groups(freq: DataFrame,
                            grouping_columns: Sequence[str]) -> DataFrame:
    """Drop the all-null-key group: the grouping analyzers' table
    (parity: GroupingAnalyzers.scala:64-109, WHERE any col NOT NULL).
    groupBy partitions rows by key, so dropping the group after the
    shuffle equals dropping its rows before it; Catalyst pushes this
    filter below the aggregate when the table is not cached."""
    columns = list(grouping_columns) if grouping_columns \
        else [c for c in freq.columns if c != COUNT_COL]
    at_least_one = None
    for name in columns:
        c = _col(name).isNotNull()
        at_least_one = c if at_least_one is None else (at_least_one | c)
    return freq.where(at_least_one)


def compute_frequencies(data: DataFrame, grouping_columns: Sequence[str],
                        where: Optional[str] = None) -> FrequenciesAndNumRows:
    """State for the standalone path. num_rows stays LAZY — consumers fuse
    SUM(absolute) into their own second-stage aggregate over the (already
    shuffled, typically small) frequency table, so building the state runs
    no job at all; the reference pays a second scan of the base data here
    (GroupingAnalyzers.scala:93-97)."""
    return FrequenciesAndNumRows(exclude_all_null_groups(
        frequencies_plan_all(data, grouping_columns, where), grouping_columns))


class FrequencyBasedAnalyzer(Analyzer):
    """Base: state is the shared frequency table."""

    @property
    def grouping_columns(self) -> List[str]:
        return list(self.columns)

    @property
    def instance(self) -> str:
        return ",".join(self.columns)

    @property
    def entity(self) -> Entity:  # type: ignore[override]
        return entity_from(self.columns)

    def preconditions(self):
        checks = []
        if not self.columns:
            def at_least_one(schema):
                raise ValueError("At least one column needs to be specified!")
            checks.append(at_least_one)
        for c in self.columns:
            checks.append(has_column(c))
            checks.append(is_not_nested(c))
        return checks + self.additional_preconditions()

    def compute_state_from(self, df: DataFrame) -> FrequenciesAndNumRows:
        return compute_frequencies(df, self.grouping_columns,
                                   getattr(self, "where", None))


class ScanShareableFrequencyBasedAnalyzer(FrequencyBasedAnalyzer):
    """Second-stage aggregations fusable into one agg over the freq table.

    The aggregate expressions are deliberately num_rows-FREE (sums/counts
    over the frequency table only); the final value is assembled on the
    driver in ``value_from``. This lets the runner fuse num_rows recovery
    (SUM(absolute)) and ALL analyzers' second stages into a single action —
    one job where the reference needs two (AnalysisRunner.scala:582-605).
    """

    def aggregation_functions(self) -> List[Column]:
        raise NotImplementedError

    def value_from(self, result: Row, offset: int, num_rows: int) -> Optional[float]:
        return None if result[offset] is None else float(result[offset])

    def compute_metric_from_state(self, state: Optional[FrequenciesAndNumRows]) -> Metric:
        if state is None:
            return self.to_failure_metric(EmptyStateError("Empty state"))
        aggs = self.aggregation_functions()
        # fuse num_rows recovery (SUM(absolute)) into the same job as the
        # analyzer's own second-stage aggregates — trailing column, so the
        # positional offsets of ``aggs`` are unchanged
        result = (state.frequencies
                  .agg(*aggs, F.sum(COUNT_COL).alias("__num_rows"))
                  .collect()[0])
        if state._num_rows is None:
            state._num_rows = int(result["__num_rows"] or 0)
        return self.metric_from_aggregation_result(result, 0, state.num_rows)

    def metric_from_aggregation_result(self, result: Row, offset: int,
                                       num_rows: int) -> Metric:
        try:
            value = self.value_from(result, offset, num_rows)
        except Exception as exc:  # noqa: BLE001
            return self.to_failure_metric(exc)
        if value is None:
            return self.to_failure_metric(EmptyStateError("Empty state"))
        return DoubleMetric(self.entity, self.name, self.instance, value)


def _grouped_row_level_results(columns, where, analyzer_options) -> Column:
    """Per-row uniqueness via a window count over the grouping columns —
    the reference's only window-function use (GroupingAnalyzers.scala:100-106
    count(when(where, UNIQUENESS_ID)).over(partitionBy(columns)), outcome
    shape Uniqueness.scala:44-55 / UniqueValueRatio.scala:40-51):
    where FALSE → filtered outcome (TRUE default / NULL per options);
    otherwise true iff exactly one *in-scope* row shares the value. A lone
    NULL group counts as unique (the window partitions NULLs together, it
    does not drop them). Scale: one window shuffle on the grouping columns,
    same keys as the frequency aggregation itself."""
    from .scan import FilteredRowOutcome

    w = Window.partitionBy(*[F.col(c) for c in columns])
    if where is None:
        cnt = F.count(F.lit(1)).over(w)
        return F.when(cnt == 1, F.lit(True)).otherwise(F.lit(False))
    cond = F.expr(where)
    cnt = F.count(F.when(cond, F.lit(1))).over(w)
    filtered = (F.lit(None).cast("boolean")
                if analyzer_options is not None
                and analyzer_options.filtered_row == FilteredRowOutcome.NULL
                else F.lit(True))
    return (F.when(~cond, filtered)
            .when(cnt == 1, F.lit(True)).otherwise(F.lit(False)))


@dataclass(frozen=True, eq=False)
class Uniqueness(ScanShareableFrequencyBasedAnalyzer):
    """Fraction of values occurring exactly once. Parity: Uniqueness.scala:35-77."""
    columns: Tuple[str, ...]
    where: Optional[str] = None
    analyzer_options: Optional["AnalyzerOptions"] = None

    name = "Uniqueness"

    def __init__(self, columns, where=None, analyzer_options=None):
        cols = (columns,) if isinstance(columns, str) else tuple(columns)
        object.__setattr__(self, "columns", cols)
        object.__setattr__(self, "where", where)
        object.__setattr__(self, "analyzer_options", analyzer_options)

    def aggregation_functions(self) -> List[Column]:
        return [F.sum((F.col(COUNT_COL) == 1).cast("double"))]

    def value_from(self, result: Row, offset: int, num_rows: int) -> Optional[float]:
        if result[offset] is None or num_rows == 0:
            return None
        return float(result[offset]) / num_rows

    def row_level_column(self) -> Column:
        return self.row_level_results()

    def row_level_results(self, assertion=None) -> Column:
        return _grouped_row_level_results(self.columns, self.where,
                                          self.analyzer_options)


@dataclass(frozen=True, eq=False)
class UniqueValueRatio(ScanShareableFrequencyBasedAnalyzer):
    """unique groups / distinct groups. Parity: UniqueValueRatio.scala:28-66."""
    columns: Tuple[str, ...]
    where: Optional[str] = None
    analyzer_options: Optional["AnalyzerOptions"] = None

    name = "UniqueValueRatio"

    def __init__(self, columns, where=None, analyzer_options=None):
        cols = (columns,) if isinstance(columns, str) else tuple(columns)
        object.__setattr__(self, "columns", cols)
        object.__setattr__(self, "where", where)
        object.__setattr__(self, "analyzer_options", analyzer_options)

    def aggregation_functions(self) -> List[Column]:
        return [F.sum((F.col(COUNT_COL) == 1).cast("double")),
                F.count(F.lit(1))]

    def row_level_results(self, assertion=None) -> Column:
        return _grouped_row_level_results(self.columns, self.where,
                                          self.analyzer_options)

    def value_from(self, result: Row, offset: int, num_rows: int) -> Optional[float]:
        if result[offset] is None or not result[offset + 1]:
            return None
        return float(result[offset]) / float(result[offset + 1])


@dataclass(frozen=True, eq=False)
class Distinctness(ScanShareableFrequencyBasedAnalyzer):
    """distinct groups / rows. Parity: Distinctness.scala:30-55."""
    columns: Tuple[str, ...]
    where: Optional[str] = None

    name = "Distinctness"

    def __init__(self, columns, where=None):
        cols = (columns,) if isinstance(columns, str) else tuple(columns)
        object.__setattr__(self, "columns", cols)
        object.__setattr__(self, "where", where)

    def aggregation_functions(self) -> List[Column]:
        return [F.sum((F.col(COUNT_COL) >= 1).cast("double"))]

    def value_from(self, result: Row, offset: int, num_rows: int) -> Optional[float]:
        if result[offset] is None or num_rows == 0:
            return None
        return float(result[offset]) / num_rows


@dataclass(frozen=True, eq=False)
class CountDistinct(ScanShareableFrequencyBasedAnalyzer):
    """Exact number of distinct groups. Parity: CountDistinct.scala:25-45."""
    columns: Tuple[str, ...]
    where: Optional[str] = None

    name = "CountDistinct"

    def __init__(self, columns, where=None):
        cols = (columns,) if isinstance(columns, str) else tuple(columns)
        object.__setattr__(self, "columns", cols)
        object.__setattr__(self, "where", where)

    def aggregation_functions(self) -> List[Column]:
        return [F.count(F.lit(1)).cast("double")]


@dataclass(frozen=True, eq=False)
class Entropy(ScanShareableFrequencyBasedAnalyzer):
    """Shannon entropy −Σ (cnt/n)·ln(cnt/n). Parity: Entropy.scala:30-55.

    Closed-form column expression — the reference uses a Scala UDF
    (Entropy.scala:35-41); we stay in codegen.
    """
    columns: Tuple[str, ...]
    where: Optional[str] = None

    name = "Entropy"

    def __init__(self, column, where=None):
        cols = (column,) if isinstance(column, str) else tuple(column)
        object.__setattr__(self, "columns", cols)
        object.__setattr__(self, "where", where)

    def aggregation_functions(self) -> List[Column]:
        # −Σ (cnt/n)·ln(cnt/n) = ln n − (1/n)·Σ cnt·ln cnt, so the aggregate
        # itself needs no num_rows: collect Σ cnt·ln(cnt) plus max(cnt) to
        # recognize the single-group case exactly.
        cnt = F.col(COUNT_COL).cast("double")
        return [F.sum(F.when(F.col(COUNT_COL) == 0, 0.0)
                      .otherwise(cnt * F.log(cnt))),
                F.max(F.col(COUNT_COL))]

    def value_from(self, result: Row, offset: int, num_rows: int) -> Optional[float]:
        if result[offset] is None or num_rows == 0:
            return None
        # one group covering every row → entropy is EXACTLY 0.0 — the
        # reference's per-group formula −Σ p·ln p gives ln(1.0) = 0 and its
        # CheckTest asserts `_ == 0` strictly on a filtered-to-constant
        # column (CheckTest.scala:905-910); the closed form below would
        # leave ~1e-16 of floating residue
        if result[offset + 1] is not None and int(result[offset + 1]) == num_rows:
            return 0.0
        import math
        return math.log(num_rows) - float(result[offset]) / num_rows


@dataclass(frozen=True, eq=False)
class DuplicateRowCount(ScanShareableFrequencyBasedAnalyzer):
    """Σ cnt where cnt>1 (rows participating in duplicates).
    Parity: DuplicateRowCount.scala:36-70; empty columns = all columns
    (GroupingAnalyzers.scala:70-77)."""
    columns: Tuple[str, ...] = ()
    where: Optional[str] = None

    name = "DuplicateRowCount"

    def __init__(self, columns=(), where=None):
        cols = (columns,) if isinstance(columns, str) else tuple(columns)
        object.__setattr__(self, "columns", cols)
        object.__setattr__(self, "where", where)

    @property
    def instance(self) -> str:
        return ",".join(self.columns) if self.columns else "*"

    @property
    def entity(self) -> Entity:
        return Entity.DATASET if not self.columns else entity_from(self.columns)

    def preconditions(self):
        checks = []
        for c in self.columns:
            checks.append(has_column(c))
            checks.append(is_not_nested(c))
        return checks

    def aggregation_functions(self) -> List[Column]:
        return [F.sum(F.when(F.col(COUNT_COL) > 1, F.col(COUNT_COL))
                      .otherwise(F.lit(0)).cast("double"))]

    def value_from(self, result: Row, offset: int, num_rows: int) -> Optional[float]:
        # zero in-scope rows → zero duplicates, not a failure
        return 0.0 if result[offset] is None else float(result[offset])

    def row_level_results(self, assertion=None) -> Optional[Column]:
        """Row-level outcome (DuplicateRowCountTest.scala:188-213): TRUE
        for rows whose group appears exactly once, FALSE for rows
        participating in a duplicate group. Empty columns can't resolve
        to "all columns" inside a Column expression — those constraints
        contribute no row-level column, matching the reference's
        NamedConstraint fallback (:231-239); callers that want row-level
        resolve the column list first (:241-253)."""
        if not self.columns:
            return None
        return _grouped_row_level_results(self.columns, self.where, None)


@dataclass(frozen=True, eq=False)
class MutualInformation(FrequencyBasedAnalyzer):
    """MI of two columns from the joint frequency table.
    Parity: MutualInformation.scala:41-95 (closed-form expr, no UDF here)."""
    columns: Tuple[str, ...]
    where: Optional[str] = None

    name = "MutualInformation"

    def __init__(self, columns, where=None):
        object.__setattr__(self, "columns", tuple(columns))
        object.__setattr__(self, "where", where)

    def additional_preconditions(self):
        def exactly_two(schema):
            if len(self.columns) != 2:
                raise ValueError("MutualInformation requires exactly 2 columns")
        return [exactly_two]

    def compute_metric_from_state(self, state: Optional[FrequenciesAndNumRows]) -> Metric:
        if state is None:
            return self.to_failure_metric(EmptyStateError("Empty state"))
        try:
            col1, col2 = (_col(c) for c in self.columns)
            total = float(state.num_rows)
            # each marginal is a window sum over the joint table, so no
            # side is broadcast or joined; dropping null keys afterwards
            # keeps the reference's inner-join semantics (a row with one
            # null key still counts toward the other key's marginal)
            joint = state.frequencies.select(
                F.col(COUNT_COL).alias("__pxy"),
                F.sum(COUNT_COL).over(Window.partitionBy(col1)).alias("__px"),
                F.sum(COUNT_COL).over(Window.partitionBy(col2)).alias("__py"),
                col1.isNotNull().alias("__k1"),
                col2.isNotNull().alias("__k2"))
            pxy = F.col("__pxy") / total
            px = F.col("__px") / total
            py = F.col("__py") / total
            value = (joint.where(F.col("__k1") & F.col("__k2"))
                     .agg(F.sum(pxy * F.log(pxy / (px * py))))
                     ).collect()[0][0]
            if value is None:
                return self.to_failure_metric(EmptyStateError("Empty state"))
            return DoubleMetric(self.entity, self.name, self.instance, float(value))
        except Exception as exc:  # noqa: BLE001
            return self.to_failure_metric(exc)


NULL_FIELD_REPLACEMENT = "NullValue"


@dataclass(frozen=True, eq=False)
class Histogram(FrequencyBasedAnalyzer):
    """Value→(absolute, ratio) distribution, top-N by frequency.
    Parity: Histogram.scala:54-208 (top-N via orderBy(desc).limit at :112-116,
    max_detail_bins cap 1000 at :158). ``sum_column`` switches the aggregate
    from COUNT(*) to SUM(sum_column) (Histogram.AggregateFunction)."""
    column: str
    binning_udf: Optional[Callable] = None
    max_detail_bins: int = 1000
    where: Optional[str] = None
    compute_frequencies_as_ratio: bool = True
    sum_column: Optional[str] = None

    name = "Histogram"

    MAX_ALLOWED_DETAIL_BINS = 1000

    def __init__(self, column, binning_udf=None, max_detail_bins=1000,
                 where=None, compute_frequencies_as_ratio=True, sum_column=None):
        object.__setattr__(self, "column", column)
        object.__setattr__(self, "binning_udf", binning_udf)
        object.__setattr__(self, "max_detail_bins", max_detail_bins)
        object.__setattr__(self, "where", where)
        object.__setattr__(self, "compute_frequencies_as_ratio",
                           compute_frequencies_as_ratio)
        object.__setattr__(self, "sum_column", sum_column)

    @property
    def columns(self):
        return (self.column,)

    @property
    def _plain_column(self) -> str:
        """Column name with user backticks stripped — the field name used
        inside the frequency table."""
        c = self.column
        return c[1:-1] if len(c) >= 2 and c.startswith("`") \
            and c.endswith("`") else c

    def preconditions(self):
        def bins_ok(schema):
            if self.max_detail_bins < 1:
                # Histogram.scala:65-66 IllegalAnalyzerParameterException
                raise ValueError("maxDetailBins must be at least 1")
            if self.max_detail_bins > self.MAX_ALLOWED_DETAIL_BINS:
                raise ValueError(
                    f"Cannot return histogram values for more than "
                    f"{self.MAX_ALLOWED_DETAIL_BINS} values")
        return [bins_ok, has_column(self.column)]

    def compute_state_from(self, df: DataFrame) -> FrequenciesAndNumRows:
        data = df
        if self.where is not None:
            data = data.filter(self.where)
        col = _col(self.column)
        if self.binning_udf is not None:
            col = self._apply_binning(col)
        selected = col.cast("string")
        selected = F.coalesce(selected, F.lit(NULL_FIELD_REPLACEMENT))
        # a literal dot/space in the column name must not parse as a struct
        # path in groupBy/orderBy — alias to the plain name, resolve quoted
        plain = self._plain_column
        if self.sum_column is not None:
            freq = (data.select(selected.alias(plain), _col(self.sum_column))
                    .groupBy(_col(plain))
                    .agg(F.sum(_col(self.sum_column)).cast("long").alias(COUNT_COL)))
        else:
            freq = (data.select(selected.alias(plain))
                    .groupBy(_col(plain))
                    .agg(F.count(F.lit(1)).alias(COUNT_COL)))
        # num_rows stays lazy — compute_metric_from_state recovers it as
        # SUM(absolute) fused into the n_bins job (one job fewer per
        # histogram than collecting the total here)
        return FrequenciesAndNumRows(freq)

    def state_from_frequencies(self, frequencies: DataFrame
                               ) -> FrequenciesAndNumRows:
        """The state :meth:`compute_state_from` would build, read off a
        null-inclusive frequency table of this plain, unbinned column
        (:func:`frequencies_plan_all`): the keys are cast to string and
        regrouped, a post-shuffle aggregation over distinct values. Cast
        is per-value deterministic, so the group sums equal the corpus
        counts, and schema and rows match compute_state_from."""
        plain = self._plain_column
        key = F.coalesce(_col(plain).cast("string"),
                         F.lit(NULL_FIELD_REPLACEMENT))
        # coalesce keeps the count column non-nullable, as COUNT(*) is
        freq = (frequencies.select(key.alias(plain), F.col(COUNT_COL))
                .groupBy(_col(plain))
                .agg(F.coalesce(F.sum(COUNT_COL), F.lit(0)).cast("long")
                     .alias(COUNT_COL)))
        return FrequenciesAndNumRows(freq)

    def _apply_binning(self, col: Column) -> Column:
        """Contract for ``binning_udf``, fastest first:

        1. A callable that ACCEPTS AND RETURNS a ``pyspark.sql.Column``
           (e.g. ``lambda c: F.when(c < 10, "small").otherwise("big")``) —
           stays a pure JVM expression, zero Python in the scan. This is
           the documented fast path; at 100× data a row-at-a-time hook
           serializes the entire column through Python.
        2. Any other callable — applied per value through an
           Arrow-batched ``pandas_udf`` (``Series.map``), ~10-100× the
           throughput of the reference's row-at-a-time UDF
           (Histogram.scala:88 binningUdf, a plain Scala function).
        """
        try:
            out = self.binning_udf(col)
            if isinstance(out, Column):
                return out
        except (TypeError, PySparkValueError):
            # scalar-only callable: its body rejects a Column operand —
            # TypeError from len()/str-ops/dict-lookups, PySparkValueError
            # from branching on it (``if v < 5`` → bool(Column) is
            # forbidden). Those are exactly the scalar idioms; route them
            # to the Arrow pandas path.
            pass
        # any OTHER exception propagates: a Column-accepting hook that
        # raises (typo'd column reference, bad F.* usage, a genuine bug in
        # the lambda) must surface at analysis time, not be silently
        # retried as a row-at-a-time pandas_udf and fail confusingly
        # executor-side
        fn = self.binning_udf

        @F.pandas_udf("string")
        def _bin(s: pandas.Series) -> pandas.Series:
            # NULL in → NULL out (numeric nulls arrive as NaN), matching a
            # primitive-typed Scala UDF: the NullValue replacement happens
            # downstream, not inside the binning hook
            return s.map(lambda v: None if pandas.isna(v) else str(fn(v))
                         ).astype(object)

        return _bin(col)

    def compute_metric_from_state(self, state: Optional[FrequenciesAndNumRows]) -> Metric:
        if state is None:
            return self.to_failure_metric(EmptyStateError("Empty state"))
        try:
            with storage.scope() as s:
                # the metric needs TWO jobs over the frequency table (the
                # stats agg and the top-N collect); with a LAZY state
                # plan each job re-ran the corpus groupBy — persist the
                # (tiny, post-shuffle) table across them so the corpus
                # is scanned once (r13, guide §2.4/§5; halves the
                # profiler's pass-3 corpus scans); a table cached
                # upstream is read as is
                freqs = s.persist(state.frequencies,
                                  StorageLevel.MEMORY_AND_DISK)
                # one job recovers both the bin count and (if still
                # lazy) the frequency-table total — the reference
                # derives numRows in the same pass family; a separate
                # count() here would be an extra post-shuffle job per
                # histogram
                stats = (freqs
                         .agg(F.count(F.lit(1)).alias("__n_bins"),
                              F.sum(COUNT_COL).alias("__num_rows"))
                         .collect()[0])
                n_bins = int(stats["__n_bins"])
                if state._num_rows is None:
                    state._num_rows = int(stats["__num_rows"] or 0)
                # descending frequency, ties broken by value ascending
                # (Histogram.scala:112-115)
                top = (freqs
                       .orderBy(F.desc(COUNT_COL),
                                _col(self._plain_column).asc())
                       .limit(self.max_detail_bins)
                       .collect())
                total = max(state.num_rows, 1)
                values = {}
                covered = 0
                for row in top:
                    key = row[self._plain_column]
                    absolute = int(row[COUNT_COL])
                    covered += absolute
                    # with ratios disabled the reference divides by a
                    # total of 1, i.e. ratio == absolute
                    # (Histogram.scala:77-81)
                    ratio = (absolute / total
                             if self.compute_frequencies_as_ratio
                             else float(absolute))
                    values[key] = DistributionValue(absolute, ratio)
                dist = Distribution(values, number_of_bins=n_bins,
                                    tail_count=state.num_rows - covered)
                return HistogramMetric(Entity.COLUMN, self.name,
                                       self.column, dist)
        except Exception as exc:  # noqa: BLE001
            return self.to_failure_metric(exc)


@dataclass(frozen=True, eq=False)
class HistogramBinned(Analyzer):
    """Equal-width or custom-edge numeric histogram.
    Parity: HistogramBinned.scala:62-268. Spark-first: bin assignment via
    the built-in ``width_bucket`` (O(log b) binary search in JVM) instead of
    the reference's generated when/otherwise tree (:159-201)."""
    column: str
    bin_count: Optional[int] = None
    custom_edges: Optional[Tuple[float, ...]] = None
    where: Optional[str] = None
    include_overflow_bins: bool = False
    sum_column: Optional[str] = None

    name = "Histogram"  # reference reports binned histograms under Histogram

    def __init__(self, column, bin_count=None, custom_edges=None, where=None,
                 include_overflow_bins=False, sum_column=None):
        object.__setattr__(self, "column", column)
        object.__setattr__(self, "bin_count", bin_count)
        object.__setattr__(self, "custom_edges",
                           tuple(custom_edges) if custom_edges else None)
        object.__setattr__(self, "where", where)
        object.__setattr__(self, "include_overflow_bins",
                           bool(include_overflow_bins))
        # Histogram.Sum aggregate (HistogramBinnedTest.scala:219-296):
        # per-bin tallies SUM this column instead of counting rows
        object.__setattr__(self, "sum_column", sum_column)

    @property
    def instance(self) -> str:
        return self.column

    MAX_ALLOWED_BINS = 1000   # HistogramBinned.scala MaximumAllowedDetailBins

    def preconditions(self):
        def edges_or_count(schema):
            if (self.bin_count is None) == (self.custom_edges is None):
                raise ValueError("specify exactly one of bin_count / custom_edges")
            if self.custom_edges is not None and len(self.custom_edges) < 2:
                raise ValueError("Custom edges must have at least 2 values")
            if (self.include_overflow_bins and self.bin_count is not None
                    and self.bin_count < 3):
                # 2 overflow + at least 1 interior (HistogramBinned.scala:104-107)
                raise ValueError("bin_count must be at least 3 when "
                                 "include_overflow_bins is true")
            n_bins = (self.bin_count if self.bin_count is not None
                      else len(self._with_overflow_edges(
                          sorted(self.custom_edges))) - 1)
            if n_bins > self.MAX_ALLOWED_BINS:
                raise ValueError(f"Cannot return histogram values for more "
                                 f"than {self.MAX_ALLOWED_BINS} bins")
        checks = [has_column(self.column), is_numeric(self.column),
                  edges_or_count]
        if self.sum_column is not None:
            checks += [has_column(self.sum_column),
                       is_numeric(self.sum_column)]
        return checks

    def _with_overflow_edges(self, edges):
        """±Inf under/overflow bins (HistogramBinned.scala:236-241): only
        added when not already present."""
        if not self.include_overflow_bins:
            return edges
        if edges[0] != float("-inf"):
            edges = [float("-inf")] + edges
        if edges[-1] != float("inf"):
            edges = edges + [float("inf")]
        return edges

    def compute_state_from(self, df: DataFrame):
        data = df.filter(self.where) if self.where else df
        col = _col(self.column).cast("double")
        if self.custom_edges is not None:
            edges = self._with_overflow_edges(sorted(self.custom_edges))
        else:
            row = data.agg(F.min(col), F.max(col)).collect()[0]
            if row[0] is None:
                # no non-null data and no user edges → zero data bins, all
                # rows counted as NULLs — a SUCCESS metric, not an error
                # (HistogramBinnedTest.scala:298-315 "handle all null data
                # gracefully")
                if self.sum_column is not None:
                    n_null = int(data.agg(F.sum(F.coalesce(
                        _col(self.sum_column).cast("long"),
                        F.lit(0)))).collect()[0][0] or 0)
                else:
                    n_null = data.count()
                return _BinnedState((), (), 0, n_null)
            lo, hi = float(row[0]), float(row[1])
            if lo == hi:
                # single distinct value → ONE [v, v] bin, bin_count ignored
                # (HistogramBinned.scala:246-249, Test :1035-1090)
                edges = self._with_overflow_edges([lo, hi])
            else:
                interior = (self.bin_count - 2 if self.include_overflow_bins
                            else self.bin_count)
                step = (hi - lo) / interior
                edges = self._with_overflow_edges(
                    [lo + i * step for i in range(interior)] + [hi])
        n_buckets = len(edges) - 1
        uniform = (self.custom_edges is None
                   and not self.include_overflow_bins
                   and edges[0] != edges[-1])
        if uniform:
            # equal-width path: the built-in width_bucket does the O(log b)
            # binary search JVM-side; edges derive from this data's min/max,
            # so the only overflow is max itself (width_bucket → n+1) —
            # clamp it into the last bin
            assign = F.width_bucket(col, F.lit(edges[0]), F.lit(edges[-1]),
                                    F.lit(n_buckets))
            assign = F.least(F.greatest(assign, F.lit(1)), F.lit(n_buckets))
        else:
            # custom (possibly non-uniform), degenerate [v,v], and/or ±Inf
            # edges: bucket = |{edges ≤ value}| over ONE sorted array
            # literal — a single flat expression per row (no b-deep
            # when-nesting that would stress codegen at the 1000-bin cap).
            # Lower-inclusive half-open bins fall out directly; the one
            # inclusive upper boundary (the last finite edge —
            # HistogramBinned.scala:168-178 keeps the data max in the last
            # interior bin) is clamped back explicitly.
            edge_arr = F.array(*[F.lit(e) for e in edges])
            raw = F.size(F.filter(edge_arr, lambda e: e <= col))
            finite_uppers = [i for i in range(1, len(edges))
                             if edges[i] != float("inf")]
            incl_idx = finite_uppers[-1] if finite_uppers else None
            assign = raw
            if incl_idx is not None and incl_idx >= 1:
                # value == last finite edge belongs to the bin BELOW it
                assign = (F.when(col == F.lit(edges[incl_idx]),
                                 F.lit(incl_idx)).otherwise(raw))
            # out-of-range (only possible without overflow bins): drop
            assign = F.when((assign >= 1) & (assign <= n_buckets), assign)
        # NULLs ride along as sentinel bucket 0 — ONE groupBy counts data
        # bins, out-of-range drops, and the null tally together (parity:
        # the reference's NullFieldReplacement label, Test :163-218,750)
        bucket = F.when(col.isNull(), F.lit(0)).otherwise(assign)
        # per-bucket tally: COUNT(*) by default; SUM(sum_column) with NULL
        # tallies as 0 under Histogram.Sum (HistogramBinnedTest.scala:280)
        tally = (F.coalesce(_col(self.sum_column).cast("long"), F.lit(0))
                 if self.sum_column is not None else F.lit(1))
        freq = (data.select(bucket.alias("bucket"), tally.alias("__tally"))
                .where(F.col("bucket").isNotNull())
                .groupBy("bucket").agg(F.sum("__tally").alias(COUNT_COL)))
        rows = freq.collect()
        counts = {int(r["bucket"]): int(r[COUNT_COL]) for r in rows}
        null_count = counts.pop(0, 0)
        total = sum(counts.values())
        return _BinnedState(tuple(edges), tuple(counts.get(i + 1, 0)
                                                for i in range(n_buckets)),
                            total, null_count)

    def compute_metric_from_state(self, state) -> Metric:
        if state is None:
            return self.to_failure_metric(EmptyStateError("Empty state"))
        # ratios are over ALL in-scope rows including NULLs, matching the
        # reference's aggregateFunction.total(data) denominator
        total = max(state.total + state.null_count, 1)
        values = {}
        for i, cnt in enumerate(state.counts):
            label = f"[{state.edges[i]:.6g}, {state.edges[i + 1]:.6g}" + (
                "]" if i == len(state.counts) - 1 else ")")
            values[label] = DistributionValue(cnt, cnt / total)
        dist = Distribution(values, number_of_bins=len(state.counts),
                            null_count=state.null_count)
        return HistogramMetric(Entity.COLUMN, self.name, self.instance, dist)


@dataclass(frozen=True)
class _BinnedState(State):
    edges: Tuple[float, ...]
    counts: Tuple[int, ...]
    total: int
    null_count: int = 0

    def merge(self, other):
        if self.edges != other.edges:
            raise ValueError("cannot merge binned histograms with different edges")
        return _BinnedState(self.edges,
                            tuple(a + b for a, b in zip(self.counts, other.counts)),
                            self.total + other.total,
                            self.null_count + other.null_count)
