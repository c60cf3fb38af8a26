"""Exact-value tests for frequency-based analyzers (FIXTURES.md F5/F6)."""

import math

import pytest

from deequ_spark import (CountDistinct, Distinctness, DuplicateRowCount,
                         Entropy, Histogram, HistogramBinned,
                         MutualInformation, Uniqueness, UniqueValueRatio)


def value(analyzer, df):
    metric = analyzer.calculate(df)
    assert metric.is_success, f"{analyzer}: {metric.error}"
    return metric.value


class TestUniqueness:
    def test_unique_column(self, df_unique):
        assert value(Uniqueness(("unique",)), df_unique) == 1.0

    def test_non_unique(self, df_unique):
        # nonUnique = (0,0,0,5,6,7): 3 singleton groups of 6 rows
        assert value(Uniqueness(("nonUnique",)), df_unique) == 0.5

    def test_multi_column(self, df_unique):
        assert value(Uniqueness(("unique", "nonUnique")), df_unique) == 1.0

    def test_null_groups_excluded(self, df_distinct):
        # att1 = (a,a,null,b,b,c): groups a:2 b:2 c:1 over 5 non-null rows
        assert value(Uniqueness(("att1",)), df_distinct) == pytest.approx(1 / 5)


class TestUniqueValueRatio:
    def test_ratio(self, df_unique):
        # nonUnique: 4 groups, 3 unique → 0.75
        assert value(UniqueValueRatio(("nonUnique",)), df_unique) == 0.75


class TestDistinctness:
    def test_distinctness(self, df_distinct):
        assert value(Distinctness(("att1",)), df_distinct) == pytest.approx(3 / 5)

    def test_full(self, df_unique):
        assert value(Distinctness(("unique",)), df_unique) == 1.0


class TestCountDistinct:
    def test_count(self, df_distinct):
        assert value(CountDistinct(("att1",)), df_distinct) == 3.0


class TestEntropy:
    def test_entropy(self, df_distinct):
        # frequencies (2,2,1) over 5
        expected = -(0.4 * math.log(0.4) * 2 + 0.2 * math.log(0.2))
        assert value(Entropy("att1"), df_distinct) == pytest.approx(expected)

    def test_uniform(self, df_full):
        # att2 = c,c,c,d → -(0.75 ln 0.75 + 0.25 ln 0.25)
        expected = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
        assert value(Entropy("att2"), df_full) == pytest.approx(expected)


class TestDuplicateRowCount:
    def test_duplicates(self, df_unique):
        # nonUnique groups: {0:3, 5:1, 6:1, 7:1} → 3 rows in duplicate groups
        assert value(DuplicateRowCount(("nonUnique",)), df_unique) == 3.0

    def test_no_duplicates(self, df_unique):
        assert value(DuplicateRowCount(("unique",)), df_unique) == 0.0


class TestMutualInformation:
    def test_identical_columns_equals_entropy(self, spark):
        df = spark.createDataFrame(
            [("a", "a"), ("a", "a"), ("b", "b"), ("c", "c")], "x string, y string")
        mi = value(MutualInformation(("x", "y")), df)
        ent = value(Entropy("x"), df)
        assert mi == pytest.approx(ent)

    def test_independent(self, spark):
        rows = [(x, y) for x in "ab" for y in "cd"]
        df = spark.createDataFrame(rows, "x string, y string")
        assert value(MutualInformation(("x", "y")), df) == pytest.approx(0.0, abs=1e-9)

    def test_partial_nulls_pinned_without_broadcast(self, spark):
        """Nulls in both columns: a row with one null key still counts
        toward the other key's marginal but not toward the sum (the
        reference's inner-join semantics, which can make MI negative).
        Value pinned to the earlier broadcast-join form; the marginals
        are window sums, so no plan broadcasts anything."""
        rows = [(None if i % 11 == 0 else i % 7,
                 None if i % 13 == 0 else f"v{(i * 3 + i // 7) % 5}")
                for i in range(500)]
        df = spark.createDataFrame(rows, "a int, b string")
        store = spark._jsparkSession.sharedState().statusStore()
        executions = store.executionsList()
        seen = (executions.apply(executions.size() - 1).executionId()
                if executions.size() else -1)
        mi = value(MutualInformation(("a", "b")), df)
        assert mi == pytest.approx(-0.00448613004679525, rel=1e-9)
        # the store keeps a bounded window of executions, newest last
        executions = store.executionsList()
        plans = []
        for i in reversed(range(executions.size())):
            execution = executions.apply(i)
            if execution.executionId() <= seen:
                break
            plans.append(execution.physicalPlanDescription())
        assert plans and not any("BroadcastExchange" in p for p in plans)


class TestHistogram:
    def test_values(self, df_full):
        dist = value(Histogram("att1"), df_full)
        assert dist.number_of_bins == 2
        assert dist["a"].absolute == 3
        assert dist["a"].ratio == 0.75
        assert dist["b"].absolute == 1

    def test_nulls_bucketed(self, df_distinct):
        dist = value(Histogram("att1"), df_distinct)
        assert dist["NullValue"].absolute == 1
        assert dist.number_of_bins == 4

    def test_top_n_and_tail(self, df_full):
        dist = value(Histogram("att1", max_detail_bins=1), df_full)
        assert len(dist.values) == 1
        assert dist.number_of_bins == 2
        assert dist.tail_count == 1

    def test_sum_aggregation(self, spark):
        df = spark.createDataFrame(
            [("a", 10), ("a", 20), ("b", 5)], "k string, v int")
        dist = value(Histogram("k", sum_column="v"), df)
        assert dist["a"].absolute == 30
        assert dist["b"].absolute == 5


class TestHistogramBinned:
    def test_equal_width(self, spark):
        df = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
        dist = value(HistogramBinned("v", bin_count=3), df)
        assert dist.number_of_bins == 3
        assert sum(dv.absolute for dv in dist.values.values()) == 10

    def test_custom_edges(self, spark):
        df = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
        dist = value(HistogramBinned("v", custom_edges=(0.0, 5.0, 10.0)), df)
        counts = [dv.absolute for dv in dist.values.values()]
        assert counts == [5, 5]


class TestRowLevelUniqueness:
    def test_row_level_column(self, spark):
        from deequ_spark import Check, CheckLevel, CheckStatus, VerificationSuite
        df = spark.createDataFrame(
            [("1", "a"), ("2", "a"), ("3", "b"), ("4", None)],
            "id string, g string")
        check = Check(CheckLevel.ERROR, "uniq").is_unique("g")
        result = VerificationSuite().on_data(df).add_check(check).run()
        annotated = result.row_level_results_as_dataframe(df)
        got = {r["id"]: r["uniq"] for r in annotated.collect()}
        # duplicated 'a' rows fail; 'b' passes; a LONE null group is unique
        # (reference UniquenessTest "row-level results for uniqueness with
        # null": uniqueWithNulls → all true — the window count partitions
        # NULLs together rather than dropping them)
        assert got == {"1": False, "2": False, "3": True, "4": True}

    def test_row_level_uniqueness_two_nulls_fail(self, spark):
        from deequ_spark import Check, CheckLevel, VerificationSuite
        df = spark.createDataFrame(
            [("1", "a"), ("2", None), ("3", None)], "id string, g string")
        check = Check(CheckLevel.ERROR, "uniq").is_unique("g")
        result = VerificationSuite().on_data(df).add_check(check).run()
        got = {r["id"]: r["uniq"] for r in
               result.row_level_results_as_dataframe(df).collect()}
        assert got == {"1": True, "2": False, "3": False}


class TestHistogramBinnedOverflow:
    """include_overflow_bins parity (HistogramBinned.scala:62-268): ±Inf
    under/overflow bins capture out-of-range values; the last interior
    bin's upper edge becomes inclusive so the data max stays interior."""

    def test_custom_edges_overflow(self, spark):
        from deequ_spark import HistogramBinned, do_analysis_run
        df = spark.createDataFrame(
            [(-5.0,), (0.0,), (2.0,), (5.0,), (7.0,), (10.0,), (99.0,)],
            "v double")
        a = HistogramBinned("v", custom_edges=(0.0, 5.0, 10.0),
                            include_overflow_bins=True)
        dist = do_analysis_run(df, [a]).metric_map[a].value
        counts = [dv.absolute for dv in dist.values.values()]
        # [-inf,0): -5 | [0,5): 0,2 | [5,10]: 5,7,10 (max inclusive) | (10,inf]: 99
        assert counts == [1, 2, 3, 1]
        assert dist.number_of_bins == 4

    def test_custom_edges_without_overflow_drops(self, spark):
        from deequ_spark import HistogramBinned, do_analysis_run
        df = spark.createDataFrame(
            [(-5.0,), (0.0,), (2.0,), (5.0,), (7.0,), (10.0,), (99.0,)],
            "v double")
        a = HistogramBinned("v", custom_edges=(0.0, 5.0, 10.0))
        dist = do_analysis_run(df, [a]).metric_map[a].value
        counts = [dv.absolute for dv in dist.values.values()]
        # out-of-range (-5, 99) silently excluded; last bin inclusive
        assert counts == [2, 3]

    def test_equal_width_overflow(self, spark):
        from deequ_spark import HistogramBinned, do_analysis_run
        df = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
        a = HistogramBinned("v", bin_count=4, include_overflow_bins=True)
        dist = do_analysis_run(df, [a]).metric_map[a].value
        counts = [dv.absolute for dv in dist.values.values()]
        # interior = 2 bins over [0,9]: [0,4.5) → 5 values, [4.5,9] → 5;
        # ±Inf bins empty but PRESENT
        assert counts == [0, 5, 5, 0]
        assert dist.number_of_bins == 4

    def test_bin_count_minimum_with_overflow(self, spark):
        from deequ_spark import HistogramBinned, do_analysis_run
        df = spark.createDataFrame([(1.0,)], "v double")
        a = HistogramBinned("v", bin_count=2, include_overflow_bins=True)
        m = do_analysis_run(df, [a]).metric_map[a]
        assert not m.is_success  # binCount >= 3 required (scala :104-107)

    def test_unsorted_custom_edges_are_sorted(self, spark):
        from deequ_spark import HistogramBinned, do_analysis_run
        df = spark.createDataFrame([(1.0,), (6.0,)], "v double")
        a = HistogramBinned("v", custom_edges=(10.0, 0.0, 5.0))
        dist = do_analysis_run(df, [a]).metric_map[a].value
        assert [dv.absolute for dv in dist.values.values()] == [1, 1]


class TestHistogramBinningUdf:
    """binning_udf contract (r4 advice): a Column-returning callable stays
    a pure JVM expression; scalar callables route through an Arrow-batched
    pandas_udf — never a row-at-a-time Python UDF."""

    def test_column_expression_fast_path(self, spark):
        from pyspark.sql import functions as F
        df = spark.createDataFrame([(1,), (5,), (20,), (30,)], "v int")
        a = Histogram("v", binning_udf=lambda c: F.when(c < 10, "small")
                      .otherwise("big"))
        dist = value(a, df)
        assert dist["small"].absolute == 2 and dist["big"].absolute == 2

    def test_column_fast_path_plan_has_no_python(self, spark):
        from pyspark.sql import functions as F
        df = spark.createDataFrame([(1,), (20,)], "v int")
        a = Histogram("v", binning_udf=lambda c: F.when(c < 10, "small")
                      .otherwise("big"))
        state = a.compute_state_from(df)
        plan = (state.frequencies._jdf.queryExecution().executedPlan()
                .toString())
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_scalar_callable_uses_arrow_not_row_udf(self, spark):
        df = spark.createDataFrame([(1,), (5,), (20,), (30,)], "v int")
        a = Histogram("v", binning_udf=lambda v: "small" if v < 10 else "big")
        state = a.compute_state_from(df)
        plan = (state.frequencies._jdf.queryExecution().executedPlan()
                .toString())
        assert "BatchEvalPython" not in plan     # no pickled row-at-a-time
        dist = a.compute_metric_from_state(state).value
        assert dist["small"].absolute == 2 and dist["big"].absolute == 2

    def test_scalar_callable_null_passthrough(self, spark):
        df = spark.createDataFrame([(1,), (None,)], "v int")
        a = Histogram("v", binning_udf=lambda v: "x")
        dist = value(a, df)
        assert dist["x"].absolute == 1
        assert dist["NullValue"].absolute == 1

    def test_raising_column_callable_surfaces_at_analysis_time(self, spark):
        """A Column-accepting hook with a genuine bug must surface its own
        error at analysis time — NOT be silently retried as a pandas_udf
        and fail confusingly executor-side (r5 verdict finding #2)."""
        from deequ_spark import do_analysis_run
        df = spark.createDataFrame([(1,)], "v int")

        def buggy_hook(c):
            raise RuntimeError("typo in binning hook")

        a = Histogram("v", binning_udf=buggy_hook)
        m = do_analysis_run(df, [a]).metric_map[a]
        assert not m.is_success
        assert "typo in binning hook" in str(m.error)


class TestHistogramBinnedReferenceFixtures:
    """Transcribed from /root/reference/src/test/scala/com/amazon/deequ/
    analyzers/HistogramBinnedTest.scala (line refs per test)."""

    def _bins(self, dist):
        return [dv.absolute for dv in dist.values.values()]

    def test_equal_width_integer(self, spark):
        """:34-82 — 14 values, 5 equal bins over [1, 30]."""
        data = spark.createDataFrame(
            [(v,) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 15, 20, 25, 30]],
            "values int")
        dist = value(HistogramBinned("values", bin_count=5), data)
        assert dist.number_of_bins == 5
        assert self._bins(dist) == [6, 4, 1, 1, 2]
        ratios = [dv.ratio for dv in dist.values.values()]
        assert ratios[0] == pytest.approx(6 / 14, abs=0.001)
        assert ratios[4] == pytest.approx(2 / 14, abs=0.001)

    def test_all_null_data(self, spark):
        """:298-315 — SUCCESS with zero bins, nulls tracked separately."""
        data = spark.createDataFrame([(None,)] * 4, "values double")
        dist = value(HistogramBinned("values", bin_count=3), data)
        assert dist.number_of_bins == 0
        assert dist.values == {}
        assert dist.null_count == 4

    def test_empty_bins_and_nulls(self, spark):
        """:317-345 — gaps keep empty bins; nulls separate."""
        data = spark.createDataFrame([(1.0,), (None,), (9.0,), (None,)],
                                     "values double")
        dist = value(HistogramBinned("values", bin_count=5), data)
        assert dist.number_of_bins == 5
        assert self._bins(dist) == [1, 0, 0, 0, 1]
        assert dist.null_count == 2

    def test_boundary_values(self, spark):
        """:549-577 — edge-exact values, last custom bin inclusive."""
        data = spark.createDataFrame(
            [(v,) for v in [0.0, 5.0, 10.0, 15.0, 20.0]], "values double")
        dist = value(HistogramBinned(
            "values", custom_edges=(0.0, 5.0, 10.0, 20.0)), data)
        assert self._bins(dist) == [1, 1, 3]

    def test_gaps_with_empty_bins(self, spark):
        """:578-603."""
        data = spark.createDataFrame([(1.0,), (19.0,)], "values double")
        dist = value(HistogramBinned(
            "values", custom_edges=(0.0, 5.0, 10.0, 15.0, 20.0)), data)
        assert self._bins(dist) == [1, 0, 0, 1]

    def test_overflow_custom_edges(self, spark):
        """:674-703."""
        data = spark.createDataFrame(
            [(v,) for v in [1.0, 5.0, 15.0, 25.0]], "values double")
        dist = value(HistogramBinned("values", custom_edges=(0.0, 10.0, 20.0),
                                     include_overflow_bins=True), data)
        assert dist.number_of_bins == 4
        assert self._bins(dist) == [0, 2, 1, 1]

    def test_overflow_auto_edges(self, spark):
        """:705-727 — binCount 5 with overflow = 3 interior + 2 empty
        overflow; max stays interior."""
        data = spark.createDataFrame(
            [(float(v),) for v in range(1, 6)], "values double")
        dist = value(HistogramBinned("values", bin_count=5,
                                     include_overflow_bins=True), data)
        assert dist.number_of_bins == 5
        bins = self._bins(dist)
        assert bins[0] == 0 and bins[4] == 0
        assert sum(bins) == 5

    def test_no_duplicate_infinity_edges(self, spark):
        """:729-749 — user-provided ±Inf edges are not duplicated; the
        boundary value 20.0 stays in the last interior bin."""
        data = spark.createDataFrame(
            [(v,) for v in [1.0, 5.0, 20.0, 25.0]], "values double")
        dist = value(HistogramBinned(
            "values",
            custom_edges=(float("-inf"), 0.0, 10.0, 20.0, float("inf")),
            include_overflow_bins=True), data)
        assert dist.number_of_bins == 4
        assert self._bins(dist) == [0, 2, 1, 1]

    def test_nulls_separate_from_overflow(self, spark):
        """:750-776."""
        data = spark.createDataFrame(
            [(-5.0,), (None,), (5.0,), (25.0,), (None,)], "values double")
        dist = value(HistogramBinned("values", custom_edges=(0.0, 10.0, 20.0),
                                     include_overflow_bins=True), data)
        assert dist.number_of_bins == 4
        assert self._bins(dist) == [1, 1, 0, 1]
        assert dist.null_count == 2

    def test_out_of_range_dropped_nulls_counted(self, spark):
        """:975-997 — overflow disabled: out-of-range silently dropped,
        nulls still tallied."""
        data = spark.createDataFrame(
            [(-5.0,), (None,), (5.0,), (25.0,)], "values double")
        dist = value(HistogramBinned("values",
                                     custom_edges=(0.0, 10.0, 20.0)), data)
        assert self._bins(dist) == [1, 0]
        assert dist.null_count == 1

    def test_single_value_single_bin(self, spark):
        """:1035-1050 — constant column → ONE [v, v] bin, bin_count
        ignored."""
        data = spark.createDataFrame([(5.0,)] * 5, "values double")
        dist = value(HistogramBinned("values", bin_count=10), data)
        assert dist.number_of_bins == 1
        assert self._bins(dist) == [5]

    def test_single_value_with_overflow(self, spark):
        """:1051-1071."""
        data = spark.createDataFrame([(5.0,)] * 3, "values double")
        dist = value(HistogramBinned("values", bin_count=5,
                                     include_overflow_bins=True), data)
        assert dist.number_of_bins == 3
        assert self._bins(dist) == [0, 3, 0]

    def test_single_value_with_nulls(self, spark):
        """:1072-1090."""
        data = spark.createDataFrame(
            [(5.0,), (None,), (5.0,), (None,), (5.0,)], "values double")
        dist = value(HistogramBinned("values", bin_count=10), data)
        assert dist.number_of_bins == 1
        assert self._bins(dist) == [3]
        assert dist.null_count == 2

    def test_too_few_custom_edges_fails(self, spark):
        """:1128-1133."""
        data = spark.createDataFrame([(1.0,)], "values double")
        from deequ_spark import do_analysis_run
        a = HistogramBinned("values", custom_edges=(1.0,))
        assert not do_analysis_run(data, [a]).metric_map[a].is_success


class TestHistogramReferenceFixtures:
    """Transcribed from /root/reference/src/test/scala/com/amazon/deequ/
    analyzers/HistogramTest.scala (line refs per test)."""

    def _dist(self, analyzer, df):
        from deequ_spark import do_analysis_run
        m = do_analysis_run(df, [analyzer]).metric_map[analyzer]
        assert m.is_success, m.error
        return m.value

    def test_sorted_keys_with_ratio(self, spark):
        """:30-62 — keys descend by frequency; ratios over the total."""
        colors = ["Blue"] * 4 + ["Green"] * 3 + ["Red"] + ["Yellow"] * 5
        df = spark.createDataFrame([(c,) for c in colors], "colors string")
        dist = self._dist(Histogram("colors"), df)
        keys = list(dist.values.keys())
        assert keys[0] == "Yellow" and keys[-1] == "Red"
        assert [dist.values[k].absolute
                for k in ("Yellow", "Blue", "Green", "Red")] == [5, 4, 3, 1]
        assert dist.values["Yellow"].ratio == 5.0 / 13.0
        assert dist.values["Red"].ratio == 1.0 / 13.0

    def test_ratio_disabled_means_absolute(self, spark):
        """:64-103 — computeFrequenciesAsRatio=false divides by 1, so
        ratio == absolute (Histogram.scala:77-81)."""
        sat = (["Very Satisfied"] * 6 + ["Satisfied"] * 4 + ["Neutral"] * 3
               + ["Dissatisfied"] * 2 + ["Very Dissatisfied"])
        df = spark.createDataFrame([(s,) for s in sat], "satisfaction string")
        dist = self._dist(
            Histogram("satisfaction", compute_frequencies_as_ratio=False), df)
        keys = list(dist.values.keys())
        assert keys[0] == "Very Satisfied" and keys[-1] == "Very Dissatisfied"
        assert dist.values["Very Satisfied"].ratio == 6.0
        assert dist.values["Satisfied"].ratio == 4.0
        assert dist.values["Very Dissatisfied"].ratio == 1.0

    def test_boolean_column(self, spark):
        """:105-124."""
        df = spark.createDataFrame(
            [(v,) for v in (True, True, True, False, False, True)],
            "Binary boolean")
        dist = self._dist(Histogram("Binary",
                                    compute_frequencies_as_ratio=False), df)
        keys = list(dist.values.keys())
        assert keys == ["true", "false"]
        assert dist.values["true"].absolute == 4
        assert dist.values["false"].absolute == 2

    def test_max_detail_bins_truncates(self, spark):
        """:126-180 — 10 distinct values, top 5 detailed."""
        vals = sum(([chr(65 + i)] * (10 - i) for i in range(10)), [])
        df = spark.createDataFrame([(v,) for v in vals], "values string")
        dist = self._dist(Histogram("values", max_detail_bins=5,
                                    compute_frequencies_as_ratio=False), df)
        assert dist.number_of_bins == 10
        assert len(dist.values) == 5
        keys = list(dist.values.keys())
        assert keys[0] == "A" and keys[-1] == "E"
        assert [dist.values[k].absolute for k in "ABCDE"] == [10, 9, 8, 7, 6]
        assert all(k not in dist.values for k in "FGHIJ")

    def test_binning_udf_categorical(self, spark):
        """:182-211 — scalar binning hook groups sentiment labels."""
        vals = ["excellent", "very good", "good", "okay", "poor",
                "terrible", "excellent", "good"]
        df = spark.createDataFrame([(v,) for v in vals], "satisfaction string")
        groups = {"excellent": "positive", "very good": "positive",
                  "good": "neutral", "okay": "neutral",
                  "poor": "negative", "terrible": "negative"}
        dist = self._dist(
            Histogram("satisfaction", binning_udf=lambda v: groups[v]), df)
        assert dist.number_of_bins == 3 and len(dist.values) == 3
        assert dist.values["positive"].absolute == 3
        assert dist.values["neutral"].absolute == 3
        assert dist.values["negative"].absolute == 2

    def test_binning_udf_age_ranges(self, spark):
        """:213-241 — numeric binning hook."""
        df = spark.createDataFrame(
            [(v,) for v in (15, 25, 35, 45, 70, 80, 16, 30)], "age int")
        dist = self._dist(
            Histogram("age", binning_udf=lambda a: (
                "minor" if a < 18 else "adult" if a < 65 else "senior")), df)
        assert dist.values["minor"].absolute == 2
        assert dist.values["adult"].absolute == 4
        assert dist.values["senior"].absolute == 2

    def test_sum_aggregation(self, spark):
        """:243-275 — Histogram.Sum aggregates sales instead of counts."""
        rows = [("Electronics", 100), ("Electronics", 200),
                ("Furniture", 150), ("Electronics", 300),
                ("Furniture", 250), ("Cosmetics", 75)]
        df = spark.createDataFrame(rows, "category string, sales int")
        dist = self._dist(Histogram("category", sum_column="sales",
                                    compute_frequencies_as_ratio=False), df)
        assert dist.number_of_bins == 3
        assert dist.values["Electronics"].absolute == 600
        assert dist.values["Furniture"].absolute == 400
        assert dist.values["Cosmetics"].absolute == 75
        keys = list(dist.values.keys())
        assert keys[0] == "Electronics" and keys[-1] == "Cosmetics"

    def test_sum_aggregation_with_nulls(self, spark):
        """:277-311 — null categories pool under NullValue; null sales
        contribute 0 to their group's sum."""
        rows = [("Electronics", 100), (None, 999), ("Electronics", 200),
                ("Furniture", None), ("Electronics", 300),
                ("Furniture", 250), ("Cosmetics", 75), (None, 888)]
        df = spark.createDataFrame(rows, "category string, sales int")
        dist = self._dist(Histogram("category", sum_column="sales"), df)
        assert dist.number_of_bins == 4 and len(dist.values) == 4
        assert dist.values["Electronics"].absolute == 600
        assert dist.values["Furniture"].absolute == 250
        assert dist.values["Cosmetics"].absolute == 75
        assert dist.values["NullValue"].absolute == 1887
        keys = list(dist.values.keys())
        assert keys[0] == "NullValue" and keys[1] == "Electronics"

    def test_tied_frequencies_sort_alphabetically(self, spark):
        """:313-328 — desc frequency, ties ascending by value."""
        vals = (["Iris-setosa"] * 51 + ["Iris-virginica"] * 50
                + ["Iris-versicolor"] * 50 + ["Iris-xiphium"] * 10)
        df = spark.createDataFrame([(v,) for v in vals], "class string")
        dist = self._dist(Histogram("class",
                                    compute_frequencies_as_ratio=False), df)
        assert list(dist.values.keys()) == [
            "Iris-setosa", "Iris-versicolor", "Iris-virginica",
            "Iris-xiphium"]

    def test_all_null_column(self, spark):
        """:330-346 — all nulls collapse to one NullValue bin."""
        df = spark.createDataFrame([(None,)] * 4, "values double")
        dist = self._dist(Histogram("values", max_detail_bins=5,
                                    compute_frequencies_as_ratio=False), df)
        assert dist.number_of_bins == 1 and len(dist.values) == 1
        assert dist.values["NullValue"].absolute == 4

    # ---- tail section (:349-620) ----------------------------------------

    def test_tail_count_basic(self, spark):
        """:350-378."""
        vals = ["A"] * 5 + ["B"] * 4 + ["C"] * 3 + ["D"] * 2 + ["E"]
        df = spark.createDataFrame([(v,) for v in vals], "category string")
        dist = self._dist(Histogram("category", max_detail_bins=3), df)
        assert len(dist.values) == 3
        assert [dist.values[k].absolute for k in "ABC"] == [5, 4, 3]
        assert dist.tail_count == 3
        assert dist.number_of_bins == 5

    def test_tail_zero_when_fits(self, spark):
        """:380-393 and :395-408."""
        df = spark.createDataFrame(
            [("A",), ("A",), ("B",), ("B",), ("C",)], "category string")
        assert self._dist(Histogram("category", max_detail_bins=10),
                          df).tail_count == 0
        df2 = spark.createDataFrame(
            [("A",), ("A",), ("B",), ("C",)], "category string")
        assert self._dist(Histogram("category", max_detail_bins=3),
                          df2).tail_count == 0

    def test_tail_with_max_detail_bins_one(self, spark):
        """:410-425."""
        vals = ["A"] * 3 + ["B"] * 2 + ["C"]
        df = spark.createDataFrame([(v,) for v in vals], "category string")
        dist = self._dist(Histogram("category", max_detail_bins=1), df)
        assert len(dist.values) == 1
        assert dist.values["A"].absolute == 3
        assert dist.tail_count == 3

    def test_tail_with_nulls(self, spark):
        """:427-442 — top 2 = A and NullValue (tie at 2, name order)."""
        df = spark.createDataFrame(
            [("A",), ("A",), ("B",), (None,), ("C",), (None,)],
            "category string")
        dist = self._dist(Histogram("category", max_detail_bins=2), df)
        assert len(dist.values) == 2
        assert set(dist.values) == {"A", "NullValue"}
        assert dist.tail_count == 2

    def test_tail_with_sum_aggregation(self, spark):
        """:444-466 — tail is the SUM of untruncated groups, not count."""
        rows = [("A", 100), ("A", 200), ("B", 50), ("B", 75),
                ("C", 10), ("D", 5)]
        df = spark.createDataFrame(rows, "category string, amount int")
        dist = self._dist(Histogram("category", max_detail_bins=2,
                                    sum_column="amount"), df)
        assert dist.values["A"].absolute == 300
        assert dist.values["B"].absolute == 125
        assert dist.tail_count == 15

    def test_tail_larger_than_top_bin(self, spark):
        """:468-488."""
        vals = (["Top1"] * 10 + ["Top2"] * 8 + ["Top3"] * 6
                + [f"Rare{i}" for i in range(1, 51) for _ in range(2)])
        df = spark.createDataFrame([(v,) for v in vals], "category string")
        dist = self._dist(Histogram("category", max_detail_bins=3), df)
        assert len(dist.values) == 3
        assert dist.values["Top1"].absolute == 10
        assert dist.tail_count == 100

    def test_tail_tie_break_alphabetical(self, spark):
        """:490-513 — all frequency 2: Apple+Banana kept, 4 in tail."""
        vals = ["Banana", "Banana", "Apple", "Apple", "Cherry", "Cherry",
                "Date", "Date"]
        df = spark.createDataFrame([(v,) for v in vals], "category string")
        dist = self._dist(Histogram("category", max_detail_bins=2), df)
        assert set(dist.values) == {"Apple", "Banana"}
        assert dist.tail_count == 4

    def test_ratios_relative_to_total_including_tail(self, spark):
        """:515-534."""
        vals = ["A"] * 5 + ["B"] * 3 + ["C"] * 2
        df = spark.createDataFrame([(v,) for v in vals], "category string")
        dist = self._dist(Histogram("category", max_detail_bins=2), df)
        assert dist.values["A"].ratio == pytest.approx(0.5, abs=1e-3)
        assert dist.values["B"].ratio == pytest.approx(0.3, abs=1e-3)
        assert dist.tail_count == 2

    def test_zero_max_detail_bins_fails(self, spark):
        """:536-548 — maxDetailBins must be >= 1; failure metric, not a
        crash (Histogram.scala:65-66)."""
        from deequ_spark import do_analysis_run
        df = spark.createDataFrame([("A",), ("B",)], "category string")
        a = Histogram("category", max_detail_bins=0)
        m = do_analysis_run(df, [a]).metric_map[a]
        assert not m.is_success
        assert "at least 1" in str(m.error)

    def test_tail_with_where_filter(self, spark):
        """:550-571."""
        rows = [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B"),
                (6, "C"), (7, "C"), (8, "D")]
        df = spark.createDataFrame(rows, "id int, category string")
        dist = self._dist(Histogram("category", max_detail_bins=2,
                                    where="id <= 6"), df)
        assert len(dist.values) == 2
        assert dist.values["A"].absolute == 3
        assert dist.values["B"].absolute == 2
        assert dist.tail_count == 1

    def test_tail_with_binning_udf(self, spark):
        """:573-596 — tail computed after UDF grouping."""
        vals = ["US", "USA", "UK", "GB", "France", "Germany", "Italy"]
        df = spark.createDataFrame([(v,) for v in vals], "country string")
        norm = {"US": "US", "USA": "US", "UK": "UK", "GB": "UK"}
        dist = self._dist(
            Histogram("country", max_detail_bins=2,
                      binning_udf=lambda s: norm.get(s, s)), df)
        assert len(dist.values) == 2
        assert dist.tail_count == 3

    def test_flatten_emits_tail_count_only_when_present(self, spark):
        """:598-620 — Histogram.tailCount appears in the flattened metrics
        iff a tail exists."""
        from deequ_spark import do_analysis_run
        df = spark.createDataFrame(
            [("A",), ("A",), ("A",), ("B",), ("B",), ("C",)],
            "category string")
        a = Histogram("category", max_detail_bins=1)
        m = do_analysis_run(df, [a]).metric_map[a]
        flat = {dm.name: dm.value for dm in m.flattened}
        assert flat["Histogram.tailCount"] == 3.0
        df2 = spark.createDataFrame([("A",), ("B",)], "category string")
        a2 = Histogram("category", max_detail_bins=10)
        m2 = do_analysis_run(df2, [a2]).metric_map[a2]
        assert all(dm.name != "Histogram.tailCount" for dm in m2.flattened)


class TestHistogramBinnedSumAggregate:
    """HistogramBinnedTest.scala:219-296, :629-672, :868-889 — the
    Histogram.Sum aggregate: per-bin tallies SUM a second column instead
    of counting rows; NULL tallies contribute 0; NULL keys tally into
    nullCount; edges stay count-independent."""

    def test_sum_equal_width(self, spark):
        """:219-254 — revenue sums per equal-width price bin."""
        from deequ_spark.analyzers.grouping import HistogramBinned
        df = spark.createDataFrame(
            [(100.0, 50), (150.0, 75), (250.0, 100), (300.0, 125),
             (450.0, 200), (500.0, 250)], "price double, revenue int")
        a = HistogramBinned("price", bin_count=3, sum_column="revenue")
        m = a.calculate(df)
        assert m.is_success
        dist = m.value
        assert dist.number_of_bins == 3
        sums = [v.absolute for v in dist.values.values()]
        assert sums == [125, 225, 450]
        labels = list(dist.values)
        assert labels[0].startswith("[100") and labels[-1].endswith("500]")

    def test_sum_with_nulls(self, spark):
        """:256-296 — null revenue → 0; null price rows' revenue lands in
        nullCount (999 + 888 = 1887); edges from non-null prices only."""
        from deequ_spark.analyzers.grouping import HistogramBinned
        df = spark.createDataFrame(
            [(100.0, 50), (None, 999), (150.0, 75), (250.0, None),
             (300.0, 125), (450.0, 200), (None, 888)],
            "price double, revenue int")
        a = HistogramBinned("price", bin_count=3, sum_column="revenue")
        m = a.calculate(df)
        assert m.is_success
        dist = m.value
        assert dist.number_of_bins == 3
        assert [v.absolute for v in dist.values.values()] == [125, 125, 200]
        assert dist.null_count == 1887

    def test_sum_custom_edges(self, spark):
        """:629-672 — tax collected per income bracket."""
        from deequ_spark.analyzers.grouping import HistogramBinned
        df = spark.createDataFrame(
            [(25000.0, 2500), (35000.0, 4200), (45000.0, 6750),
             (75000.0, 15000), (120000.0, 28800), (200000.0, 54000)],
            "income double, tax_paid int")
        a = HistogramBinned("income",
                            custom_edges=(0.0, 40000.0, 100000.0, 300000.0),
                            sum_column="tax_paid")
        m = a.calculate(df)
        assert m.is_success
        assert [v.absolute for v in m.value.values.values()] == \
            [6700, 21750, 82800]

    def test_sum_with_overflow(self, spark):
        """:868-889 — overflow bins tally sums too."""
        from deequ_spark.analyzers.grouping import HistogramBinned
        df = spark.createDataFrame(
            [(-5.0, 100), (5.0, 200), (15.0, 300), (25.0, 400)],
            "values double, amount int")
        a = HistogramBinned("values", custom_edges=(0.0, 10.0, 20.0),
                            include_overflow_bins=True, sum_column="amount")
        m = a.calculate(df)
        assert m.is_success
        assert [v.absolute for v in m.value.values.values()] == \
            [100, 200, 300, 400]


class TestHistogramBinnedEdgeRouting:
    """HistogramBinnedTest.scala edge-routing fixtures not yet mirrored
    (line refs per test): float precision, duplicate boundary values,
    single bin, negative edges, on-edge routing with overflow, extreme
    doubles, where+overflow, empty/all-null with overflow."""

    @staticmethod
    def _freqs(spark, rows, schema, **kwargs):
        from deequ_spark.analyzers.grouping import HistogramBinned
        df = spark.createDataFrame(rows, schema)
        m = HistogramBinned("values", **kwargs).calculate(df)
        assert m.is_success, m.error
        return [v.absolute for v in m.value.values.values()], m.value

    def test_float_precision_at_boundaries(self, spark):
        """:431-448 — 9.999999999 below, 10.0 and 10.000000001 above."""
        freqs, _ = self._freqs(
            spark, [(9.999999999,), (10.0,), (10.000000001,)],
            "values double", custom_edges=(0.0, 10.0, 20.0))
        assert freqs == [1, 2]

    def test_null_values_with_custom_edges(self, spark):
        """:450-480."""
        freqs, dist = self._freqs(
            spark, [(1.0,), (None,), (3.0,), (None,), (5.0,), (7.0,),
                    (None,), (9.0,)],
            "values double", custom_edges=(0.0, 4.0, 8.0, 10.0))
        assert freqs == [2, 2, 1] and dist.null_count == 3

    def test_duplicates_at_boundaries(self, spark):
        """:482-502 — boundary duplicates land lower-inclusive."""
        freqs, _ = self._freqs(
            spark, [(5.0,)] * 3 + [(10.0,)] * 2 + [(15.0,)],
            "values double", custom_edges=(0.0, 5.0, 10.0, 20.0))
        assert freqs == [0, 3, 3]

    def test_single_bin_two_edges(self, spark):
        """:504-524 — one [0, 10] bin takes everything."""
        freqs, dist = self._freqs(
            spark, [(float(i),) for i in range(1, 6)], "values double",
            custom_edges=(0.0, 10.0))
        assert dist.number_of_bins == 1 and freqs == [5]

    def test_negative_edges(self, spark):
        """:526-548."""
        freqs, _ = self._freqs(
            spark, [(-10.0,), (-5.0,), (0.0,), (5.0,), (10.0,)],
            "values double", custom_edges=(-15.0, -2.0, 3.0, 12.0))
        assert freqs == [2, 1, 2]

    def test_boundary_values(self, spark):
        """:549-577 — on-edge values lower-inclusive; last bin takes its
        upper edge."""
        freqs, _ = self._freqs(
            spark, [(0.0,), (5.0,), (10.0,), (15.0,), (20.0,)],
            "values double", custom_edges=(0.0, 5.0, 10.0, 20.0))
        assert freqs == [1, 1, 3]

    def test_on_edge_routing_with_overflow(self, spark):
        """:833-851 + :1012-1032 — with ±Inf overflow the LAST INTERIOR
        edge stays inclusive; the first edge routes into the first
        interior bin, leaving both overflow bins empty."""
        freqs, _ = self._freqs(
            spark, [(0.0,), (10.0,), (20.0,)], "values double",
            custom_edges=(0.0, 10.0, 20.0), include_overflow_bins=True)
        assert freqs == [0, 1, 2, 0]
        freqs2, _ = self._freqs(
            spark, [(0.0,), (5.0,), (10.0,), (15.0,), (20.0,)],
            "values double", custom_edges=(0.0, 10.0, 20.0),
            include_overflow_bins=True)
        assert freqs2 == [0, 2, 3, 0]

    def test_single_edge_pair_with_overflow(self, spark):
        """:853-866."""
        freqs, dist = self._freqs(
            spark, [(-1.0,), (5.0,), (15.0,)], "values double",
            custom_edges=(0.0, 10.0), include_overflow_bins=True)
        assert dist.number_of_bins == 3 and freqs == [1, 1, 1]

    def test_extreme_values_in_overflow(self, spark):
        """:945-957 — ±1e308 and Double.Min/MaxValue route to overflow."""
        import sys
        freqs, _ = self._freqs(
            spark, [(-sys.float_info.max,), (-1e308,), (5.0,), (1e308,),
                    (sys.float_info.max,)], "values double",
            custom_edges=(0.0, 10.0), include_overflow_bins=True)
        assert freqs == [2, 1, 2]

    def test_where_with_overflow(self, spark):
        """:890-910."""
        from deequ_spark.analyzers.grouping import HistogramBinned
        df = spark.createDataFrame(
            [(1, -5.0), (2, 5.0), (3, 15.0), (4, 25.0)],
            "id int, values double")
        m = HistogramBinned("values", custom_edges=(0.0, 10.0, 20.0),
                            include_overflow_bins=True,
                            where="id <= 2").calculate(df)
        assert [v.absolute for v in m.value.values.values()] == [1, 1, 0, 0]

    def test_empty_data_with_overflow(self, spark):
        """:912-925."""
        freqs, dist = self._freqs(
            spark, [], "values double", custom_edges=(0.0, 10.0, 20.0),
            include_overflow_bins=True)
        assert dist.number_of_bins == 4 and freqs == [0, 0, 0, 0]

    def test_all_nulls_with_overflow(self, spark):
        """:927-943."""
        freqs, dist = self._freqs(
            spark, [(None,)] * 3, "values double",
            custom_edges=(0.0, 10.0, 20.0), include_overflow_bins=True)
        assert dist.number_of_bins == 4 and freqs == [0, 0, 0, 0]
        assert dist.null_count == 3
