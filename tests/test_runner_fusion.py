"""Performance-shape tests: the scan-sharing contract itself.

Parity: AnalysisRunnerTests.scala:61-110 — N scan-shareable analyzers must
produce exactly ONE Spark job; a bucket of grouping analyzers at most two.
"""

import pytest

from deequ_spark import (ApproxQuantile, Completeness, Compliance,
                         CountDistinct, Distinctness, Entropy, Maximum, Mean,
                         Minimum, Size, StandardDeviation, Sum, Uniqueness,
                         do_analysis_run)


def count_jobs(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    # AQE legitimately splits one action into several jobs; the contract
    # under test is "one ACTION = one pass", so measure with AQE off
    import uuid
    group = f"fusion-test-{uuid.uuid4().hex[:8]}"
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        spark.sparkContext.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    after = tracker.getJobIdsForGroup(group) or []
    return len(after), result


class TestScanSharing:
    def test_six_analyzers_one_job(self, spark, df_numeric):
        analyzers = [Size(), Completeness("att1"), Completeness("att2"),
                     Compliance("c1", "att1 > 0"), Compliance("c2", "att2 > 0"),
                     ApproxQuantile("att1", 0.5)]
        n_jobs, ctx = count_jobs(spark, lambda: do_analysis_run(df_numeric, analyzers))
        assert len(ctx.metric_map) == 6
        assert all(m.is_success for m in ctx.metric_map.values())
        assert n_jobs == 1, f"expected 1 fused job, saw {n_jobs}"

    def test_fused_equals_standalone(self, df_numeric):
        analyzers = [Size(), Minimum("att1"), Maximum("att1"), Mean("att1"),
                     Sum("att1"), StandardDeviation("att1")]
        fused = do_analysis_run(df_numeric, analyzers)
        for a in analyzers:
            standalone = a.calculate(df_numeric)
            assert fused.metric_map[a].value == standalone.value


class TestGroupingSharing:
    def test_shared_group_by_single_job(self, spark, df_unique):
        analyzers = [Uniqueness(("nonUnique",)), Entropy("nonUnique"),
                     Distinctness(("nonUnique",)), CountDistinct(("nonUnique",))]
        n_jobs, ctx = count_jobs(spark, lambda: do_analysis_run(df_unique, analyzers))
        assert len(ctx.metric_map) == 4
        assert all(m.is_success for m in ctx.metric_map.values())
        # reference needs 2 jobs here (AnalysisRunnerTests.scala:87-107);
        # we recover num_rows inside the fused agg → 1 job
        assert n_jobs <= 2, f"expected ≤2 jobs, saw {n_jobs}"

    def test_mixed_scan_and_grouping(self, spark, df_unique):
        analyzers = [Size(), Mean("unique"), Uniqueness(("nonUnique",)),
                     Entropy("nonUnique")]
        n_jobs, ctx = count_jobs(spark, lambda: do_analysis_run(df_unique, analyzers))
        assert all(m.is_success for m in ctx.metric_map.values())
        assert n_jobs <= 3


class TestDQDLFusion:
    def test_aggregate_rules_one_fused_scan(self, spark, df_numeric):
        """All aggregate DQDL rules batch into ONE VerificationSuite run
        with ONE fused scan job (parity: DQDLExecutor.scala:28-60)."""
        from deequ_spark.dqdl import EvaluateDataQuality
        rules = """Rules = [
            RowCount > 0,
            Completeness "att1" >= 0,
            Mean "att1" > 0,
            Sum "att1" > 0,
            StandardDeviation "att1" >= 0,
            ZerosCount "att2" >= 0,
            Variance "att1" >= 0,
            Skewness "att1" between -10 and 10,
            Kurtosis "att1" between -10 and 10,
            ColumnCorrelation "att1" "att2" between -1 and 1,
            Range "att1" >= 0 ]"""
        n_jobs, out = count_jobs(
            spark, lambda: EvaluateDataQuality.process(df_numeric, rules)
            .collect())
        # 1 fused scan + 1 createDataFrame job for the result rows
        assert n_jobs <= 2, f"expected <=2 jobs for 11 rules, saw {n_jobs}"
        assert all(r["Outcome"] == "Passed" for r in out)


class TestHistogramJobFusion:
    def test_histogram_two_jobs(self, spark, df_unique):
        """Histogram = exactly 2 jobs: one fused (n_bins + num_rows) agg
        over the frequency table, one top-N collect. The former third job
        (a separate total collect at state-build time) was fused in r6
        (r5 verdict finding #3)."""
        from deequ_spark import Histogram
        a = Histogram("nonUnique")
        n_jobs, ctx = count_jobs(spark, lambda: do_analysis_run(df_unique, [a]))
        m = ctx.metric_map[a]
        assert m.is_success
        assert n_jobs <= 2, f"expected <=2 jobs for histogram, saw {n_jobs}"
        dist = m.value
        assert dist.values["0"].absolute == 3
        assert sum(dv.absolute for dv in dist.values.values()) == 6

    def test_standalone_grouping_metric_fuses_num_rows(self, spark, df_unique):
        """compute_state_from + compute_metric_from_state standalone path:
        building the state runs NO job (num_rows is lazy) and the metric
        needs ONE fused agg job."""
        from deequ_spark import Uniqueness
        a = Uniqueness(("nonUnique",))
        state = a.compute_state_from(df_unique)
        assert state._num_rows is None          # no job ran yet
        n_jobs, m = count_jobs(
            spark, lambda: a.compute_metric_from_state(state))
        assert m.is_success and abs(m.value - 0.5) < 1e-12
        assert state._num_rows == 6             # recovered inside the agg
        assert n_jobs == 1, f"expected 1 fused job, saw {n_jobs}"


class TestAnalysisRunnerReferenceParity:
    """Remaining AnalysisRunnerTests.scala behaviors (line refs per
    test), over the getDfWithNumericValues fixture."""

    @pytest.fixture(scope="class")
    def df_nv(self, spark):
        rows = [("1", 1, 0, 0), ("2", 2, 0, 0), ("3", 3, 0, 0),
                ("4", 4, 5, 4), ("5", 5, 6, 6), ("6", 6, 7, 7)]
        return spark.createDataFrame(
            rows, "item string, att1 int, att2 int, att3 int")

    def test_histogram_binning_udf_runner_equals_direct(self, df_nv):
        """:42-59 — Histogram with a binning hook computes the same via
        the runner as via direct calculate()."""
        from deequ_spark import Histogram
        a = Histogram("att1", binning_udf=lambda v: v > 2)
        direct = a.calculate(df_nv).value
        via_runner = do_analysis_run(df_nv, [a]).metric_map[a].value
        assert {k: v.absolute for k, v in direct.values.items()} == \
               {k: v.absolute for k, v in via_runner.values.items()}

    def test_fused_equals_separate_with_shared_names(self, df_nv):
        """:61-86 — same Compliance NAME with different predicates
        coexists; fused results equal separate calculate() calls."""
        from deequ_spark import ApproxQuantile
        analyzers = [Completeness("att1"),
                     Compliance("rule1", "att1 > 3"),
                     Completeness("att2"),
                     Compliance("rule1", "att1 > 2"),
                     Compliance("rule1", "att2 > 2"),
                     ApproxQuantile("att2", 0.5)]
        fused = do_analysis_run(df_nv, analyzers)
        for a in analyzers:
            assert fused.metric_map[a].value == \
                pytest.approx(a.calculate(df_nv).value), str(a)

    def test_grouping_with_distinct_filters_not_fused(self, spark, df_nv):
        """:178-210 — same grouping columns with DIFFERENT where filters
        form separate buckets but still match standalone results."""
        from deequ_spark import UniqueValueRatio
        analyzers = [UniqueValueRatio(("att1",)),
                     Uniqueness(("att1",), where="att3 > 0"),
                     Uniqueness(("att1",), where="att3 = 0")]
        ctx = do_analysis_run(df_nv, analyzers)
        for a in analyzers:
            direct = a.calculate(df_nv)
            assert ctx.metric_map[a].value == \
                pytest.approx(direct.value), str(a)
        # distinct filters → distinct metric values (half the groups each)
        assert ctx.metric_map[analyzers[1]].value == 1.0
        assert ctx.metric_map[analyzers[2]].value == 1.0

    def test_partial_reuse_runs_only_missing(self, spark, df_nv):
        """:212-247 — with one analyzer's result stored, only the OTHER
        grouping analyzer computes (2 jobs: its shuffle + second stage)."""
        import uuid
        from deequ_spark import (Distinctness, InMemoryMetricsRepository,
                                 ResultKey)
        stored_analyzer = Distinctness(("att1", "att2"))
        repo = InMemoryMetricsRepository()
        key = ResultKey.make(0, {})
        do_analysis_run(df_nv, [stored_analyzer], metrics_repository=repo,
                        save_or_append_results_with_key=key)
        analyzers = [stored_analyzer, Uniqueness(("att2", "item"))]
        tracker = spark.sparkContext.statusTracker()
        group = f"partial-reuse-{uuid.uuid4().hex[:8]}"
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.sparkContext.setJobGroup(group, group)
        try:
            ctx = do_analysis_run(df_nv, analyzers, metrics_repository=repo,
                                  reuse_existing_results_for_key=key)
        finally:
            spark.sparkContext.setJobGroup(None, None)
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        n_jobs = len(tracker.getJobIdsForGroup(group) or [])
        assert n_jobs <= 2, f"expected <=2 jobs with partial reuse, saw {n_jobs}"
        for a in analyzers:
            assert ctx.metric_map[a].value == \
                pytest.approx(a.calculate(df_nv).value), str(a)

    def test_no_implicit_size_for_grouping_only(self, df_nv):
        """:400-409 — a frequency-only run adds no Size() metric."""
        from deequ_spark import Distinctness, Size
        ctx = do_analysis_run(df_nv, [Distinctness(("att1",))])
        assert not any(isinstance(a, Size) for a in ctx.metric_map)


class TestColumnDataTypeScanFusion:
    """All ColumnDataType rules in one DQDL ruleset share a single fused
    df.agg scan (our improvement over the reference's per-rule
    RuleEvaluationHelper pass) — N rules = 1 job."""

    def test_three_rules_one_job(self, spark):
        from deequ_spark.dqdl import EvaluateDataQuality
        df = spark.createDataFrame(
            [(1, "2023-01-01", "100", "1.5"),
             (2, "2023-02-15", "200", "x")],
            "id int, d string, i string, f string")
        ruleset = ('Rules=[ColumnDataType "d" = "DATE", '
                   'ColumnDataType "i" = "INTEGER", '
                   'ColumnDataType "f" = "DOUBLE"]')
        jobs, result = count_jobs(
            spark, lambda: EvaluateDataQuality.process(df, ruleset)
            .collect())
        # 1 fused agg for all three rules + 1 for the tiny result-table
        # createDataFrame/collect
        assert jobs <= 2, jobs
        outcomes = {r["Rule"]: r["Outcome"] for r in result}
        assert outcomes['ColumnDataType "d" = "DATE"'] == "Passed"
        assert outcomes['ColumnDataType "i" = "INTEGER"'] == "Passed"
        assert outcomes['ColumnDataType "f" = "DOUBLE"'] == "Failed"

class TestConcurrentGroups:
    """r12 wave 4 (guide §2.6): the runner's independent execution
    groups — fused scan, shared KLL pass, each grouping bucket, each
    standalone analyzer — run overlapped from a small thread pool.
    Contract: identical metrics (values AND key order), identical saved
    states, job-group propagation into the pooled actions."""

    def _analyzers(self):
        from deequ_spark import Histogram, KLLSketch
        return [Size(), Mean("att1"), Maximum("att2"),        # scan group
                KLLSketch("att1"),                            # KLL pass
                Distinctness(("att1",)), Entropy("att1"),     # bucket 1
                Uniqueness(("att1", "att2")),                 # bucket 2
                Histogram("att2")]                            # standalone

    def test_concurrent_equals_each_alone(self, df_numeric):
        analyzers = self._analyzers()
        conc = do_analysis_run(df_numeric, analyzers)
        assert set(conc.metric_map) == set(analyzers)
        # results merge in submission order: the key order is fixed
        again = do_analysis_run(df_numeric, analyzers)
        assert list(again.metric_map) == list(conc.metric_map)
        for a in analyzers:
            mc = conc.metric_map[a]
            (ma,) = do_analysis_run(df_numeric, [a]).metric_map.values()
            assert ma.is_success and mc.is_success, (a, ma, mc)
            va = getattr(ma.value, "buckets", ma.value)
            vc = getattr(mc.value, "buckets", mc.value)
            assert _same_value(vc, va), (a, ma.value, mc.value)

    def test_states_equal_each_alone(self, df_numeric):
        from deequ_spark import InMemoryStateProvider, run_on_aggregated_states
        analyzers = [Size(), Mean("att1"), Distinctness(("att1",)),
                     Uniqueness(("att2",))]
        prov = InMemoryStateProvider()
        do_analysis_run(df_numeric, analyzers, save_states_with=prov)
        # states must round-trip to the same metrics scan-free
        ctx = run_on_aggregated_states(df_numeric, analyzers, [prov])
        for a in analyzers:
            alone = InMemoryStateProvider()
            do_analysis_run(df_numeric, [a], save_states_with=alone)
            (ma,) = run_on_aggregated_states(
                df_numeric, [a], [alone]).metric_map.values()
            mc = ctx.metric_map[a]
            assert ma.is_success and mc.is_success, (a, ma, mc)
            assert _same_value(mc.value, ma.value), (a, ma.value, mc.value)

    def test_job_group_reaches_pooled_actions(self, spark, df_numeric):
        """setJobGroup is thread-local; inheritable_thread_target must
        carry it into the pool so cancellation/labeling still work."""
        import uuid
        tracker = spark.sparkContext.statusTracker()
        group = f"conc-group-{uuid.uuid4().hex[:8]}"
        spark.sparkContext.setJobGroup(group, group)
        try:
            do_analysis_run(df_numeric, self._analyzers())
        finally:
            spark.sparkContext.setJobGroup(None, None)
        jobs = tracker.getJobIdsForGroup(group) or []
        # scan + KLL + 2 buckets + histogram ≥ 5 actions, ALL in-group
        assert len(jobs) >= 5, jobs


def _same_value(got, expected):
    """Exact for distributions and counts; a float sum may differ in its
    last bits with the order the partitions are added in."""
    if isinstance(expected, float):
        return got == pytest.approx(expected, rel=1e-12)
    return got == expected


def _corpus_passes(spark, rows, schema, run):
    """Corpus passes of ``run(df)`` — partitions of the base data computed,
    over its partition count; returns (passes, run's result)."""
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        acc.add(1)
        return it
    base = spark.createDataFrame(rows, schema)
    n_parts = base.rdd.getNumPartitions()
    counted = spark.createDataFrame(base.rdd.mapPartitions(tick), schema)
    out = run(counted)
    assert acc.value % n_parts == 0
    return acc.value // n_parts, out


class TestHistogramShuffleShare:
    """A Histogram on a plain non-float column joins the frequency group
    of its (column, where): one null-inclusive corpus GROUP BY serves the
    grouping analyzers (all-null group excluded post-shuffle) and the
    Histogram (string-cast regrouping post-shuffle). Values and saved
    states must equal each analyzer run alone."""

    def _assert_identical(self, df, analyzers):
        shared = do_analysis_run(df, analyzers)
        for a in analyzers:
            ms = shared.metric_map[a]
            (mp,) = do_analysis_run(df, [a]).metric_map.values()
            assert ms.is_success and mp.is_success, (a, ms, mp)
            vs = getattr(ms.value, "values", ms.value)
            vp = getattr(mp.value, "values", mp.value)
            assert vs == vp, (a, ms.value, mp.value)
            if hasattr(ms.value, "number_of_bins"):
                assert ms.value.number_of_bins == mp.value.number_of_bins
                assert ms.value.tail_count == mp.value.tail_count
                # and the Histogram's own string GROUP BY agrees
                assert ms.value == a.calculate(df).value
        return shared

    def test_string_column_with_nulls_identical(self, spark, df_missing):
        """NULL rows: excluded from the grouping analyzers, a NullValue
        bin for the Histogram — both derived from ONE shuffle. Metric
        order: grouping analyzers first, Histograms in the standalone
        slot."""
        from deequ_spark import Histogram
        analyzers = [Histogram("att1"), Entropy("att1"),
                     Uniqueness(("att1",)), Distinctness(("att1",)),
                     CountDistinct(("att1",))]
        shared = self._assert_identical(df_missing, analyzers)
        assert list(shared.metric_map) == analyzers[1:] + analyzers[:1]

    def test_int_column_and_where_filter_identical(self, spark, df_numeric):
        from deequ_spark import Histogram
        self._assert_identical(df_numeric, [
            Histogram("att2", where="att1 > 1"),
            Entropy("att2", where="att1 > 1"),
            # different where -> must NOT pair with the filtered bucket
            Histogram("att2")])

    def test_double_column_never_shares(self, spark):
        """float/double stay standalone: groupBy normalizes -0.0 to 0.0
        (and NaN bit patterns) BEFORE any cast, also inside an array,
        while the Histogram's corpus-level string groupBy distinguishes
        "-0.0" — the guard keeps the reference semantics bit-exact."""
        from deequ_spark import Histogram
        df = spark.createDataFrame(
            [(1, -0.0, [-0.0, 1.0]), (2, 0.0, [0.0, 1.0]), (3, 1.5, None)],
            "id int, v double, w array<double>")
        self._assert_identical(df, [Histogram("v"), Entropy("v")])
        ctx = do_analysis_run(df, [Histogram("v"), Entropy("v")])
        assert "-0.0" in ctx.metric_map[Histogram("v")].value.values
        hists = [Histogram("w"), Histogram("w", max_detail_bins=5)]
        self._assert_identical(df, hists)
        ctx = do_analysis_run(df, hists)
        assert ctx.metric_map[hists[0]].value.number_of_bins == 3

    def test_shared_run_scans_the_corpus_fewer_times(self, spark):
        """[Histogram, Entropy] on one column reads the base data ONCE,
        with and without a state provider: each standalone would read
        it once more."""
        from deequ_spark import Histogram, InMemoryStateProvider
        rows = [(str(i), "abc"[i % 3]) for i in range(30)]
        for states in (None, InMemoryStateProvider()):
            n, ctx = _corpus_passes(
                spark, rows, "item string, att1 string",
                lambda df: do_analysis_run(
                    df, [Histogram("att1"), Entropy("att1")],
                    save_states_with=states))
            assert all(m.is_success for m in ctx.metric_map.values())
            assert n == 1, (states, n)

    def test_two_histograms_without_bucket_one_pass(self, spark):
        from deequ_spark import Histogram
        rows = [(str(i), "abc"[i % 3] if i % 4 else None)
                for i in range(30)]
        hists = [Histogram("att1"), Histogram("att1", max_detail_bins=2)]
        n, ctx = _corpus_passes(spark, rows, "item string, att1 string",
                                lambda df: do_analysis_run(df, hists))
        assert n == 1, n
        assert list(ctx.metric_map) == hists
        for h in hists:
            alone = h.calculate(spark.createDataFrame(
                rows, "item string, att1 string")).value
            assert ctx.metric_map[h].value == alone

    def test_shared_states_equal_standalone_and_merge(self, spark,
                                                      df_missing):
        """Saved Histogram states are schema- and row-identical to
        Histogram.compute_state_from; merged over two deltas they give
        the one-shot metrics."""
        from deequ_spark import (Histogram, InMemoryStateProvider,
                                 run_on_aggregated_states)
        analyzers = [Histogram("att1"), Entropy("att1"),
                     Uniqueness(("att1",))]
        hist = analyzers[0]
        left = df_missing.where("CAST(item AS INT) <= 6")
        right = df_missing.where("CAST(item AS INT) > 6")
        providers = []
        for part in (left, right):
            prov = InMemoryStateProvider()
            do_analysis_run(part, analyzers, save_states_with=prov)
            saved = prov.load(hist).frequencies
            alone = hist.compute_state_from(part).frequencies
            assert saved.schema == alone.schema
            assert sorted(saved.collect()) == sorted(alone.collect())
            providers.append(prov)
        merged = run_on_aggregated_states(df_missing, analyzers, providers)
        oneshot = do_analysis_run(df_missing, analyzers)
        for a in analyzers:
            assert _same_value(merged.metric_map[a].value,
                               oneshot.metric_map[a].value)

    @pytest.mark.parametrize("mode", ["batch", "cumulative"])
    def test_streaming_frequency_group_releases_storage(self, spark, mode):
        """keep_state_cache: the only caches a frequency group keeps are
        the frequencies of its saved states, and the streaming verifier
        releases those — storage returns to its baseline."""
        from deequ_spark import Histogram
        from deequ_spark.storage import release_checkpoint
        from deequ_spark.streaming import StreamingVerification

        def stored():
            return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
        analyzers = [Histogram("g"), Entropy("g")]
        batches = [spark.createDataFrame(
            [(i, f"g{(i * b) % 5}" if i % 6 else None) for i in range(40)],
            "id int, g string") for b in (1, 2, 3)]
        baseline = stored()
        sv = StreamingVerification(analyzers=analyzers, mode=mode)
        for i, batch in enumerate(batches):
            sv.foreach_batch(batch, i)
        last = sv.results[-1].context
        assert all(m.is_success for m in last.metric_map.values())
        if mode == "cumulative":
            union = batches[0].union(batches[1]).union(batches[2])
            expected = do_analysis_run(union, analyzers)
            for a in analyzers:
                assert _same_value(last.metric_map[a].value,
                                   expected.metric_map[a].value)
            for a in analyzers:
                release_checkpoint(sv.cumulative_states().load(a).frequencies)
        assert stored() == baseline


def test_standalone_histogram_single_corpus_pass(spark):
    """r13: a standalone Histogram's metric needs two jobs over its
    frequency table (stats agg + top-N collect); the lazy state plan
    used to re-run the corpus groupBy in BOTH. The table is now
    persisted across the two jobs — exactly one corpus pass."""
    from deequ_spark import Histogram
    schema = "item string, att1 string"
    rows = [(str(i), "abc"[i % 3]) for i in range(30)]
    acc = spark.sparkContext.accumulator(0)

    def tick(it):
        acc.add(1)
        return it
    base = spark.createDataFrame(rows, schema)
    n_parts = base.rdd.getNumPartitions()
    counted = spark.createDataFrame(base.rdd.mapPartitions(tick), schema)
    ctx = do_analysis_run(counted, [Histogram("att1")])
    m = next(iter(ctx.metric_map.values()))
    assert m.is_success
    assert m.value.values["a"].absolute == 10
    assert acc.value == n_parts, \
        f"expected 1 corpus pass, saw {acc.value / n_parts}"
