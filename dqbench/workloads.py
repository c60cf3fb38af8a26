"""The benchmark's workloads: inputs, one operation through deequ_spark's
public API, the same operation split into traced layer calls, and the
correctness checks run outside the timed region."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from typing import Dict, List

import data
from oracle import REL, DuckOracle

# the lineitem tables of verify_nightly and incremental_append hold the
# orders whose key is a multiple of these (about 302k and 151k rows);
# incremental_append splits its table into DAYS deltas
NIGHTLY_ORDER_STRIDE = 20
INCREMENTAL_ORDER_STRIDE = 40
DAYS = 3
PACK_BUDGET = 256


def nightly_check():
    """The nightly check: 26 scan constraints, uniqueness and entropy
    buckets, Histogram plus Entropy on one column, mutual information and
    one KLL sketch. Every assertion holds on the generated table."""
    from deequ_spark import Check, CheckLevel
    return (Check(CheckLevel.ERROR, "nightly lineitem")
            .has_size(lambda n: n > 0)
            .is_complete("l_orderkey")
            .is_complete("l_returnflag")
            .has_completeness("l_partkey", lambda v: v >= 0.95)
            .has_completeness("l_discount", lambda v: v >= 0.95)
            .has_completeness("l_tax", lambda v: v >= 0.95)
            .has_min("l_quantity", lambda v: v >= 1)
            .has_max("l_quantity", lambda v: v <= 50)
            .has_min("l_extendedprice", lambda v: v > 0)
            .has_max("l_extendedprice", lambda v: v < 200_000)
            .has_mean("l_extendedprice", lambda v: v > 0)
            .has_standard_deviation("l_extendedprice", lambda v: v > 0)
            .has_sum("l_quantity", lambda v: v > 0)
            .has_mean("l_discount", lambda v: 0 <= v <= 0.1)
            .has_max("l_tax", lambda v: v <= 0.08)
            .is_non_negative("l_tax")
            .is_non_negative("l_discount")
            .satisfies("l_discount BETWEEN 0.0 AND 0.1", "discount range",
                       lambda v: v >= 0.95)
            .satisfies("l_quantity > 0", "quantity positive")
            .is_contained_in("l_returnflag", ["A", "N", "R"])
            .is_contained_in("l_linestatus", ["F", "O"])
            .has_pattern("l_returnflag", "^[ANR]$")
            .has_pattern("l_linestatus", "^[FO]$")
            .has_approx_count_distinct("l_orderkey", lambda v: v > 0)
            .has_approx_count_distinct("l_suppkey", lambda v: v > 0)
            .has_approx_quantile("l_extendedprice", 0.5, lambda v: v > 0)
            .has_uniqueness(("l_orderkey", "l_linenumber"),
                            lambda v: 0 < v < 1)
            .has_entropy("l_partkey", lambda v: v > 0)
            .has_uniqueness("l_partkey", lambda v: v < 1)
            .has_histogram_values("l_returnflag",
                                  lambda d: d.number_of_bins == 3)
            .has_entropy("l_returnflag", lambda v: v > 0)
            .has_mutual_information("l_returnflag", "l_linestatus",
                                    lambda v: v >= 0)
            .kll_sketch_satisfies("l_extendedprice",
                                  lambda d: len(d.buckets) > 0))


def incremental_check():
    """The daily check of incremental_append: scan constraints, HLL, KLL,
    a uniqueness bucket and Histogram plus Entropy on one column. It goes
    through every execution group of the runner."""
    from deequ_spark import Check, CheckLevel
    return (Check(CheckLevel.ERROR, "daily lineitem")
            .has_size(lambda n: n > 0)
            .is_complete("l_orderkey")
            .has_completeness("l_discount", lambda v: v >= 0.95)
            .has_min("l_quantity", lambda v: v >= 1)
            .has_max("l_quantity", lambda v: v <= 50)
            .has_mean("l_extendedprice", lambda v: v > 0)
            .has_standard_deviation("l_extendedprice", lambda v: v > 0)
            .satisfies("l_discount BETWEEN 0.0 AND 0.1", "discount range",
                       lambda v: v >= 0.95)
            .is_contained_in("l_returnflag", ["A", "N", "R"])
            .has_approx_count_distinct("l_orderkey", lambda v: v > 0)
            .has_uniqueness(("l_orderkey", "l_linenumber"),
                            lambda v: 0 < v < 1)
            .has_histogram_values("l_returnflag",
                                  lambda d: d.number_of_bins == 3)
            .has_entropy("l_returnflag", lambda v: v > 0)
            .kll_sketch_satisfies("l_extendedprice",
                                  lambda d: len(d.buckets) > 0))


def execution_groups(analyzers) -> Dict[str, list]:
    """The runner's execution groups, named by layer: the fused scan, the
    KLL pass, the grouping buckets, and Histogram and MutualInformation,
    which the traced run times alone."""
    from deequ_spark import (Histogram, KLLSketch, MutualInformation,
                             ScanShareableAnalyzer)
    from deequ_spark.analyzers.grouping import FrequencyBasedAnalyzer
    groups: Dict[str, list] = {"analyzers.scan": [], "analyzers.kll": [],
                               "analyzers.grouping": [],
                               "analyzers.histogram": []}
    for a in dict.fromkeys(analyzers):
        if isinstance(a, ScanShareableAnalyzer):
            groups["analyzers.scan"].append(a)
        elif isinstance(a, KLLSketch):
            groups["analyzers.kll"].append(a)
        elif isinstance(a, (Histogram, MutualInformation)):
            groups["analyzers.histogram"].append(a)
        elif isinstance(a, FrequencyBasedAnalyzer):
            groups["analyzers.grouping"].append(a)
        else:
            raise ValueError(f"no execution group for {a}")
    return groups


def traced_analysis(tracer, df, analyzers, states=None):
    """``do_analysis_run`` once per execution group, each in its span."""
    from deequ_spark import AnalyzerContext, do_analysis_run
    ctx = AnalyzerContext()
    for layer, group in execution_groups(analyzers).items():
        if group:
            with tracer.span(layer):
                ctx += do_analysis_run(df, group, save_states_with=states)
    return ctx


def _status_problems(result) -> List[str]:
    from deequ_spark import CheckStatus
    if result.status == CheckStatus.SUCCESS:
        return []
    failed = [f"{cr.constraint}: {cr.message}"
              for r in result.check_results.values()
              for cr in r.constraint_results if cr.message]
    return [f"status {result.status.value}: " + "; ".join(failed)[:600]]


class Workload:
    """One workload. ``op`` runs one operation and returns (input rows,
    output); ``traced_op`` does the same work as separate layer calls
    under spans. A round is ``ops_per_round`` operations; the run always
    ends on a round boundary so every run covers the same operations.
    The first ``warmup_ops`` operations warm up and are not measured."""

    ops_per_round = 1
    warmup_ops = 1

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work

    def prepare(self, root: str) -> None:
        raise NotImplementedError

    def load(self, root: str) -> None:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def traced_op(self, tracer, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> List[str]:
        """Problems with one operation's output."""
        return []

    def release(self, out) -> None:
        """Free what the operation's output holds, outside the timed
        region."""

    def finish(self) -> List[str]:
        """Problems found by the run-level oracle."""
        return []


class VerifyNightly(Workload):
    name = "verify_nightly"
    # operations keep getting faster over the first few (JIT compilation)
    warmup_ops = 3

    def prepare(self, root):
        table = data.lineitem(self.seed, NIGHTLY_ORDER_STRIDE)
        data.write_files(table, os.path.join(root, "lineitem"), 8, self.seed)

    def load(self, root):
        path = os.path.join(root, "lineitem")
        self.df = self.spark.read.parquet(path)
        self.oracle = DuckOracle(os.path.join(path, "*.parquet"))
        self.rows = self.oracle.n
        self.suite_check = nightly_check()
        self.expected = None

    def op(self, i):
        from deequ_spark import VerificationSuite
        return self.rows, (VerificationSuite().on_data(self.df)
                           .add_check(self.suite_check).run())

    def traced_op(self, tracer, i):
        from deequ_spark import VerificationResult
        check = self.suite_check
        with tracer.span("verification"):
            with tracer.span("analysis_runner"):
                ctx = traced_analysis(tracer, self.df,
                                      check.required_analyzers())
            with tracer.span("checks"):
                result = check.evaluate(ctx.metric_map)
        return self.rows, VerificationResult(result.status, {check: result},
                                             ctx)

    def check(self, i, out):
        if self.expected is None:
            self.expected = {a: self.oracle.expected(a)
                             for a in self.suite_check.required_analyzers()}
        return (_status_problems(out)
                + self.oracle.mismatches(out.metrics.metric_map,
                                         self.expected))


class IncrementalAppend(Workload):
    """Operation i is day ``i % DAYS`` of chain ``i // DAYS``. Each day
    merges its delta's states with the previous day's state directory,
    saves the merged states to a directory of its own, appends to a
    metrics repository and checks Size for anomalies."""
    name = "incremental_append"
    ops_per_round = DAYS
    # two whole chains: merging days of the chain after a single warm-up
    # chain still ran slower than those of later chains
    warmup_ops = 2 * DAYS

    def prepare(self, root):
        table = data.lineitem(self.seed, INCREMENTAL_ORDER_STRIDE)
        for d, delta in enumerate(data.split_days(table, DAYS, self.seed)):
            data.write_files(delta, os.path.join(root, f"day_{d:02d}"), 2,
                             self.seed + d)

    def load(self, root):
        dirs = [os.path.join(root, f"day_{d:02d}") for d in range(DAYS)]
        self.days = [self.spark.read.parquet(p) for p in dirs]
        self.day_rows = [DuckOracle(os.path.join(p, "*.parquet")).n
                         for p in dirs]
        self.whole_glob = os.path.join(root, "day_*", "*.parquet")
        self.suite_check = incremental_check()
        self.final = None

    def _chain_dir(self, i):
        return os.path.join(self.work, f"chain_{i // DAYS}")

    def _day(self, i):
        """(day, repository, previous state provider, new provider)."""
        from deequ_spark import (FileSystemMetricsRepository,
                                 FileSystemStateProvider)
        d, chain = i % DAYS, self._chain_dir(i)
        repo = FileSystemMetricsRepository(os.path.join(chain, "metrics.json"))
        prev = (FileSystemStateProvider(os.path.join(chain, f"s{d - 1:02d}"))
                if d else None)
        new = FileSystemStateProvider(os.path.join(chain, f"s{d:02d}"))
        return d, repo, prev, new

    @staticmethod
    def _strategy():
        from deequ_spark import RelativeRateOfChangeStrategy
        # the merged Size grows by (d+1)/d from day d-1 to day d
        return RelativeRateOfChangeStrategy(max_rate_decrease=1.0,
                                            max_rate_increase=2.5)

    @staticmethod
    def _key(d):
        from deequ_spark import ResultKey
        return ResultKey(d, {"day": f"{d:02d}"})

    def op(self, i):
        from deequ_spark import Size, VerificationSuite
        d, repo, prev, new = self._day(i)
        run = (VerificationSuite().on_data(self.days[d])
               .add_check(self.suite_check)
               .save_states_with(new)
               .use_repository(repo)
               .save_or_append_result(self._key(d))
               .add_anomaly_check(self._strategy(), Size()))
        if prev is not None:
            run = run.aggregate_with(prev)
        return self.day_rows[d], run.run()

    def traced_op(self, tracer, i):
        from deequ_spark import (CheckStatus, InMemoryStateProvider, Size,
                                 VerificationResult, run_on_aggregated_states)
        from deequ_spark.anomaly import AnomalyCheck
        d, repo, prev, new = self._day(i)
        new.persist = tracer.wrap("states.persist", new.persist)
        repo.load = tracer.wrap("repository.load", repo.load)
        strategy = self._strategy()
        strategy.detect = tracer.wrap("anomaly.detect", strategy.detect)
        loaders = []
        if prev is not None:
            prev.load = tracer.wrap("states.load", prev.load)
            loaders.append(prev)
        df = self.days[d]
        anomaly = AnomalyCheck(strategy, Size()).to_check(repo)
        required = self.suite_check.required_analyzers() + [Size()]
        with tracer.span("verification"):
            with tracer.span("analysis_runner"):
                delta = InMemoryStateProvider()
                traced_analysis(tracer, df, required, delta)
                with tracer.span("analysis_runner.merge"):
                    ctx = run_on_aggregated_states(
                        df, required, loaders + [delta], save_states_with=new)
            with tracer.span("checks"):
                results = {c: c.evaluate(ctx.metric_map)
                           for c in (self.suite_check, anomaly)}
            with tracer.span("repository.save"):
                repo.save(self._key(d), ctx)
        status = max((r.status for r in results.values()),
                     key=[CheckStatus.SUCCESS, CheckStatus.WARNING,
                          CheckStatus.ERROR].index)
        return self.day_rows[d], VerificationResult(status, results, ctx)

    def layer_sizes(self, i):
        """(state directory MB, repository file MB) after operation i."""
        chain = self._chain_dir(i)
        state = os.path.join(chain, f"s{i % DAYS:02d}")
        size = sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, files in os.walk(state) for f in files)
        return size / 1e6, os.path.getsize(
            os.path.join(chain, "metrics.json")) / 1e6

    def check(self, i, out):
        from deequ_spark import Size
        d = i % DAYS
        problems = _status_problems(out)
        size = out.metrics.metric_map[Size()].value
        if size != sum(self.day_rows[:d + 1]):
            problems.append(f"day {d}: merged Size {size}")
        if d == DAYS - 1:
            self.final = out.metrics.metric_map
        return problems

    def start_round(self, i):
        """Drop the chain before the one starting at operation i."""
        if i >= DAYS:
            shutil.rmtree(self._chain_dir(i - DAYS), ignore_errors=True)

    def finish(self):
        """The paper's incremental invariant: the last day's merged
        metrics equal a one-shot run over the whole table, and both agree
        with the DuckDB oracle."""
        from deequ_spark import do_analysis_run
        if self.final is None:
            return ["no chain completed"]
        analyzers = list(self.final)
        whole = self.spark.read.parquet(self.whole_glob)
        oneshot = do_analysis_run(whole, analyzers).metric_map
        oracle = DuckOracle(self.whole_glob)
        expected = {a: oracle.expected(a) for a in analyzers}
        problems = [f"merged {p}" for p in
                    oracle.mismatches(self.final, expected)]
        problems += [f"one-shot {p}" for p in
                     oracle.mismatches(oneshot, expected)]
        for a in analyzers:
            merged, single = self.final[a].value, oneshot[a].value
            if type(a).__name__ in ("ApproxQuantile", "KLLSketch"):
                continue
            if isinstance(merged, float) and isinstance(single, float):
                if not math.isclose(merged, single, rel_tol=REL):
                    problems.append(f"{a}: merged {merged!r} != "
                                    f"one-shot {single!r}")
            elif repr(merged) != repr(single):
                problems.append(f"{a}: merged {self.final[a].value!r} != "
                                f"one-shot {oneshot[a].value!r}")
        return problems


# prepare_training_corpus arguments of the repo's b27 pipeline-chain bench
CHAIN_ARGS = dict(min_words=20, boilerplate_min_docs=2,
                  near_dup_threshold=0.5, unicode_normalize=True,
                  embedding_cols=("vec_id", "embedding"),
                  semantic_threshold=0.97, semantic_clusters=8,
                  pack_budget=PACK_BUDGET, collect_stats=False,
                  gopher_kwargs={"min_stopword_hits": 1})
# the pipeline module's imported stage functions, by the module they
# come from; the traced run wraps each in a span of that module's name
CHAIN_STAGES = ("llm.text", "llm.dedup", "llm.semdedup", "llm.packing")


class CorpusChain(Workload):
    name = "corpus_chain"
    # the second operation still ran 10% faster than the first, the third
    # another 20% faster
    warmup_ops = 2

    def prepare(self, root):
        docs, emb = data.corpus(self.seed)
        data.write_files(docs, os.path.join(root, "documents"), 4, self.seed)
        data.write_files(emb, os.path.join(root, "embeddings"), 2, self.seed)

    def load(self, root):
        import pyarrow.parquet as pq
        docs = pq.read_table(os.path.join(root, "documents"))
        self.texts = dict(zip(docs["doc_id"].to_pylist(),
                              docs["text"].to_pylist()))
        self.rows = len(self.texts)
        self.docs = self.spark.read.parquet(os.path.join(root, "documents"))
        self.emb = self.spark.read.parquet(os.path.join(root, "embeddings"))
        self.checksum = None

    def _run(self):
        from deequ_spark.llm import prepare_training_corpus
        out, _ = prepare_training_corpus(self.docs, "doc_id", "text",
                                         embeddings=self.emb, **CHAIN_ARGS)
        out.count()
        return self.rows, out

    def op(self, i):
        return self._run()

    def traced_op(self, tracer, i):
        import deequ_spark.llm.pipeline as pipeline
        patched = {}
        for name, fn in vars(pipeline).items():
            module = getattr(fn, "__module__", "") or ""
            layer = module.replace("deequ_spark.", "")
            if callable(fn) and layer in CHAIN_STAGES:
                patched[name] = fn
        try:
            for name, fn in patched.items():
                setattr(pipeline, name, tracer.wrap(
                    fn.__module__.replace("deequ_spark.", ""), fn))
            with tracer.span("llm.pipeline"):
                return self._run()
        finally:
            for name, fn in patched.items():
                setattr(pipeline, name, fn)

    def check(self, i, out):
        rows = sorted(tuple(r) for r in out.select(
            "group", "pack_id", "id", "tokens", "start_off", "slice_tokens",
            "n_slices").collect())
        problems = []
        ids = {r[2] for r in rows}
        if not ids or not ids <= self.texts.keys():
            problems.append("output ids are not a non-empty subset of "
                            "the input ids")
        seen: Dict[str, int] = {}
        for doc in ids & self.texts.keys():
            fp = hashlib.sha1(" ".join(
                self.texts[doc].lower().split()).encode()).hexdigest()
            if fp in seen:
                problems.append(f"docs {seen[fp]} and {doc} share a "
                                f"fingerprint")
                break
            seen[fp] = doc
        packs: Dict[tuple, int] = {}
        for r in rows:
            packs[(r[0], r[1])] = packs.get((r[0], r[1]), 0) + r[5]
        if max(packs.values(), default=0) > PACK_BUDGET:
            problems.append("a pack exceeds the token budget")
        digest = hashlib.sha256(repr(rows).encode()).hexdigest()
        if self.checksum is None:
            self.checksum = digest
        elif digest != self.checksum:
            problems.append("output differs from the first operation's")
        return problems

    def release(self, out):
        from deequ_spark.storage import release_checkpoint
        release_checkpoint(out)


WORKLOADS = {w.name: w for w in (VerifyNightly, IncrementalAppend,
                                 CorpusChain)}
