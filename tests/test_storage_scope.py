"""storage.scope(): one owner for executor storage.

Every cached or checkpointed frame in ``deequ_spark`` is created through
a scope, which frees what it owns on exit. These tests pin the guard on
raw materialization calls, the scope's own contract, and that the
operators which materialize intermediates leave executor storage at its
baseline once the caller releases the returned frame.
"""

import ast
import pathlib

import pytest

import deequ_spark
from deequ_spark import storage
from deequ_spark.storage import release_checkpoint

PACKAGE = pathlib.Path(deequ_spark.__file__).parent
RAW_CALLS = {"localCheckpoint", "cache", "unpersist", "release_checkpoint"}


def _scope_names(tree):
    """Names bound by ``with ...scope() as name``."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.With, ast.AsyncWith)):
            for item in node.items:
                call = item.context_expr
                if isinstance(call, ast.Call) and isinstance(
                        item.optional_vars, ast.Name):
                    f = call.func
                    name = f.attr if isinstance(f, ast.Attribute) else \
                        getattr(f, "id", None)
                    if name == "scope":
                        names.add(item.optional_vars.id)
    return names


def raw_materialization_calls():
    """Calls outside storage.py that cache, checkpoint or release a
    frame themselves. ``persist`` counts with at most one argument and a
    receiver that is not a scope: a state provider's ``persist(analyzer,
    state)`` takes two."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "storage.py":
            continue
        tree = ast.parse(path.read_text())
        scopes = _scope_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute):
                name, receiver = f.attr, f.value
            elif isinstance(f, ast.Name):
                name, receiver = f.id, None
            else:
                continue
            on_scope = (isinstance(receiver, ast.Name)
                        and receiver.id in scopes)
            if name in RAW_CALLS or (
                    name == "persist" and not on_scope
                    and len(node.args) + len(node.keywords) <= 1):
                found.append(f"{path.relative_to(PACKAGE)}:{node.lineno} "
                             f"{name}")
    return found


def test_no_raw_materialization_outside_storage():
    calls = raw_materialization_calls()
    assert calls == [], "route these through storage.scope():\n" + \
        "\n".join(calls)


def _storage_ids(spark):
    return {i.id() for i in
            spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_scope_frees_owned_frames_when_block_raises(spark):
    before = _storage_ids(spark)
    with pytest.raises(RuntimeError):
        with storage.scope() as s:
            cached = s.persist(spark.range(0, 2_000))
            cached.count()
            s.checkpoint(spark.range(0, 3_000).selectExpr("id * 2 AS v"),
                         eager=True)
            assert len(_storage_ids(spark) - before) == 2
            raise RuntimeError("boom")
    assert not cached.storageLevel.useMemory
    assert not _storage_ids(spark) - before


def test_scope_keep_hands_frame_to_enclosing_scope(spark):
    before = _storage_ids(spark)
    with storage.scope() as outer:
        assert not outer.nested
        with storage.scope() as inner:
            assert inner.nested
            kept = inner.keep(inner.checkpoint(spark.range(0, 1_000)))
            inner.checkpoint(spark.range(0, 500))
        # the inner scope freed its own checkpoint, not the kept one
        assert len(_storage_ids(spark) - before) == 1
        assert kept.count() == 1_000
    assert not _storage_ids(spark) - before


def test_scope_keep_without_enclosing_scope_goes_to_caller(spark):
    before = _storage_ids(spark)
    with storage.scope() as s:
        kept = s.keep(s.checkpoint(spark.range(0, 1_000)))
    assert len(_storage_ids(spark) - before) == 1
    release_checkpoint(kept)
    assert not _storage_ids(spark) - before


def test_scope_does_not_own_an_already_cached_frame(spark):
    df = spark.range(0, 1_000).persist()
    df.count()
    try:
        with storage.scope() as s:
            assert s.persist(df) is df
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()


def test_pool_tasks_see_the_callers_scope(spark):
    """The runner's execution groups run on a thread pool; a task run in
    a copy of the caller's context nests its scopes in the caller's."""
    import contextvars
    from concurrent.futures import ThreadPoolExecutor

    def nested():
        with storage.scope() as s:
            return s.nested

    with storage.scope():
        with ThreadPoolExecutor(max_workers=1) as pool:
            assert pool.submit(nested).result() is False
            assert pool.submit(contextvars.copy_context().run,
                               nested).result() is True


def _run_pipeline(spark):
    from deequ_spark.llm import prepare_training_corpus
    docs = spark.createDataFrame(
        [(i, f"unique words row {i} alpha beta gamma delta\n" * 3
          + "shared footer line for every page here")
         for i in range(40)]
        + [(100, "dup " * 30), (101, "dup " * 30)],
        "doc_id long, text string")
    out, _ = prepare_training_corpus(
        docs, "doc_id", "text", quality_filter=False,
        boilerplate_min_docs=5, chunk=False, collect_stats=False)
    return out


def _run_pagerank(spark):
    from deequ_spark.llm.graph import pagerank
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src_host string, dst_host string")
    return pagerank(edges, iterations=3)


def _run_components(spark):
    from deequ_spark.llm.dedup import near_duplicate_components
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (3, 4)],
        "id_a long, id_b long")
    return near_duplicate_components(pairs, local_max_edges=0)


def _run_compaction(spark, tmp_path):
    from deequ_spark.llm.incremental import (compact_dedup_index,
                                             write_dedup_index)
    path = str(tmp_path / "index")
    for mode, lo in (("overwrite", 0), ("append", 20)):
        batch = spark.createDataFrame(
            [(lo + i, f"document {i % 7} words alpha beta gamma")
             for i in range(20)], "doc_id long, text string")
        write_dedup_index(batch, "doc_id", "text", path, n_buckets=2,
                          mode=mode)
    compact_dedup_index(spark, path)
    return spark.read.parquet(f"{path}/fps")


def _run_aggregate_with(spark):
    from deequ_spark import (Entropy, Histogram, InMemoryStateProvider,
                             Uniqueness, do_analysis_run)
    rows = [(i, f"g{i % 5}" if i % 6 else None) for i in range(60)]
    df = spark.createDataFrame(rows, "id int, g string")
    analyzers = [Histogram("g"), Entropy("g"), Uniqueness(["g"])]
    prior, merged = InMemoryStateProvider(), InMemoryStateProvider()
    do_analysis_run(df.where("id < 30"), analyzers, save_states_with=prior)
    ctx = do_analysis_run(df.where("id >= 30"), analyzers,
                          aggregate_with=prior, save_states_with=merged)
    assert all(m.is_success for m in ctx.metric_map.values())
    return merged.load(analyzers[0]).frequencies


@pytest.mark.parametrize("operator", [
    "prepare_training_corpus", "pagerank", "near_duplicate_components",
    "compact_dedup_index", "aggregate_with"])
def test_operator_storage_returns_to_baseline(spark, tmp_path, operator):
    """Once the returned frame is released, executor storage is back at
    its baseline — read without a GC, so nothing is left to the
    ContextCleaner."""
    run = {"prepare_training_corpus": _run_pipeline,
           "pagerank": _run_pagerank,
           "near_duplicate_components": _run_components,
           "compact_dedup_index": lambda sp: _run_compaction(sp, tmp_path),
           "aggregate_with": _run_aggregate_with}[operator]
    before = _storage_ids(spark)
    out = run(spark)
    assert out.count() > 0
    release_checkpoint(out)
    assert not _storage_ids(spark) - before


def test_streaming_merges_a_shared_group_state_once(spark):
    """Grouping analyzers of one frequency group save ONE state object.
    The cumulative merge checkpoints it once and releases its previous
    checkpoint only after every analyzer moved on: metrics equal the
    one-shot run, and storage holds one checkpoint per distinct state
    (the group's and the Histogram's)."""
    from deequ_spark import (Distinctness, Entropy, Histogram, Uniqueness,
                             do_analysis_run)
    from deequ_spark.streaming import StreamingVerification
    analyzers = [Entropy("g"), Uniqueness(["g"]), Distinctness(["g"]),
                 Histogram("g")]
    batches = [spark.createDataFrame(
        [(i, f"g{(i * b) % 5}" if i % 6 else None) for i in range(40)],
        "id int, g string") for b in (1, 2, 3)]
    before = _storage_ids(spark)
    sv = StreamingVerification(analyzers=analyzers)
    for i, batch in enumerate(batches):
        sv.foreach_batch(batch, i)
    last = sv.results[-1].context.metric_map
    expected = do_analysis_run(
        batches[0].union(batches[1]).union(batches[2]), analyzers)
    for a in analyzers[:3]:
        assert last[a].is_success
        assert last[a].value == pytest.approx(expected.metric_map[a].value)
    assert last[analyzers[3]].value.values == \
        expected.metric_map[analyzers[3]].value.values
    states = {id(sv.cumulative_states().load(a)): a for a in analyzers}
    assert len(states) == 2
    assert len(_storage_ids(spark) - before) == 2
    for a in states.values():
        release_checkpoint(sv.cumulative_states().load(a).frequencies)
    assert not _storage_ids(spark) - before
