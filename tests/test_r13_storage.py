"""r13: checkpoint-release hygiene (r12 verdict item 9).

``DataFrame.unpersist()`` cannot free localCheckpoint blocks (they are
RDD storage owned by the checkpointed LogicalRDD, not CacheManager
entries); ``deequ_spark.storage.release_checkpoint`` reaches the
underlying RDD and frees them immediately. These tests pin both facts
against ``SparkContext.getRDDStorageInfo`` and check the pipeline's
superseded cuts actually leave executor storage.
"""

import pytest
from pyspark.sql import functions as F

from deequ_spark.storage import release_checkpoint


def _storage_ids(spark):
    return {i.id() for i in
            spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_release_checkpoint_frees_blocks(spark):
    before = _storage_ids(spark)
    ck = (spark.range(0, 50_000).selectExpr("id", "id * 2 AS v")
          .localCheckpoint(eager=True))
    held = _storage_ids(spark) - before
    assert held, "eager localCheckpoint must create storage blocks"
    # the documented no-op: unpersist() touches CacheManager entries
    # only, never checkpoint RDD blocks
    ck.unpersist()
    assert (_storage_ids(spark) - before) == held
    release_checkpoint(ck)
    assert not (_storage_ids(spark) - before), \
        "release_checkpoint must free the checkpoint's RDD blocks"


def test_release_checkpoint_falls_back_to_unpersist_for_cached(spark):
    df = spark.range(0, 1_000).persist()
    df.count()
    assert df.storageLevel.useMemory
    release_checkpoint(df)
    assert not df.storageLevel.useMemory


def test_release_checkpoint_harmless_on_plain_frame(spark):
    df = spark.range(0, 10)
    release_checkpoint(df)          # no storage anywhere — must not raise
    assert df.count() == 10


def test_pipeline_superseded_cuts_are_released(spark):
    """A 3-cut chain (exact-dedup input, near-dedup input, final) must
    leave only the FINAL cut in storage — the superseded cuts are freed
    as each new cut materializes, and the chain's storage scope frees
    the minhash verified-pairs checkpoint on exit."""
    from deequ_spark.llm import prepare_training_corpus

    docs = spark.createDataFrame(
        [(i, f"unique words row {i} alpha beta gamma delta " * 3)
         for i in range(40)] + [(100, "dup " * 30), (101, "dup " * 30)],
        "doc_id long, text string")
    before = _storage_ids(spark)
    out, _ = prepare_training_corpus(
        docs, "doc_id", "text", quality_filter=False, boilerplate=False,
        exact_dedup=True, near_dedup=True, chunk=False,
        collect_stats=False)
    n = out.count()
    assert n > 0
    leftover = _storage_ids(spark) - before
    # the final cut only — anything beyond it means a superseded cut or
    # a stage's internal checkpoint leaked
    assert len(leftover) <= 1, \
        f"expected <=1 retained block (final cut), got {len(leftover)}"
    release_checkpoint(out)


def test_distributed_cc_releases_superseded_labels(spark):
    """The distributed min-label loop frees each round's superseded
    label checkpoint and the symmetrized edge checkpoint: at most the
    final labels table stays in storage."""
    from deequ_spark.llm.dedup import near_duplicate_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (3, 4)],
        "id_a long, id_b long")
    before = _storage_ids(spark)
    comp = near_duplicate_components(pairs, local_max_edges=0)
    rows = comp.collect()
    assert rows
    leftover = _storage_ids(spark) - before
    assert len(leftover) <= 1, \
        f"expected <=1 retained block (final labels), got {len(leftover)}"
    release_checkpoint(comp)
