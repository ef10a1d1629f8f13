"""Deferred-compaction state layer (r15) — equivalence + block release,
also when a batch fails.

ADVICE r15: no test pinned output equivalence through the deferred
fold over MULTIPLE pending deltas with overlapping keys (duplicate
last_seen rows in the flat LRU view, latest-wins fold, eviction
over-stay), and the checkpoint-leaf release path was a silent no-op
(DataFrame.unpersist does not touch RDD-level checkpoint blocks).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.semi_stream_join import (
    SemiStreamJoin,
)
from distributed_stream_processing_spark.streaming.cache_controller import (
    AdaptiveCacheController,
)
from distributed_stream_processing_spark.streaming.checkpoint import RELEASE_STATS


def _fixed_controller(w: int) -> AdaptiveCacheController:
    return AdaptiveCacheController(window=w, min_window=w, max_window=w)


def test_deferred_fold_multi_delta_equivalence(spark):
    """8 batches with overlapping key sets through (A) the per-batch
    exact fold (compact_every=1, the r14 semantics) and (B) the
    deferred fold at cadence min(100, window=4): every batch's output
    must equal the plain join, the flat LRU view must really carry
    duplicate last_seen rows between compactions, and the
    post-compaction cache/LRU must match A's exactly (latest-wins +
    eviction equivalence)."""
    store = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    # each batch overlaps the previous by half its key range, so keys
    # recur across pending deltas (multi-row flat-LRU regime)
    batches = [
        spark.range(i * 300, i * 300 + 600).withColumnRenamed("id", "k")
        for i in range(8)
    ]
    a = SemiStreamJoin(store=store, key="k", compact_every=1,
                       controller=_fixed_controller(4))
    b = SemiStreamJoin(store=store, key="k", compact_every=100,
                       controller=_fixed_controller(4))
    saw_multi_delta = False
    saw_dup_lru_rows = False
    for i, batch in enumerate(batches):
        plain = sorted(batch.join(store, "k").collect())
        out_a = sorted(a.process_batch(batch, i).collect())
        out_b = sorted(b.process_batch(batch, i).collect())
        assert out_a == plain, f"batch {i}: exact-fold output diverged"
        assert out_b == plain, f"batch {i}: deferred output diverged"
        if len(b._pend) >= 2:
            saw_multi_delta = True
            lru_rows = b.lru.count()
            lru_keys = b.lru.select("k").distinct().count()
            if lru_rows > lru_keys:
                saw_dup_lru_rows = True
    assert saw_multi_delta, "deferred pipeline never held 2+ pending deltas"
    assert saw_dup_lru_rows, (
        "overlapping batches never produced duplicate last_seen rows — "
        "the flat-view regime under test did not occur"
    )
    # batch 7 is a compaction batch for B (cadence 4: compactions at
    # batches 3 and 7) and A folds per batch — post-compaction state
    # must agree exactly: same latest-wins last_seen, same eviction
    assert not b._pend, "batch 7 was expected to compact (cadence 4)"
    lru_a = sorted((r.k, r.last_seen) for r in a.lru.collect())
    lru_b = sorted((r.k, r.last_seen) for r in b.lru.collect())
    assert lru_a == lru_b, "post-compaction LRU diverged from per-batch fold"
    cache_a = sorted(tuple(r) for r in a.cache.collect())
    cache_b = sorted(tuple(r) for r in b.cache.collect())
    assert cache_a == cache_b, "post-compaction cache diverged"
    a.close()
    b.close()


def _persisted_rdd_ids(spark) -> set[int]:
    info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {x.id() for x in info}


@pytest.mark.parametrize("kind", ["dsjoin", "dsim"])
def test_close_releases_checkpoint_blocks(spark, semi_stream_cases, kind):
    """close() (and compaction) must actually free the state pins'
    executor blocks: checkpoint leaves are RDD-level persisted, so a
    CacheManager unpersist is a no-op on them (ADVICE r15) and storage
    on long streams floated with GC lag. Batch OUTPUTS stay pinned by
    design (the caller owns them). Every release of a checkpoint leaf
    over the run must also succeed: a broken release handle would
    count attempts without successes and leave state to GC.

    Tracked by RDD-id SETS, not counts: a PRIOR test's async
    unpersists (blocking=False) drain concurrently with this test, and
    a falling total count reads as "no pins held" even while this
    pipeline's own pins sit resident (flaked exactly so in-suite)."""
    case = semi_stream_cases[kind]
    ids0 = _persisted_rdd_ids(spark)
    stats0 = dict(RELEASE_STATS)
    j = case.make(compact_every=3, controller=_fixed_controller(3))
    outs = [j.process_batch(case.batch(i), i) for i in range(6)]
    new_open = _persisted_rdd_ids(spark) - ids0
    assert new_open, "state pins should hold persisted RDDs while open"
    j.close()
    # block removal is async (unpersist(blocking=False)); poll briefly
    budget = 6 + len(outs)  # outputs stay + small slack for the store
    for _ in range(40):
        if len(_persisted_rdd_ids(spark) - ids0) <= budget:
            break
        time.sleep(0.25)
    n_closed = len(_persisted_rdd_ids(spark) - ids0)
    assert n_closed <= budget, (
        f"{n_closed} of this pipeline's persisted RDDs remain after "
        f"close() (budget {budget}: outputs + slack) — state pins leaked"
    )
    attempted = RELEASE_STATS["attempted"] - stats0["attempted"]
    succeeded = RELEASE_STATS["succeeded"] - stats0["succeeded"]
    assert succeeded == attempted > 0, (attempted, succeeded)
    # outputs must still be readable after close (pinned blocks)
    n_out = [o.count() for o in outs]
    assert n_out == [len(case.plain(case.batch(i))) for i in range(6)]
    assert sum(n_out) > 0


def test_release_stats_count_attempts_and_successes(spark):
    """release_checkpoint swallows per-call failures by contract, but a
    SYSTEMATICALLY broken _ckpt_jrdd handle must be visible: the
    module counters (asserted over both pipelines' runs by
    test_close_releases_checkpoint_blocks, on top of its boundedness
    check) record attempted vs succeeded releases (VERDICT r16 item
    4)."""
    from distributed_stream_processing_spark.streaming.checkpoint import (
        lazy_local_checkpoint,
        release_checkpoint,
    )

    df = lazy_local_checkpoint(
        spark.range(100).select(F.col("id").alias("k"))
    )
    df.count()
    assert df._ckpt_jrdd is not None, "checkpoint handle not captured"
    before = dict(RELEASE_STATS)
    release_checkpoint(df)
    assert RELEASE_STATS["attempted"] == before["attempted"] + 1
    assert RELEASE_STATS["succeeded"] == before["succeeded"] + 1

    # a broken handle counts the attempt but NOT the success
    class _Broken:
        def unpersist(self, blocking):
            raise RuntimeError("detached py4j handle")

    df2 = spark.range(10).select(F.col("id").alias("k"))
    df2._ckpt_jrdd = _Broken()
    release_checkpoint(df2)
    assert RELEASE_STATS["attempted"] == before["attempted"] + 2
    assert RELEASE_STATS["succeeded"] == before["succeeded"] + 1


class _FailingFetcher:
    """Declines (the pipeline's default fetch runs) until ``fail`` is
    set; then returns the default fetch behind a Python UDF that raises
    when the plan executes."""

    def __init__(self):
        self.pipeline = None
        self.fail = False

    def fetch(self, missed):
        if not self.fail:
            return None

        def boom(key):
            raise RuntimeError("injected fetch failure")

        raising = F.udf(boom, "boolean")
        key = self.pipeline.key_cols[0]
        return self.pipeline._default_fetch(missed).filter(raising(F.col(key)))


@pytest.mark.parametrize("kind", ["dsjoin", "dsim"])
def test_failed_batch_releases_its_pins_and_keeps_the_state(
    spark, semi_stream_cases, kind
):
    """A batch whose fetch fails at execution must release every leaf
    it pinned, leave the state (pending deltas, base pins, cache and
    LRU views) as it was, and re-raise. The next good batch then
    returns the plain join, which also proves the state's pins were
    not released with the failed batch's."""
    case = semi_stream_cases[kind]
    fetcher = _FailingFetcher()
    j = case.make(fetcher=fetcher)
    fetcher.pipeline = j
    try:
        assert sorted(j.process_batch(case.batch(0), 0).collect()) == (
            case.plain(case.batch(0))
        )
        j.flush_attribution()
        state = (list(j._pend), list(j._base_pins), j.cache, j.lru)
        before = _persisted_rdd_ids(spark)
        fetcher.fail = True
        with pytest.raises(Exception, match="injected fetch failure"):
            j.process_batch(case.batch(1), 1)
        # releases are unpersist calls; allow the block manager a moment
        for _ in range(20):
            if not _persisted_rdd_ids(spark) - before:
                break
            time.sleep(0.25)
        leaked = _persisted_rdd_ids(spark) - before
        assert not leaked, f"failed batch left {len(leaked)} RDDs pinned"
        pend, base_pins, cache, lru = state
        assert len(j._pend) == len(pend)
        assert all(a is b for a, b in zip(j._pend, pend))
        assert len(j._base_pins) == len(base_pins)
        assert all(a is b for a, b in zip(j._base_pins, base_pins))
        assert j.cache is cache and j.lru is lru
        fetcher.fail = False
        assert sorted(j.process_batch(case.batch(2), 2).collect()) == (
            case.plain(case.batch(2))
        )
    finally:
        j.close()
