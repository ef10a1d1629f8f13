"""Truly-lazy local checkpointing for per-batch state swaps.

``Dataset.localCheckpoint(eager=False)`` is not lazy under AQE: it
resolves the FINAL physical plan at call time, and adaptive planning
resolves a final plan by actually EXECUTING every intermediate query
stage (shuffles, subplan jobs). For a state DataFrame containing
joins this is a hidden eager action — the semi-stream pipelines'
"one combined job per batch" silently became several, with the
state compute running serially at the checkpoint call and the
combined action merely re-scanning it (observed as
'localCheckpoint'-callsite stages with multi-CPU-second cost at the
start of every batch).

``lazy_local_checkpoint`` plans the checkpoint with AQE disabled, so
the call just builds an RDD and the state materializes inside the
batch's single combined action, sharing the cluster with the output
verify as designed (X8 lineage truncation, one action per batch).
The state subplans lose nothing from static planning: every join in
them carries an explicit broadcast hint, and their output
partitioning is pinned by coalesce.

``adaptive_local_checkpoint`` plans the checkpoint with AQE ON. That
is safe — no job is added — when the plan's only query stages are
broadcasts: the static planner already runs a broadcast hash join's
build side at checkpoint time (building the RDD waits for the
broadcast), so AQE executes exactly the job static planning would.
What it adds is runtime re-optimization on the materialized build
side: an EMPTY broadcast under an inner or semi join propagates to an
empty relation, the probe side is never planned, and the leaf is an
RDD with no partitions. DS-Join's store fetch,
``store ⋉ broadcast(missed_keys)``, is that shape: an all-hit batch
then never reads the store, while a batch with misses gets the same
broadcast LeftSemi as the static plan. A plan with a shuffle must not
use it — the shuffle would run at the checkpoint call, outside the
batch's combined action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# release accounting (VERDICT r16 item 4): release_checkpoint's JVM
# unpersist is deliberately best-effort — but if the _ckpt_jrdd handle
# silently broke (a py4j/Spark upgrade changing the LogicalRDD shape),
# every release would no-op and state would revert to leak-by-GC, the
# exact failure mode this module exists to kill. The counters make
# that visible: the soak (tools/soak_q48.py) asserts succeeded ==
# attempted on top of its persisted-RDD boundedness check.
RELEASE_STATS = {"attempted": 0, "succeeded": 0}


def _local_checkpoint(
    df: DataFrame, cols: list[str] | None, adaptive: bool
) -> DataFrame:
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true" if adaptive else "false")
    try:
        out = df.localCheckpoint(eager=False)
    finally:
        spark.conf.set(key, prev)
    jrdd = None
    try:
        plan = out._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            jrdd = plan.rdd()
    except Exception:
        jrdd = None
    if cols is not None:
        out = out.toDF(*cols)
    out._ckpt_jrdd = jrdd
    return out


def lazy_local_checkpoint(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """NOT safe under concurrent planning on the same session (the
    conf toggle is session-scoped); the semi-stream pipelines run
    batches sequentially on the driver, which is the intended use.
    Only checkpoint plans whose joins carry explicit broadcast hints
    — static planning picks sort-merge for unhinted joins with
    unknown stats.

    ``cols``: optional output column names (the ``toDF`` rename the
    pipelines apply so a leaf gets fresh expression ids), applied HERE
    so the returned frame still carries the ``_ckpt_jrdd`` handle —
    the underlying checkpointed JVM RDD, which ``release_checkpoint``
    needs because ``DataFrame.unpersist()`` cannot release checkpoint
    blocks (they are RDD-level persisted, not CacheManager entries;
    ADVICE r15)."""
    return _local_checkpoint(df, cols, adaptive=False)


def adaptive_local_checkpoint(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """``lazy_local_checkpoint`` planned with AQE on (see the module
    docstring): only for plans whose query stages are all broadcasts,
    so the call runs no job the static plan would not, and an empty
    broadcast build side prunes the join to an empty leaf. Same
    ``cols`` rename, ``_ckpt_jrdd`` handle and concurrency caveat."""
    return _local_checkpoint(df, cols, adaptive=True)


def release_checkpoint(df: DataFrame) -> None:
    """Actually free the executor blocks behind a pipeline state pin.

    ``DataFrame.unpersist()`` only clears CacheManager entries; a
    localCheckpoint's blocks are persisted on the underlying RDD, so
    for checkpoint leaves it is a no-op and block release otherwise
    happens nondeterministically via Python GC → py4j detach →
    ContextCleaner (ADVICE r15 — with 2+ pinned leaves per batch,
    executor storage on long streams floats with GC lag). This
    unpersists the held checkpoint RDD (``_ckpt_jrdd``, captured by
    ``lazy_local_checkpoint``) when present, and falls back to the
    CacheManager unpersist for plain ``.cache()`` pins.

    Only call on a pin no consumer will read again: a localCheckpoint
    has no lineage to recompute from, so a read-after-release fails
    loudly with a missing-block error. Spark logs one WARN per release
    ("was locally checkpointed ... cannot be recomputed after
    unpersisting") — that is the JVM restating this contract, not a
    fault; the pipelines release only leaves whose consumers all ran
    inside the batch's completed combined action."""
    jrdd = getattr(df, "_ckpt_jrdd", None)
    if jrdd is not None:
        RELEASE_STATS["attempted"] += 1
        try:
            jrdd.unpersist(False)
            RELEASE_STATS["succeeded"] += 1
        except Exception:
            # best-effort by contract (a release can lose a race with
            # session teardown) — but counted, so a SYSTEMATICALLY
            # broken handle fails the soak's release assertion instead
            # of silently reverting to leak-by-GC
            pass
        df._ckpt_jrdd = None
    else:
        df.unpersist()
