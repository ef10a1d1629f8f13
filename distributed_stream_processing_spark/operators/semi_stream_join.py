"""Semi-stream equi-join with an adaptive distributed cache
(DS-Join parity: SURVEY §3.1).

The reference's per-batch dataflow — cogroup stream x cache, hit
join, miss detect, per-partition remote fetch, LRU upsert, eviction,
cache swap, hand-rolled threads (streaming.scala:211-617) — becomes
ONE DataFrame program per batch:

* hit   = batch ⋈ cache          (inner; broadcast when cache small)
* miss  = batch ⟕̸ cache          (left_anti)
* fetch = store ⋉ missed-keys    (left_semi on a broadcast key set —
          the JDBC/connector analogue is WHERE key IN (...) pushdown)
* out   = hit ∪ (miss ⋈ fetch)
* state: LRU last-seen upsert, eviction of keys older than the
  adaptive window, cache rebuild = (cache ∖ evicted) ∪ fetch

Spark schedules the formerly-threaded stages from one DAG. STATE
(r15): the cache/LRU live as a base localCheckpoint plus flat
append-only per-batch deltas (pinned probe-key/fetch checkpoint
leaves); the O(state) latest-wins fold + eviction + re-checkpoint
runs every min(compact_every, controller-window) batches — the X8
lineage truncation amortized, with the per-batch cost O(batch), the
eviction over-stay bounded by the window, and coalesce bounding
partition width at each compaction.

Checkpoint planning: the state leaves (batch keys, missed keys,
compaction folds) are planned with AQE off (lazy_local_checkpoint) so
they materialize inside the batch's one combined action. The fetch
leaf is planned with AQE on (adaptive_local_checkpoint): its only
query stage is the missed-key broadcast, which runs at checkpoint
time under either planner, and an all-hit batch's empty broadcast
prunes the fetch to an empty leaf with no partitions, so the store is
never read. The output checkpoint is AQE-planned as well (its joins
need runtime broadcast decisions).

Semantic invariant (tested): output == plain stream ⋈ store for every
cache state — the cache is transparent.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_stream_processing_spark.streaming.cache_controller import (
    AdaptiveCacheController,
    BatchTimings,
)
from distributed_stream_processing_spark.streaming.plan_timing import (
    DeferredObservation,
    PlanTimeAttributor,
)
from distributed_stream_processing_spark.operators.skew import bounded_broadcast
from distributed_stream_processing_spark.streaming.checkpoint import (
    adaptive_local_checkpoint,
    lazy_local_checkpoint,
    release_checkpoint,
)


@dataclass
class SemiStreamJoin:
    store: DataFrame  # full stored dimension (stand-in for the remote DB)
    key: str  # join key column name, shared by stream and store
    initial_cache: DataFrame | None = None
    controller: AdaptiveCacheController = field(default_factory=AdaptiveCacheController)
    # frequency-based admission (DSim's filter(freq < 50),
    # DS_SimJoin_stream.scala:838): keys seen in >= this many batches
    # are NOT admitted to the cache (ultra-hot keys would bloat it and
    # are cheap to refetch); None disables
    admit_below_freq: int | None = None
    # full cache/LRU rewrite + checkpoint every K batches (r15): the
    # per-batch O(state) rewrite was the pipeline's fixed floor.
    # Between compactions the state is a flat append-only union of
    # the base checkpoint and pinned per-batch deltas, so each
    # batch's one action materializes only O(batch) rows; the real
    # cadence is min(compact_every, controller window), which bounds
    # the eviction over-stay. Forced to 1 when frequency admission is
    # on — the per-key freq table must stay per-batch exact.
    compact_every: int = 8
    # pluggable keyed remote fetch (SURVEY S7; sources/fetcher.py):
    # any object with fetch(missed_keys) -> DataFrame in the store's
    # schema. None = the default in-session scan-side semi-join; a
    # PushdownKeyedFetcher turns the miss path into the external
    # WHERE key IN (...) shape a 100 TB store needs. The returned plan
    # is checkpointed with AQE on, so it must not shuffle (broadcast
    # joins and filtered scans only).
    fetcher: object | None = None
    cache: DataFrame | None = None
    lru: DataFrame | None = None  # (key, last_seen)
    freq: DataFrame | None = None  # (key, n_batches_seen)

    def __post_init__(self):
        spark = self.store.sparkSession
        if self.admit_below_freq is not None:
            self.compact_every = 1
        self.cache = (
            self.initial_cache
            if self.initial_cache is not None
            else self.store.limit(0)
        ).cache()
        self.lru = (
            self.cache.select(F.col(self.key), F.lit(0).alias("last_seen"))
        ).cache()
        self.freq = self.cache.select(
            F.col(self.key), F.lit(0).alias("n_batches_seen")
        ).limit(0).cache()
        self._spark = spark
        self._attributor = PlanTimeAttributor()
        self._deferred = DeferredObservation()
        # driver-known row bounds for the eviction-set broadcast gates
        # (bounded_broadcast): exact at each compaction (the 'l'
        # branch count), grown by the batch key count between them
        # (upper bound — overcounting only demotes a broadcast to the
        # spillable tiers). An initial cache is counted ONCE at setup
        # — one tiny job, never per batch.
        self._lru_rows: int = (
            0 if self.initial_cache is None else self.initial_cache.count()
        )
        self._freq_rows: int = 0
        # persisted artifacts backing the state: base checkpoints
        # [cache, lru, freq] from the last compaction + each pending
        # batch's (batch_id, key-set, fetch) checkpoint-leaf delta —
        # released together at the next compaction (or close())
        self._base_pins: list[DataFrame] = [self.cache, self.lru, self.freq]
        self._pend: list[tuple] = []

    def process_batch(self, batch: DataFrame, batch_id: int) -> DataFrame:
        """Join one micro-batch against store-through-cache; maintain
        state; return the enriched output (hit ∪ miss-fetched).

        The previous batch's attribution walk (background, diagnostics
        only) is joined just before this batch launches its FIRST job
        (the AQE-planned output localCheckpoint, whose stages execute
        at call time) — the latest point that keeps the walk's
        accumulator reads race-free from this batch's execution while
        still overlapping the previous batch's tail and this batch's
        hit/miss plan construction (ADVICE r10/r11). Callers that read
        ``controller.history`` directly after a bare process_batch
        must call :meth:`flush_attribution`."""
        k = self.key
        cache, lru = self.cache, self.lru

        # join the previous batch's background walk NOW — before this
        # batch's FIRST job. The output localCheckpoint below is
        # planned with AQE on, which executes its shuffle stages as
        # real jobs at call time; those jobs update the shared
        # cached-relation SQL-metric accumulators the walk reads, so
        # flushing any later races the walk against this batch's
        # execution and contaminates the deltas the controller
        # consumes (ADVICE r11). The walk still overlaps the previous
        # batch's tail + this batch's hit/miss plan construction.
        self._deferred.flush()

        t0 = time.monotonic()
        # pinned per-batch key set (lazy checkpoint, materialized by
        # the combined action's 'k' branch): the state views reference
        # it until the next compaction, so it must not recompute
        # through the caller's batch DataFrame. toDF: the checkpoint
        # RDD inherits the batch's expression ids, and joining the
        # batch against any batch_keys-derived plan would otherwise
        # trip the analyzer's conflicting-reference check (dedup
        # declines to rewrite output-level duplicates)
        # (coalesce(8): batch-sized key set, read only by broadcasts
        # and compaction folds — keeps empty batches off the 32-task
        # scheduling floor)
        batch_keys = lazy_local_checkpoint(
            batch.select(k).distinct().coalesce(8), cols=[k]
        )
        # hit/miss split, SCAN-SIDE (r15): one semi-scan of the cache
        # against the broadcast batch keys yields the (batch-bounded)
        # matching cache rows; the batch then joins THOSE.
        # The previous shape joined batch x cache directly and left
        # the strategy to AQE — fine while the cache auto-broadcasts,
        # but a store-scale cache (the q33_100x axis) falls to a
        # sort-merge join that shuffles batch AND cache every batch.
        # This shape scans the cache and shuffles nothing, whatever
        # the cache size — the same fix the similarity fetch got in
        # r14.
        # Only the hit KEY set is explicitly broadcast (ADVICE r15):
        # it is ≤ the batch's distinct keys by construction, whereas
        # cached_hit's ROWS are store-rows-per-batch-key — unbounded
        # by batch row count for multi-row-per-key or wide-payload
        # stores, and an explicit hint is honored even under AQE (no
        # runtime fallback, so a large hit set was a driver-collect
        # OOM). The hit join itself is left to AQE: both sides are
        # batch-key-bounded, so the worst case is a shuffle of the
        # actual hit volume, never of the cache.
        cached_hit = cache.join(F.broadcast(batch_keys), k, "left_semi")
        hit_keys = cached_hit.select(k).distinct()
        hit = batch.join(cached_hit, k, "inner")
        # the missed-key set is pinned as its own CHECKPOINT LEAF: the
        # fetch plan then embeds only a leaf scan, so the miss-detect
        # work (cache semi scan + key distinct + anti) is attributed
        # to the JOIN phase via the checkpoint-input extra instead of
        # riding inside the fetch leaf's RDD and inflating fetch_s —
        # the controller signal a zero-miss batch must read ~0 on
        # (pinned by test_attributor_survives_aqe_pruned_fetch_branch).
        # Its broadcast is also the fetch leaf's only query stage,
        # which is what lets that leaf be planned adaptively below
        missed_in = batch_keys.join(F.broadcast(hit_keys), k, "left_anti")
        missed_keys = lazy_local_checkpoint(missed_in, cols=[k])
        miss = batch.join(F.broadcast(missed_keys), k, "left_semi")
        # the fetch is pinned as a CHECKPOINT LEAF (LogicalRDD), not a
        # cache: a .cache() here relies on the CacheManager
        # substituting the fetch subtree wherever it is embedded, but
        # the analyzer's relation dedup re-instances subtrees that
        # share expression ids across join sides, after which the
        # canonical lookup MISSES and the consumer silently re-executes
        # the full fetch lineage — which contains the previous batches'
        # fetches, so per-batch job counts DOUBLED (measured 20 -> 34
        # -> 63 -> ... -> 1053 over seven batches). A leaf has no
        # lineage to re-execute; every consumer scans its blocks.
        # toDF gives each batch's leaf fresh output ids (all fetch
        # leaves would otherwise inherit the store's).
        # a fetcher may DECLINE (return None — AutoFetcher's scan pick
        # with no delegate): the pipeline then runs its inline default.
        # Planned with AQE ON (module docstring): an all-hit batch's
        # empty missed-key broadcast prunes the leaf to no partitions,
        # so the store is never read and the cache view gains no tasks
        fetch_in = (
            self.fetcher.fetch(missed_keys)
            if self.fetcher is not None
            else None
        )
        if fetch_in is None:
            fetch_in = self.store.join(
                F.broadcast(missed_keys), k, "left_semi"
            )
        fetched = adaptive_local_checkpoint(
            fetch_in, cols=list(self.store.columns)
        )

        # the output is checkpointed per batch (plain lazy
        # localCheckpoint: its joins lean on AQE's runtime broadcast
        # decisions, so it must NOT be planned AQE-off) and
        # materialized by the combined action's 'o' branch — the
        # caller's eventual evaluation scans pinned blocks instead of
        # recomputing hit/miss/fetch through by-then-released state
        out_in = hit.unionByName(miss.join(fetched, k, "inner"))
        out = out_in.localCheckpoint(eager=False)

        # ---- state maintenance (X4-X6) ----
        # Deferred compaction (r15, mirrors the similarity pipeline):
        # the O(state) latest-wins fold + eviction + localCheckpoint
        # runs only at COMPACTION batches; between them the state is a
        # flat APPEND-ONLY union (base checkpoint + pinned per-batch
        # key/fetch deltas, NO joins), so reading it costs one scan
        # and zero extra jobs, and the batch's ONE combined action
        # materializes only the per-batch deltas plus the output — the
        # empty-batch floor was the unconditional state rewrite. (An
        # earlier draft chained the per-batch anti-join rewrites
        # lazily: every chain evaluation re-ran every prior batch's
        # broadcast subqueries and per-batch job counts grew
        # geometrically — see the similarity module's note.)
        # Eviction between compactions is deferred, never lost: the
        # cadence is bounded by the controller window, so a key due
        # for eviction over-stays at most window-1 batches, and
        # window=1 preserves strict per-batch eviction exactly.
        # first controller read of this batch — the walk was joined
        # above (pre-job), so the window reflects the previous batch
        window = self.controller.window
        compact = len(self._pend) + 1 >= max(
            1, min(self.compact_every, window)
        )
        # batches the compaction fold covers (ADVICE r15): captured
        # here, before the release path resets _pend — the measured
        # maintain_s spike is amortized over these batches below
        n_folded = len(self._pend) + 1 if compact else 1
        n_part = int(self._spark.conf.get("spark.sql.shuffle.partitions"))
        new_freq = None
        # checkpoint-input plans for the attribution walk: the leaves
        # print as Scan ExistingRDD in the combined action, so the
        # real fetch/output metrics live only on these plan objects.
        # Join extras are walked before the fetch extra (ADVICE r15),
        # and the miss-detect rides its OWN leaf input (missed_in), so
        # fetch_in's plan embeds nothing but the store scan + one
        # leaf-scan broadcast — fetch_s is exactly the store-fetch
        # cost the controller's window policy feeds on. fetch_in was
        # planned adaptively (the fetch leaf above), so on a zero-miss
        # batch its resolved plan is an empty relation and fetch_s
        # reads 0 (test_attributor_survives_aqe_pruned_fetch_branch).
        extra_roots = [
            ("join", out_in),
            ("join", missed_in),
            ("fetch", fetch_in),
        ]
        if compact:
            # latest-wins fold of base + every pending key set; the
            # key-set joins carry explicit broadcast hints (these
            # plans are AQE-off under lazy_local_checkpoint — they
            # shuffle, so AQE would run them at the call — where an
            # unhinted join against checkpointed state compiles to a
            # sort-merge join); the EVICTION sets (stale, hot) are
            # only usually small — after a workload shift stale can be
            # the whole cache — so their hints are gated on the
            # tracked state sizes (bounded_broadcast).
            lru_full = self._base_pins[1]
            cache_full = self._base_pins[0]
            deltas = self._pend + [(batch_id, batch_keys, fetched)]
            for bid_i, bk_i, _ in deltas:
                lru_full = lru_full.join(
                    F.broadcast(bk_i), k, "left_anti"
                ).unionByName(bk_i.withColumn("last_seen", F.lit(bid_i)))
            admitted_tail = fetched
            stale = lru_full.filter(
                F.col("last_seen") < batch_id - window
            ).select(k)
            stale_bound = self._lru_rows
            if self.admit_below_freq is not None:
                # per-key batch frequency (admission only). Admission
                # forces compact_every=1, so the fold covers exactly
                # this batch and the freq groupBy stays per-batch
                # exact — the r14 semantics unchanged.
                new_freq = (
                    self.freq.unionByName(
                        batch_keys.withColumn("n_batches_seen", F.lit(1))
                    )
                    .groupBy(k)
                    .agg(F.sum("n_batches_seen").alias("n_batches_seen"))
                )
                # a key only reveals itself as hot after repeat
                # batches, so the filter both blocks admission AND
                # evicts already-cached keys that crossed the threshold
                hot = new_freq.filter(
                    F.col("n_batches_seen") >= self.admit_below_freq
                ).select(k)
                admitted_tail = fetched.join(
                    bounded_broadcast(hot, self._freq_rows), k, "left_anti"
                )
                stale = stale.unionByName(hot)
                stale_bound = self._lru_rows + self._freq_rows
            # stale ⊆ prior-LRU keys (this batch's keys carry
            # last_seen == batch_id, never stale) ∪ hot keys
            stale = bounded_broadcast(stale, stale_bound)
            for _, _, f_i in self._pend:
                cache_full = cache_full.unionByName(f_i)
            cache_full = cache_full.unionByName(admitted_tail)
            # admitted/hot keys are never stale (fresh last_seen, hot
            # excluded from admission), so filtering the whole union
            # equals r14's cache.anti(stale) ∪ admitted
            cache_in = cache_full.join(stale, k, "left_anti").coalesce(n_part)
            lru_in = lru_full.join(stale, k, "left_anti").coalesce(n_part)
            new_cache = lazy_local_checkpoint(cache_in)
            new_lru = lazy_local_checkpoint(lru_in)
            extra_roots += [("maintain", cache_in), ("maintain", lru_in)]
        tagged = (
            missed_keys.select(F.lit("m").alias("t"))
            .unionAll(batch_keys.select(F.lit("k").alias("t")))
            .unionAll(fetched.select(F.lit("x").alias("t")))
            .unionAll(out.select(F.lit("o").alias("t")))
        )
        # phase ownership (r15): the scan-side miss detect embeds the
        # hit-key computation (cache semi scan + broadcasts) in the
        # 'm' subtree, which is JOIN work — so m is tagged join and
        # walked before x, leaving the fetch phase owning exactly the
        # store scan + fetch join the controller's window policy
        # feeds on. On a zero-miss batch the fetch leaf was already
        # pruned to an empty relation when it was checkpointed
        # adaptively, so x scans no partition and fetch reads ~0
        branch_phases = ["join", "join", "fetch", "join"]
        branch_tags = ["m", "k", "x", "o"]
        walk_order = [1, 0, 2, 3]
        if compact:
            tagged = tagged.unionAll(
                new_cache.select(F.lit("c").alias("t"))
            ).unionAll(new_lru.select(F.lit("l").alias("t")))
            branch_phases = branch_phases + ["maintain", "maintain"]
            branch_tags = branch_tags + ["c", "l"]
            walk_order = [1, 0, 2, 4, 5, 3]
        if new_freq is not None:
            # admission forces compact_every=1, so freq always rides a
            # compaction batch
            freq_in = new_freq.coalesce(n_part)
            new_freq = lazy_local_checkpoint(freq_in)
            extra_roots.append(("maintain", freq_in))
            tagged = tagged.unionAll(new_freq.select(F.lit("f").alias("t")))
            walk_order.append(len(branch_phases))
            branch_phases.append("maintain")
            branch_tags.append("f")
        counts_df = tagged.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
        counts = {r.t: r.n for r in counts_df.collect()}
        n_miss = int(counts.get("m", 0))
        n_keys = int(counts.get("k", 0))
        total_s = time.monotonic() - t0

        # the missed-key leaf's consumers (fetch leaf, miss join, 'm'
        # branch) all ran inside the combined action — release it now
        release_checkpoint(missed_keys)
        if compact:
            # the compaction checkpoints absorbed every pending delta
            # — release them, this batch's, and the previous base
            # together (release_checkpoint: RDD-level block release,
            # a DataFrame.unpersist here was a no-op on checkpoint
            # leaves and blocks floated with GC lag — ADVICE r15)
            for _, bk_i, f_i in self._pend:
                release_checkpoint(bk_i)
                release_checkpoint(f_i)
            for d in self._base_pins:
                release_checkpoint(d)
            release_checkpoint(fetched)
            release_checkpoint(batch_keys)
            self._pend = []
            # exact bounds off the compaction's own count branches
            self._lru_rows = int(counts.get("l", 0))
            self._freq_rows = int(counts.get("f", 0))
            if new_freq is not None:
                self.freq = new_freq
            self._base_pins = [new_cache, new_lru, self.freq]
            self.cache, self.lru = new_cache, new_lru
        else:
            self._pend.append((batch_id, batch_keys, fetched))
            # upper bound: every batch key could be new to the LRU
            self._lru_rows += n_keys
            # flat state views over base + pendings (pure unions; a
            # key probed in several pending batches appears with
            # several last_seen rows — every pipeline read is
            # set-membership, and the exact latest-wins fold happens
            # at compaction)
            cache_v, lru_v = self._base_pins[0], self._base_pins[1]
            for bid_i, bk_i, f_i in self._pend:
                cache_v = cache_v.unionByName(f_i)
                lru_v = lru_v.unionByName(
                    bk_i.withColumn("last_seen", F.lit(bid_i))
                )
            self.cache, self.lru = cache_v, lru_v
        # MEASURED per-phase split recovered from the combined action's
        # SQL metrics (DS-Join's controller compares measured phase
        # times, streaming.scala:486-520): branch k owns the batch key
        # scan, m the miss detect (both join context — m embeds the
        # hit-key semi scan), x the store fetch, c/l/f the state
        # rebuild (compaction batches only); x is walked before c so
        # the shared cached fetch is attributed to the fetch phase. The walk is
        # py4j-round-trip-bound, so it runs in the background and is
        # joined at the next batch's entry (DeferredObservation).
        attributor, controller = self._attributor, self.controller

        def _attribute_and_observe():
            phases = attributor.attribute(
                counts_df,
                phases=branch_phases,
                tags=branch_tags,
                walk_order=walk_order,
                extra=extra_roots,
            )
            if phases is not None:
                # "maintain" is absent between compactions — state
                # maintenance is deferred, the phase genuinely cost
                # ~0. At compaction the O(state) fold arrives as one
                # batch's spike; amortize it over the n_folded batches
                # it covered (ADVICE r15) — the controller compares
                # PER-BATCH fetch vs maintenance, and an unamortized
                # spike shrinks the window, which itself sets the
                # compaction cadence (feedback oscillation the
                # reference's per-batch policy never faced).
                fetch_s = phases["fetch"]
                maintain_s = phases.get("maintain", 0.0) / n_folded
                join_s, measured = phases["join"], True
            else:
                # fallback: miss-fraction attribution (DSim's
                # rule-based policy,
                # ds_join/DS_SimJoin_stream.scala:645-667)
                miss_frac = n_miss / n_keys if n_keys else 0.0
                fetch_s = total_s * miss_frac
                maintain_s = total_s - fetch_s
                join_s, measured = 0.0, False
            controller.observe(
                BatchTimings(
                    batch_id=batch_id,
                    n_miss=n_miss,
                    store_fetch_s=fetch_s,
                    cache_maintain_s=maintain_s,
                    join_s=join_s,
                    measured=measured,
                )
            )

        self._deferred.submit(_attribute_and_observe)
        return out

    def flush_attribution(self) -> None:
        """Join the pending background attribution walk — required
        before reading ``controller.history`` after the last batch."""
        self._deferred.flush()

    def close(self) -> None:
        """Release every persisted block backing the pipeline's STATE
        (base checkpoints + pending deltas). Batch outputs are pinned
        to their own checkpoint blocks and stay readable. The instance
        must not process further batches afterwards."""
        self.flush_attribution()
        for _, bk_i, f_i in self._pend:
            release_checkpoint(bk_i)
            release_checkpoint(f_i)
        for d in self._base_pins:
            release_checkpoint(d)
        self._pend, self._base_pins = [], []


def replay_in_batches(
    df: DataFrame, n_batches: int, bucket_col: str
) -> list[tuple[int, DataFrame]]:
    """Deterministic micro-batch replay of a static table: batch i =
    rows with pmod(bucket_col, n_batches) == i (the test harness's
    replacement for socket feeds — SURVEY §7 'what's hard' #5)."""
    return [
        (i, df.filter(F.pmod(F.col(bucket_col), F.lit(n_batches)) == i))
        for i in range(n_batches)
    ]


def run_semi_stream_join(
    stream_table: DataFrame,
    store: DataFrame,
    key: str,
    out_cols: list[str],
    n_batches: int = 4,
    bucket_col: str | None = None,
    initial_cache: DataFrame | None = None,
    controller: AdaptiveCacheController | None = None,
    admit_below_freq: int | None = None,
    fetcher: object | None = None,
) -> DataFrame:
    """Replay ``stream_table`` through the cached semi-stream join and
    return the union of per-batch outputs (cache-transparent: equals
    the plain stream ⋈ store join)."""
    j = SemiStreamJoin(
        store=store,
        key=key,
        initial_cache=initial_cache,
        controller=controller or AdaptiveCacheController(),
        admit_below_freq=admit_below_freq,
        fetcher=fetcher,
    )
    outs = []
    for batch_id, batch in replay_in_batches(
        stream_table, n_batches, bucket_col or key
    ):
        outs.append(j.process_batch(batch, batch_id).select(*out_cols))
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    # the last batch's background attribution must land before anyone
    # reads the controller history off the diagnostics seam; close()
    # releases the state blocks (batch outputs are checkpoint-pinned
    # by each batch's action and stay readable), so repeated
    # invocations don't accrete dead cache/LRU state
    j.close()
    # per-invocation diagnostics seam (bench.py publishes the
    # measured/estimated regime split): carried on the result, not a
    # module global, so interleaved pipelines can't cross-report
    result._controller = j.controller
    return result
