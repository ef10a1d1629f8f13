"""The semi-stream pipeline core shared by DS-Join
(operators/semi_stream_join.py) and DSim-Join
(operators/semi_stream_similarity.py).

DSim-Join is DS-Join's in-engine cache applied to Dima signatures
(SURVEY §0; "Distributed Streaming Set Similarity Join", ICDE 2020):
both split a micro-batch's probe keys into cache hits and misses,
fetch the missed keys' rows from the store, emit hit ∪ fetched-miss
output, and keep the cache with an LRU evicted by the adaptive
controller's window. ``SemiStreamCore.process_batch`` runs that loop
once. A pipeline supplies only its strategy (the hooks at the top of
the class): key columns, the probe-key source, the hit keys, the
default fetch plan, the output plan and, for DS-Join, frequency
admission as a hook on the fold.

STATE (r15): cache/LRU live as a base checkpoint plus flat
append-only per-batch deltas, each batch's key-set and fetch
checkpoint LEAVES (LogicalRDDs, so no consumer can re-execute another
batch's lineage). Reading the state costs one scan and no extra job,
and a batch's one action materializes only O(batch) rows. The O(state)
latest-wins fold + eviction + re-checkpoint runs every
min(compact_every, controller window) batches: the X8 lineage
truncation amortized. Eviction between compactions is deferred, never
lost: a key due for eviction over-stays at most window-1 batches, and
window=1 keeps strict per-batch eviction. An earlier draft chained
the per-batch anti-join rewrites lazily instead; every evaluation
re-ran every prior batch's broadcast subqueries and per-batch job
counts grew geometrically (14 -> 29 -> 66 over three sf0.1 batches).

CHECKPOINT PLANNING, per batch:

* probe leaf (DSim only), key leaf, missed-key leaf and compaction
  folds: ``lazy_local_checkpoint`` (AQE off), so they materialize
  inside the batch's one combined action. Their joins carry explicit
  broadcast hints; the eviction sets' hints are gated on tracked row
  bounds (``bounded_broadcast``), since after a workload shift the
  stale set can be the whole cache.
* fetch leaf: ``adaptive_local_checkpoint`` (AQE on) for both
  pipelines. Every fetch plan's only query stage is the missed-key
  broadcast, which runs at the checkpoint call under either planner;
  an all-hit batch's empty broadcast prunes the leaf to no partitions,
  so the store (DS-Join) or key directory (DSim) is never read. A
  fetcher's plan must therefore not shuffle.
* output leaf: DS-Join's joins need AQE's runtime broadcast decisions,
  so it keeps the session's planner; DSim's are all hinted and it is
  planned AQE off.

THE FLUSH RULE: the previous batch's attribution walk (background,
diagnostics only) is joined before this batch's first checkpoint call.
Every job a batch launches before its combined action starts at a
checkpoint call (broadcast stages, AQE query stages), and those jobs
update the shared cached-relation SQL-metric accumulators the walk
reads: flushing any later races the walk against this batch's
execution and contaminates the deltas the controller consumes
(ADVICE r11). The walk still overlaps the previous batch's tail and
this batch's probe-plan construction.

Semantic invariant (tested for both pipelines): output == the plain
one-shot join for every cache state; the cache is transparent.
"""

from __future__ import annotations

import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.skew import bounded_broadcast
from distributed_stream_processing_spark.streaming.cache_controller import (
    BatchTimings,
)
from distributed_stream_processing_spark.streaming.checkpoint import (
    adaptive_local_checkpoint,
    lazy_local_checkpoint,
    local_checkpoint,
    release_checkpoint,
)
from distributed_stream_processing_spark.streaming.plan_timing import (
    DeferredObservation,
    PlanTimeAttributor,
)

# walk priority of the combined action's branches (the first walker
# owns shared subtrees): keys, miss detect, fetch, state maintenance
# (any other tag), output. k and m are JOIN work (m embeds the hit-key
# semi scan), so walking them before x leaves the fetch phase owning
# exactly the store read the controller's window policy feeds on, and
# x before the maintain branches that reuse the fetch leaf
_WALK_RANK = {"k": 0, "m": 1, "x": 2, "o": 4}


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


class SemiStreamCore:
    """Base of the two semi-stream pipelines. A subclass is a
    dataclass with ``controller``, ``compact_every`` and ``fetcher``
    fields; its ``__post_init__`` calls ``_init_state`` and sets
    ``key_cols`` (the cache/LRU/fetch key) and ``row_cols`` (the cache
    row layout every fetch plan returns)."""

    # DS-Join plans its output with the session's planner (AQE); DSim
    # sets False (AQE off, see the module docstring)
    adaptive_out = True

    # ---- strategy hooks ----
    def _probe_input(self, batch: DataFrame) -> DataFrame | None:
        """A plan to pin as the batch's probe leaf, whose key columns
        are the probe keys; None reads them off the batch itself."""
        return None

    def _hit_keys(self, keys: DataFrame) -> DataFrame:
        """The batch keys already held by the state."""
        raise NotImplementedError

    def _default_fetch(self, missed: DataFrame) -> DataFrame:
        """The in-session fetch of the missed keys' store rows."""
        raise NotImplementedError

    def _output(self, batch, probe, keys, missed, fetched) -> DataFrame:
        """The batch's output plan over the pinned leaves."""
        raise NotImplementedError

    def _admit(self, keys: DataFrame, fetched: DataFrame, n_part: int):
        """Fold hook: ``(admitted fetch rows, extra keys to evict or
        None, their row bound, [(tag, extra state plan)])``. The
        default admits every fetched row."""
        return fetched, None, 0, []

    def _compacted(self, counts: dict) -> None:
        """Called after a compaction with the combined action's
        per-tag row counts."""

    # ---- state ----
    def _init_state(self, spark, cache, lru, lru_rows: int, extra_pins=()):
        self._spark = spark
        self.cache, self.lru = cache, lru
        self._attributor = PlanTimeAttributor()
        self._deferred = DeferredObservation()
        # LRU row bound for the eviction-set broadcast gate: exact at
        # each compaction (the 'l' branch count), grown by the batch
        # key count between them (an upper bound: overcounting only
        # demotes a broadcast to the spillable tiers)
        self._lru_rows = lru_rows
        # persisted artifacts backing the state: the base pins
        # [cache, lru, *extra] from the last compaction, and each
        # pending batch's (batch_id, key leaf, fetch leaf) delta;
        # released together at the next compaction (or close())
        self._base_pins: list[DataFrame] = [cache, lru, *extra_pins]
        self._pend: list[tuple] = []

    def process_batch(self, batch: DataFrame, batch_id: int) -> DataFrame:
        """Join one micro-batch against the store through the cache,
        maintain the state and return the batch's output, pinned to its
        own checkpoint blocks.

        The previous batch's attribution walk is joined before this
        batch's first checkpoint call (the module's flush rule). The
        batch runs one combined action; if a checkpoint call or that
        action raises, this batch's leaves are released, the state is
        left as it was, and the exception propagates. Callers that
        read ``controller.history`` right after a bare process_batch
        must call :meth:`flush_attribution`."""
        k = self.key_cols
        probe_in = self._probe_input(batch)
        self._deferred.flush()
        t0 = time.monotonic()
        leaves: list[DataFrame] = []

        def pin(leaf: DataFrame) -> DataFrame:
            leaves.append(leaf)
            return leaf

        try:
            # the probe side (DSim's chosen signature rows) is the small
            # side of every join below: broadcast, never shuffled, and
            # pinned as a leaf so no consumer re-runs the emission
            probe = None
            if probe_in is not None:
                probe = pin(lazy_local_checkpoint(probe_in, cols=probe_in.columns))
            # batch-sized key set, read only by broadcasts and
            # compaction folds: coalesce(8) keeps small batches off the
            # shuffle-width task floor. toDF (cols): the leaf gets fresh
            # expression ids, or joining the batch against a key-derived
            # plan trips the analyzer's conflicting-reference check
            keys = pin(lazy_local_checkpoint(
                (batch if probe is None else probe)
                .select(*k).distinct().coalesce(8),
                cols=k,
            ))
            # scan-side miss detect (r15): the state is semi-scanned
            # against the broadcast batch keys, then a tiny anti between
            # two batch-sized sets. Pinned as its own leaf so the fetch
            # plan embeds only a leaf scan: the miss detect is JOIN work
            # (the missed_in extra), and its broadcast is the fetch
            # leaf's only query stage
            missed_in = keys.join(F.broadcast(self._hit_keys(keys)), k, "left_anti")
            missed = pin(lazy_local_checkpoint(missed_in, cols=k))
            # a fetcher may DECLINE (None, e.g. AutoFetcher's scan pick
            # with no delegate): the pipeline's inline default runs.
            # The fetch is a LEAF, not a cache: relation dedup
            # re-instances cached subtrees embedded across join sides,
            # the CacheManager lookup then misses and the consumer
            # re-executes the fetch lineage, which embeds every prior
            # pending batch's fetch (per-batch jobs measured
            # 20 -> 1053 over seven batches)
            fetch_in = self.fetcher.fetch(missed) if self.fetcher is not None else None
            if fetch_in is None:
                fetch_in = self._default_fetch(missed)
            fetched = pin(adaptive_local_checkpoint(fetch_in, cols=self.row_cols))
            # the output leaf: the caller's eventual evaluation scans
            # pinned blocks instead of recomputing through by-then
            # released state, and its pinning job is the combined
            # action below
            out_in = self._output(batch, probe, keys, missed, fetched)
            out = pin(
                local_checkpoint(out_in) if self.adaptive_out
                else lazy_local_checkpoint(out_in)
            )
            # checkpoint-input plans for the attribution walk: leaves
            # print as Scan ExistingRDD in the combined action, so their
            # real metrics live only on these plan objects. The fetch
            # leaf was planned adaptively, so on a zero-miss batch
            # fetch_in resolved to an empty relation and fetch_s reads 0
            extra = [("join", probe_in)] if probe_in is not None else []
            extra += [("join", out_in), ("join", missed_in), ("fetch", fetch_in)]
            branches = [
                ("m", "join", missed), ("k", "join", keys),
                ("x", "fetch", fetched), ("o", "join", out),
            ]
            # the first controller read of this batch; the window
            # reflects the previous batch (its walk was joined above)
            window = self.controller.window
            compact = len(self._pend) + 1 >= max(1, min(self.compact_every, window))
            # batches the fold covers, for amortizing its cost below
            n_folded = len(self._pend) + 1 if compact else 1
            if compact:
                for tag, state_in in self._fold(batch_id, keys, fetched, window):
                    leaf = pin(lazy_local_checkpoint(state_in))
                    branches.append((tag, "maintain", leaf))
                    extra.append(("maintain", state_in))
            # THE one action of the batch: a single job materializes the
            # output, the per-batch deltas, on compaction batches the new
            # state, and the controller's key counts together
            counts_df = reduce(
                DataFrame.unionAll,
                [leaf.select(F.lit(tag).alias("t")) for tag, _, leaf in branches],
            ).groupBy("t").agg(F.count(F.lit(1)).alias("n"))
            counts = {r.t: r.n for r in counts_df.collect()}
        except BaseException:
            for leaf in leaves:
                release_checkpoint(leaf)
            raise
        total_s = time.monotonic() - t0
        n_miss, n_keys = int(counts.get("m", 0)), int(counts.get("k", 0))
        # the probe and missed-key leaves' consumers all ran inside the
        # combined action; release their blocks for real (RDD-level: a
        # DataFrame.unpersist is a no-op on checkpoint leaves, and
        # executor storage floated with GC lag, ADVICE r15)
        release_checkpoint(missed)
        if probe is not None:
            release_checkpoint(probe)
        if compact:
            # the new state absorbed every pending delta: release them,
            # this batch's, and the previous base together
            for _, keys_i, f_i in self._pend:
                release_checkpoint(keys_i)
                release_checkpoint(f_i)
            for d in self._base_pins:
                release_checkpoint(d)
            release_checkpoint(fetched)
            release_checkpoint(keys)
            self._pend = []
            self._base_pins = [leaf for _, ph, leaf in branches if ph == "maintain"]
            self.cache, self.lru = self._base_pins[0], self._base_pins[1]
            self._lru_rows = int(counts.get("l", 0))
            self._compacted(counts)
        else:
            self._pend.append((batch_id, keys, fetched))
            self._lru_rows += n_keys
            # flat views over base + pendings (pure unions). A key
            # probed in several pending batches appears with several
            # last_seen rows: every pipeline read is set membership, and
            # the exact latest-wins fold happens at compaction
            cache_v, lru_v = self._base_pins[0], self._base_pins[1]
            for bid_i, keys_i, f_i in self._pend:
                cache_v = cache_v.unionByName(f_i)
                lru_v = lru_v.unionByName(keys_i.withColumn("last_seen", F.lit(bid_i)))
            self.cache, self.lru = cache_v, lru_v
        # MEASURED per-phase split recovered from the combined action's
        # SQL metrics (DS-Join's controller compares measured phase
        # times, streaming.scala:486-520). The walk is
        # py4j-round-trip-bound, so it runs in the background and is
        # joined at the next batch's flush point
        attributor, controller = self._attributor, self.controller
        phases = [phase for _, phase, _ in branches]
        tags = [tag for tag, _, _ in branches]
        walk_order = sorted(range(len(tags)), key=lambda i: _WALK_RANK.get(tags[i], 3))

        def _attribute_and_observe():
            split = attributor.attribute(
                counts_df, phases=phases, tags=tags, walk_order=walk_order,
                extra=extra,
            )
            if split is not None:
                # "maintain" is absent between compactions (the phase
                # genuinely cost ~0). The fold's O(state) spike is
                # amortized over the batches it covered: the controller
                # compares PER-BATCH fetch vs maintenance, and an
                # unamortized spike shrinks the window, which itself
                # sets the compaction cadence (ADVICE r15)
                fetch_s = split["fetch"]
                maintain_s = split.get("maintain", 0.0) / n_folded
                join_s, measured = split["join"], True
            else:
                # fallback: miss-fraction attribution, the signal the
                # reference's rule-based window policy keys on
                # (DS_SimJoin_stream.scala:645-667)
                fetch_s = total_s * (n_miss / n_keys if n_keys else 0.0)
                maintain_s = total_s - fetch_s
                join_s, measured = 0.0, False
            controller.observe(BatchTimings(
                batch_id=batch_id, n_miss=n_miss, store_fetch_s=fetch_s,
                cache_maintain_s=maintain_s, join_s=join_s, measured=measured,
            ))

        self._deferred.submit(_attribute_and_observe)
        return out

    def _fold(self, batch_id: int, keys, fetched, window: int) -> list:
        """The compaction: latest-wins fold of the base and every
        pending delta (later batches override last_seen), then the
        eviction filter. Returns [(tag, state plan)]: cache 'c', LRU
        'l', then the admission hook's extras."""
        k = self.key_cols
        n_part = int(self._spark.conf.get("spark.sql.shuffle.partitions"))
        cache_full, lru_full = self._base_pins[0], self._base_pins[1]
        for _, _, f_i in self._pend:
            cache_full = cache_full.unionByName(f_i)
        for bid_i, keys_i, _ in self._pend + [(batch_id, keys, fetched)]:
            lru_full = lru_full.join(F.broadcast(keys_i), k, "left_anti").unionByName(
                keys_i.withColumn("last_seen", F.lit(bid_i))
            )
        admitted, hot, hot_rows, extra = self._admit(keys, fetched, n_part)
        cache_full = cache_full.unionByName(admitted)
        # stale ⊆ prior-LRU keys (this batch's keys carry last_seen ==
        # batch_id, never stale) ∪ the hook's keys; admitted keys are
        # never stale, so filtering the whole union equals
        # cache.anti(stale) ∪ admitted
        stale = lru_full.filter(F.col("last_seen") < batch_id - window).select(*k)
        if hot is not None:
            stale = stale.unionByName(hot)
        stale = bounded_broadcast(stale, self._lru_rows + hot_rows)
        return [
            ("c", cache_full.join(stale, k, "left_anti").coalesce(n_part)),
            ("l", lru_full.join(stale, k, "left_anti").coalesce(n_part)),
        ] + extra

    def flush_attribution(self) -> None:
        """Join the pending background attribution walk; required
        before reading ``controller.history`` after the last batch."""
        self._deferred.flush()

    def close(self) -> None:
        """Release every persisted block backing the pipeline's STATE
        (base pins + pending deltas). Batch outputs are pinned to their
        own checkpoint blocks and stay readable. The instance must not
        process further batches afterwards."""
        self.flush_attribution()
        for _, keys_i, f_i in self._pend:
            release_checkpoint(keys_i)
            release_checkpoint(f_i)
        for d in self._base_pins:
            release_checkpoint(d)
        self._pend, self._base_pins = [], []

    def replay(self, batches, cols: list[str] | None = None) -> DataFrame:
        """Drive ``(batch_id, batch)`` pairs through the pipeline and
        return the union of the batch outputs (projected to ``cols``),
        which equals the plain one-shot join. The state is released on
        every path, and the controller rides on the result as
        ``_controller``: a per-invocation diagnostics seam, so
        interleaved pipelines cannot cross-report."""
        try:
            outs = []
            for batch_id, batch in batches:
                out = self.process_batch(batch, batch_id)
                outs.append(out if cols is None else out.select(*cols))
        finally:
            self.close()
        result = reduce(DataFrame.unionByName, outs)
        result._controller = self.controller
        return result
