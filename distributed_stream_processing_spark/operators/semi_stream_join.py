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

Spark schedules the formerly-threaded stages from one DAG. The
state (base checkpoint plus pending deltas, deferred compaction), the
checkpoint planning of every leaf, the one combined action, the
attribution that feeds the controller and the flush rule live in the
shared core, streaming/semi_stream_core.py. This module supplies the
equi-join strategy: the join key, the scan-side hit split, the store
fetch, the output plan and frequency admission (a hook on the fold).

Semantic invariant (tested): output == plain stream ⋈ store for every
cache state — the cache is transparent.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.skew import bounded_broadcast
from distributed_stream_processing_spark.streaming.cache_controller import (
    AdaptiveCacheController,
)
from distributed_stream_processing_spark.streaming.semi_stream_core import (
    SemiStreamCore,
    replay_in_batches,  # noqa: F401 (re-exported: callers import it from here)
)


@dataclass
class SemiStreamJoin(SemiStreamCore):
    store: DataFrame  # full stored dimension (stand-in for the remote DB)
    key: str  # join key column name, shared by stream and store
    initial_cache: DataFrame | None = None
    controller: AdaptiveCacheController = field(default_factory=AdaptiveCacheController)
    # frequency-based admission (DSim's filter(freq < 50),
    # DS_SimJoin_stream.scala:838): keys seen in >= this many batches
    # are NOT admitted to the cache (ultra-hot keys would bloat it and
    # are cheap to refetch); None disables
    admit_below_freq: int | None = None
    # full cache/LRU rewrite + checkpoint every K batches (r15; the
    # core's deferred compaction): the per-batch O(state) rewrite was
    # the pipeline's fixed floor. Forced to 1 when frequency admission
    # is on — the per-key freq table must stay per-batch exact.
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
        k = self.key
        self.key_cols, self.row_cols = [k], list(self.store.columns)
        cache = (
            self.initial_cache
            if self.initial_cache is not None
            else self.store.limit(0)
        ).cache()
        lru = cache.select(F.col(k), F.lit(0).alias("last_seen")).cache()
        extra_pins = []
        self._freq_rows = 0
        if self.admit_below_freq is not None:
            self.compact_every = 1
            self.freq = cache.select(
                F.col(k), F.lit(0).alias("n_batches_seen")
            ).limit(0).cache()
            extra_pins = [self.freq]
        # an initial cache is counted ONCE at setup (one tiny job,
        # never per batch) for the eviction-set broadcast gate
        self._init_state(
            self.store.sparkSession, cache, lru,
            0 if self.initial_cache is None else self.initial_cache.count(),
            extra_pins,
        )

    def _cached_rows(self, keys: DataFrame) -> DataFrame:
        # hit split, SCAN-SIDE (r15): one semi-scan of the cache against
        # the broadcast batch keys yields the batch-bounded matching
        # cache rows; the batch then joins THOSE. Joining batch x cache
        # directly left the strategy to AQE, and a store-scale cache
        # (the q33_100x axis) fell to a sort-merge join that shuffled
        # batch AND cache every batch
        return self.cache.join(F.broadcast(keys), self.key, "left_semi")

    def _hit_keys(self, keys: DataFrame) -> DataFrame:
        # only the hit KEY set is broadcast (ADVICE r15): it is <= the
        # batch's distinct keys, whereas the hit ROWS are unbounded by
        # batch size for multi-row-per-key or wide-payload stores
        return self._cached_rows(keys).select(self.key).distinct()

    def _default_fetch(self, missed: DataFrame) -> DataFrame:
        return self.store.join(F.broadcast(missed), self.key, "left_semi")

    def _output(self, batch, probe, keys, missed, fetched) -> DataFrame:
        # the hit join is left to AQE: both sides are batch-key-bounded,
        # so the worst case shuffles the actual hit volume, never the
        # cache
        k = self.key
        hit = batch.join(self._cached_rows(keys), k, "inner")
        miss = batch.join(F.broadcast(missed), k, "left_semi")
        return hit.unionByName(miss.join(fetched, k, "inner"))

    def _admit(self, keys, fetched, n_part):
        if self.admit_below_freq is None:
            return super()._admit(keys, fetched, n_part)
        # per-key batch frequency; admission forces compact_every=1, so
        # the fold covers exactly this batch and the groupBy stays
        # per-batch exact
        k = self.key
        new_freq = (
            self.freq.unionByName(keys.withColumn("n_batches_seen", F.lit(1)))
            .groupBy(k)
            .agg(F.sum("n_batches_seen").alias("n_batches_seen"))
        )
        # a key only reveals itself as hot after repeat batches, so the
        # filter both blocks admission AND evicts already-cached keys
        # that crossed the threshold
        hot = new_freq.filter(
            F.col("n_batches_seen") >= self.admit_below_freq
        ).select(k)
        admitted = fetched.join(
            bounded_broadcast(hot, self._freq_rows), k, "left_anti"
        )
        return admitted, hot, self._freq_rows, [("f", new_freq.coalesce(n_part))]

    def _compacted(self, counts: dict) -> None:
        if self.admit_below_freq is not None:
            # the new base pins are [cache, lru, freq]: the fold's
            # leaves in the order _fold returned them
            self.freq = self._base_pins[2]
            self._freq_rows = int(counts.get("f", 0))


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
    return j.replay(
        replay_in_batches(stream_table, n_batches, bucket_col or key), out_cols
    )
