"""Subsequence matching over a stored series — the engine's KV-match
(S3M) equivalent.

Reference pipeline (Java, driver-local): build per-width sorted
mean->interval indexes (S3M kvmatch/IndexBuilder.java:62-302), probe
them with query-segment mean ranges, intersect candidate intervals,
then verify ED/DTW with early abandoning (kvmatch/QueryEngine.java:
74-293, utils/DtwUtils.java:50-338). This engine re-expresses it
distributed:

* index build  = chunked sliding stats (applyInPandas over
  overlap-replicated chunks — no global-order Window bottleneck)
  + run-length grouping into (mean_round, pos_start, pos_end) rows;
* probe        = range filter on the index DataFrame per query
  segment (Cauchy-Schwarz bound: ED <= eps over a width-w segment
  implies |segment mean diff| <= eps/sqrt(w), plus the 0.25
  rounding-grid slack), then k-way intersection of candidates;
* ED verify    = equi/range join of candidates x series with a
  deterministic left-to-right fold (bit-reproducible vs the DuckDB
  oracle); DTW/zNorm verify = numpy over chunked windows
  (mapInPandas, Arrow batches) with the LB_Keogh cascade and early
  abandon.

Positions are 0-based window starts; a window of width m covers
[start, start+m-1].
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_WIDTHS = (25, 50, 100, 200, 400)
_GRID = 0.5  # KV-match half-integer mean rounding (MeanIntervalUtils.java:51-60)


# ---------------------------------------------------------------------------
# sliding stats + index build
# ---------------------------------------------------------------------------


def sliding_stats(
    series: DataFrame, w: int, chunk: int = 8192, value_scale: int | None = None
) -> DataFrame:
    """(pos, mean, std, sum_scaled) of every width-``w`` window.

    Rows are replicated into the preceding chunk when within w-1 of a
    chunk boundary, so each chunk computes its own window starts
    independently; cumsum-based, one pass, no global sort.

    ``value_scale``: when values are fixed-decimal (e.g. 100 for
    2-decimal data), window sums are computed exactly in scaled int64
    (``sum_scaled``) so downstream grid rounding is bit-deterministic
    across engines; otherwise sum_scaled is null.
    """
    n_copy = w - 1

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        pos = pdf["pos"].to_numpy()
        val = pdf["value"].to_numpy(dtype=np.float64)
        base = int(pdf["chunk_id"].iloc[0]) * chunk
        hi = base + chunk  # starts in [base, hi)
        if len(val) < w:
            return pd.DataFrame(
                {"pos": [], "mean": [], "std": [], "sum_scaled": []}
            ).astype({"pos": "int64", "sum_scaled": "float64"})
        starts = pos[: len(val) - w + 1]
        # windows must be contiguous (replication guarantees it except
        # at series end) and owned by this chunk
        own = (starts >= base) & (starts < hi) & (pos[w - 1 :] == starts + w - 1)
        if value_scale is not None:
            vi = np.rint(val * value_scale).astype(np.int64)
            ci = np.concatenate(([0], np.cumsum(vi)))
            s1i = ci[w:] - ci[:-w]
            mean = s1i[own] / (w * value_scale)
            sum_scaled = s1i[own].astype("float64")
        else:
            c1 = np.concatenate(([0.0], np.cumsum(val)))
            s1 = c1[w:] - c1[:-w]
            mean = (s1 / w)[own]
            sum_scaled = np.full(own.sum(), np.nan)
        c2 = np.concatenate(([0.0], np.cumsum(val * val)))
        s2 = (c2[w:] - c2[:-w])[own]
        var = np.maximum(s2 / w - mean * mean, 0.0)
        return pd.DataFrame(
            {
                "pos": starts[own],
                "mean": mean,
                "std": np.sqrt(var),
                "sum_scaled": sum_scaled,
            }
        )

    owned = series.select(
        F.col("pos").cast("bigint").alias("pos"),
        F.col("value").cast("double").alias("value"),
        F.floor(F.col("pos") / chunk).cast("bigint").alias("chunk_id"),
    )
    spill = (
        series.filter(F.pmod(F.col("pos"), F.lit(chunk)) < n_copy)
        .filter(F.col("pos") >= chunk)
        .select(
            F.col("pos").cast("bigint").alias("pos"),
            F.col("value").cast("double").alias("value"),
            (F.floor(F.col("pos") / chunk) - 1).cast("bigint").alias("chunk_id"),
        )
    )
    return (
        owned.unionByName(spill)
        .groupBy("chunk_id")
        .applyInPandas(
            per_chunk, schema="pos long, mean double, std double, sum_scaled double"
        )
    )


def _index_runs(
    series: DataFrame,
    widths: tuple[int, ...],
    value_scale: int | None,
    chunk: int = 8192,
) -> DataFrame:
    """(w, mr, pos_start, pos_end) runs of equal grid-rounded mean for
    EVERY width in one pass: the series is scanned twice total (owned
    rows + a max(widths)-1 overlap replication) and shuffled ONCE by
    chunk, and the per-chunk numpy kernel emits all widths' runs —
    before r12 each width paid its own 2 scans + shuffle, which is
    2k scans of the series for k widths, the wrong shape for a 100 TB
    build (A5-A7, IndexBuilder.java:62-302 builds per width too but
    over a local file). Runs that span a chunk boundary come out
    split and are re-joined by the caller's merge_intervals pass. No
    stage ever holds the whole series in one task (the round-1
    W.partitionBy(lit(w)) single-partition Window is gone)."""
    widths = tuple(sorted(set(widths)))
    n_copy = max(widths) - 1
    if n_copy > chunk:
        # the overlap replication reaches exactly ONE chunk back, so a
        # window spanning >1 boundary would silently fail the
        # contiguity mask and its runs would be MISSING from the index
        # (breaking the probe's exactness guarantee) — refuse loudly
        raise ValueError(
            f"index width {max(widths)} exceeds the chunk overlap bound "
            f"(chunk={chunk}); raise chunk= to at least width-1"
        )

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        pos = pdf["pos"].to_numpy()
        val = pdf["value"].to_numpy(dtype=np.float64)
        base = int(pdf["chunk_id"].iloc[0]) * chunk
        hi = base + chunk
        if value_scale is not None:
            vi = np.rint(val * value_scale).astype(np.int64)
            ci = np.concatenate(([0], np.cumsum(vi)))
        else:
            c1 = np.concatenate(([0.0], np.cumsum(val)))
        frames = []
        for w in widths:
            if len(val) < w:
                continue
            starts = pos[: len(val) - w + 1]
            # a start is owned by this chunk and contiguous through
            # its window; the overlap replication is sized for the
            # LARGEST width, which only adds tail rows smaller widths
            # ignore (their non-owned starts are masked out)
            own = (
                (starts >= base)
                & (starts < hi)
                & (pos[w - 1 :] == starts + w - 1)
            )
            if not own.any():
                continue
            if value_scale is not None:
                s1i = (ci[w:] - ci[:-w])[own]
                mr = np.floor(s1i / float(value_scale * w * _GRID)) * _GRID
            else:
                mean = ((c1[w:] - c1[:-w]) / w)[own]
                mr = np.floor(mean / _GRID) * _GRID
            st = starts[own]
            brk = (
                np.flatnonzero((mr[1:] != mr[:-1]) | (st[1:] != st[:-1] + 1))
                + 1
            )
            seg = np.concatenate(([0], brk, [len(st)]))
            frames.append(
                pd.DataFrame(
                    {
                        "w": np.full(len(seg) - 1, w, dtype=np.int32),
                        "mr": mr[seg[:-1]],
                        "pos_start": st[seg[:-1]],
                        "pos_end": st[seg[1:] - 1],
                    }
                )
            )
        if not frames:
            return pd.DataFrame(
                {"w": [], "mr": [], "pos_start": [], "pos_end": []}
            ).astype({"w": "int32", "pos_start": "int64", "pos_end": "int64"})
        return pd.concat(frames, ignore_index=True)

    owned = series.select(
        F.col("pos").cast("bigint").alias("pos"),
        F.col("value").cast("double").alias("value"),
        F.floor(F.col("pos") / chunk).cast("bigint").alias("chunk_id"),
    )
    spill = (
        series.filter(F.pmod(F.col("pos"), F.lit(chunk)) < n_copy)
        .filter(F.col("pos") >= chunk)
        .select(
            F.col("pos").cast("bigint").alias("pos"),
            F.col("value").cast("double").alias("value"),
            (F.floor(F.col("pos") / chunk) - 1).cast("bigint").alias("chunk_id"),
        )
    )
    return (
        owned.unionByName(spill)
        .groupBy("chunk_id")
        .applyInPandas(
            per_chunk,
            schema="w int, mr double, pos_start long, pos_end long",
        )
    )


def build_kv_index(
    series: DataFrame,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
    value_scale: int | None = None,
) -> DataFrame:
    """(w, mr, pos_start, pos_end): runs of consecutive window starts
    whose grid-rounded mean is equal (IndexBuilder.java:219-245
    re-derived as per-chunk run detection + a distributed
    merge_intervals pass that re-joins boundary-spanning runs; the
    merge shuffles by (w, mr) — many small groups, never one task).
    ALL widths build from ONE scan+shuffle pass (r12): 2 series scans
    total instead of 2 per width — the build shape that holds when
    the series is 100 TB.

    With ``value_scale`` set, mr comes from the exact integer window
    sum — floor(sum_scaled / (scale*w*GRID)) * GRID — so the grid
    assignment has no float summation-order ambiguity.

    The per-chunk kernel's overlap replication reaches exactly one
    chunk back, so the chunk is auto-sized to cover the widest window
    (max(default, 2*max(widths)) — VERDICT r12 task 5): a user asking
    for w=16384 gets the one-pass build without tuning anything. The
    width>chunk guard inside _index_runs stays as the internal
    invariant.
    """
    from distributed_stream_processing_spark.operators.interval import (
        merge_intervals,
    )

    chunk = max(8192, 2 * max(widths))
    runs = _index_runs(series, widths, value_scale, chunk=chunk)
    # within-chunk runs are maximal, so only integer-adjacent same-mr
    # runs (chunk boundaries) can merge under gap=1
    return merge_intervals(
        runs, ["w", "mr"], "pos_start", "pos_end", merge_gap=1
    ).drop("n_merged").select("w", "mr", "pos_start", "pos_end")


def save_kv_index(index: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a KV index as parquet, partitioned by width and sorted
    by mr within files — the reference's build-once/probe-many model
    (kvmatch/IndexFileOperator.java:127-170, IndexBuilder.java:62-302).

    Probes filter on (w, mr-range): partitioning by w gives partition
    pruning, and the within-file mr sort gives parquet row-group
    min/max skipping, so a probe reads only the slice it needs — the
    property that makes a 100 TB index probeable without scanning it.
    """
    (
        index.repartition("w")
        .sortWithinPartitions("mr", "pos_start")
        .write.mode(mode)
        .partitionBy("w")
        .parquet(path)
    )


def load_kv_index(spark, path: str) -> DataFrame:
    """Read back a save_kv_index parquet with the canonical schema."""
    df = spark.read.parquet(path)
    return df.select(
        F.col("w").cast("int").alias("w"),
        F.col("mr").cast("double").alias("mr"),
        F.col("pos_start").cast("long").alias("pos_start"),
        F.col("pos_end").cast("long").alias("pos_end"),
    )


def compact_kv_index(index: DataFrame, factor: int = 2) -> DataFrame:
    """Shrink the index by coarsening the mean grid ``factor``x and
    merging adjacent position runs (the reference's size-based row
    compaction, IndexBuilder.java:262-301). Probing a compacted index
    requires grid = factor * _GRID for completeness (the coarser
    bucket widens the rounding slack)."""
    from distributed_stream_processing_spark.operators.interval import (
        merge_intervals,
    )

    coarse = float(factor) * _GRID
    bucketed = index.withColumn("mr", F.floor(F.col("mr") / coarse) * coarse)
    return merge_intervals(
        bucketed, ["w", "mr"], "pos_start", "pos_end", merge_gap=1
    ).drop("n_merged")


# ---------------------------------------------------------------------------
# query segmentation + probe
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Segment:
    offset: int  # start within the query
    width: int
    mean: float


def plan_segments(query: list[float], widths: tuple[int, ...] = DEFAULT_WIDTHS) -> list[Segment]:
    """Greedy disjoint cover of the query with index widths, largest
    first (stand-in for the reference's statistics-driven DP,
    QueryEngine.java:337-416 — any disjoint cover is sound; the DP
    only optimizes probe cost)."""
    m = len(query)
    usable = sorted((w for w in widths if w <= m), reverse=True)
    if not usable:
        raise ValueError(f"query length {m} below smallest index width {min(widths)}")
    segs: list[Segment] = []
    off = 0
    while m - off >= usable[-1]:
        w = next(w for w in usable if w <= m - off)
        segs.append(Segment(off, w, float(np.mean(query[off : off + w]))))
        off += w
    return segs


def index_stats(index: DataFrame, bucket: float = 2.0) -> dict[int, list[tuple[float, int]]]:
    """Per-width histogram of candidate volume: mr bucketed to a
    coarse grid -> total covered positions. Small (hundreds of rows),
    collected driver-side to feed the DP segment planner — the
    engine's analogue of the reference's index statistics block
    (IndexFileOperator.java:127-170)."""
    rows = (
        index.groupBy(
            "w", (F.floor(F.col("mr") / bucket) * bucket).alias("mb")
        )
        .agg(F.sum(F.col("pos_end") - F.col("pos_start") + 1).alias("span"))
        .collect()
    )
    out: dict[int, list[tuple[float, int]]] = {}
    for r in rows:
        out.setdefault(r.w, []).append((float(r.mb), int(r.span)))
    for w in out:
        out[w].sort()
    return out


def plan_segments_dp(
    query: list[float],
    widths: tuple[int, ...],
    stats: dict[int, list[tuple[float, int]]],
    epsilon: float,
    bucket: float = 2.0,
) -> list[Segment]:
    """Statistics-driven DP segmentation (QueryEngine.java:337-416
    re-derived): choose disjoint consecutive segments minimizing the
    total estimated candidate volume, where a segment's cost is the
    covered-position count of index buckets within its mean range."""
    m = len(query)
    usable = sorted(w for w in widths if w <= m and w in stats)
    if not usable:
        return plan_segments(query, widths)
    prefix = np.concatenate(([0.0], np.cumsum(np.asarray(query, dtype=np.float64))))

    def seg_cost(off: int, w: int) -> float:
        mu = (prefix[off + w] - prefix[off]) / w
        slack = epsilon / math.sqrt(w) + _GRID + bucket
        return float(
            sum(span for mb, span in stats[w] if mu - slack <= mb <= mu + slack)
        )

    INF = float("inf")
    dp = [INF] * (m + 1)
    choice: list[tuple[int, int] | None] = [None] * (m + 1)
    dp[0] = 0.0
    for i in range(m + 1):
        if dp[i] is INF:
            continue
        for w in usable:
            j = i + w
            if j > m:
                continue
            c = dp[i] + seg_cost(i, w)
            if c < dp[j]:
                dp[j], choice[j] = c, (i, w)
    # best endpoint leaving a tail shorter than the smallest width
    best_end = max(
        (j for j in range(m + 1) if dp[j] < INF and m - j < usable[0]),
        default=None,
        key=lambda j: j,
    )
    if best_end is None or best_end == 0:
        return plan_segments(query, widths)
    segs: list[Segment] = []
    j = best_end
    while j > 0:
        i, w = choice[j]
        segs.append(
            Segment(i, w, float((prefix[i + w] - prefix[i]) / w))
        )
        j = i
    segs.reverse()
    return segs


# Phase-2 cost-model constants published in the reference
# (kvmatch/NormQueryEngine.java:49-51): A ms per candidate window
# verified, B ms per 1e5 covered offsets scanned during the probe.
_COST_A_MS = 9.72
_COST_B_MS = 0.0107


def truncate_segments_cost(
    segments: list[Segment],
    stats: dict[int, list[tuple[float, int]]],
    epsilon: float,
    n_positions: int,
    bucket: float = 2.0,
    a_ms: float = _COST_A_MS,
    b_ms: float = _COST_B_MS,
) -> list[Segment]:
    """Early probe termination (T11, QueryEngine.java:228-239): stop
    adding probe segments when the estimated marginal candidate
    reduction no longer pays for the extra index scan.

    The reference probes segments sequentially and compares measured
    phase-1 time so far against the phase-2 cost model over the LIVE
    candidate count; the engine probes all chosen segments in one
    batch, so the same decision moves to plan time over the index
    statistics: segments are ordered most-selective first, expected
    candidates after k segments are modeled as n_positions times the
    product of per-segment selectivities (covered-positions / total),
    and segment k+1 is kept only while
    a_ms * est_k * (1 - sel_{k+1}) > b_ms * covered_{k+1} / 1e5 —
    marginal verify savings vs its probe cost, with the reference's
    published constants. Dropping segments only WIDENS the candidate
    superset (each segment's range filter is complete), so phase-2
    verification keeps the result exact; this is purely a cost trade.
    """
    if len(segments) <= 1:
        return segments

    def covered(seg: Segment) -> float:
        w = seg.width
        if w not in stats:
            return float(n_positions)
        slack = epsilon / math.sqrt(w) + _GRID + bucket
        return float(
            sum(
                span
                for mb, span in stats[w]
                if seg.mean - slack <= mb <= seg.mean + slack
            )
        )

    ordered = sorted(segments, key=covered)
    kept = [ordered[0]]
    est = max(1.0, covered(ordered[0]))
    for seg in ordered[1:]:
        cov = covered(seg)
        sel = min(1.0, cov / max(1, n_positions))
        gain_ms = a_ms * est * (1.0 - sel)
        probe_ms = b_ms * cov / 1e5
        if gain_ms <= probe_ms:
            break  # ordered by selectivity: later segments gain less
        kept.append(seg)
        est = max(1.0, est * sel)
    # probe offsets must stay sorted for the interval-shift intersect
    kept.sort(key=lambda s: s.offset)
    return kept


def probe_index_ranges(
    index: DataFrame,
    probes: list[tuple[int, int, float, float]],
    n_positions: int,
    query_len: int,
    grid: float = _GRID,
    available_widths: set[int] | None = None,
) -> DataFrame:
    """Window starts whose width-``w`` segment at ``offset`` has its
    grid-rounded mean inside [lo, hi] for EVERY probe
    (w, offset, lo, hi) — the shared probe core for ED (point mean ±
    Cauchy-Schwarz slack) and DTW (envelope-widened mean ranges).

    Interval rows are exploded to positions (fine at these interval
    sizes; an interval-algebra join would replace the explode at
    extreme scale) and intersected by counting segment hits.

    ``available_widths``: the widths the index is known to hold.  Pass
    it whenever the caller built the index itself — the alternative is
    a ``select(w).distinct().collect()``, a full materialization of an
    index that the main DAG will recompute (the round-2 q29 2x
    regression).
    """
    max_start = n_positions - query_len
    if available_widths is not None:
        available = set(available_widths)
    else:
        available = {r.w for r in index.select("w").distinct().collect()}
    needed = {w for w, _, _, _ in probes}
    if not needed <= available:
        raise ValueError(
            f"index lacks widths {sorted(needed - available)} required by the "
            f"segmentation (has {sorted(available)}); build the index with "
            "matching widths or pass widths= to the match call"
        )
    cands = None
    for i, (w, offset, lo, hi) in enumerate(probes):
        # full-grid (not half) slack: mr is a *floor* rounding, so the
        # true mean lies in [mr, mr+grid) — keeps completeness
        rows = index.filter(
            (F.col("w") == w)
            & (F.col("mr") >= lo - grid)
            & (F.col("mr") <= hi + grid)
        )
        starts = (
            rows.select(F.explode(F.sequence("pos_start", "pos_end")).alias("p"))
            .select(
                (F.col("p") - F.lit(offset)).alias("start"),
                F.lit(i).alias("seg"),
            )
            .filter((F.col("start") >= 0) & (F.col("start") <= max_start))
        )
        cands = starts if cands is None else cands.unionByName(starts)
    if len(probes) == 1:
        # single-segment queries need no intersection: one probe's
        # index intervals are disjoint, so the exploded starts are
        # already unique — skip the count shuffle entirely
        return cands.select("start")
    return (
        cands.groupBy("start")
        .agg(F.countDistinct("seg").alias("n_seg"))
        .filter(F.col("n_seg") == len(probes))
        .select("start")
    )


def probe_index_ranges_sweep(
    index: DataFrame,
    probes: list[tuple[int, int, float, float]],
    n_positions: int,
    query_len: int,
    grid: float = _GRID,
    available_widths: set[int] | None = None,
) -> DataFrame:
    """Interval-algebra twin of probe_index_ranges: identical output,
    but candidate intersection runs at INTERVAL granularity instead of
    exploding every covered position.

    Each probe's matching index rows are disjoint start-ranges (a
    width's runs partition the position space, and clamping preserves
    disjointness), so the K-way intersection is a sweep-line: +1/-1
    boundary events per range, a distributed prefix sum over
    deterministic position-range buckets (per-bucket net deltas
    collected — B rows — and re-broadcast as entry offsets), and
    coverage==K segments become the candidate ranges. Work scales with the number of index
    intervals, not series positions — the shape that holds when the
    series is 100 TB and the explode twin's position stream would be
    the bottleneck. Only the final intersected ranges (output-sized)
    are exploded to starts.
    """
    max_start = n_positions - query_len
    if available_widths is not None:
        available = set(available_widths)
    else:
        available = {r.w for r in index.select("w").distinct().collect()}
    needed = {w for w, _, _, _ in probes}
    if not needed <= available:
        raise ValueError(
            f"index lacks widths {sorted(needed - available)} required by the "
            f"segmentation (has {sorted(available)})"
        )
    k = len(probes)
    # ONE index scan for ALL probes: each row tests the probe-literal
    # array and explodes its matches into clamped start-ranges (the
    # union-of-k-filtered-scans shape paid k passes over the index —
    # and the sweep needs the events twice, so 2 passes here vs 2k)
    parr = F.array(
        *[
            F.struct(
                F.lit(int(w)).cast("int").alias("pw"),
                F.lit(int(offset)).cast("long").alias("off"),
                # full-grid (not half) slack, as in the explode twin:
                # mr is a floor rounding, the true mean lies in
                # [mr, mr + grid)
                F.lit(float(lo - grid)).alias("lo"),
                F.lit(float(hi + grid)).alias("hi"),
            )
            for w, offset, lo, hi in probes
        ]
    )
    ranges = (
        index.select(
            "pos_start",
            "pos_end",
            F.explode(
                F.filter(
                    parr,
                    lambda p: (p.pw == F.col("w"))
                    & (F.col("mr") >= p.lo)
                    & (F.col("mr") <= p.hi),
                )
            ).alias("p"),
        )
        .select(
            F.greatest(F.lit(0), F.col("pos_start") - F.col("p.off")).alias("s"),
            F.least(
                F.lit(max_start), F.col("pos_end") - F.col("p.off")
            ).alias("e"),
        )
        .filter(F.col("e") >= F.col("s"))
    )
    if k == 1:
        # single-segment queries need no intersection: one probe's
        # clamped index intervals are disjoint, so their positions are
        # the candidate set — no events, no stats, no sweep
        return ranges.select(F.explode(F.sequence("s", "e")).alias("start"))
    ev = ranges.select(F.col("s").alias("pos"), F.lit(1).alias("d")).unionAll(
        ranges.select((F.col("e") + 1).alias("pos"), F.lit(-1).alias("d"))
    )
    spark = index.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # deterministic range buckets over the KNOWN position domain —
    # unlike repartitionByRange there is no sampling pass, no cache,
    # and no partition-id bookkeeping (rounds 2-4 paid a groupBy(pos)
    # merge shuffle + a sampled range shuffle + a cached double scan;
    # this is two small jobs over the raw events: B-row stats, then
    # one bucket-grouped sweep)
    span = max_start + 2  # event positions land in [0, max_start + 1]
    bcol = (
        F.least(
            F.lit(n_parts - 1),
            F.floor(F.col("pos") * n_parts / F.lit(span)),
        )
        .cast("int")
        .alias("b")
    )
    evb = ev.select(bcol, "pos", "d")
    # per-bucket (net delta, first boundary): map-side combined B-row
    # aggregate; the driver turns it into entry coverage per bucket
    # (prefix sums) and each bucket's successor boundary
    stats = evb.groupBy("b").agg(
        F.sum("d").alias("tot"), F.min("pos").alias("lo")
    ).collect()
    stats.sort(key=lambda r: r.b)
    prefix: dict[int, int] = {}
    running = 0
    for r in stats:
        prefix[r.b] = running
        running += int(r.tot)
    next_lo: dict[int, int] = {}
    nxt = None
    for r in reversed(stats):
        if nxt is not None:
            next_lo[r.b] = nxt
        nxt = int(r.lo)

    def sweep(key, pdf):
        b = int(key[0])
        cum = prefix.get(b, 0)
        open_start = None
        out_s, out_e = [], []
        pdf = pdf.sort_values("pos")
        # rows are raw +-1 events (same pos may repeat, including
        # net-zero pairs); an open interval closes only when the sweep
        # MOVES PAST its start — same-position re-events cancel and
        # may immediately reopen, which at worst splits a covered
        # range into adjacent fragments (identical after the explode
        # to starts)
        for pos, d in zip(pdf["pos"].to_numpy(), pdf["d"].to_numpy()):
            pos = int(pos)
            if open_start is not None:
                if pos > open_start:
                    out_s.append(open_start)
                    out_e.append(pos - 1)
                open_start = None
            cum += int(d)
            if cum == k and open_start is None:
                open_start = pos
        if open_start is not None:
            # coverage still K at bucket end: the next non-empty
            # bucket's first boundary closes it (one exists — global
            # coverage returns to 0 after the last -1 event)
            end = next_lo.get(b)
            if end is not None and end - 1 >= open_start:
                out_s.append(open_start)
                out_e.append(end - 1)
        return pd.DataFrame({"cs": out_s, "ce": out_e}).astype(
            {"cs": "int64", "ce": "int64"}
        )

    covered = evb.groupBy("b").applyInPandas(sweep, schema="cs long, ce long")
    return covered.select(
        F.explode(F.sequence("cs", "ce")).alias("start")
    ).filter((F.col("start") >= 0) & (F.col("start") <= max_start))


def probe_index(
    index: DataFrame,
    segments: list[Segment],
    epsilon: float,
    n_positions: int,
    query_len: int,
    grid: float = _GRID,
    available_widths: set[int] | None = None,
    method: str = "explode",
) -> DataFrame:
    """ED probe: |segment mean diff| <= eps/sqrt(w) (Cauchy-Schwarz).

    ``method``: "explode" (position-stream intersection — simple, fine
    while positions fit the shuffle) or "sweep" (interval sweep-line —
    work scales with index intervals, the extreme-scale shape)."""
    probes = [
        (
            s.width,
            s.offset,
            s.mean - epsilon / math.sqrt(s.width),
            s.mean + epsilon / math.sqrt(s.width),
        )
        for s in segments
    ]
    fn = probe_index_ranges_sweep if method == "sweep" else probe_index_ranges
    return fn(index, probes, n_positions, query_len, grid, available_widths)


def dtw_envelope_probes(
    query: list[float],
    rho: int,
    epsilon: float,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
) -> list[tuple[int, int, float, float]]:
    """Mean-range probes sound for banded DTW (QueryEngineDtw.java's
    envelope-widened ranges re-derived).

    If DTW_rho(x, q) <= eps then for any segment S of the window,
    sum_{i in S} dist(x_i, [lo_env_i, hi_env_i])^2 <= eps^2 (each x_i
    aligns only within the band, LB_Keogh per element), so by
    Cauchy-Schwarz mean_S(x) lies in
    [mean(lo_env[S]) - eps/sqrt(|S|), mean(hi_env[S]) + eps/sqrt(|S|)].
    """
    q = np.asarray(query, dtype=np.float64)
    m = len(q)
    lo_env = np.array([q[max(0, j - rho) : j + rho + 1].min() for j in range(m)])
    hi_env = np.array([q[max(0, j - rho) : j + rho + 1].max() for j in range(m)])
    return [
        (
            s.width,
            s.offset,
            float(lo_env[s.offset : s.offset + s.width].mean())
            - epsilon / math.sqrt(s.width),
            float(hi_env[s.offset : s.offset + s.width].mean())
            + epsilon / math.sqrt(s.width),
        )
        for s in plan_segments(list(q), widths)
    ]


# ---------------------------------------------------------------------------
# verification
# ---------------------------------------------------------------------------


def verify_ed(
    series: DataFrame, candidates: DataFrame, query: list[float], epsilon: float
) -> DataFrame:
    """Exact ED over candidate windows via join + deterministic fold.

    dist = sqrt(sum_i (x[start+i] - q[i])^2), summed left-to-right in
    offset order so the value is bit-identical to the DuckDB oracle's
    ordered-list fold. Output (start BIGINT, dist DOUBLE ROUND6).
    """
    m = len(query)
    qcol = F.array(*[F.lit(float(v)) for v in query])
    # explode candidate windows to (start, pos) rows -> EQUI-join on pos
    # (a BETWEEN condition would force a nested-loop join; the explode
    # keeps it a shuffled hash join at any candidate count)
    cand_rows = candidates.select(
        "start", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("qoff")
    ).select("start", "qoff", (F.col("start") + F.col("qoff")).alias("pos"))
    joined = cand_rows.join(
        series.select(
            F.col("pos").cast("bigint").alias("pos"),
            F.col("value").cast("double").alias("value"),
        ),
        "pos",
    ).select(
        "start",
        "qoff",
        (
            (F.col("value") - F.element_at(qcol, (F.col("qoff") + 1).cast("int")))
            * (F.col("value") - F.element_at(qcol, (F.col("qoff") + 1).cast("int")))
        ).alias("d2"),
    )
    folded = (
        joined.groupBy("start")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("qoff", "d2"))),
                    lambda s: s.d2,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist2"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter((F.col("n") == m) & (F.col("dist2") <= epsilon * epsilon))
    )
    return folded.select(
        F.col("start").cast("bigint").alias("start"),
        F.round(F.sqrt("dist2"), 6).alias("dist"),
    )


def verify_ed_ints(
    series: DataFrame,
    candidates: DataFrame,
    query: list[float],
    epsilon: float,
    value_scale: int,
    chunk: int = 8192,
) -> DataFrame:
    """Exact ED verify for FIXED-DECIMAL series: d2 is an int64 sum of
    scaled squared diffs — order-independent, so it needs no ordered
    fold and runs as a vectorized numpy pass over cogrouped chunks
    (the same candidate-pruned shape as the DTW verify) instead of
    verify_ed's exploded (start, qoff) join. At 10x bench scale the
    explode shape shuffles ~100M rows through a fixed-width exchange
    and went superlinear (the stress bench caught it); this pass
    scales with candidate count at numpy constants. Output identical
    contract: (start BIGINT, dist ROUND6) with dist = sqrt(d2)/scale,
    bit-reproducible in DuckDB via the same integer cents sums.
    """
    m = len(query)
    qs = np.asarray(query, dtype=np.float64) * value_scale
    # the exactness contract is data-dependent: fail LOUDLY when the
    # query/series are not fixed-decimal at this scale instead of
    # silently rint-quantizing to a different problem (same guards as
    # online_ml.batch_best_match — one contract across the int paths)
    if len(qs) and float(np.abs(qs - np.rint(qs)).max()) > 1e-6:
        raise ValueError(
            f"value_scale={value_scale} but the query is not "
            "fixed-decimal at that scale"
        )
    q = np.rint(qs).astype(np.int64)
    _q_absmax = float(np.abs(q).max()) if len(q) else 0.0
    eps2 = float(epsilon * value_scale) ** 2  # int64 d2 < 2^53 is exact

    def row_fn(pos: np.ndarray, val: np.ndarray, starts: np.ndarray) -> pd.DataFrame:
        empty = pd.DataFrame({"start": [], "dist": []}).astype(
            {"start": "int64", "dist": "float64"}
        )
        if len(starts) == 0 or len(val) < m:
            return empty
        sv = val * value_scale
        if len(sv) and float(np.abs(sv - np.rint(sv)).max()) > 1e-6:
            raise ValueError(
                f"value_scale={value_scale} but series values are not "
                "fixed-decimal at that scale"
            )
        cents = np.rint(sv).astype(np.int64)
        dmax = float(np.abs(cents).max()) + _q_absmax
        if dmax * dmax * m >= 2.0**53:
            raise ValueError(
                "scaled |diff|^2 * m may exceed 2^53 — exact int64 "
                "distance contract would break; lower value_scale or "
                "shorten the query"
            )
        s_idx = np.searchsorted(pos, starts)
        ok = s_idx + m <= len(pos)
        si, st = s_idx[ok], starts[ok]
        # window must be contiguous positions (chunk gaps excluded)
        ok2 = (pos[si] == st) & (pos[np.minimum(si + m - 1, len(pos) - 1)] == st + m - 1)
        si, st = si[ok2], st[ok2]
        if len(si) == 0:
            return empty
        X = np.lib.stride_tricks.sliding_window_view(cents, m)[si]
        d2 = ((X - q) ** 2).sum(axis=1)
        keep = d2 <= eps2
        dist = np.round(np.sqrt(d2[keep].astype(np.float64)) / value_scale, 6)
        return pd.DataFrame({"start": st[keep], "dist": dist}).astype(
            {"start": "int64", "dist": "float64"}
        )

    return _verify_starts(
        series, candidates, m, chunk, row_fn, "start long, dist double"
    )


def subsequence_match_ed(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
    index: DataFrame | None = None,
    n_positions: int | None = None,
    value_scale: int | None = None,
    index_grid: float = _GRID,
    segmenter: str = "greedy",
    available_widths: set[int] | None = None,
    probe_method: str = "explode",
    early_stop: bool = True,
) -> DataFrame:
    """RSM with ED: all window starts within ``epsilon`` of ``query``.

    Exact: phase-1 mean-range pruning is complete (Cauchy-Schwarz),
    phase-2 verification is exact. Pass ``index_grid`` when probing a
    compacted index (factor * default grid); ``segmenter="dp"``
    plans segments from index statistics (minimum estimated candidate
    volume) instead of greedily, and ``early_stop`` then applies the
    T11 cost-model segment budget (truncate_segments_cost) on the
    same statistics. ``available_widths`` declares the widths a
    caller-supplied ``index`` holds, skipping the probe's
    distinct-widths materialization.
    """
    if not query:
        raise ValueError("empty query")
    if n_positions is None:
        n_positions = series.count()
    known_widths: set[int] | None = available_widths
    stats = None
    if index is None:
        usable = tuple(w for w in widths if w <= len(query)) or (min(widths),)
        if segmenter == "dp":
            # DP needs index statistics over every usable width
            index = build_kv_index(series, usable, value_scale=value_scale).cache()
            stats = index_stats(index)
            segments = plan_segments_dp(query, usable, stats, epsilon)
        else:
            # greedy segmentation is query-only: plan first, then build
            # ONLY the widths it selected (round 2 built all three
            # widths for a single-width segmentation — 3x the work) and
            # cache so the probe's per-segment scans share one build
            segments = plan_segments(query, usable)
            usable = tuple(sorted({s.width for s in segments}, reverse=True))
            index = build_kv_index(series, usable, value_scale=value_scale).cache()
        known_widths = set(usable)
    elif segmenter == "dp":
        stats = index_stats(index)
        segments = plan_segments_dp(query, widths, stats, epsilon)
    else:
        segments = plan_segments(query, widths)
    if early_stop and stats is not None:
        # T11 early probe termination over the same statistics the DP
        # planner used: drop segments whose marginal candidate cut no
        # longer pays for their index scan (result stays exact — the
        # probe superset only widens)
        segments = truncate_segments_cost(
            segments, stats, epsilon, n_positions
        )
    cands = probe_index(
        index,
        segments,
        epsilon,
        n_positions,
        len(query),
        grid=index_grid,
        available_widths=known_widths,
        method=probe_method,
    )
    if value_scale is not None:
        # fixed-decimal data: exact int64 verify over cogrouped chunks
        # (order-independent sums need no fold join; scales with
        # candidates at numpy constants — the 10x stress shape)
        return verify_ed_ints(series, cands, query, epsilon, value_scale)
    return verify_ed(series, cands, query, epsilon)


# ---------------------------------------------------------------------------
# chunked-window numpy paths (DTW, normalized) — mapInPandas
# ---------------------------------------------------------------------------


def _chunked(series: DataFrame, m: int, extra: int, chunk: int) -> DataFrame:
    """Series rows replicated so each chunk holds its windows fully."""
    n_copy = m + extra - 1
    owned = series.select(
        F.col("pos").cast("bigint").alias("pos"),
        F.col("value").cast("double").alias("value"),
        F.floor(F.col("pos") / chunk).cast("bigint").alias("chunk_id"),
    )
    spill = (
        series.filter(F.pmod(F.col("pos"), F.lit(chunk)) < n_copy)
        .filter(F.col("pos") >= chunk)
        .select(
            F.col("pos").cast("bigint").alias("pos"),
            F.col("value").cast("double").alias("value"),
            (F.floor(F.col("pos") / chunk) - 1).cast("bigint").alias("chunk_id"),
        )
    )
    return owned.unionByName(spill)


def _verify_starts(
    series: DataFrame,
    candidates: DataFrame,
    m: int,
    chunk: int,
    row_fn,
    schema: str,
) -> DataFrame:
    """Run ``row_fn(pos, val, starts) -> pd.DataFrame`` per chunk over
    ONLY the candidate window starts: the chunked series is cogrouped
    with the candidate positions on chunk_id, so a probe that prunes
    translates directly into chunks that verify fewer (or zero)
    windows. Starts are owned by floor(start/chunk); overlap
    replication guarantees the owning chunk holds the full window."""
    ser = _chunked(series, m, 0, chunk)
    cand = candidates.select(
        F.col("start").cast("bigint").alias("start"),
        F.floor(F.col("start") / chunk).cast("bigint").alias("chunk_id"),
    )

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return row_fn(
                np.empty(0, np.int64), np.empty(0, np.float64), np.empty(0, np.int64)
            )
        left = left.sort_values("pos")
        return row_fn(
            left["pos"].to_numpy(),
            left["value"].to_numpy(dtype=np.float64),
            np.unique(right["start"].to_numpy()),
        )

    return (
        ser.groupBy("chunk_id")
        .cogroup(cand.groupBy("chunk_id"))
        .applyInPandas(fn, schema=schema)
    )


def _dtw_banded(
    x: np.ndarray,
    q: np.ndarray,
    rho: int,
    abandon: float,
    cb_suffix: np.ndarray | None = None,
) -> float:
    """Sakoe-Chiba banded DTW with early abandon; returns sqrt cost.

    ``cb_suffix[i]`` (optional) is an admissible lower bound on the
    cost the path must still pay after data row ``i`` (suffix sums of
    per-position LB_Keogh contributions, indexed conservatively at
    ``i + rho`` so it is valid for both query- and data-indexed
    contributions) — the reference's cumulative-bound abandon
    (DtwUtils.java:269-338's `cb[i + r + 1]`).
    """
    m = len(q)
    prev = np.full(m + 1, np.inf)
    prev[0] = 0.0
    for i in range(1, m + 1):
        cur = np.full(m + 1, np.inf)
        lo, hi = max(1, i - rho), min(m, i + rho)
        for j in range(lo, hi + 1):
            d = (x[i - 1] - q[j - 1]) ** 2
            cur[j] = d + min(prev[j], prev[j - 1], cur[j - 1])
        remain = cb_suffix[min(m, i + rho)] if cb_suffix is not None else 0.0
        if cur[lo : hi + 1].min() + remain > abandon:
            return math.inf
        prev = cur
    return math.sqrt(prev[m])


def _keogh_contrib(
    x: np.ndarray, lo_env: np.ndarray, hi_env: np.ndarray
) -> np.ndarray:
    """Per-position squared LB_Keogh contributions of ``x`` against an
    envelope (query-side when the envelope is the query's, data-side
    when ``x`` is the query and the envelope is the window's)."""
    above = x > hi_env
    below = x < lo_env
    d = np.zeros_like(x)
    d[above] = x[above] - hi_env[above]
    d[below] = lo_env[below] - x[below]
    return d * d


def _lb_keogh(x: np.ndarray, lo_env: np.ndarray, hi_env: np.ndarray) -> float:
    return float(_keogh_contrib(x, lo_env, hi_env).sum())


def _lb_kim(x: np.ndarray, q: np.ndarray, eps2: float) -> float:
    """LB_Kim endpoint hierarchy (DtwUtils.java:149-188 re-derived,
    non-normalized). Any warping path must pass through (0,0) and
    (m-1,m-1), then through one cell of each successive disjoint
    anti-diagonal set near each end — so each stage's min over its set
    is an admissible additive bound for ANY band width (a band only
    removes cells from each set, and min over a superset is <= min
    over the subset). Stages stop as soon as the bound exceeds eps²;
    the hierarchy needs m >= 6 for the sets to stay disjoint."""
    m = len(q)
    if m < 2:
        return 0.0
    lb = (x[0] - q[0]) ** 2 + (x[m - 1] - q[m - 1]) ** 2
    if lb > eps2 or m < 6:
        return lb
    lb += min(
        (x[1] - q[0]) ** 2, (x[0] - q[1]) ** 2, (x[1] - q[1]) ** 2
    )
    if lb > eps2:
        return lb
    lb += min(
        (x[m - 2] - q[m - 1]) ** 2,
        (x[m - 1] - q[m - 2]) ** 2,
        (x[m - 2] - q[m - 2]) ** 2,
    )
    if lb > eps2:
        return lb
    lb += min(
        (x[0] - q[2]) ** 2,
        (x[1] - q[2]) ** 2,
        (x[2] - q[2]) ** 2,
        (x[2] - q[1]) ** 2,
        (x[2] - q[0]) ** 2,
    )
    if lb > eps2:
        return lb
    lb += min(
        (x[m - 1] - q[m - 3]) ** 2,
        (x[m - 2] - q[m - 3]) ** 2,
        (x[m - 3] - q[m - 3]) ** 2,
        (x[m - 3] - q[m - 2]) ** 2,
        (x[m - 3] - q[m - 1]) ** 2,
    )
    return lb


def dtw_cascade_dist(
    x: np.ndarray,
    q: np.ndarray,
    rho: int,
    eps2: float,
    lo_env: np.ndarray,
    hi_env: np.ndarray,
    w_lo_env: np.ndarray | None = None,
    w_hi_env: np.ndarray | None = None,
    counters: dict | None = None,
) -> float:
    """Full DTW lower-bound cascade for one candidate window — the
    reference's DtwUtils.java:149-338 order: LB_Kim (O(1) endpoint
    hierarchy) -> query-side LB_Keogh (x vs query envelope) ->
    data-side LB_Keogh (q vs the window's envelope, precomputed per
    chunk) -> banded DTW whose early abandon adds the suffix sums of
    the tighter Keogh's per-position contributions. Returns sqrt DTW
    cost, or inf when provably > eps. Every stage is admissible, so a
    window within eps is NEVER pruned (hypothesis-tested); stages only
    reorder how fast non-matches die."""
    if _lb_kim(x, q, eps2) > eps2:
        if counters is not None:
            counters["kim_pruned"] = counters.get("kim_pruned", 0) + 1
        return math.inf
    cb_q = _keogh_contrib(x, lo_env, hi_env)
    lb_q = float(cb_q.sum())
    if lb_q > eps2:
        if counters is not None:
            counters["keogh_q_pruned"] = counters.get("keogh_q_pruned", 0) + 1
        return math.inf
    cb = cb_q
    if w_lo_env is not None:
        cb_d = _keogh_contrib(q, w_lo_env, w_hi_env)
        lb_d = float(cb_d.sum())
        if lb_d > eps2:
            if counters is not None:
                counters["keogh_d_pruned"] = counters.get("keogh_d_pruned", 0) + 1
            return math.inf
        if lb_d > lb_q:
            cb = cb_d
    # suffix sums of the tighter bound's contributions feed the DTW
    # row-wise abandon: cost so far + what the tail must still pay
    cb_suffix = np.zeros(len(q) + 1)
    cb_suffix[:-1] = cb[::-1].cumsum()[::-1]
    if counters is not None:
        counters["dtw_evals"] = counters.get("dtw_evals", 0) + 1
    return _dtw_banded(x, q, rho, eps2, cb_suffix)


def dtw_cascade_batch(
    X: np.ndarray,
    q: np.ndarray,
    rho: int,
    eps2: float,
    lo_env: np.ndarray,
    hi_env: np.ndarray,
    WL: np.ndarray,
    WU: np.ndarray,
) -> np.ndarray:
    """``dtw_cascade_dist`` vectorized over the WINDOW axis: ``X``
    (n, m) candidate windows, ``WL``/``WU`` (n, m) the windows'
    data-side envelopes. Returns (n,) sqrt DTW costs, inf where
    provably > eps.

    BIT-EXACT with the scalar cascade (r18 optimization round, guide
    §4.2): every DP cell evaluates the identical expression with the
    identical operand order — ``d + min(min(prev[j], prev[j-1]),
    cur[j-1]))`` — so IEEE results per window are unchanged, and each
    lower-bound stage prunes exactly the scalar's set (the stages add
    non-negative terms, so 'any partial sum > eps2' ⇔ 'full sum >
    eps2'; the early-abandoned DP rows use the same row-min + suffix
    bound). What changes is the interpreter cost: the scalar path runs
    a ~m·(2ρ+1)-iteration Python loop PER WINDOW (measured ~0.9 ms x
    93k surviving windows = 85 s single-core on the sf0.1 events
    fixture, where the envelope probes prune only 7%); this runs
    m·(2ρ+1) numpy ops over the whole batch, with the abandon mask
    compacting the batch as windows die."""
    n, m = X.shape
    res = np.full(n, np.inf)
    if n == 0:
        return res
    # LB_Kim endpoint hierarchy (full sum; prune decision identical).
    # m < 2 mirrors the scalar _lb_kim's 0.0 guard (ADVICE r18): the
    # endpoint sum below would double-count the single element of a
    # one-point query and falsely prune windows with eps2/2 < d2 <= eps2
    kim = (
        np.zeros(n)
        if m < 2
        else (X[:, 0] - q[0]) ** 2 + (X[:, m - 1] - q[m - 1]) ** 2
    )
    if m >= 6:
        kim = kim + np.minimum(
            np.minimum((X[:, 1] - q[0]) ** 2, (X[:, 0] - q[1]) ** 2),
            (X[:, 1] - q[1]) ** 2,
        )
        kim = kim + np.minimum(
            np.minimum(
                (X[:, m - 2] - q[m - 1]) ** 2, (X[:, m - 1] - q[m - 2]) ** 2
            ),
            (X[:, m - 2] - q[m - 2]) ** 2,
        )
        s3 = (X[:, 0] - q[2]) ** 2
        for e in (
            (X[:, 1] - q[2]) ** 2,
            (X[:, 2] - q[2]) ** 2,
            (X[:, 2] - q[1]) ** 2,
            (X[:, 2] - q[0]) ** 2,
        ):
            s3 = np.minimum(s3, e)
        kim = kim + s3
        s4 = (X[:, m - 1] - q[m - 3]) ** 2
        for e in (
            (X[:, m - 2] - q[m - 3]) ** 2,
            (X[:, m - 3] - q[m - 3]) ** 2,
            (X[:, m - 3] - q[m - 2]) ** 2,
            (X[:, m - 3] - q[m - 1]) ** 2,
        ):
            s4 = np.minimum(s4, e)
        kim = kim + s4
    alive = kim <= eps2
    if not alive.any():
        return res
    idx = np.flatnonzero(alive)
    Xa, WLa, WUa = X[idx], WL[idx], WU[idx]
    # query-side LB_Keogh: windows vs the query's envelope
    cb_q = np.square(
        np.maximum(Xa - hi_env, 0.0) + np.maximum(lo_env - Xa, 0.0)
    )
    lb_q = cb_q.sum(axis=1)
    keep = lb_q <= eps2
    if not keep.any():
        return res
    idx, Xa, WLa, WUa, cb_q, lb_q = (
        idx[keep], Xa[keep], WLa[keep], WUa[keep], cb_q[keep], lb_q[keep]
    )
    # data-side LB_Keogh: the query vs each window's envelope
    cb_d = np.square(
        np.maximum(q[None, :] - WUa, 0.0) + np.maximum(WLa - q[None, :], 0.0)
    )
    lb_d = cb_d.sum(axis=1)
    keep = lb_d <= eps2
    if not keep.any():
        return res
    idx, Xa, cb_q, cb_d, lb_q, lb_d = (
        idx[keep], Xa[keep], cb_q[keep], cb_d[keep], lb_q[keep], lb_d[keep]
    )
    cb = np.where((lb_d > lb_q)[:, None], cb_d, cb_q)
    cb_suffix = np.zeros((len(idx), m + 1))
    cb_suffix[:, :-1] = cb[:, ::-1].cumsum(axis=1)[:, ::-1]
    # banded DP, batched; abandon compacts the active set per row.
    # Layout is TRANSPOSED — (m+1, n_active) — so every DP cell row
    # (prev[j], cur[j-1], the window values at data row i) is a
    # contiguous n-vector, and only the band's rows are (re)written:
    # a (n, m+1) layout with a fresh np.full per data row measured
    # 22.5 s for the sf0.1 fixture's 93k-window batch (column-strided
    # reads + an m x n-buffer allocation per row); this shape runs the
    # identical cells in 0.6 s
    n_act = len(idx)
    XaT = np.ascontiguousarray(Xa.T)
    cbsT = np.ascontiguousarray(cb_suffix.T)
    prev = np.full((m + 1, n_act), np.inf)
    prev[0] = 0.0
    cur = np.full((m + 1, n_act), np.inf)
    for i in range(1, m + 1):
        lo, hi = max(1, i - rho), min(m, i + rho)
        # rows outside [lo, hi] hold stale values from row i-2: the
        # only stale rows the recurrence can READ are lo-1 (as
        # cur[j-1] at j=lo) and, next iteration via prev, hi+1 —
        # reset exactly those to the np.full(inf) the scalar path
        # rebuilds wholesale
        cur[lo - 1] = np.inf
        if hi + 1 <= m:
            cur[hi + 1] = np.inf
        xrow = XaT[i - 1]
        for j in range(lo, hi + 1):
            d = np.square(xrow - q[j - 1])
            cur[j] = d + np.minimum(
                np.minimum(prev[j], prev[j - 1]), cur[j - 1]
            )
        remain = cbsT[min(m, i + rho)]
        ok = cur[lo : hi + 1].min(axis=0) + remain <= eps2
        if not ok.all():
            if not ok.any():
                return res
            idx, XaT, cbsT = idx[ok], XaT[:, ok], cbsT[:, ok]
            cur, prev = cur[:, ok], prev[:, ok]
        prev, cur = cur, prev
    res[idx] = np.sqrt(prev[m])
    return res


def subsequence_match_dtw(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    rho: int,
    chunk: int = 8192,
    index: DataFrame | None = None,
    n_positions: int | None = None,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
    index_grid: float = _GRID,
    available_widths: set[int] | None = None,
    probe_method: str = "explode",
) -> DataFrame:
    """RSM with banded DTW: LB_Keogh cascade + early abandon, numpy
    over chunked windows (the reference's DtwUtils.java:50-338 cascade
    distributed via mapInPandas).

    With ``index`` (a build_kv_index result), window starts are first
    pruned through envelope-widened mean-range probes
    (dtw_envelope_probes; QueryEngineDtw.java's phase 1) and only
    candidates are verified — exact, the probe bound is complete.
    Pruning power is data-dependent: tight envelopes on smooth series
    prune hard; on noise-like series (e.g. the events fixture, window
    means concentrated ~5x tighter than the eps slack) the probe
    passes most windows through and the LB_Keogh cascade carries the
    filtering, matching the reference's behavior on the same inputs.
    """
    q = np.asarray(query, dtype=np.float64)
    m = len(q)
    if m == 0:
        raise ValueError("empty query")
    eps2 = epsilon * epsilon
    lo_env = np.array([q[max(0, j - rho) : j + rho + 1].min() for j in range(m)])
    hi_env = np.array([q[max(0, j - rho) : j + rho + 1].max() for j in range(m)])

    def verify(pos: np.ndarray, val: np.ndarray, starts: np.ndarray) -> pd.DataFrame:
        empty = pd.DataFrame({"start": [], "dist": []}).astype(
            {"start": "int64", "dist": "float64"}
        )
        if not len(starts) or len(pos) < m:
            return empty
        # data-side envelope once per chunk, shared by every window
        # (DtwUtils.java:96-134 builds it as the stream arrives);
        # computed over chunk indices, which only WIDENS a window's
        # true envelope at its edges — admissible
        ser = pd.Series(val)
        w = 2 * rho + 1
        u_env_c = ser.rolling(w, min_periods=1, center=True).max().to_numpy()
        l_env_c = ser.rolling(w, min_periods=1, center=True).min().to_numpy()
        # align starts to array offsets; endpoint equality implies the
        # whole window is gap-free (positions are strictly increasing
        # integers) — the same two checks the scalar loop made
        s = np.searchsorted(pos, starts)
        ok = s + m <= len(pos)
        sv, stv = s[ok], starts[ok]
        ok2 = (pos[sv] == stv) & (pos[sv + m - 1] == stv + m - 1)
        sv, stv = sv[ok2], stv[ok2]
        if not len(sv):
            return empty
        # the whole chunk's cascade in one batched numpy pass (the
        # scalar per-window loop measured ~0.9 ms x 93k surviving
        # windows on the sf0.1 fixture — see dtw_cascade_batch)
        Xw = np.lib.stride_tricks.sliding_window_view(val, m)
        WLw = np.lib.stride_tricks.sliding_window_view(l_env_c, m)
        WUw = np.lib.stride_tricks.sliding_window_view(u_env_c, m)
        d = dtw_cascade_batch(
            Xw[sv], q, rho, eps2, lo_env, hi_env, WLw[sv], WUw[sv]
        )
        hit = d * d <= eps2
        return pd.DataFrame(
            {
                "start": stv[hit].astype("int64"),
                "dist": np.round(d[hit], 6),
            }
        ).astype({"start": "int64", "dist": "float64"})

    if index is not None:
        if n_positions is None:
            n_positions = series.count()
        probe_fn = (
            probe_index_ranges_sweep
            if probe_method == "sweep"
            else probe_index_ranges
        )
        cands = probe_fn(
            index,
            dtw_envelope_probes(list(q), rho, epsilon, widths),
            n_positions,
            m,
            grid=index_grid,
            available_widths=available_widths,
        )
        return _verify_starts(
            series, cands, m, chunk, verify, "start long, dist double"
        )

    def gen(batches):
        for pdf in batches:
            for cid, grp in pdf.groupby("chunk_id"):
                grp = grp.sort_values("pos")
                pos = grp["pos"].to_numpy()
                base, hi = int(cid) * chunk, (int(cid) + 1) * chunk
                starts = pos[(pos >= base) & (pos < hi)]
                yield verify(
                    pos, grp["value"].to_numpy(dtype=np.float64), starts
                )

    return (
        _chunked(series, m, 0, chunk)
        .repartition("chunk_id")
        .mapInPandas(gen, schema="start long, dist double")
    )


def subsequence_match_znorm(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    chunk: int = 8192,
) -> DataFrame:
    """NSM: ED between z-normalized window and z-normalized query
    (NormQueryEngine.java semantics), numpy over chunked windows."""
    q = np.asarray(query, dtype=np.float64)
    m = len(q)
    if m == 0:
        raise ValueError("empty query")
    qn = (q - q.mean()) / (q.std() if q.std() > 0 else 1.0)
    sqn, sqq = float(qn.sum()), float(np.dot(qn, qn))
    eps2 = epsilon * epsilon

    def gen(batches):
        import pandas as pdl

        empty = pdl.DataFrame({"start": [], "dist": []}).astype(
            {"start": "int64", "dist": "float64"}
        )
        for pdf in batches:
            for cid, grp in pdf.groupby("chunk_id"):
                grp = grp.sort_values("pos")
                pos = grp["pos"].to_numpy()
                val = grp["value"].to_numpy(dtype=np.float64)
                base, hi = int(cid) * chunk, (int(cid) + 1) * chunk
                if len(val) < m:
                    yield empty
                    continue
                # batched over the window axis (r19, guide §4.2 — the
                # same rewrite 55b2d79 gave the q31 DTW verify): the
                # per-window interpreted loop cost ~0.9 ms/window;
                # these are ~2m numpy ops over the whole chunk.
                # Ownership/gap checks are the scalar loop's two
                # (strictly increasing int positions: endpoint
                # equality implies the window is gap-free).
                starts = pos[: len(val) - m + 1]
                own = (
                    (starts >= base)
                    & (starts < hi)
                    & (pos[m - 1 :] == starts + m - 1)
                )
                idx = np.flatnonzero(own)
                if not len(idx):
                    yield empty
                    continue
                # per-window moments + one BLAS matmul instead of
                # materializing normalized windows: with population
                # std, Σxn² = m and Σxn·qn = (Σx·qn − μ·Σqn)/σ, so
                # d² = m − 2·Σxn·qn + Σqn² (σ = 0 → xn = 0 → d² =
                # Σqn²) — the same closed form the exact integer-sum
                # path evaluates, here on float moments (agrees with
                # the scalar loop to ~1e-11 abs; both round to 6dp)
                X = np.lib.stride_tricks.sliding_window_view(val, m)[idx]
                mu = X.sum(axis=1) / m
                var = np.maximum(
                    np.einsum("ij,ij->i", X, X) / m - mu * mu, 0.0
                )
                sd = np.sqrt(var)
                pos_sd = sd > 0
                sxq = X @ qn
                # clamped like the cnsm twin: an exact match cancels
                # to ±1e-14, and sqrt of a negative d² is NaN
                d2 = np.maximum(
                    np.where(
                        pos_sd,
                        m
                        - 2.0 * (sxq - mu * sqn) / np.where(pos_sd, sd, 1.0)
                        + sqq,
                        sqq,
                    ),
                    0.0,
                )
                hit = d2 <= eps2
                yield pdl.DataFrame(
                    {
                        "start": starts[idx][hit].astype("int64"),
                        "dist": np.round(np.sqrt(d2[hit]), 6),
                    }
                )

    return (
        _chunked(series, m, 0, chunk)
        .repartition("chunk_id")
        .mapInPandas(gen, schema="start long, dist double")
    )


def subsequence_match_cnsm(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    alpha: float = 2.0,
    beta: float = 10.0,
    chunk: int = 8192,
) -> DataFrame:
    """cNSM (NormQueryEngine.java semantics): windows x matching the
    query under a CONSTRAINED linear normalization — exists a in
    [1/alpha, alpha], b in [-beta, beta] with ||x - (a*q + b)|| <= eps.

    Per window the optimal (a, b) is the least-squares fit (a* =
    cov(x,q)/var(q), b* = mean(x) - a*mean(q)) clamped to the
    constraint box; the residual of the clamped fit is checked against
    eps (convexity: clamping coordinates of the box-constrained
    quadratic keeps the residual minimal on the box edge). Distributed
    over chunked windows like the other numpy paths.
    """
    q = np.asarray(query, dtype=np.float64)
    m = len(q)
    if m == 0:
        raise ValueError("empty query")
    qc = q - q.mean()
    qvar = float(np.dot(qc, qc))
    eps2 = epsilon * epsilon
    a_lo, a_hi = 1.0 / alpha, alpha

    qm = float(q.mean())
    sqc = float(qc.sum())
    sq_raw, sqq_raw = float(q.sum()), float(np.dot(q, q))

    def gen(batches):
        import pandas as pdl

        empty = pdl.DataFrame(
            {"start": [], "dist": [], "alpha": [], "beta": []}
        ).astype(
            {
                "start": "int64",
                "dist": "float64",
                "alpha": "float64",
                "beta": "float64",
            }
        )
        for pdf in batches:
            for cid, grp in pdf.groupby("chunk_id"):
                grp = grp.sort_values("pos")
                pos = grp["pos"].to_numpy()
                val = grp["value"].to_numpy(dtype=np.float64)
                base, hi = int(cid) * chunk, (int(cid) + 1) * chunk
                if len(val) < m:
                    yield empty
                    continue
                # batched over the window axis (r19, guide §4.2): the
                # clamped least-squares fit is one matmul + O(m)
                # vector ops for the whole chunk instead of a
                # ~0.9 ms/window interpreted loop
                starts = pos[: len(val) - m + 1]
                own = (
                    (starts >= base)
                    & (starts < hi)
                    & (pos[m - 1 :] == starts + m - 1)
                )
                idx = np.flatnonzero(own)
                if not len(idx):
                    yield empty
                    continue
                # per-window moments + two BLAS matmuls instead of
                # materializing residual windows: a = (Σx·qc − x̄·Σqc)
                # / Σqc², and the residual expands in the window's
                # raw moments — d² = Σx² − 2aΣxq − 2bΣx + a²Σq² +
                # 2abΣq + m·b² (the same expansion the exact
                # integer-sum path evaluates; agrees with the scalar
                # loop to ~1e-9 abs, both round to 6dp)
                X = np.lib.stride_tricks.sliding_window_view(val, m)[idx]
                sx = X.sum(axis=1)
                xm = sx / m
                if qvar > 0:
                    a = (X @ qc - xm * sqc) / qvar
                else:
                    a = np.ones(len(idx))
                a = np.clip(a, a_lo, a_hi)
                b = np.clip(xm - a * qm, -beta, beta)
                sxx = np.einsum("ij,ij->i", X, X)
                sxq = X @ q
                d2 = np.maximum(
                    sxx
                    - 2.0 * a * sxq
                    - 2.0 * b * sx
                    + a * a * sqq_raw
                    + 2.0 * a * b * sq_raw
                    + m * b * b,
                    0.0,
                )
                hit = d2 <= eps2
                yield pdl.DataFrame(
                    {
                        "start": starts[idx][hit].astype("int64"),
                        "dist": np.round(np.sqrt(d2[hit]), 6),
                        "alpha": np.round(a[hit], 6),
                        "beta": np.round(b[hit], 6),
                    }
                )

    return (
        _chunked(series, m, 0, chunk)
        .repartition("chunk_id")
        .mapInPandas(gen, schema="start long, dist double, alpha double, beta double")
    )


# ---------------------------------------------------------------------------
# exact (oracle-reproducible) normalized matching — integer window sums
# + closed-form double math evaluated identically in any engine
# ---------------------------------------------------------------------------


def window_int_sums(
    series: DataFrame,
    query: list[float],
    value_scale: int,
    chunk: int = 8192,
    prune=None,
) -> DataFrame:
    """(start, sx, sxx, sxq) for every complete width-m window, where
    sx/sxx/sxq are EXACT int64 sums of scaled values: sx = Σ X[s+i],
    sxx = Σ X[s+i]², sxq = Σ X[s+i]·Q[i] with X = rint(value*scale).

    Integer sums are order-independent, so the distributed chunked
    computation is bit-equal to any SQL engine's GROUP BY sum — the
    foundation that makes the normalized-match closed forms (zNorm,
    cNSM) reproducible in the DuckDB oracle. Chunked with overlap
    replication like sliding_stats; no global sort.

    ``prune(sx, sxx, segmean) -> keep mask`` (numpy, per chunk) drops
    windows BEFORE the O(m)-per-window sxq dot product — the engine's
    ENABLE_STD_FILTER analogue (NormQueryEngine.java:54-56). segmean
    (offset, width) -> per-window mean of values[start+offset :
    start+offset+width], from the same cumsum (O(1) per window). The
    mask must be conservative w.r.t. the caller's final exact
    distance filter; pruned windows emit no row at all.
    """
    q = np.rint(np.asarray(query, dtype=np.float64) * value_scale).astype(np.int64)
    m = len(q)

    def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        pos = pdf["pos"].to_numpy()
        val = pdf["value"].to_numpy(dtype=np.float64)
        base = int(pdf["chunk_id"].iloc[0]) * chunk
        hi = base + chunk
        if len(val) < m:
            return pd.DataFrame(
                {"start": [], "sx": [], "sxx": [], "sxq": []}
            ).astype("int64")
        X = np.rint(val * value_scale).astype(np.int64)
        starts = pos[: len(X) - m + 1]
        own = (starts >= base) & (starts < hi) & (pos[m - 1 :] == starts + m - 1)
        c1 = np.concatenate(([0], np.cumsum(X)))
        c2 = np.concatenate(([0], np.cumsum(X * X)))
        idx = np.flatnonzero(own)
        sx = c1[idx + m] - c1[idx]
        sxx = c2[idx + m] - c2[idx]
        if prune is not None:

            def segmean(offset: int, width: int) -> np.ndarray:
                return (c1[idx + offset + width] - c1[idx + offset]) / (
                    width * value_scale
                )

            keep = prune(sx, sxx, segmean)
            idx, sx, sxx = idx[keep], sx[keep], sxx[keep]
        windows = np.lib.stride_tricks.sliding_window_view(X, m)
        sxq = windows[idx] @ q  # int64 matmul, survivors only — exact
        return pd.DataFrame(
            {
                "start": starts[idx],
                "sx": sx,
                "sxx": sxx,
                "sxq": sxq,
            }
        )

    return (
        _chunked(series, m, 0, chunk)
        .groupBy("chunk_id")
        .applyInPandas(
            per_chunk, schema="start long, sx long, sxx long, sxq long"
        )
    )


def znorm_d2_sql(m: int, sq: int | str, sqq: int | str) -> str:
    """SQL for the z-normalized squared distance from exact integer
    window sums (columns sx, sxx, sxq; sq/sqq are the query's own
    exact sums — int literals on the engine side, column refs in the
    DuckDB oracle; equal values give bit-equal doubles either way).

    Derivation: with population std, Σ xn² = Σ qn² = m, so
    d² = 2m(1 − r), r = Cxq/√(Vx·Vq) with V/C the scaled second
    moments (m·Σxx − (Σx)², all exact int64). The same formula runs
    in Spark and DuckDB: identical IEEE ops on identical inputs give
    bit-identical doubles.
    """
    vx = f"({m} * sxx - sx * sx)"
    cxq = f"({m} * sxq - sx * ({sq}))"
    if isinstance(sq, int) and isinstance(sqq, int):
        vq_val = m * sqq - sq * sq
        if vq_val == 0:
            return f"CASE WHEN {vx} = 0 THEN 0.0 ELSE CAST({m} AS DOUBLE) END"
        vq = str(vq_val)
        return (
            f"CASE WHEN {vx} = 0 THEN CAST({m} AS DOUBLE) "
            f"ELSE greatest(2.0 * CAST({m} AS DOUBLE) * "
            f"(1.0 - CAST({cxq} AS DOUBLE) / "
            f"sqrt(CAST({vx} AS DOUBLE) * CAST({vq} AS DOUBLE))), 0.0) END"
        )
    vq = f"({m} * ({sqq}) - ({sq}) * ({sq}))"
    return (
        f"CASE WHEN {vx} = 0 AND {vq} = 0 THEN 0.0 "
        f"WHEN {vx} = 0 OR {vq} = 0 THEN CAST({m} AS DOUBLE) "
        f"ELSE greatest(2.0 * CAST({m} AS DOUBLE) * "
        f"(1.0 - CAST({cxq} AS DOUBLE) / "
        f"sqrt(CAST({vx} AS DOUBLE) * CAST({vq} AS DOUBLE))), 0.0) END"
    )


def cnsm_fit_sql(
    m: int,
    sq: int | str,
    sqq: int | str,
    scale: int,
    alpha: float,
    beta: float,
) -> tuple[str, str, str]:
    """(a_sql, b_sql, d2_sql) for the clamped least-squares cNSM fit
    from exact integer window sums — same reproducibility contract as
    znorm_d2_sql. a* = Cxq/Vq clamped to [1/alpha, alpha]; b* =
    mean(x) − a·mean(q) clamped to [−beta, beta]; d² expanded in the
    exact integer moments."""
    cxq = f"({m} * sxq - sx * ({sq}))"
    if isinstance(sq, int) and isinstance(sqq, int):
        vq_val = m * sqq - sq * sq
        if vq_val == 0:
            a_raw = "1.0"
        else:
            a_raw = f"(CAST({cxq} AS DOUBLE) / CAST({vq_val} AS DOUBLE))"
    else:
        vq = f"({m} * ({sqq}) - ({sq}) * ({sq}))"
        a_raw = (
            f"(CASE WHEN {vq} = 0 THEN 1.0 "
            f"ELSE CAST({cxq} AS DOUBLE) / CAST({vq} AS DOUBLE) END)"
        )
    a_sql = f"least(greatest({a_raw}, {1.0 / alpha!r}), {float(alpha)!r})"
    denom = float(scale * m)
    b_raw = (
        f"(CAST(sx AS DOUBLE) / {denom!r} - _a * "
        f"(CAST(({sq}) AS DOUBLE) / {denom!r}))"
    )
    b_sql = f"least(greatest({b_raw}, {-float(beta)!r}), {float(beta)!r})"
    s2 = float(scale * scale)
    d2_sql = (
        f"greatest((CAST(sxx AS DOUBLE) - 2.0 * _a * CAST(sxq AS DOUBLE) "
        f"+ _a * _a * CAST(({sqq}) AS DOUBLE)) / {s2!r} "
        f"- 2.0 * _b * (CAST(sx AS DOUBLE) - _a * CAST(({sq}) AS DOUBLE)) / {float(scale)!r} "
        f"+ CAST({m} AS DOUBLE) * _b * _b, 0.0)"
    )
    return a_sql, b_sql, d2_sql


def _query_int_sums(query: list[float], scale: int) -> tuple[int, int, int]:
    q = np.rint(np.asarray(query, dtype=np.float64) * scale).astype(np.int64)
    return len(q), int(q.sum()), int((q * q).sum())


_PRUNE_SLACK = 1e-6  # absolute float-evaluation guard on exact bounds


def znorm_segment_prune(
    query: list[float],
    epsilon: float,
    value_scale: int,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
):
    """Conservative keep-mask for z-normalized matching from window
    stats only (no per-element work): if ||x_hat - q_hat|| <= eps then
    for each query segment S, |mean_S(x_hat) - mean_S(q_hat)| <=
    eps/sqrt(|S|) (Cauchy-Schwarz), and mean_S(x_hat) =
    (mean_S(x) - mu_x)/sigma_x is O(1) per window from cumsums — the
    normalized-index probe of NormQueryEngine.java:136-243 re-derived
    against sliding stats instead of a beta-partitioned index file.
    sigma_x ~ 0 windows are kept (the exact formula decides them)."""
    qv = np.rint(np.asarray(query, dtype=np.float64) * value_scale) / value_scale
    m = len(qv)
    qstd = float(qv.std())
    if qstd <= 0:
        return None  # degenerate query: no sound stats bound
    qn = (qv - qv.mean()) / qstd
    segs = [
        (s.offset, s.width, float(qn[s.offset : s.offset + s.width].mean()))
        for s in plan_segments(list(qv), widths)
    ]

    def prune(sx, sxx, segmean):
        mu = sx / (m * value_scale)
        var = np.maximum(sxx / (m * value_scale * value_scale) - mu * mu, 0.0)
        sd = np.sqrt(var)
        degenerate = sd <= _PRUNE_SLACK
        keep = degenerate.copy()
        ok = ~degenerate
        sd_safe = np.where(degenerate, 1.0, sd)
        all_in = np.ones(len(sx), dtype=bool)
        for offset, width, qhm in segs:
            bound = epsilon / math.sqrt(width) + _PRUNE_SLACK
            all_in &= np.abs((segmean(offset, width) - mu) / sd_safe - qhm) <= bound
        keep |= ok & all_in
        return keep

    return prune


def cnsm_stats_prune(
    query: list[float],
    epsilon: float,
    alpha: float,
    beta: float,
    value_scale: int,
):
    """Conservative keep-mask for cNSM from window mean/std only: a
    match means exists a in [1/alpha, alpha], b in [-beta, beta] with
    ||x - (a q + b)|| <= eps, which forces
    mean(x) in [min_a(a mu_q) - beta - eps/sqrt(m),
                max_a(a mu_q) + beta + eps/sqrt(m)] and
    std(x)  in [sigma_q/alpha - eps/sqrt(m),
                alpha sigma_q + eps/sqrt(m)]
    (|mean r| <= eps/sqrt(m), std r <= eps/sqrt(m) for ||r|| <= eps)
    — the ENABLE_STD_FILTER screen (NormQueryEngine.java:54-56)."""
    qv = np.rint(np.asarray(query, dtype=np.float64) * value_scale) / value_scale
    m = len(qv)
    mq, sq_ = float(qv.mean()), float(qv.std())
    slack = epsilon / math.sqrt(m) + _PRUNE_SLACK
    a_lo, a_hi = 1.0 / alpha, alpha
    mu_lo = min(a_lo * mq, a_hi * mq) - beta - slack
    mu_hi = max(a_lo * mq, a_hi * mq) + beta + slack
    sd_lo = sq_ / alpha - slack
    sd_hi = alpha * sq_ + slack

    def prune(sx, sxx, segmean):
        mu = sx / (m * value_scale)
        var = np.maximum(sxx / (m * value_scale * value_scale) - mu * mu, 0.0)
        sd = np.sqrt(var)
        return (mu >= mu_lo) & (mu <= mu_hi) & (sd >= sd_lo) & (sd <= sd_hi)

    return prune


def subsequence_match_znorm_exact(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    value_scale: int = 100,
    chunk: int = 8192,
    widths: tuple[int, ...] = DEFAULT_WIDTHS,
) -> DataFrame:
    """NSM via exact integer window sums + closed-form distance — same
    semantics as subsequence_match_znorm (population std, std=0 → unit
    divisor) but bit-reproducible in any SQL engine (the DuckDB oracle
    evaluates the identical formula on identical integer sums).
    Windows failing the segment-mean stats screen skip the O(m) sxq
    dot product; the screen is complete, so results are unchanged."""
    m, sq, sqq = _query_int_sums(query, value_scale)
    sums = window_int_sums(
        series,
        query,
        value_scale,
        chunk,
        prune=znorm_segment_prune(query, epsilon, value_scale, widths),
    )
    d2 = znorm_d2_sql(m, sq, sqq)
    return (
        sums.selectExpr("start", f"{d2} AS d2")
        .filter(F.col("d2") <= epsilon * epsilon)
        .selectExpr("CAST(start AS BIGINT) AS start", "round(sqrt(d2), 6) AS dist")
    )


def subsequence_match_cnsm_exact(
    series: DataFrame,
    query: list[float],
    epsilon: float,
    alpha: float = 2.0,
    beta: float = 10.0,
    value_scale: int = 100,
    chunk: int = 8192,
) -> DataFrame:
    """cNSM via exact integer window sums + closed-form clamped fit —
    same semantics as subsequence_match_cnsm, oracle-reproducible.
    The mean/std stats screen (cnsm_stats_prune) drops windows before
    the O(m) sxq dot product; complete, so results are unchanged."""
    m, sq, sqq = _query_int_sums(query, value_scale)
    sums = window_int_sums(
        series,
        query,
        value_scale,
        chunk,
        prune=cnsm_stats_prune(query, epsilon, alpha, beta, value_scale),
    )
    a_sql, b_sql, d2_sql = cnsm_fit_sql(m, sq, sqq, value_scale, alpha, beta)
    return (
        sums.selectExpr("start", "sx", "sxx", "sxq", f"{a_sql} AS _a")
        .selectExpr("start", "sx", "sxx", "sxq", "_a", f"{b_sql} AS _b")
        .selectExpr("start", "_a", "_b", f"{d2_sql} AS d2")
        .filter(F.col("d2") <= epsilon * epsilon)
        .selectExpr(
            "CAST(start AS BIGINT) AS start",
            "round(sqrt(d2), 6) AS dist",
            "round(_a, 6) AS alpha",
            "round(_b, 6) AS beta",
        )
    )


def brute_force_ed(series_values: np.ndarray, query: np.ndarray, epsilon: float):
    """O(n*m) numpy reference scan (test oracle)."""
    n, m = len(series_values), len(query)
    out = []
    for s in range(n - m + 1):
        d2 = float(np.dot(series_values[s : s + m] - query, series_values[s : s + m] - query))
        if d2 <= epsilon * epsilon:
            out.append((s, round(math.sqrt(d2), 6)))
    return out
