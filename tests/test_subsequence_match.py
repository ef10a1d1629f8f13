"""Subsequence matching vs numpy brute-force oracles (SURVEY §5:
O(nm) ED/DTW scan as the reference implementation)."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.subsequence_match import (
    brute_force_ed,
    build_kv_index,
    plan_segments,
    sliding_stats,
    subsequence_match_dtw,
    subsequence_match_ed,
    subsequence_match_znorm,
)

N, M = 3000, 60
CHUNK = 512  # small chunk so boundary replication is exercised


@pytest.fixture(scope="module")
def series(spark):
    rng = random.Random(5)
    vals = []
    x = 0.0
    for _ in range(N):
        x += rng.gauss(0, 1)
        vals.append(round(x, 2))
    # plant a noisy copy of [500:560] at 2000 (near match, eps-close)
    for i in range(M):
        vals[2000 + i] = round(vals[500 + i] + rng.gauss(0, 0.05), 2)
    arr = np.array(vals)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, value double"
    )
    df.cache().count()
    return df, arr


def test_sliding_stats_exact(spark, series):
    df, arr = series
    got = {
        r.pos: (r.mean, r.std)
        for r in sliding_stats(df, 25, chunk=CHUNK).collect()
    }
    assert len(got) == N - 24
    for pos in (0, 100, CHUNK - 1, CHUNK, CHUNK + 1, N - 25):
        w = arr[pos : pos + 25]
        assert math.isclose(got[pos][0], w.mean(), rel_tol=1e-9)
        assert math.isclose(got[pos][1], w.std(), rel_tol=1e-6, abs_tol=1e-9)


def test_index_covers_all_positions(spark, series):
    df, _ = series
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    for w in (25, 50):
        rows = idx.filter(F.col("w") == w).collect()
        covered = sorted(
            p for r in rows for p in range(r.pos_start, r.pos_end + 1)
        )
        assert covered == list(range(N - w + 1))  # disjoint + complete


def test_ed_match_equals_brute_force(spark, series):
    df, arr = series
    q = arr[500 : 500 + M].tolist()
    eps = 1.0  # catches the exact match and the planted noisy copy
    got = sorted((r.start, r.dist) for r in
                 subsequence_match_ed(df, q, eps, widths=(25, 50), value_scale=100).collect())
    want = brute_force_ed(arr, np.array(q), eps)
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gs, gd), (ws, wd) in zip(got, want):
        assert math.isclose(gd, wd, abs_tol=1e-6)
    assert {g[0] for g in got} >= {500, 2000}


def test_ed_match_wide_epsilon(spark, series):
    """Larger eps: pruning keeps every brute-force hit (completeness)."""
    df, arr = series
    q = arr[700 : 700 + M].tolist()
    eps = 8.0
    got = {r.start for r in
           subsequence_match_ed(df, q, eps, widths=(25, 50), value_scale=100).collect()}
    want = {s for s, _ in brute_force_ed(arr, np.array(q), eps)}
    assert got == want and len(want) > 1


def test_plan_segments_disjoint_cover():
    q = list(range(130))
    segs = plan_segments(q, widths=(25, 50))
    spans = [(s.offset, s.offset + s.width) for s in segs]
    assert spans[0][0] == 0
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert c == b
    assert spans[-1][1] <= 130 and 130 - spans[-1][1] < 25


def test_dtw_equals_brute_force(spark, series):
    df, arr = series
    q = arr[500 : 500 + M]
    rho, eps = 3, 4.0

    def dtw_ref(x, q, rho):
        m = len(q)
        D = np.full((m + 1, m + 1), np.inf)
        D[0, 0] = 0.0
        for i in range(1, m + 1):
            for j in range(max(1, i - rho), min(m, i + rho) + 1):
                d = (x[i - 1] - q[j - 1]) ** 2
                D[i, j] = d + min(D[i - 1, j], D[i - 1, j - 1], D[i, j - 1])
        return math.sqrt(D[m, m])

    want = {
        s: round(dtw_ref(arr[s : s + M], q, rho), 6)
        for s in range(N - M + 1)
        if dtw_ref(arr[s : s + M], q, rho) <= eps
    }
    got = {r.start: r.dist for r in
           subsequence_match_dtw(df, q.tolist(), eps, rho, chunk=CHUNK).collect()}
    assert set(got) == set(want)
    for s in want:
        assert math.isclose(got[s], want[s], abs_tol=1e-6)


def test_dtw_index_probe_equals_full_scan(spark, series):
    """The envelope-widened mean-range probe (QueryEngineDtw phase 1)
    must not change DTW results, and on this random-walk series (whose
    window means spread widely) it must prune hard."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        dtw_envelope_probes,
        probe_index_ranges,
    )

    df, arr = series
    q = arr[500 : 500 + M]
    rho, eps = 3, 4.0
    widths = (25, 50)
    full = {r.start: r.dist for r in
            subsequence_match_dtw(df, q.tolist(), eps, rho, chunk=CHUNK).collect()}
    idx = build_kv_index(df, widths=widths, value_scale=100)
    probed = {r.start: r.dist for r in
              subsequence_match_dtw(
                  df, q.tolist(), eps, rho, chunk=CHUNK,
                  index=idx, n_positions=N, widths=widths,
              ).collect()}
    assert probed == full and len(full) > 0
    n_cand = probe_index_ranges(
        idx, dtw_envelope_probes(q.tolist(), rho, eps, widths), N, M
    ).count()
    assert n_cand < 0.2 * (N - M + 1)  # candidates << window count


def test_normalized_prunes_complete_and_selective(series):
    """znorm/cnsm stats screens: never drop a true match; prune most
    windows on the random-walk fixture (numpy-level check)."""
    import numpy as np

    from distributed_stream_processing_spark.operators.subsequence_match import (
        cnsm_stats_prune,
        znorm_segment_prune,
    )

    _, arr = series
    q = arr[500 : 500 + M]
    scale = 100
    X = np.rint(arr * scale).astype(np.int64)
    c1 = np.concatenate(([0], np.cumsum(X)))
    c2 = np.concatenate(([0], np.cumsum(X * X)))
    idx = np.arange(N - M + 1)
    sx, sxx = c1[idx + M] - c1[idx], c2[idx + M] - c2[idx]

    def segmean(offset, width):
        return (c1[idx + offset + width] - c1[idx + offset]) / (width * scale)

    xs = np.rint(arr * scale) / scale
    sw = np.lib.stride_tricks.sliding_window_view(xs, M)
    qv = np.rint(q * scale) / scale
    qn = (qv - qv.mean()) / qv.std()

    # two w=25 segments: a single near-window-length segment would be
    # vacuous (z-normalized means are ~0 by construction); per-segment
    # normalized shape means are what discriminate
    eps = 1.0
    keep = znorm_segment_prune(q.tolist(), eps, scale, (25,))(sx, sxx, segmean)
    sds = sw.std(axis=1)
    xn = (sw - sw.mean(axis=1, keepdims=True)) / np.where(
        sds > 0, sds, 1.0
    )[:, None]
    d = np.sqrt(((xn - qn) ** 2).sum(axis=1))
    assert (d <= eps).any()  # the planted near-copy matches
    assert keep[d <= eps].all()  # complete
    assert keep.mean() < 0.2  # selective on spread-out means

    eps_c, al, be = 4.0, 2.0, 1.0
    keep_c = cnsm_stats_prune(q.tolist(), eps_c, al, be, scale)(sx, sxx, segmean)
    qc = qv - qv.mean()
    qvar = float(np.dot(qc, qc))
    a = np.clip(((sw - sw.mean(axis=1, keepdims=True)) @ qc) / qvar, 1 / al, al)
    b = np.clip(sw.mean(axis=1) - a * qv.mean(), -be, be)
    r = sw - (a[:, None] * qv + b[:, None])
    d_c = np.sqrt((r * r).sum(axis=1))
    assert keep_c[d_c <= eps_c].all()  # complete
    assert keep_c.mean() < 0.2  # mean/std screen selective here


def test_znorm_equals_brute_force(spark, series):
    df, arr = series
    q = arr[500 : 500 + M]
    qn = (q - q.mean()) / q.std()
    eps = 5.0
    want = {}
    for s in range(N - M + 1):
        x = arr[s : s + M]
        sd = x.std()
        xn = (x - x.mean()) / (sd if sd > 0 else 1.0)
        d = math.sqrt(float(np.dot(xn - qn, xn - qn)))
        if d <= eps:
            want[s] = round(d, 6)
    got = {r.start: r.dist for r in
           subsequence_match_znorm(df, q.tolist(), eps, chunk=CHUNK).collect()}
    assert set(got) == set(want)
    for s in want:
        assert math.isclose(got[s], want[s], abs_tol=1e-6)


def test_znorm_planted_exact_match_is_zero_not_nan(spark):
    """The closed form d² = m − 2·Σxn·qn + Σqn² cancels to about
    −1e-14 on an exact copy of the query (this series and query do
    so at every copy); the distance must read 0.0, not sqrt's NaN."""
    rng = np.random.default_rng(11)
    vals = np.round(rng.normal(size=2000).cumsum(), 2)
    q = vals[100:116].copy()
    planted = [300, 700, 1100, 1500, 1900]
    for s in planted:
        vals[s : s + len(q)] = q
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "pos long, value double"
    )
    got = {r.start: r.dist for r in
           subsequence_match_znorm(df, q.tolist(), 0.5, chunk=CHUNK).collect()}
    for s in [100] + planted:
        assert got.get(s) == 0.0, (s, got.get(s))


def test_znorm_exact_equals_numpy_path(spark, series):
    """The closed-form integer-sum zNorm path (oracle-reproducible)
    must agree with the numpy z-normalization to float tolerance."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        subsequence_match_znorm_exact,
    )

    df, arr = series
    q = arr[500 : 500 + M]
    eps = 5.0
    base = {r.start: r.dist for r in
            subsequence_match_znorm(df, q.tolist(), eps, chunk=CHUNK).collect()}
    exact = {r.start: r.dist for r in
             subsequence_match_znorm_exact(
                 df, q.tolist(), eps, value_scale=100, chunk=CHUNK
             ).collect()}
    assert set(exact) == set(base) and len(base) > 0
    for s in base:
        assert math.isclose(exact[s], base[s], abs_tol=1e-5)


def test_dp_segmenter_equals_greedy_results(spark, series):
    """DP segmentation is a cost optimization only — match results
    must be identical to the greedy segmentation (both complete)."""
    df, arr = series
    q = arr[700 : 700 + M].tolist()
    eps = 8.0
    greedy = {
        (r.start, r.dist)
        for r in subsequence_match_ed(
            df, q, eps, widths=(25, 50), value_scale=100
        ).collect()
    }
    dp = {
        (r.start, r.dist)
        for r in subsequence_match_ed(
            df, q, eps, widths=(25, 50), value_scale=100, segmenter="dp"
        ).collect()
    }
    assert dp == greedy and len(greedy) > 0


def test_dp_segments_cover_disjointly(spark, series):
    from distributed_stream_processing_spark.operators.subsequence_match import (
        build_kv_index,
        index_stats,
        plan_segments_dp,
    )

    df, arr = series
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    stats = index_stats(idx)
    q = arr[100:220].tolist()
    segs = plan_segments_dp(q, (25, 50), stats, epsilon=5.0)
    spans = [(s.offset, s.offset + s.width) for s in segs]
    assert spans[0][0] == 0
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert c == b
    assert 120 - spans[-1][1] < 25


def test_cnsm_equals_brute_force(spark, series):
    from distributed_stream_processing_spark.operators.subsequence_match import (
        subsequence_match_cnsm,
    )

    df, arr = series
    q = arr[500 : 500 + M]
    eps, alpha, beta = 2.0, 2.0, 10.0
    # plant a scaled+shifted copy: x = 1.5*q + 3 at 1000
    import numpy as np

    scaled = np.round(1.5 * q + 3.0, 2)
    rows = [(int(2900 + i), float(v)) for i, v in enumerate(scaled)]
    extra = spark.createDataFrame(rows, "pos long, value double")
    # positions 2900.. overlap the fixture tail; rebuild a standalone series
    vals2 = np.concatenate([arr[:2900], scaled, arr[2900 + M :]])
    df2 = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals2)], "pos long, value double"
    )

    qc = q - q.mean()
    qvar = float(np.dot(qc, qc))
    want = {}
    for s in range(len(vals2) - M + 1):
        x = vals2[s : s + M]
        a = float(np.dot(x - x.mean(), qc) / qvar)
        a = min(max(a, 1 / alpha), alpha)
        b = min(max(x.mean() - a * q.mean(), -beta), beta)
        r = x - (a * q + b)
        d = float(np.dot(r, r)) ** 0.5
        if d <= eps:
            want[s] = round(d, 6)
    got = {
        r.start: r.dist
        for r in subsequence_match_cnsm(
            df2, q.tolist(), eps, alpha, beta, chunk=CHUNK
        ).collect()
    }
    assert set(got) == set(want)
    assert 2900 in got  # the planted scaled+shifted copy is found
    assert 500 in got  # the identity match too (alpha=1, beta=0)
    for s in want:
        assert math.isclose(got[s], want[s], abs_tol=1e-6)

    # the closed-form integer-sum path (oracle-reproducible) agrees
    from distributed_stream_processing_spark.operators.subsequence_match import (
        subsequence_match_cnsm_exact,
    )

    exact = {
        r.start: (r.dist, r.alpha, r.beta)
        for r in subsequence_match_cnsm_exact(
            df2, q.tolist(), eps, alpha, beta, value_scale=100, chunk=CHUNK
        ).collect()
    }
    assert set(exact) == set(want)
    for s in want:
        assert math.isclose(exact[s][0], want[s], abs_tol=1e-5)


def test_index_save_load_probe_roundtrip(spark, series, tmp_path):
    """S9 parity (IndexFileOperator.java:127-170): probing a reloaded
    index gives exactly the probe-on-built result."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        load_kv_index,
        save_kv_index,
    )

    df, arr = series
    q = arr[500 : 500 + M].tolist()
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    path = str(tmp_path / "kvidx")
    save_kv_index(idx, path)
    idx2 = load_kv_index(spark, path)

    def run(index):
        return sorted(
            (r.start, round(r.dist, 6))
            for r in subsequence_match_ed(
                df, q, 1.0, widths=(25, 50), index=index,
                available_widths={25, 50},
            ).collect()
        )

    built, loaded = run(idx), run(idx2)
    assert built == loaded
    assert {s for s, _ in built} >= {500, 2000}


def test_sweep_probe_equals_explode_probe(spark, series):
    """The interval sweep-line probe must admit exactly the explode
    probe's candidate starts (and both matchers the same output)."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        plan_segments,
        probe_index,
    )

    df, arr = series
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    for qstart, eps in ((500, 1.0), (700, 8.0), (0, 3.0)):
        q = arr[qstart : qstart + M].tolist()
        segs = plan_segments(q, widths=(25, 50))
        kw = dict(
            epsilon=eps, n_positions=N, query_len=M,
            available_widths={25, 50},
        )
        explode = sorted(
            r.start for r in probe_index(idx, segs, **kw, method="explode").collect()
        )
        sweep = sorted(
            r.start for r in probe_index(idx, segs, **kw, method="sweep").collect()
        )
        assert sweep == explode and explode
    # full matcher parity through the sweep path
    q = arr[500 : 500 + M].tolist()
    got = sorted(
        (r.start, round(r.dist, 6))
        for r in subsequence_match_ed(
            df, q, 1.0, widths=(25, 50), value_scale=100, probe_method="sweep"
        ).collect()
    )
    want = sorted(
        (r.start, round(r.dist, 6))
        for r in subsequence_match_ed(
            df, q, 1.0, widths=(25, 50), value_scale=100
        ).collect()
    )
    assert got == want


def test_t11_truncation_cost_model():
    """T11 early probe termination: useless segments (covering the
    whole series — zero marginal pruning) are dropped, selective
    segments are kept, at least one probe always survives, and the
    kept probes stay offset-ordered."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        Segment,
        truncate_segments_cost,
    )

    n = 100_000
    # stats: width 25 has one bucket covering EVERYTHING (useless
    # probes) except around mean 0 where coverage is tiny (selective)
    stats = {25: [(-2.0, 50), (0.0, 50), (2.0, 50), (40.0, n)]}
    segs = [
        Segment(0, 25, 40.0),   # useless: covers ~all positions
        Segment(25, 25, 0.0),   # selective: ~150 positions
        Segment(50, 25, 40.0),  # useless again
    ]
    kept = truncate_segments_cost(segs, stats, epsilon=5.0, n_positions=n)
    assert [s.offset for s in kept] == [25]  # only the selective probe pays
    # all-selective: every added probe keeps paying -> all kept
    stats2 = {25: [(0.0, 2000), (2.0, 2000)]}
    segs2 = [Segment(0, 25, 0.0), Segment(25, 25, 2.0), Segment(50, 25, 0.0)]
    kept2 = truncate_segments_cost(segs2, stats2, epsilon=5.0, n_positions=n)
    assert [s.offset for s in kept2] == [0, 25, 50]
    # never empty
    assert truncate_segments_cost(
        [Segment(0, 25, 40.0)], stats, 5.0, n
    ) == [Segment(0, 25, 40.0)]


def test_t11_early_stop_keeps_results_exact(spark, series):
    """early_stop=True may only widen the candidate superset — the
    verified output must equal the untruncated dp run."""
    df, arr = series
    q = arr[300 : 300 + M].tolist()
    eps = 8.0
    full = {
        (r.start, r.dist)
        for r in subsequence_match_ed(
            df, q, eps, widths=(25, 50), value_scale=100, segmenter="dp",
            early_stop=False,
        ).collect()
    }
    cut = {
        (r.start, r.dist)
        for r in subsequence_match_ed(
            df, q, eps, widths=(25, 50), value_scale=100, segmenter="dp",
            early_stop=True,
        ).collect()
    }
    assert cut == full and len(full) > 0


def test_index_mr_values_match_numpy(spark, series):
    """The one-pass multi-width kernel's grid assignment must equal a
    global numpy reference per width (positions are covered by
    test_index_covers_all_positions; this pins the VALUES — exact
    integer window sums, floor to the 0.25 grid)."""
    df, arr = series
    idx = build_kv_index(df, widths=(25, 50), value_scale=100)
    from distributed_stream_processing_spark.operators.subsequence_match import (
        _GRID,
    )

    vi = np.rint(arr * 100).astype(np.int64)
    ci = np.concatenate(([0], np.cumsum(vi)))
    for w in (25, 50):
        want = np.floor((ci[w:] - ci[:-w]) / float(100 * w * _GRID)) * _GRID
        got = np.empty(N - w + 1)
        for r in idx.filter(F.col("w") == w).collect():
            got[r.pos_start : r.pos_end + 1] = r.mr
        assert (got == want).all()


def test_index_wide_width_autosizes_chunk(spark):
    """build_kv_index auto-sizes the chunk to cover the widest window
    (VERDICT r12 task 5) — a width past the old 8192 default needs no
    caller tuning, and the index it builds is numpy-exact."""
    rng = random.Random(9)
    vals, x = [], 0.0
    for _ in range(20_000):
        x += rng.gauss(0, 1)
        vals.append(round(x, 2))
    arr = np.array(vals)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, value double"
    )
    w = 8194
    idx = build_kv_index(df, widths=(25, w), value_scale=100)
    rows = idx.filter(F.col("w") == w).collect()
    assert rows, "wide width produced no runs"
    # exact grid means from numpy for every window start
    vi = np.rint(arr * 100).astype(np.int64)
    c = np.concatenate(([0], np.cumsum(vi)))
    sums = c[w:] - c[:-w]
    want = np.floor(sums / (100.0 * w * 0.5)) * 0.5
    got = np.full(len(want), np.nan)
    for r in rows:
        got[r.pos_start : r.pos_end + 1] = r.mr
    assert (got == want).all()


def test_index_width_exceeding_chunk_overlap_raises(spark, series):
    """The internal invariant stays loud: _index_runs called with a
    chunk smaller than the widest window must refuse (a window
    spanning >1 boundary would silently drop runs)."""
    from distributed_stream_processing_spark.operators.subsequence_match import (
        _index_runs,
    )

    df, _ = series
    import pytest

    with pytest.raises(ValueError, match="chunk overlap bound"):
        _index_runs(df, (25, 8194), 100, chunk=8192).count()
