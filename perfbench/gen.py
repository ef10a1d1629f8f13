"""Deterministic input generators for the micro-batch benchmark.

Every table is a pure function of ``(seed, workload, part)``: each part
draws from its own ``numpy.random.default_rng([seed, tag, part])``
stream, so the same seed gives byte-identical parquet files whatever
order the parts are generated in, and another seed gives other data.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed: int, workload: str, part: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(workload.encode()), part])


def write_parquet(table: pa.Table, path: str, row_group_size: int = 65536) -> None:
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")


# ---------------------------------------------------------------------------
# DS-Join: a keyed store and keyed stream batches
# ---------------------------------------------------------------------------

STORE_SCHEMA = pa.schema(
    [("k", pa.int64()), ("p_brand", pa.int32()), ("p_price", pa.float64())]
)
STREAM_SCHEMA = pa.schema(
    [("k", pa.int64()), ("row_id", pa.int64()), ("qty", pa.int32()), ("amount", pa.float64())]
)


def dsjoin_store(seed: int, workload: str, n_keys: int) -> pa.Table:
    """One row per key 0..n_keys-1, written in key order: the file is
    clustered on ``k``, so its row-group min/max ranges do not overlap."""
    rng = rng_for(seed, workload, 0)
    return pa.table(
        {
            "k": np.arange(n_keys, dtype=np.int64),
            "p_brand": rng.integers(0, 50, n_keys, dtype=np.int32),
            "p_price": np.round(rng.uniform(1.0, 2000.0, n_keys), 2),
        },
        schema=STORE_SCHEMA,
    )


def _stream_rows(rng: np.random.Generator, keys: np.ndarray, first_row: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "k": keys.astype(np.int64),
            "row_id": np.arange(first_row, first_row + n, dtype=np.int64),
            "qty": rng.integers(1, 50, n, dtype=np.int32),
            "amount": np.round(rng.uniform(1.0, 100.0, n), 2),
        },
        schema=STREAM_SCHEMA,
    )


def hot_batch(seed: int, workload: str, batch: int, rows: int, hot_keys: int, zipf_a: float) -> pa.Table:
    """Zipf-ranked keys over a fixed hot set [0, hot_keys); ranks map to
    keys through a seed-fixed permutation so the hot head is not simply
    the smallest keys."""
    perm = rng_for(seed, workload, 1).permutation(hot_keys)
    rng = rng_for(seed, workload, 1000 + batch)
    ranks = (rng.zipf(zipf_a, rows) - 1) % hot_keys
    return _stream_rows(rng, perm[ranks], batch * rows)


def drift_batch(seed: int, workload: str, batch: int, rows: int, window_keys: int, step: int) -> pa.Table:
    """Uniform keys over the sliding range [batch*step, batch*step + window_keys)."""
    rng = rng_for(seed, workload, 1000 + batch)
    keys = batch * step + rng.integers(0, window_keys, rows)
    return _stream_rows(rng, keys, batch * rows)


# ---------------------------------------------------------------------------
# DSim-Join: a token-set corpus and query batches with planted near-duplicates
# ---------------------------------------------------------------------------

DOC_SCHEMA = pa.schema([("id", pa.int64()), ("tokens", pa.list_(pa.string()))])
STREAM_ID_BASE = 1_000_000_000


def _zipf_probs(vocab: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** a
    return w / w.sum()


def _draw_doc(rng: np.random.Generator, probs: np.ndarray, lo: int, hi: int) -> list[str]:
    n = int(rng.integers(lo, hi + 1))
    toks = rng.choice(len(probs), size=n, replace=False, p=probs)
    return [f"w{t}" for t in np.sort(toks)]


def dsim_corpus(seed: int, workload: str, n_docs: int, vocab: int, zipf_a: float, lo: int, hi: int) -> pa.Table:
    rng = rng_for(seed, workload, 0)
    probs = _zipf_probs(vocab, zipf_a)
    docs = [_draw_doc(rng, probs, lo, hi) for _ in range(n_docs)]
    return pa.table({"id": np.arange(n_docs, dtype=np.int64), "tokens": docs}, schema=DOC_SCHEMA)


def near_duplicate(doc: list[str], below: bool) -> list[str]:
    """Drop tokens so that Jaccard(result, doc) = (n-k)/n sits just
    above (k = ceil(n/5) - 1, never below 0.8) or just below
    (k = floor(n/5) + 1, always below 0.8) the 4/5 threshold."""
    n = len(doc)
    k = n // 5 + 1 if below else -(-n // 5) - 1
    return doc[: n - k]


def dsim_batch(seed: int, workload: str, batch: int, rows: int, corpus: list[list[str]], vocab: int, zipf_a: float, lo: int, hi: int) -> pa.Table:
    """Per ten documents: one exact duplicate of a stored doc, two near
    duplicates just above the threshold, two just below, five novel
    docs drawn from the corpus's token distribution."""
    rng = rng_for(seed, workload, 1000 + batch)
    probs = _zipf_probs(vocab, zipf_a)
    docs = []
    for i in range(rows):
        slot = i % 10
        if slot < 5:
            src = corpus[int(rng.integers(0, len(corpus)))]
            docs.append(list(src) if slot == 0 else near_duplicate(src, below=slot >= 3))
        else:
            docs.append(_draw_doc(rng, probs, lo, hi))
    ids = STREAM_ID_BASE + batch * rows + np.arange(rows, dtype=np.int64)
    return pa.table({"id": ids, "tokens": docs}, schema=DOC_SCHEMA)


# ---------------------------------------------------------------------------
# S3M: a random-walk series with planted patterns, and stream windows
# ---------------------------------------------------------------------------

SERIES_SCHEMA = pa.schema([("pos", pa.int64()), ("value", pa.float64())])


def s3m_series(seed: int, workload: str, n: int, window: int, n_patterns: int) -> tuple[pa.Table, np.ndarray, list[int]]:
    """Two-decimal random walk (exact at value_scale=100) in which
    ``n_patterns`` seed-chosen windows are copied to two further
    offsets each: once exactly and once with +-0.05 noise. Returns the
    table, the values and the pattern source offsets."""
    rng = rng_for(seed, workload, 0)
    vals = np.round(np.cumsum(np.round(rng.normal(0.0, 1.0, n), 2)), 2)
    slots = rng.choice(n // (2 * window) - 1, size=3 * n_patterns, replace=False)
    sources = []
    for p in range(n_patterns):
        src, exact, noisy = (int(s) * 2 * window for s in slots[3 * p : 3 * p + 3])
        vals[exact : exact + window] = vals[src : src + window]
        noise = np.round(rng.uniform(-0.05, 0.05, window), 2)
        vals[noisy : noisy + window] = np.round(vals[src : src + window] + noise, 2)
        sources.append(src)
    table = pa.table({"pos": np.arange(n, dtype=np.int64), "value": vals}, schema=SERIES_SCHEMA)
    return table, vals, sources


def s3m_window(seed: int, workload: str, window_id: int, vals: np.ndarray, window: int, pred: int, src: int | None) -> tuple[np.ndarray, float]:
    """A stream window copied from ``src`` (a random offset when None)
    of the stored series with +-0.03 noise, and its delayed label: the
    last delta ``pred`` points after the window."""
    rng = rng_for(seed, workload, 1000 + window_id)
    if src is None:
        src = int(rng.integers(0, len(vals) - window - pred - 1))
    seg = np.round(vals[src : src + window + pred] + np.round(rng.uniform(-0.03, 0.03, window + pred), 2), 2)
    return seg[:window], float(np.round(seg[window + pred - 1] - seg[window + pred - 2], 2))
