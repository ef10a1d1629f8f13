"""Independent oracles for each batch's output, run outside the timed loop.

DS-Join and DSim-Join batches are recomputed by DuckDB straight from
the generated files, all batches of a run in one query; S3M windows by
a numpy scan. ``check_all`` maps each batch to None when its output
matches and to a one-line reason otherwise.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa


def _rows(table: pa.Table, cols: list[str]) -> list[tuple]:
    return sorted(zip(*(table.column(c).to_pylist() for c in cols)))


def _diff(got: list[tuple], want: list[tuple]) -> str | None:
    if got == want:
        return None
    gs, ws = set(got), set(want)
    extra, missing = sorted(gs - ws)[:3], sorted(ws - gs)[:3]
    return (
        f"{len(got)} rows vs {len(want)} expected; "
        f"unexpected {extra}, missing {missing}"
    )


class Oracle:
    COLS: list[str] = []
    QUERY = ""  # over ``batch`` (the run's batches, tagged ``bid``); bid first

    def __init__(self, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        self.con.execute("SET threads=1")

    def check_all(self, inputs: dict[int, pa.Table], outputs: dict[int, pa.Table]) -> dict[int, str | None]:
        tagged = pa.concat_tables(
            t.append_column("bid", pa.array([b] * t.num_rows, pa.int64()))
            for b, t in inputs.items()
        )
        self.con.register("batch", tagged)
        want: dict[int, list[tuple]] = {b: [] for b in inputs}
        for row in self.con.execute(self.QUERY).fetchall():
            want[row[0]].append(row[1:])
        self.con.unregister("batch")
        return {
            b: _diff(_rows(outputs[b], self.COLS), sorted(want[b])) if b in outputs else None
            for b in inputs
        }

    def check(self, batch: pa.Table, out: pa.Table) -> str | None:
        return self.check_all({0: batch}, {0: out})[0]

    def close(self) -> None:
        self.con.close()


class JoinOracle(Oracle):
    """``batch ⋈ store`` on the generated store parquet."""

    COLS = ["k", "row_id", "qty", "amount", "p_brand", "p_price"]
    QUERY = (
        "SELECT b.bid, b.k, b.row_id, b.qty, b.amount, s.p_brand, s.p_price "
        "FROM batch b JOIN store s ON b.k = s.k"
    )

    def __init__(self, tmp_dir: str, store_path: str):
        super().__init__(tmp_dir)
        self.con.execute(
            f"CREATE TABLE store AS SELECT * FROM read_parquet('{store_path}')"
        )


class SimOracle(Oracle):
    """Brute-force Jaccard >= t over every (batch doc, stored doc) pair
    sharing a token: exact (inter, uni) counts, no signatures."""

    COLS = ["a_id", "b_id", "inter", "uni"]

    def __init__(self, tmp_dir: str, corpus_path: str, t_num: int, t_den: int):
        super().__init__(tmp_dir)
        self.con.execute(
            "CREATE TABLE b_tok AS SELECT id AS b_id, len(tokens) AS b_sz, "
            f"unnest(tokens) AS tok FROM read_parquet('{corpus_path}')"
        )
        self.QUERY = f"""
            WITH a_tok AS (
                SELECT bid, id AS a_id, len(tokens) AS a_sz, unnest(tokens) AS tok
                FROM batch),
            shared AS (
                SELECT bid, a_id, b_id, any_value(a_sz) AS a_sz,
                       any_value(b_sz) AS b_sz, count(*) AS inter
                FROM a_tok JOIN b_tok USING (tok) GROUP BY bid, a_id, b_id)
            SELECT bid, a_id, b_id, inter, a_sz + b_sz - inter AS uni FROM shared
            WHERE {t_den} * inter >= {t_num} * (a_sz + b_sz - inter)
            """


# ---------------------------------------------------------------------------
# S3M: numpy scans over the generated series
# ---------------------------------------------------------------------------


def ed_matches(vals: np.ndarray, q: np.ndarray, eps: float, scale: int = 100) -> list[tuple[int, float]]:
    """Every window start within ED eps of q, on exact scaled integers."""
    x = np.rint(vals * scale).astype(np.int64)
    qi = np.rint(q * scale).astype(np.int64)
    d2 = ((np.lib.stride_tricks.sliding_window_view(x, len(q)) - qi) ** 2).sum(axis=1)
    lim = int(round(eps * scale)) ** 2
    idx = np.flatnonzero(d2 <= lim)
    return [(int(i), round(float(np.sqrt(d2[i])) / scale, 6)) for i in idx]


def znorm_matches(vals: np.ndarray, q: np.ndarray, eps: float, scale: int = 100) -> list[tuple[int, float]]:
    """Window starts whose z-normalised ED to the z-normalised query is
    within eps, from exact integer window moments: d2 = 2m(1 - r)."""
    m = len(q)
    x = np.rint(vals * scale).astype(np.int64)
    qi = np.rint(q * scale).astype(np.int64)
    c1 = np.concatenate(([0], np.cumsum(x)))
    c2 = np.concatenate(([0], np.cumsum(x * x)))
    sx, sxx = c1[m:] - c1[:-m], c2[m:] - c2[:-m]
    sxq = np.lib.stride_tricks.sliding_window_view(x, m) @ qi
    sq, sqq = int(qi.sum()), int((qi * qi).sum())
    vx = m * sxx - sx * sx
    cxq = m * sxq - sx * sq
    vq = float(m * sqq - sq * sq)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = cxq.astype(np.float64) / np.sqrt(vx.astype(np.float64) * vq)
    d2 = np.where(vx == 0, float(m), np.maximum(2.0 * float(m) * (1.0 - r), 0.0))
    idx = np.flatnonzero(d2 <= eps * eps)
    return [(int(i), round(float(np.sqrt(d2[i])), 6)) for i in idx]


def dtw_banded(x: np.ndarray, q: np.ndarray, rho: int) -> float:
    """Squared banded (Sakoe-Chiba rho) DTW cost, plain DP."""
    m = len(q)
    prev = np.full(m + 1, np.inf)
    prev[0] = 0.0
    for i in range(1, m + 1):
        cur = np.full(m + 1, np.inf)
        for j in range(max(1, i - rho), min(m, i + rho) + 1):
            cur[j] = (x[i - 1] - q[j - 1]) ** 2 + min(prev[j], prev[j - 1], cur[j - 1])
        prev = cur
    return float(prev[m])


def dtw_matches(vals: np.ndarray, q: np.ndarray, eps: float, rho: int) -> list[tuple[int, float]]:
    """Window starts within banded-DTW eps. LB_Keogh only skips windows
    whose lower bound already exceeds eps, so the scan stays exact."""
    m = len(q)
    lo = np.array([q[max(0, j - rho) : j + rho + 1].min() for j in range(m)])
    hi = np.array([q[max(0, j - rho) : j + rho + 1].max() for j in range(m)])
    w = np.lib.stride_tricks.sliding_window_view(vals, m)
    lb = (np.clip(w - hi, 0, None) ** 2 + np.clip(lo - w, 0, None) ** 2).sum(axis=1)
    eps2 = eps * eps
    out = []
    for i in np.flatnonzero(lb <= eps2 + 1e-9):
        cost = dtw_banded(w[i], q, rho)
        if cost <= eps2:
            out.append((int(i), round(float(np.sqrt(cost)), 6)))
    return out


def best_match(vals: np.ndarray, q: np.ndarray, scale: int = 100) -> tuple[int, float]:
    """(lowest argmin start, squared scaled distance) of q over the series."""
    x = np.rint(vals * scale).astype(np.int64)
    qi = np.rint(q * scale).astype(np.int64)
    d2 = ((np.lib.stride_tricks.sliding_window_view(x, len(q)) - qi) ** 2).sum(axis=1)
    i = int(np.argmin(d2))
    return i, float(d2[i])
