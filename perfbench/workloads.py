"""The benchmark's workloads: one closed micro-batch loop per workload.

Each workload generates its inputs from the seed, sets up its pipeline
through the engine's public objects, runs warm-up batches, then runs
timed batches one at a time: a batch is submitted only after the
previous batch's output has been written to the sink. Batch outputs
are checked against an independent oracle after the loop.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass
from fractions import Fraction

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from spans import JobGroupCounter, peak_rss_mb, state_probe

# times the pipeline is set up per run; setup_s reports the median
SETUP_REPEATS = 3


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile that
    leaves at least 10 samples above it. Below 21 samples no percentile
    above the median qualifies, and the median is reported."""
    n = len(latencies)
    if n - 10 <= n / 2:
        return _median(latencies), 50.0, n
    return sorted(latencies)[n - 11], 100.0 * (n - 10) / n, n


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin and wait for the JVM
    (and with it Spark's Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


@dataclass
class BatchRecord:
    batch: int
    rows: int
    warmup: bool
    latency_s: float = 0.0
    sink_s: float = 0.0
    keys: int = 0
    error: str | None = None
    jobs: tuple[int, int, int] | None = None


class Workload:
    """The closed loop shared by every workload. Subclasses generate
    inputs, set up and tear down the pipeline, deliver a batch
    (``prepare``, untimed), run it (``execute``, returning the output)
    and check outputs."""

    name = ""
    # warm-up batches pay session-wide JIT and codegen; they are part of
    # set-up, not of the latency sample (the cached pipelines warm up a
    # whole compaction cycle, see SemiStreamWorkload.setup)
    warmup_batches = 1
    # the timed loop stops only on a multiple of this many batches, so
    # every run's sample holds the same mix of a periodic cost
    cycle = 1

    def __init__(self, spark_factory, data_dir: str, seed: int, tracer):
        self.spark_factory = spark_factory
        self.dir = data_dir
        self.seed = seed
        self.tracer = tracer
        self.records: list[BatchRecord] = []
        self.outputs: dict[int, pa.Table] = {}
        self.inputs: dict[int, object] = {}
        self.layer: dict[str, float] = {}
        self._writer = None

    # -- subclass hooks ---------------------------------------------------
    def generate(self) -> None: ...
    def setup(self) -> None: ...
    def teardown(self) -> None: ...
    def prepare(self, b: int, rec: BatchRecord): ...
    def execute(self, b: int, batch) -> pa.Table: ...
    def finish(self) -> None: ...
    def check_all(self) -> dict[int, str | None]: ...

    # -- the run ----------------------------------------------------------
    def run(self, seconds: float) -> None:
        tr = self.tracer
        os.makedirs(os.path.join(self.dir, "stream"), exist_ok=True)
        self.generate()
        with tr.span("setup.session"):
            t0 = time.perf_counter()
            self.spark = self.spark_factory()
            self.sc = self.spark.sparkContext
            self.layer["setup.session_s"] = time.perf_counter() - t0
        self.jobs = JobGroupCounter(self.sc) if tr.enabled else None
        builds = []
        for i in range(SETUP_REPEATS):
            if i:
                self.teardown()
            with tr.span("setup.build"):
                t0 = time.perf_counter()
                self.setup()
                builds.append(time.perf_counter() - t0)
        self.layer["setup.build_s"] = _median(builds)
        with tr.span("setup.warmup"):
            t0 = time.perf_counter()
            for b in range(self.warmup_batches):
                self._batch(b, warmup=True)
            self.layer["setup.warmup_s"] = time.perf_counter() - t0
        self.setup_s = (
            self.layer["setup.session_s"]
            + self.layer["setup.build_s"]
            + self.layer["setup.warmup_s"]
        )
        busy, b = 0.0, self.warmup_batches
        while busy < seconds or (b - self.warmup_batches) % self.cycle:
            rec = self._batch(b, warmup=False)
            if rec.error is not None:
                break  # the pipeline state is suspect after a raised batch
            busy += rec.latency_s
            b += 1
        self.finish()
        if self._writer is not None:
            self._writer.close()
        if self.jobs:
            self.layer["state.persistent_rdds_end"] = state_probe(self.sc)[0]
            self.layer["proc.peak_rss_mb"] = peak_rss_mb(self.sc)
        stop_spark(self.spark)
        reasons = self.check_all()
        for rec in self.records:
            if rec.error is None and reasons.get(rec.batch) is not None:
                rec.error = f"oracle mismatch: {reasons[rec.batch]}"

    def _batch(self, b: int, warmup: bool) -> BatchRecord:
        rec = BatchRecord(b, 0, warmup)
        batch = self.prepare(b, rec)
        group = f"batch-{b}"
        if self.jobs:
            self.jobs.begin(group)
        with self.tracer.span("batch", b):
            t0 = time.perf_counter()
            try:
                out = self.execute(b, batch)
                t1 = time.perf_counter()
                with self.tracer.span("sink.write", b):
                    self.outputs[b] = out if isinstance(out, pa.Table) else out.toArrow()
                    if self._writer is None:
                        self._writer = pq.ParquetWriter(
                            os.path.join(self.dir, "sink.parquet"), self.outputs[b].schema
                        )
                    self._writer.write_table(self.outputs[b])
                rec.sink_s = time.perf_counter() - t1
            except Exception as e:  # a failed batch is counted, the loop goes on
                rec.error = f"{type(e).__name__}: {e}"[:300]
            rec.latency_s = time.perf_counter() - t0
        if self.jobs:
            rec.jobs = self.jobs.end(group)
            n, mb = state_probe(self.sc)
            self.layer["state.persistent_rdds_max"] = max(
                n, self.layer.get("state.persistent_rdds_max", 0)
            )
            self.layer["state.storage_mb_max"] = max(
                mb, self.layer.get("state.storage_mb_max", 0.0)
            )
        self.records.append(rec)
        return rec

    # -- reductions -------------------------------------------------------
    def timed(self) -> list[BatchRecord]:
        return [r for r in self.records if not r.warmup]

    def end_to_end(self) -> dict[str, float]:
        ok = [r for r in self.timed() if r.error is None]
        lat = [r.latency_s for r in ok]
        t_val, t_pct, t_n = tail(lat) if lat else (0.0, 0.0, 0)
        busy = sum(r.latency_s for r in self.timed())
        self.tail_info = (t_pct, t_n)
        return {
            "setup_s": self.setup_s,
            "batch_p50_s": _median(lat),
            "batch_tail_s": t_val,
            "rows_per_s": sum(r.rows for r in ok) / busy if busy else 0.0,
        }

    def per_layer(self) -> dict[str, float]:
        timed = self.timed()
        m = dict(self.layer)
        m["trace.batch_p50_s"] = _median([r.latency_s for r in timed])
        for i, k in enumerate(("jobs", "stages", "tasks")):
            m[f"spark.{k}_per_batch"] = _median([r.jobs[i] for r in timed])
        m["sink.write_s"] = _median([r.sink_s for r in timed])
        ids = {r.batch for r in timed}
        for name in ("kvmatch.ed_query_s", "kvmatch.dtw_query_s", "kvmatch.norm_query_s",
                     "s3m.best_match_s", "s3m.sgd_s", "pipeline.process_batch_s"):
            m[name] = _median([
                s["end"] - s["start"] for s in self.tracer.spans
                if s["name"] == name[:-2] and s["batch"] in ids
            ])
        return m


# ---------------------------------------------------------------------------
# the two cached semi-stream pipelines
# ---------------------------------------------------------------------------


class FetcherProxy:
    """Wraps the pipeline's fetcher and times each ``fetch`` call; the
    engine calls only ``fetch``."""

    def __init__(self, inner, tracer):
        self.inner, self.tracer = inner, tracer
        self.batch: int | None = None
        self.calls: list[tuple[int | None, float]] = []

    def fetch(self, missed_keys):
        with self.tracer.span("fetch.call", self.batch):
            t0 = time.perf_counter()
            out = self.inner.fetch(missed_keys)
            self.calls.append((self.batch, time.perf_counter() - t0))
        return out


class SemiStreamWorkload(Workload):
    """A cached pipeline driven through ``process_batch``; the batch is
    a parquet file the generator wrote, read inside the batch."""

    sink_cols: list[str] = []
    read_schema = ""

    def make_fetcher(self): ...
    def build(self): ...
    def batch_table(self, b: int) -> pa.Table: ...
    def distinct_keys(self, table: pa.Table, batch_df) -> int: ...

    def setup(self) -> None:
        from distributed_stream_processing_spark.streaming.cache_controller import (
            AdaptiveCacheController,
        )

        # injected so its observe() record (history) is the benchmark's
        self.ctl = AdaptiveCacheController()
        self.fetcher = FetcherProxy(self.make_fetcher(), self.tracer)
        self.pipeline = self.build()
        # the pipeline folds its state every compact_every batches (while
        # the controller window is at least that long); timing covers
        # whole fold cycles
        self.cycle = self.pipeline.compact_every
        # every batch of the first cycle runs a state plan of a new shape
        # (base plus 0..cycle-1 pending deltas) and pays its codegen and
        # JIT, so batches of that cycle take 1.5-2x those of later
        # cycles: the whole first cycle, ending on its fold, is warm-up
        self.warmup_batches = self.cycle

    def teardown(self) -> None:
        self.pipeline.close()

    def prepare(self, b: int, rec: BatchRecord):
        table = self.batch_table(b)
        path = os.path.join(self.dir, "stream", f"b{b:05d}.parquet")
        gen.write_parquet(table, path)
        self.inputs[b] = table
        rec.rows = table.num_rows
        # the file is read inside process_batch, like a file source's batch
        self._batch_df = self.spark.read.schema(self.read_schema).parquet(path)
        return self._batch_df

    def execute(self, b: int, batch_df):
        self.fetcher.batch = b
        with self.tracer.span("pipeline.process_batch", b):
            out = self.pipeline.process_batch(batch_df, b)
        return out.select(*self.sink_cols)

    def _batch(self, b: int, warmup: bool) -> BatchRecord:
        rec = super()._batch(b, warmup)
        if self.jobs and not warmup:
            # counted after the batch and outside its job group
            rec.keys = self.distinct_keys(self.inputs[b], self._batch_df)
        return rec

    def finish(self) -> None:
        self.pipeline.flush_attribution()
        self.history = list(self.ctl.history)
        self.pipeline.close()

    def check_all(self) -> dict[int, str | None]:
        orc = self.make_oracle()
        try:
            return orc.check_all(self.inputs, self.outputs)
        finally:
            orc.close()

    def per_layer(self) -> dict[str, float]:
        m = super().per_layer()
        timed = self.timed()
        ids = {r.batch for r in timed}
        hist = [h for h in self.history if h.batch_id in ids]
        compacted = {h.batch_id for h in hist if h.measured and h.cache_maintain_s > 0}
        m["pipeline.compaction_batch_s"] = _median(
            [r.latency_s for r in timed if r.batch in compacted]
        )
        calls = [c for c in self.fetcher.calls if c[0] in ids]
        m["fetch.calls_per_batch"] = len(calls) / len(timed)
        m["fetch.call_s"] = _median([c[1] for c in calls])
        chosen = self.fetcher.inner.chosen[self.warmup_batches:]
        m["fetch.pushdown_share"] = (
            sum(c[0] == "pushdown" for c in chosen) / len(chosen) if chosen else 0.0
        )
        m["fetch.task_s"] = _mean([h.store_fetch_s for h in hist])
        m["join.task_s"] = _mean([h.join_s for h in hist])
        m["maintain.task_s"] = _mean([h.cache_maintain_s for h in hist])
        n_keys = sum(r.keys for r in timed)
        n_miss = sum(h.n_miss for h in hist)
        m["cache.hit_ratio"] = 1.0 - n_miss / n_keys if n_keys else 0.0
        m["cache.miss_keys_per_batch"] = n_miss / len(hist) if hist else 0.0
        m["controller.window_final"] = float(self.ctl.window)
        m["controller.measured_share"] = (
            sum(h.measured for h in hist) / len(hist) if hist else 0.0
        )
        return m


class DSJoinWorkload(SemiStreamWorkload):
    sink_cols = oracle.JoinOracle.COLS
    read_schema = "k long, row_id long, qty int, amount double"
    STORE_KEYS = 1_000_000
    BATCH_ROWS = 10_000
    CACHE_KEYS = 0

    def generate(self) -> None:
        self.store_path = os.path.join(self.dir, "store.parquet")
        gen.write_parquet(
            gen.dsjoin_store(self.seed, self.name, self.STORE_KEYS),
            self.store_path,
            row_group_size=16_384,
        )

    def make_fetcher(self):
        from distributed_stream_processing_spark.sources.fetcher import (
            AutoFetcher,
            parquet_clustered_on,
            path_bytes,
        )

        ctl = self.ctl
        return AutoFetcher(
            source=self.spark.read.parquet(self.store_path),
            key="k",
            store_bytes=path_bytes(self.store_path),
            key_clustered=parquet_clustered_on(self.store_path, "k"),
            miss_signal=lambda: ctl.history[-1].n_miss if ctl.history else None,
        )

    def build(self):
        from pyspark.sql import functions as F

        from distributed_stream_processing_spark.operators.semi_stream_join import (
            SemiStreamJoin,
        )

        store = self.spark.read.parquet(self.store_path)
        return SemiStreamJoin(
            store=store,
            key="k",
            initial_cache=store.filter(F.col("k") < self.CACHE_KEYS),
            controller=self.ctl,
            fetcher=self.fetcher,
        )

    def make_oracle(self):
        return oracle.JoinOracle(os.path.join(self.dir, "tmp"), self.store_path)

    def distinct_keys(self, table, batch_df) -> int:
        return len(np.unique(table.column("k").to_numpy()))


class DSJoinHot(DSJoinWorkload):
    name = "dsjoin_hot"
    CACHE_KEYS = 20_000  # the initial cache holds keys [0, 20k) ...
    HOT_KEYS = 20_000  # ... and every stream key is drawn from them
    ZIPF_A = 1.2

    def batch_table(self, b):
        return gen.hot_batch(
            self.seed, self.name, b, self.BATCH_ROWS, self.HOT_KEYS, self.ZIPF_A
        )


class DSJoinDrift(DSJoinWorkload):
    name = "dsjoin_drift"
    WINDOW_KEYS = 40_000  # each batch draws uniformly from a 40k-key range
    STEP = 4_000  # that slides 4k keys per batch
    CACHE_KEYS = WINDOW_KEYS  # batch 0's range starts cached

    def batch_table(self, b):
        return gen.drift_batch(
            self.seed, self.name, b, self.BATCH_ROWS, self.WINDOW_KEYS, self.STEP
        )


class DSimStream(SemiStreamWorkload):
    name = "dsim_stream"
    sink_cols = oracle.SimOracle.COLS
    read_schema = "id long, tokens array<string>"
    THRESHOLD = Fraction(4, 5)
    CORPUS_DOCS = 2_000
    BATCH_DOCS = 100
    VOCAB = 5_000
    ZIPF_A = 1.1
    DOC_LEN = (8, 40)

    def generate(self) -> None:
        self.corpus_path = os.path.join(self.dir, "corpus.parquet")
        corpus = gen.dsim_corpus(
            self.seed, self.name, self.CORPUS_DOCS, self.VOCAB, self.ZIPF_A, *self.DOC_LEN
        )
        gen.write_parquet(corpus, self.corpus_path)
        self.corpus = corpus.column("tokens").to_pylist()

    def batch_table(self, b):
        return gen.dsim_batch(
            self.seed, self.name, b, self.BATCH_DOCS, self.corpus, self.VOCAB,
            self.ZIPF_A, *self.DOC_LEN,
        )

    def make_fetcher(self):
        from distributed_stream_processing_spark.sources.fetcher import AutoFetcher

        # an in-session signature store has no external collection: the
        # policy declines every batch to the pipeline's key-directory scan
        ctl = self.ctl
        return AutoFetcher(
            source=None,
            key="sk",
            miss_signal=lambda: ctl.history[-1].n_miss if ctl.history else None,
            scan_declines=True,
        )

    def build(self):
        from distributed_stream_processing_spark.operators.semi_stream_similarity import (
            SemiStreamSimilarityJoin,
            build_similarity_store,
        )

        stored = self.spark.read.parquet(self.corpus_path)
        arts = build_similarity_store(stored, self.THRESHOLD)
        return SemiStreamSimilarityJoin(
            threshold=self.THRESHOLD, artifacts=arts, controller=self.ctl,
            fetcher=self.fetcher,
        )

    def teardown(self) -> None:
        self.pipeline.close()
        for df in (self.pipeline.rep_store, self.pipeline.kv_store, self.pipeline.sig_freq):
            if df is not None:
                df.unpersist()

    def make_oracle(self):
        t = self.THRESHOLD
        return oracle.SimOracle(
            os.path.join(self.dir, "tmp"), self.corpus_path, t.numerator, t.denominator
        )

    def distinct_keys(self, table, batch_df) -> int:
        # the pipeline's probe-side signature keys (no public count exists)
        return self.pipeline._probe_rows(batch_df).select("sk").distinct().count()

    def per_layer(self) -> dict[str, float]:
        m = super().per_layer()
        m["setup.sim_store_build_s"] = m["setup.build_s"]
        m["dsim.pairs_per_batch"] = _mean([self.outputs[r.batch].num_rows for r in self.timed()])
        return m


# ---------------------------------------------------------------------------
# S3M: subsequence matching + online regression
# ---------------------------------------------------------------------------


class S3MStream(Workload):
    """Each batch delivers ``WINDOWS`` stream windows. Each window is
    KV-matched on the prebuilt index: half with ED, a quarter each with
    banded DTW and z-normalised ED. ``batch_best_match`` then finds
    every window's best ED match, and ``OnlineLinearRegressionSGD``
    predicts and trains on labels delayed by ``Q_SIZE`` windows."""

    name = "s3m_stream"
    warmup_batches = 2
    SERIES = 100_000
    M = 100  # window length
    PRED = 10  # label horizon
    WIDTHS = (25, 50, 100)
    PATTERNS = 8
    WINDOWS = 4
    MEASURES = ("ed", "ed", "dtw", "norm")  # by window id modulo 4
    EPS = {"ed": 1.0, "dtw": 1.0, "norm": 0.5}
    RHO = 5
    Q_SIZE = 3
    STEP_SIZE, ITERATIONS = 0.05, 10

    def generate(self) -> None:
        self.series_path = os.path.join(self.dir, "series.parquet")
        table, self.vals, self.pattern_offsets = gen.s3m_series(
            self.seed, self.name, self.SERIES, self.M, self.PATTERNS
        )
        gen.write_parquet(table, self.series_path)

    def setup(self) -> None:
        from distributed_stream_processing_spark.operators.subsequence_match import (
            build_kv_index,
        )
        from distributed_stream_processing_spark.streaming.online_ml import (
            OnlineLinearRegressionSGD,
        )

        self.series = self.spark.read.parquet(self.series_path).cache()
        self.n = self.series.count()
        self.index = build_kv_index(self.series, self.WIDTHS, value_scale=100).cache()
        self.index.count()
        self.model = OnlineLinearRegressionSGD(
            dim=self.M - 1 + self.PRED, step_size=self.STEP_SIZE,
            num_iterations=self.ITERATIONS,
        )
        self.queue: list = []  # windows waiting for their delayed label
        self.predictions: dict[int, list] = {}

    def teardown(self) -> None:
        self.index.unpersist()
        self.series.unpersist()

    def window(self, wid: int):
        src = self.pattern_offsets[wid % len(self.pattern_offsets)] if wid % 3 == 0 else None
        return gen.s3m_window(self.seed, self.name, wid, self.vals, self.M, self.PRED, src)

    def prepare(self, b: int, rec: BatchRecord):
        wids = range(b * self.WINDOWS, (b + 1) * self.WINDOWS)
        self.inputs[b] = {w: self.window(w) for w in wids}
        rec.rows = self.WINDOWS
        return self.inputs[b]

    def execute(self, b: int, wins) -> pa.Table:
        from distributed_stream_processing_spark.operators import subsequence_match as sm
        from distributed_stream_processing_spark.streaming.online_ml import batch_best_match

        tr = self.tracer
        wids = sorted(wins)
        rows = []
        for w in wids:
            q, measure = wins[w][0], self.MEASURES[w % 4]
            eps = self.EPS[measure]
            with tr.span(f"kvmatch.{measure}_query", b):
                if measure == "ed":
                    df = sm.subsequence_match_ed(
                        self.series, q.tolist(), eps, widths=self.WIDTHS, index=self.index,
                        n_positions=self.n, value_scale=100,
                        available_widths=set(self.WIDTHS),
                    )
                elif measure == "dtw":
                    df = sm.subsequence_match_dtw(
                        self.series, q.tolist(), eps, self.RHO, index=self.index,
                        n_positions=self.n, widths=self.WIDTHS,
                        available_widths=set(self.WIDTHS),
                    )
                else:
                    df = sm.subsequence_match_znorm_exact(
                        self.series, q.tolist(), eps, value_scale=100
                    )
                got = df.select("start", "dist").collect()
            rows += [(w, measure, int(r.start), float(r.dist)) for r in got]
        with tr.span("s3m.best_match", b):
            best = batch_best_match(
                self.series, {w: wins[w][0] for w in wids}, value_scale=100
            )
        with tr.span("s3m.sgd", b):
            preds = []
            for w in wids:
                pos = best[w][0]
                fut = self.vals[pos + self.M - 1 : pos + self.M + self.PRED]
                x = np.concatenate([np.diff(wins[w][0]), np.diff(fut)])
                self.queue.append((w, x, wins[w][1]))
                if len(self.queue) > self.Q_SIZE:
                    wq, xq, yq = self.queue.pop(0)
                    p = self.model.predict(xq)
                    self.model.train(xq[None, :], np.array([yq]))
                    preds.append((wq, p))
            self.predictions[b] = preds
        for w in wids:
            rows.append((w, "best", int(best[w][0]), float(best[w][2])))
        for wq, p in preds:
            rows.append((wq, "prediction", -1, float(p)))
        w_col, kind, start, val = zip(*rows) if rows else ((), (), (), ())
        return pa.table({
            "window_id": pa.array(w_col, pa.int64()),
            "kind": pa.array(kind, pa.string()),
            "start": pa.array(start, pa.int64()),
            "value": pa.array(val, pa.float64()),
        })

    def finish(self) -> None:
        self.teardown()

    def check_all(self) -> dict[int, str | None]:
        # the delayed-label replay: windows in arrival order through a
        # depth-Q_SIZE queue, the SGD in plain numpy
        self.expected_preds: dict[int, float] = {}
        w = np.zeros(self.M - 1 + self.PRED)
        bias, queue = 0.0, []
        for rec in sorted(self.records, key=lambda r: r.batch):
            for wid, (q, label) in sorted(self.inputs[rec.batch].items()):
                pos, _ = oracle.best_match(self.vals, q)
                fut = self.vals[pos + self.M - 1 : pos + self.M + self.PRED]
                queue.append((wid, np.concatenate([np.diff(q), np.diff(fut)]), label))
                if len(queue) > self.Q_SIZE:
                    wq, xq, yq = queue.pop(0)
                    self.expected_preds[wq] = float(xq @ w + bias)
                    for it in range(1, self.ITERATIONS + 1):
                        err = float(xq @ w + bias) - yq
                        lr = self.STEP_SIZE / np.sqrt(it)
                        w = w - lr * xq * err
                        bias -= lr * err
        return {b: self.check(b) for b in self.outputs}

    def check(self, b: int) -> str | None:
        out = self.outputs[b]
        kinds = out.column("kind").to_pylist()
        wid_col = out.column("window_id").to_pylist()
        start = out.column("start").to_pylist()
        val = out.column("value").to_pylist()
        for wid, (q, _label) in sorted(self.inputs[b].items()):
            measure = self.MEASURES[wid % 4]
            eps = self.EPS[measure]
            got = sorted(
                (s, v) for w, k, s, v in zip(wid_col, kinds, start, val)
                if w == wid and k == measure
            )
            if measure == "ed":
                want = oracle.ed_matches(self.vals, q, eps)
            elif measure == "dtw":
                want = oracle.dtw_matches(self.vals, q, eps, self.RHO)
            else:
                want = oracle.znorm_matches(self.vals, q, eps)
            if [s for s, _ in got] != [s for s, _ in want] or any(
                abs(g - x) > 2e-6 for (_, g), (_, x) in zip(got, want)
            ):
                return f"window {wid} {measure}: {got[:3]} vs {want[:3]}"
            bpos, bd2 = oracle.best_match(self.vals, q)
            gb = [(s, v) for w, k, s, v in zip(wid_col, kinds, start, val) if w == wid and k == "best"]
            if gb != [(bpos, bd2)]:
                return f"window {wid} best match {gb} vs {[(bpos, bd2)]}"
        for wq, p in self.predictions.get(b, []):
            want = self.expected_preds.get(wq)
            if want is None or abs(p - want) > 1e-9 * max(1.0, abs(want)):
                return f"window {wq} prediction {p} vs {want}"
        return None

    def per_layer(self) -> dict[str, float]:
        m = super().per_layer()
        m["setup.kv_index_build_s"] = m["setup.build_s"]
        timed = self.timed()
        n_q = sum(len(self.inputs[r.batch]) for r in timed)
        n_match = sum(
            sum(k in ("ed", "dtw", "norm") for k in self.outputs[r.batch].column("kind").to_pylist())
            for r in timed if r.batch in self.outputs
        )
        m["kvmatch.matches_per_query"] = n_match / n_q if n_q else 0.0
        return m


WORKLOADS = {w.name: w for w in (DSJoinHot, DSJoinDrift, DSimStream, S3MStream)}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
