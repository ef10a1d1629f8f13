"""Self-tests of the benchmark itself (not of the engine).

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from workloads import tail  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from distributed_stream_processing_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = ROOT
    s = get_spark(
        "perfbench-selftest",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": str(tmp_path_factory.mktemp("spark-local")),
        },
    )
    yield s
    s.stop()


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    for w in spec["workloads"]:
        assert w["name"] in WORKLOADS


def _join_fixture(tmp_path):
    store = gen.dsjoin_store(7, "selftest", 1000)
    path = str(tmp_path / "store.parquet")
    gen.write_parquet(store, path)
    batch = gen.hot_batch(7, "selftest", 0, 200, 300, 1.2)
    return store, batch, oracle.JoinOracle(str(tmp_path), path)


def _join_answer(store: pa.Table, batch: pa.Table) -> pa.Table:
    s = store.to_pandas().set_index("k")
    b = batch.to_pandas()
    b["p_brand"] = s.loc[b["k"], "p_brand"].to_numpy()
    b["p_price"] = s.loc[b["k"], "p_price"].to_numpy()
    return pa.Table.from_pandas(b[oracle.JoinOracle.COLS], preserve_index=False)


def test_join_oracle_rejects_planted_wrong_row(tmp_path):
    store, batch, orc = _join_fixture(tmp_path)
    good = _join_answer(store, batch)
    assert orc.check(batch, good) is None
    price = good.column("p_price").to_numpy().copy()
    price[17] += 0.01
    bad = good.set_column(good.schema.get_field_index("p_price"), "p_price", pa.array(price))
    assert orc.check(batch, bad) is not None
    assert orc.check(batch, good.slice(1)) is not None  # a dropped row
    orc.close()


def test_sim_oracle_rejects_planted_wrong_row(tmp_path):
    corpus = pa.table(
        {"id": [0, 1], "tokens": [["a", "b", "c", "d", "e"], ["x", "y", "z"]]},
        schema=gen.DOC_SCHEMA,
    )
    path = str(tmp_path / "corpus.parquet")
    gen.write_parquet(corpus, path)
    batch = pa.table(
        {"id": [10, 11], "tokens": [["a", "b", "c", "d"], ["x", "q"]]},
        schema=gen.DOC_SCHEMA,
    )
    orc = oracle.SimOracle(str(tmp_path), path, 4, 5)
    good = pa.table({"a_id": [10], "b_id": [0], "inter": [4], "uni": [5]})
    assert orc.check(batch, good) is None
    assert orc.check(batch, pa.table({"a_id": [10], "b_id": [0], "inter": [4], "uni": [6]})) is not None
    orc.close()


def test_near_duplicates_straddle_the_threshold():
    doc = [f"w{i}" for i in range(23)]
    for below in (False, True):
        j = len(gen.near_duplicate(doc, below)) / len(doc)
        assert (j < 0.8) == below


def test_generator_is_deterministic(tmp_path):
    def files(seed):
        paths = []
        for name, table in (
            ("store", gen.dsjoin_store(seed, "dsjoin_hot", 5000)),
            ("hot", gen.hot_batch(seed, "dsjoin_hot", 3, 500, 400, 1.2)),
            ("drift", gen.drift_batch(seed, "dsjoin_drift", 3, 500, 400, 40)),
            ("corpus", gen.dsim_corpus(seed, "dsim_stream", 50, 300, 1.1, 5, 12)),
        ):
            p = tmp_path / f"{name}-{seed}-{len(paths)}.parquet"
            gen.write_parquet(table, str(p))
            paths.append(p.read_bytes())
        return paths

    a, b, c = files(1), files(1), files(2)
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_tail_percentile_keeps_ten_samples_beyond():
    lat = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct, n = tail(lat)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(x > value for x in lat) == 10
    assert tail([1.0, 2.0, 3.0])[:2] == (2.0, 50.0)


def test_job_group_counter_counts_a_two_job_action(spark):
    from spans import JobGroupCounter

    jobs = JobGroupCounter(spark.sparkContext)
    jobs.begin("selftest-two")
    # zipWithIndex runs one job to size the 4 partitions, collect a second
    spark.sparkContext.parallelize(range(100), 4).zipWithIndex().collect()
    n_jobs, n_stages, n_tasks = jobs.end("selftest-two")
    assert (n_jobs, n_stages, n_tasks) == (2, 2, 8)
    jobs.begin("selftest-one")
    spark.sparkContext.parallelize(range(10), 3).count()
    assert jobs.end("selftest-one") == (1, 1, 3)


def test_s3m_oracle_rejects_planted_wrong_row(tmp_path):
    from spans import NullTracer
    from workloads import S3MStream

    w = S3MStream(None, str(tmp_path), 3, NullTracer())
    _table, w.vals, sources = gen.s3m_series(3, w.name, 4000, w.M, 2)
    q, label = gen.s3m_window(3, w.name, 0, w.vals, w.M, w.PRED, sources[0])
    w.inputs[0] = {0: (q, label)}  # window 0 is matched with ED
    w.predictions, w.expected_preds = {}, {}  # no delayed labels yet
    ed = oracle.ed_matches(w.vals, q, w.EPS["ed"])
    assert len(ed) >= 3  # the source and its two planted copies
    best = oracle.best_match(w.vals, q)

    def out(rows):
        return pa.table(
            {
                "window_id": pa.array([0] * len(rows), pa.int64()),
                "kind": [r[0] for r in rows],
                "start": pa.array([r[1] for r in rows], pa.int64()),
                "value": pa.array([r[2] for r in rows], pa.float64()),
            }
        )

    good = [("ed", s, d) for s, d in ed] + [("best", *best)]
    w.outputs[0] = out(good)
    assert w.check(0) is None
    w.outputs[0] = out([("ed", ed[0][0] + 1, ed[0][1])] + good[1:])
    assert w.check(0) is not None
    w.outputs[0] = out(good[:-1] + [("best", best[0] + 1, best[1])])
    assert w.check(0) is not None
    assert np.isclose(best[1], min(d for _, d in ed) ** 2 * 100**2)
