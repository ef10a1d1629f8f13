from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from distributed_stream_processing_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture
def small_arrow_batches(spark):
    """Arrow record batches of 8 rows for the duration of one test, so
    any window of more than 8 rows straddles a record-batch split."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    yield 8
    spark.conf.set(key, prev)


class SemiStreamCase:
    """One cached pipeline's test inputs: ``make(**kw)`` builds the
    pipeline, ``batch(i)`` is micro-batch i (batches overlap, so later
    ones mix hits and misses), ``plain(batch)`` is the sorted rows of
    the one-shot join the pipeline must reproduce."""

    def __init__(self, make, batch, plain):
        self.make, self.batch, self.plain = make, batch, plain


@pytest.fixture(scope="session")
def semi_stream_cases(spark):
    """{"dsjoin": ..., "dsim": ...}: a SemiStreamCase per pipeline."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from distributed_stream_processing_spark.operators.semi_stream_join import (
        SemiStreamJoin,
    )
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        SemiStreamSimilarityJoin,
        build_similarity_store,
    )

    store = spark.range(2_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 7} tok{(i + 1) % 7} tok{(i + 2) % 7} "
                f"tok{(i + 3) % 7} w{i}")
            for i in range(60)
        ],
        "id long, text string",
    ).select("id", F.split("text", " ").alias("tokens"))
    stored = docs.filter(F.col("id") % 3 != 0)
    stream = docs.filter(F.col("id") % 3 == 0)
    t = Fraction(1, 2)
    arts = build_similarity_store(stored, t)
    stored_rows = [(r.id, set(r.tokens)) for r in stored.collect()]

    def plain_sim(batch):
        out = []
        for a in batch.collect():
            sa = set(a.tokens)
            for b_id, sb in stored_rows:
                inter, uni = len(sa & sb), len(sa | sb)
                if t.denominator * inter >= t.numerator * uni:
                    out.append((a.id, b_id, inter, uni))
        return sorted(out)

    return {
        "dsjoin": SemiStreamCase(
            lambda **kw: SemiStreamJoin(store=store, key="k", **kw),
            lambda i: spark.range(i * 100, i * 100 + 300).withColumnRenamed(
                "id", "k"
            ),
            lambda batch: sorted(batch.join(store, "k").collect()),
        ),
        "dsim": SemiStreamCase(
            lambda **kw: SemiStreamSimilarityJoin(
                threshold=t, artifacts=arts, **kw
            ),
            lambda i: stream.filter(F.col("id") % 12 == 3 * (i % 4)),
            plain_sim,
        ),
    }
