"""engine/strictmath.pow is java.lang.StrictMath.pow (what Spark's F.pow
runs) bit for bit, and the driver's memoized BM25 idf log is
StrictMath.log. The driver-answered Indri #AND/#WAND scores depend on the
first, the BM25 scores on the second (engine/score.py)."""

import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from search_engine_spark.engine import pruning, strictmath

_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
_MIN = 5e-324  # Double.MIN_VALUE
_MAX = 1.7976931348623157e308
EDGE = [
    0.0, -0.0, 1.0, -1.0, 0.5, -0.5, 2.0, -2.0, 3.0, -3.0, 1 / 3, 0.25,
    np.inf, -np.inf, np.nan, _MIN, -_MIN, _MAX, -_MAX, 2.2250738585072014e-308,
    2.0**31, 2.0**31 + 1, -(2.0**31), 2.0**53, 2.0**53 + 2, 2.0**53 - 1,
    1 + 2.0**-52, 1 - 2.0**-53, 1024.0, -1075.0, 1e-300, 1e300,
]


def _log_uniform(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.exp(rng.uniform(np.log(lo), np.log(hi), n))


def _pairs() -> tuple[np.ndarray, np.ndarray]:
    """≥ 10^7 (x, y) pairs over every branch of FdLibm$Pow.compute."""
    rng = np.random.default_rng(20261018)
    xs, ys = [], []

    def add(x, y):
        x, y = np.broadcast_arrays(np.asarray(x, float), np.asarray(y, float))
        xs.append(x.ravel())
        ys.append(y.ravel())

    # the Indri combines: child scores in (0, 1], exponents 1/n and w/W
    add(1.0 - rng.random(2_500_000), 1.0 - rng.random(2_500_000))
    add(_log_uniform(rng, 1e-12, 1.0, 1_000_000), 1.0 / rng.integers(1, 17, 1_000_000))
    w = rng.random((1_000_000, 6))
    W = np.cumsum(w, axis=1)[np.arange(1_000_000), rng.integers(1, 6, 1_000_000)]
    add(_log_uniform(rng, 1e-12, 1.0, 1_000_000), w[:, 0] / W)
    # the general path over the whole exponent range
    add(_log_uniform(rng, 1e-300, 1e300, 2_000_000), rng.uniform(-40, 40, 2_000_000))
    # |x - 1| tiny: the general path near 1, and |y| > 2^31 (the series
    # branch, and its early over/underflow just outside 1 ± 2^-20)
    add(1.0 + rng.uniform(-1e-6, 1e-6, 1_000_000), rng.uniform(-1e6, 1e6, 1_000_000))
    add(
        1.0 + rng.uniform(-1e-6, 1e-6, 1_000_000),
        rng.choice([-1.0, 1.0], 1_000_000) * _log_uniform(rng, 2.0**31, 2.0**80, 1_000_000),
    )
    # subnormal x (scaled by 2^53 first), positive and negative
    sub = rng.integers(1, 2**52, 500_000).view(np.float64)
    add(sub[:250_000], rng.uniform(-2, 2, 250_000))
    add(-sub[250_000:], rng.integers(-3, 4, 250_000))
    # y·log2(x) around -1075..-1022 (subnormal or zero results, Math.scalb)
    # and around 1024 (overflow), from either side of 1
    for lo, hi in ((-1080.0, -1015.0), (1015.0, 1030.0)):
        x = np.where(
            rng.random(500_000) < 0.5,
            rng.uniform(0.01, 0.99, 500_000), rng.uniform(1.01, 100.0, 500_000),
        )
        add(x, rng.uniform(lo, hi, 500_000) / np.log2(x))
    # negative x: integral y (odd and even, large ones too) and fractional y
    neg = -_log_uniform(rng, 1e-5, 1e5, 500_000)
    ints = np.concatenate([
        rng.integers(-60, 61, 200_000),
        rng.integers(-(2**52), 2**52, 100_000),
    ]).astype(float)
    add(neg[:300_000], ints)
    add(neg[300_000:], rng.uniform(-10, 10, 200_000))
    # the edge grid, every pair
    e = np.array(EDGE)
    add(np.repeat(e, len(e)), np.tile(e, len(e)))
    return np.concatenate(xs), np.concatenate(ys)


def _bits(a: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(a, np.float64).view(np.int64)


def test_pow_is_spark_pow_bitwise(spark):
    x, y = _pairs()
    assert len(x) >= 10**7
    prev = spark.conf.get(_BATCH_KEY)
    spark.conf.set(_BATCH_KEY, str(1 << 20))  # a few large local batches
    try:
        got = (
            spark.createDataFrame(pa.table({"x": x, "y": y}))
            .select(F.pow("x", "y").alias("p"))
            .toArrow()["p"]
            .to_numpy()
        )
    finally:
        spark.conf.set(_BATCH_KEY, prev)
    mine = strictmath.pow(x, y)
    bad = np.flatnonzero(_bits(got) != _bits(mine))
    assert not len(bad), [(x[i], y[i], got[i], mine[i]) for i in bad[:10]]
    # every kind of result is reached, and the platform pow would fail here
    sub = (got != 0) & (np.abs(got) < 2.2250738585072014e-308)
    assert sub.sum() and (got == 0).sum() and np.isinf(got).sum() and np.isnan(got).sum()
    with np.errstate(all="ignore"):
        assert (_bits(np.power(x, y)) != _bits(got)).sum() > len(x) // 10


def _java_bits(v: float) -> bytes:
    # Py4J carries a double as its decimal string, which keeps every
    # finite value and ±0 but not a NaN's payload
    return b"nan" if v != v else struct.pack("<d", v)


_doubles = st.one_of(st.floats(), st.sampled_from(EDGE))


@settings(max_examples=1500, deadline=None)
@given(x=_doubles, y=_doubles)
def test_pow_is_strictmath_pow_on_arbitrary_doubles(spark, x, y):
    want = spark._jvm.java.lang.StrictMath.pow(float(x), float(y))
    assert _java_bits(float(strictmath.pow(x, y))) == _java_bits(want)


def test_memoized_idf_log_is_strictmath_log(spark, pidx):
    """The idf arguments of every df at this corpus size, and random
    doubles: the memoized log equals StrictMath.log by Py4J and Spark's
    F.log, and a second ask is served from the index's memo."""
    n = pidx.corpus.n_docs
    rng = np.random.default_rng(7)
    args = [(float(n) - df + 0.5) / (df + 0.5) for df in range(n + 1)]
    args += _log_uniform(rng, 1e-300, 1e300, 500).tolist()
    log = pruning._strict_log(pidx)
    got = np.array([log(v) for v in args])
    jvm_log = spark._jvm.java.lang.StrictMath.log
    assert [_java_bits(v) for v in got] == [_java_bits(jvm_log(v)) for v in args]
    spark_log = (
        spark.createDataFrame(pa.table({"v": args}))
        .select(F.log("v").alias("l"))
        .toArrow()["l"]
        .to_numpy()
    )
    assert (_bits(got) == _bits(spark_log)).all()
    for v, want in zip(args, got):
        memo = pidx.reads.memo(("StrictMath.log", v), lambda: pytest.fail("not memoized"))
        assert memo == want
