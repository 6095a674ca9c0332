"""Property-based tests mirroring the reference's ScalaCheck suites
(``HasSubBagSuite.scala:60-105``, ``UtilsSuite.scala:29-67``) plus optimizer
contracts. Pure-python properties run under hypothesis; Spark expression
properties evaluate a batch of random cases in one DataFrame."""

import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_ensemble_spark.core.subbag import draw_subspace, is_identity


@given(
    ratio=st.floats(min_value=0.05, max_value=1.0),
    num_features=st.integers(min_value=1, max_value=200),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=200, deadline=None)
def test_subspace_properties(ratio, num_features, seed):
    idx = draw_subspace(ratio, num_features, seed)
    assert idx == sorted(idx)  # sorted
    assert len(set(idx)) == len(idx)  # distinct
    assert all(0 <= i < num_features for i in idx)  # in range
    assert len(idx) >= 1  # documented deviation: never empty
    # deterministic given the seed
    assert idx == draw_subspace(ratio, num_features, seed)


def test_subspace_identity_at_ratio_one():
    for d in (1, 5, 64):
        assert draw_subspace(1.0, d, 42) == list(range(d))
        assert is_identity(draw_subspace(1.0, d, 42), d)


def test_subspace_expected_size():
    """E[size] = ratio·d within 10% over many draws (reference property)."""
    d, ratio, n = 100, 0.6, 300
    sizes = [len(draw_subspace(ratio, d, s)) for s in range(n)]
    assert abs(sum(sizes) / n - ratio * d) < 0.1 * d


def test_batched_minimizer_matches_sequential():
    from spark_ensemble_spark.core.optim import minimize_scalar_batched

    rng = random.Random(0)
    for _ in range(20):
        c = rng.uniform(0, 20)

        def fb(xs, c=c):
            return [(x - c) ** 2 for x in xs]

        got = minimize_scalar_batched(fb, 0.0, 100.0)
        assert got == pytest.approx(c, abs=max(0.03 * c, 0.05))


@given(
    centers=st.lists(
        st.floats(min_value=-2.0, max_value=5.0), min_size=1, max_size=6
    )
)
@settings(max_examples=50, deadline=None)
def test_nonneg_batched_minimizer_quadratic(centers):
    """The ladder-batched BB minimizer solves min Σ (x_i − c_i)² s.t.
    x ≥ 0 (solution max(c_i, 0)) — and with few
    evaluations (each losses_batch call is one cluster agg in production,
    so the eval budget IS the cost model)."""
    from spark_ensemble_spark.core.optim import minimize_nonneg_batched

    evals = [0]

    def losses(points):
        return [sum((xi - ci) ** 2 for xi, ci in zip(p, centers)) for p in points]

    def lb(points):
        evals[0] += 1
        return losses(points)

    def lgb(points):
        """The fused pass: the losses, and the gradient at points[0]."""
        evals[0] += 1
        return losses(points), [2 * (xi - ci) for xi, ci in zip(points[0], centers)]

    got = minimize_nonneg_batched(lb, lgb, [1.0] * len(centers), max_iter=30, tol=1e-10)
    expected = [max(c, 0.0) for c in centers]
    for g, e in zip(got, expected):
        assert g == pytest.approx(e, abs=0.05)
    # BB lands on a quadratic's curvature in a couple of steps: the whole
    # solve must stay within a small, bounded number of aggs
    assert evals[0] <= 25, evals[0]


def test_weighted_median_expression(spark):
    """Catalyst weighted-median == reference semantics (sort, cumulative
    weight >= half total) over random cases, evaluated as one DataFrame."""
    from pyspark.sql import functions as F

    from spark_ensemble_spark.core.utils import weighted_median

    rng = random.Random(7)
    n_models = 5
    for trial in range(4):
        weights = [rng.uniform(0.1, 2.0) for _ in range(n_models)]
        rows = [
            tuple(rng.uniform(-100, 100) for _ in range(n_models)) for _ in range(60)
        ]
        df = spark.createDataFrame(rows, [f"p{i}" for i in range(n_models)])
        out = df.withColumn(
            "wm", weighted_median([f"p{i}" for i in range(n_models)], weights)
        ).collect()

        def expected(vals):
            pairs = sorted(zip(vals, weights))
            half = 0.5 * sum(weights)
            cum = 0.0
            for v, w in pairs:
                cum += w
                if cum >= half:
                    return v

        for row in out:
            vals = [row[f"p{i}"] for i in range(n_models)]
            assert row["wm"] == pytest.approx(expected(vals)), vals

        # reference properties: uniform weights → lower median; scale invariance
        df2 = df.withColumn(
            "uniform", weighted_median([f"p{i}" for i in range(n_models)], [1.0] * n_models)
        ).withColumn(
            "scaled", weighted_median([f"p{i}" for i in range(n_models)], [w * 3.0 for w in weights])
        ).withColumn(
            "orig", weighted_median([f"p{i}" for i in range(n_models)], weights)
        )
        for row in df2.collect():
            vals = sorted(row[f"p{i}"] for i in range(n_models))
            assert row["uniform"] == pytest.approx(vals[(n_models - 1) // 2])
            assert row["scaled"] == pytest.approx(row["orig"])


def test_softmax_argmax_invariants(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from spark_ensemble_spark.core.utils import argmax_array, softmax_array

    rng = np.random.default_rng(3)
    rows = [(rng.normal(0, 5, size=6).tolist(),) for _ in range(50)]
    rows.append(([1.0, 3.0, 3.0, 0.0, 3.0, -1.0],))  # tie case
    df = spark.createDataFrame(rows, ["arr"])
    out = df.select(
        "arr",
        softmax_array(F.col("arr")).alias("sm"),
        argmax_array(F.col("arr")).alias("am"),
    ).collect()
    for row in out:
        assert sum(row.sm) == pytest.approx(1.0, abs=1e-9)
        assert all(s > 0 for s in row.sm)
        mx = max(row.arr)
        assert row.am == float(row.arr.index(mx))  # first-max tie-break


@settings(max_examples=20, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-3600, 7200)), max_size=25
    ),
    ivs=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-3600, 7200), st.integers(0, 1800)),
        max_size=15,
    ),
    bucket=st.sampled_from([60, 300, 600, 1800]),
)
def test_range_join_equals_naive_inequality_join(spark, pts, ivs, bucket):
    """Bucketized range_join must produce EXACTLY the pairs of the naive
    inequality join for any points/intervals (including negative epochs,
    zero-length intervals, bucket-boundary hits) and any bucket width."""
    from spark_ensemble_spark.operators.joins import range_join

    t0 = 1_700_000_000
    pts_rows = [(k, t0 + off) for k, off in pts]
    iv_rows = [(k, t0 + off, t0 + off + dur) for k, off, dur in ivs]
    expected = {
        (pk, pt, ik, s, e)
        for pk, pt in pts_rows
        for ik, s, e in iv_rows
        if pk == ik and s <= pt <= e
    }
    left = spark.createDataFrame(
        [(k, t) for k, t in pts_rows] or [(None, None)],
        "k long, ts_s long",
    ).filter(F.col("k").isNotNull()).select("k", F.timestamp_seconds("ts_s").alias("ts"))
    right = spark.createDataFrame(
        iv_rows or [(None, None, None)],
        "k long, s_s long, e_s long",
    ).filter(F.col("k").isNotNull()).select(
        "k",
        F.timestamp_seconds("s_s").alias("w_start"),
        F.timestamp_seconds("e_s").alias("w_end"),
    )
    out = range_join(left, right, "ts", "w_start", "w_end", bucket, keys=["k"])
    got = {
        (
            r["l.k"] if "l.k" in out.columns else r[0],
            r[1],
            r[2],
            r[3],
            r[4],
        )
        for r in out.select(
            F.col("l.k"),
            F.unix_seconds("l.ts"),
            F.col("r.k"),
            F.unix_seconds("r.w_start"),
            F.unix_seconds("r.w_end"),
        ).collect()
    }
    assert got == expected


# ---- round-5 operator invariants (driver-side mirrors, no SparkSession) ----


@given(
    st.lists(st.sampled_from("ab"), min_size=0, max_size=40),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_repetition_fold_matches_counting(tokens, n):
    """The accumulator-carried run fold used by dup_ngram_char_fraction must
    equal the direct count-each-gram formulation for any token stream."""
    grams = [
        " ".join(tokens[i : i + n]) for i in range(max(len(tokens) - n + 1, 0))
    ] if len(tokens) >= n else []
    # direct formulation
    from collections import Counter

    cnt = Counter(grams)
    total = sum(c * len(g) for g, c in cnt.items())
    dup = sum(c * len(g) for g, c in cnt.items() if c >= 2)
    want = round(dup / total, 6) if total else 0.0
    # fold over the sorted array, as the Column expression does
    s = sorted(grams)
    prev, run, dacc, tacc = "", 0, 0, 0
    for g in s:
        if g == prev:
            run += 1
        else:
            if run >= 2:
                dacc += run * len(prev)
            run = 1
        prev = g
        tacc += len(g)
    if run >= 2:
        dacc += run * len(prev)
    got = round(dacc / tacc, 6) if tacc else 0.0
    assert got == want


@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=10**9),
        min_size=1,
        max_size=4,
    ),
    st.floats(min_value=0.05, max_value=1.0),
)
@settings(max_examples=60, deadline=None)
def test_temperature_weight_invariants(sizes, tau):
    """Mixing weights: sum to 1, preserve size ordering, and tau<1 never
    down-weights the smallest stratum below its natural share."""
    total = sum(sizes.values())
    shares = {k: v / total for k, v in sizes.items()}
    pw = {k: s**tau for k, s in shares.items()}
    z = sum(pw.values())
    w = {k: p / z for k, p in pw.items()}
    assert abs(sum(w.values()) - 1.0) < 1e-9
    ks = sorted(sizes, key=sizes.get)
    for a, b in zip(ks, ks[1:]):
        assert w[a] <= w[b] + 1e-12
    if tau <= 1.0:
        smallest = ks[0]
        assert w[smallest] >= shares[smallest] - 1e-12


def test_mad_outlier_flags_semantics(spark):
    """Planted extreme values flag; NULLs get NULL flags; a zero-MAD
    (majority-constant) column flags exactly the non-median values; an
    all-NULL column returns NULL flags rather than crashing."""
    from pyspark.sql import functions as F

    from spark_ensemble_spark.functions.stats import mad_outlier_flags

    vals = [float(x) for x in [10, 11, 12, 13, 14, 15, 16]] + [9000.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {r.x: r.is_outlier for r in mad_outlier_flags(df, "x").collect()}
    assert got[9000.0] is True
    assert got[None] is None
    assert all(got[v] is False for v in [10.0, 13.0, 16.0])
    const = spark.createDataFrame(
        [(5.0,), (5.0,), (5.0,), (7.0,)], "x double"
    )
    got2 = {(r.x, r.is_outlier) for r in mad_outlier_flags(const, "x").collect()}
    assert got2 == {(5.0, False), (7.0, True)}  # zero MAD: != median flags
    allnull = spark.createDataFrame([(None,), (None,)], "x double")
    assert [r.is_outlier for r in mad_outlier_flags(allnull, "x").collect()] == [
        None,
        None,
    ]


# ---------------------------------------------------------------------------
# multimodal codec round-trips against INDEPENDENT test-local encoders
# (the fixture generators share pixel/sample formulas with their oracles;
# these properties rule out compensating encoder/decoder bugs by writing the
# container bytes here, from arbitrary arrays, with separate code)
# ---------------------------------------------------------------------------


def _encode_bmp_testlocal(rgb) -> bytes:
    """Reference BMP writer, independent of synthetic_bmp_corpus: iterates
    pixels in plain Python (no numpy reshape tricks shared with the engine)."""
    import struct

    h = len(rgb)
    w = len(rgb[0])
    stride = (w * 3 + 3) // 4 * 4
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            r, g, b = rgb[y][x]
            row += bytes([b, g, r])
        row += bytes(stride - len(row))
        rows += row
    return (
        struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
        + bytes(rows)
    )


@settings(max_examples=10, deadline=None)
@given(
    st.integers(1, 9),
    st.integers(1, 7),
    st.integers(0, 2**32 - 1),
)
def test_bmp_decode_matches_plain_python(spark, w, h, seed):
    from spark_ensemble_spark.operators.multimodal import decode_image

    rnd = random.Random(seed)
    rgb = [[(rnd.randrange(256), rnd.randrange(256), rnd.randrange(256)) for _ in range(w)] for _ in range(h)]
    payload = _encode_bmp_testlocal(rgb)
    r = decode_image(
        spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    ).collect()[0]
    n = w * h
    assert (r.width, r.height) == (w, h)
    assert r.top_left_r == rgb[0][0][0]
    assert r.mean_r == sum(px[0] for row in rgb for px in row) / n
    assert r.mean_g == sum(px[1] for row in rgb for px in row) / n
    assert r.mean_b == sum(px[2] for row in rgb for px in row) / n


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=200))
def test_wav_decode_matches_plain_python(spark, samples):
    import struct

    from spark_ensemble_spark.operators.multimodal import decode_audio

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    r = decode_audio(
        spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    ).collect()[0]
    assert (r.sample_rate, r.n_channels, r.n_samples) == (44100, 1, len(samples))
    assert r.max_amp == max(samples)
    assert r.mean_amp == sum(samples) / len(samples)
