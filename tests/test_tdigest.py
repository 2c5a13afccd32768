"""Mergeable quantile state (DataSketches KLL, formerly a t-digest,
hence the file name): accuracy, merge, round-trip and degenerate-input
contracts of the sketch as profile_state stores it, the Spark state
integration, and the sketch-based drift screen."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datapatterns_spark.operators.incremental import (
    _sketch_k,
    digest_drift,
    merge_states,
    profile_incremental,
    profile_state,
)


# ---------------------------------------------------------------------------
# sketch contracts, on the sketches profile_state stores
# ---------------------------------------------------------------------------
def _rank_err(values: np.ndarray, est: float, q: float) -> float:
    return abs(float((values <= est).mean()) - q)


def _states(spark, values, n_parts: int = 1, **kw):
    """profile_state over ``values`` (attribute ``v``), split into
    ``n_parts`` contiguous partitions."""
    parts = np.array_split(np.asarray(values, dtype=np.float64), n_parts)
    pdf = pd.DataFrame(
        {
            "part": np.concatenate(
                [np.full(p.size, f"p{i}") for i, p in enumerate(parts)]
            ),
            "v": np.concatenate(parts),
        }
    )
    df = spark.createDataFrame(pdf, "part string, v double")
    return profile_state(df, "part", quantile_delta=100.0, **kw)


def _merged(states, qs):
    """(n, quantiles at ``qs``) of attribute v's merged sketch."""
    r = (
        states.where(F.col("attribute") == "v")
        .agg(F.kll_merge_agg_double("q_sketch").alias("m"))
        .select(
            F.kll_sketch_get_n_double("m").alias("n"),
            F.kll_sketch_get_quantile_double("m", F.lit(list(qs))).alias("q"),
        )
        .first()
    )
    return r["n"], r["q"]


def _ks(spark, a, b, **kw) -> float:
    rows = digest_drift(_states(spark, a, **kw), _states(spark, b, **kw))
    return {r["attribute"]: r["ks"] for r in rows.collect()}["v"]


def test_quantile_accuracy_skewed(spark):
    rng = np.random.RandomState(7)
    v = rng.lognormal(0.0, 1.0, 100_000)
    qs = (0.01, 0.25, 0.5, 0.75, 0.99)
    _, est = _merged(_states(spark, v), qs)
    for q, e in zip(qs, est):
        assert _rank_err(v, e, q) < 0.01


def test_merge_grouping_independence(spark):
    rng = np.random.RandomState(11)
    v = rng.normal(0.0, 1.0, 60_000)
    qs = (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    for n_parts in (3, 17, 64):
        n, est = _merged(_states(spark, v, n_parts), qs)
        assert n == v.size
        assert est[0] == v.min() and est[-1] == v.max()
        for q, e in zip(qs[1:-1], est[1:-1]):
            assert _rank_err(v, e, q) < 0.01


def test_serialization_round_trip(spark, tmp_path):
    # 300 values stay below k = 400: every sketch, merged or not, holds
    # all its values, so merges are deterministic and exact (larger
    # merges compact with a random bit — equal only within rank error)
    states = _states(spark, np.arange(1.0, 301.0), 3)
    states.write.parquet(str(tmp_path / "st"))
    back = spark.read.parquet(str(tmp_path / "st"))
    key = ["partition", "attribute"]
    assert sorted(map(tuple, back.select(*key, "q_sketch").collect())) == sorted(
        map(tuple, states.select(*key, "q_sketch").collect())
    )
    merged = merge_states(back).collect()
    assert merged == merge_states(states).collect()
    assert merged[0]["numeric_median"] == 150.0
    assert _sketch_k(bytes(back.first()["q_sketch"]), "store") == 400
    with pytest.raises(ValueError):
        _sketch_k(b"not a digest", "store")


def test_empty_and_degenerate(spark):
    df = spark.createDataFrame(
        [("p", None, 3.25 if i == 0 else None, 5.0) for i in range(1000)],
        "part string, e double, one double, c double",
    )
    states = profile_state(df, "part", quantile_delta=100.0)
    assert states.where(F.col("attribute") == "e").first()["q_sketch"] is None
    got = {r["attribute"]: r for r in merge_states(states).collect()}
    assert got["e"]["numeric_median"] is None
    one = got["one"]
    assert (
        one["numeric_lower_quartile"]
        == one["numeric_median"]
        == one["numeric_upper_quartile"]
        == 3.25
    )
    assert got["c"]["numeric_median"] == 5.0
    # NaNs are dropped, not folded in
    n, _ = _merged(_states(spark, [1.0, np.nan, 3.0]), (0.5,))
    assert n == 2


def test_cdf_boundary_conventions(spark):
    # constant columns: equal constants do not drift, and different
    # ones are fully apart — ties are read as one step of the ECDF
    assert _ks(spark, [5.0] * 1000, [5.0] * 1000) == 0.0
    assert _ks(spark, [5.0] * 1000, [5.001] * 1000) == 1.0
    # zero-inflated: mass concentrated AT the minimum shows in the ECDF
    # (0.30 of the values), so dropping it reads as drift of 0.30 while
    # the same distribution in another order does not drift
    zi = np.concatenate([np.zeros(3000), np.linspace(1, 10, 7000)])
    assert _ks(spark, zi, zi[::-1], allow_zero=True) < 0.02
    assert _ks(spark, zi, zi[3000:], allow_zero=True) == pytest.approx(
        0.30, abs=0.02
    )


def test_ks_distance_matches_analytic(spark):
    rng = np.random.RandomState(5)
    a = rng.normal(0, 1, 100_000)
    b = rng.normal(0.3, 1, 100_000)
    same = rng.normal(0, 1, 100_000)
    # analytic KS(N(0,1), N(0.3,1)) = 2*Phi(0.15) - 1 ~= 0.1192
    assert _ks(spark, a, b) == pytest.approx(0.1192, abs=0.02)
    assert _ks(spark, a, same) < 0.02


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e12, max_value=1e12, allow_nan=False
        ),
        min_size=1,
        max_size=500,
    )
)
def test_digest_properties(spark, values):
    v = np.asarray(values)
    states = _states(spark, v, allow_zero=True)
    qs = (0.0, 0.25, 0.5, 0.75, 1.0)
    n, est = _merged(states, qs)
    assert n == v.size
    assert est[0] == v.min() and est[-1] == v.max()
    # weight is conserved exactly through a merge-with-self
    assert _merged(states.unionByName(states), qs)[0] == 2 * v.size
    # estimates stay inside the observed range
    for e in est:
        assert v.min() <= e <= v.max()
    # rank error bound (generous: the t-digest's ~3/delta at delta 100)
    # on the median — two-sided so duplicate values (CDF jumps) don't
    # misread as rank error
    med = est[2]
    eps = max(3.0 / 100.0, 1.5 / v.size)
    assert float((v < med).mean()) <= 0.5 + eps
    assert float((v <= med).mean()) >= 0.5 - eps


# ---------------------------------------------------------------------------
# Spark integration: mergeable quantile state
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def skew_df(spark):
    # 3 partitions with very different sizes and ranges; f has nulls,
    # s holds numeric-content strings (exercises the try_cast reading)
    rows = []
    for i in range(4000):
        rows.append(("p0", float(i % 1000), str(i % 50), None if i % 7 == 0 else i * 0.5))
    for i in range(400):
        rows.append(("p1", float(2000 + i), "x" + str(i), float(i)))
    rows.append(("p2", 9.0, "42", 1.25))
    return spark.createDataFrame(rows, "part string, n double, s string, f double")


def test_state_quantiles_merge(spark, skew_df):
    states = profile_state(skew_df, "part", quantile_delta=100.0)
    assert "q_sketch" in states.columns
    merged = {r["attribute"]: r.asDict() for r in merge_states(states).collect()}
    pdf = skew_df.toPandas()
    for attr in ("n", "f"):
        vals = pdf[attr].dropna()
        vals = vals[vals != 0.0]  # allow_zero=False fill rule
        n = len(vals)
        for col, q in (
            ("numeric_lower_quartile", 0.25),
            ("numeric_median", 0.5),
            ("numeric_upper_quartile", 0.75),
        ):
            est = merged[attr][col]
            rank = float((vals <= est).mean())
            assert abs(rank - q) < 0.03, (attr, col, est, rank)
    # numeric-content strings get digests too (same reading as profile)
    assert merged["s"]["numeric_median"] is not None


def test_state_quantiles_off_by_default(skew_df):
    states = profile_state(skew_df, "part")
    assert "q_sketch" not in states.columns
    assert "numeric_median" not in merge_states(states).columns


def test_incremental_quantile_pinning(spark, skew_df, tmp_path):
    p = str(tmp_path / "states")
    out = profile_incremental(
        skew_df, "part", p, quantile_delta=100.0, batch_size=2
    )
    rows = {r["attribute"]: r.asDict() for r in out.collect()}
    assert rows["n"]["numeric_median"] is not None
    # param mismatch against the stored states fails fast — presence…
    with pytest.raises(ValueError, match="quantile_delta mismatch"):
        profile_incremental(skew_df, "part", p)
    # …and VALUE (sketches at different compressions merge without
    # error but mix rank-error contracts silently)
    with pytest.raises(ValueError, match="delta=100.0"):
        profile_incremental(skew_df, "part", p, quantile_delta=50.0)


def test_null_partition_keeps_sketch(spark):
    """A null partition key is a legal state row; its values must
    reach the merged quantiles (a plain equi-join would silently drop
    exactly that sketch while every other statistic keeps the rows)."""
    rows = [(None if i % 2 else "p", float(i + 1)) for i in range(2000)]
    df = spark.createDataFrame(rows, "part string, v double")
    states = profile_state(df, "part", quantile_delta=100.0)
    by_part = {
        r["partition"]: r["q_sketch"]
        for r in states.where(F.col("attribute") == "v").collect()
    }
    assert by_part[None] is not None and by_part["p"] is not None
    med = {
        r["attribute"]: r["numeric_median"]
        for r in merge_states(states).collect()
    }["v"]
    # with both partitions contributing, the median sits near 1000;
    # dropping the null-partition sketch would shift it to ~1001 only
    # slightly — so assert on the sketch join itself above AND on a
    # sane merged value here
    assert 900 < med < 1100


def test_digest_drift_screen(spark):
    base = spark.range(0, 20_000).select(
        F.lit("p").alias("part"),
        (F.col("id") % 1000).cast("double").alias("stable"),
        (F.col("id") % 1000).cast("double").alias("shifted"),
    )
    cur = spark.range(0, 20_000).select(
        F.lit("p").alias("part"),
        (F.col("id") % 1000).cast("double").alias("stable"),
        ((F.col("id") % 1000) + 500).cast("double").alias("shifted"),
    )
    bs = profile_state(base, "part", quantile_delta=100.0)
    cs = profile_state(cur, "part", quantile_delta=100.0)
    ks = {r["attribute"]: r["ks"] for r in digest_drift(bs, cs).collect()}
    assert ks["stable"] < 0.02
    assert ks["shifted"] > 0.3
    with pytest.raises(ValueError, match="q_sketch"):
        digest_drift(bs.drop("q_sketch"), cs)


def test_td1_store_fails_fast(spark, skew_df, tmp_path):
    """A store written with the older t-digest (TD1) sketches must fail
    with a clear ValueError before anything is profiled or appended —
    KLL functions would otherwise reject the bytes mid-job."""
    import os

    p = str(tmp_path / "td1")
    profile_incremental(
        skew_df.where(F.col("part") != "p2"), "part", p, quantile_delta=100.0
    )
    states = spark.read.parquet(f"{p}/states")
    td1 = b"TD1" + bytes(28)  # the TD1 header of an empty digest
    states.withColumn(
        "q_sketch", F.when(F.col("q_sketch").isNotNull(), F.lit(td1))
    ).write.parquet(f"{p}/states_td1")

    def tree():
        return sorted(
            os.path.join(d, f) for d, _dirs, files in os.walk(p) for f in files
        )

    os.rename(f"{p}/states", f"{p}/states_kll")
    os.rename(f"{p}/states_td1", f"{p}/states")
    before = tree()
    with pytest.raises(ValueError, match=r"t-digest \(TD1\)"):
        profile_incremental(skew_df, "part", p, quantile_delta=100.0)
    assert tree() == before
