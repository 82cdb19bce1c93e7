"""Capability+ sketch aggregations: nunique (exact), approx_nunique (HLL),
approx_quantile / approx_median (Greenwald-Khanna) — the skew-safe scale
paths for distinct counting and order statistics."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from dask_groupby_spark import groupby_reduce


@pytest.fixture(scope="module")
def skewed(spark):
    rng = np.random.default_rng(11)
    # one hot key with 20k rows, nine cold keys with 200 each
    keys = [0] * 20000 + [k for k in range(1, 10) for _ in range(200)]
    vals = rng.normal(100, 15, len(keys))
    rows = [(int(k), float(v), int(v) % 50) for k, v in zip(keys, vals)]
    return spark.createDataFrame(rows, "k bigint, v double, c bigint")


def test_nunique_exact(skewed):
    out = {r["k"]: r["nunique"] for r in
           groupby_reduce(skewed, "k", func="nunique", value="c").collect()}
    exact = {r["k"]: r["n"] for r in
             skewed.groupBy("k").agg(F.count_distinct("c").alias("n")).collect()}
    assert out == exact


def test_approx_nunique_within_rsd(skewed):
    out = {r["k"]: r["approx_nunique"] for r in
           groupby_reduce(skewed, "k", func="approx_nunique", value="c").collect()}
    exact = {r["k"]: r["n"] for r in
             skewed.groupBy("k").agg(F.count_distinct("c").alias("n")).collect()}
    for k, n in exact.items():
        assert abs(out[k] - n) <= max(2, 0.15 * n), (k, out[k], n)


def test_approx_quantile_close_to_exact(skewed):
    approx = {r["k"]: r["approx_quantile"] for r in groupby_reduce(
        skewed, "k", func="approx_quantile", value="v",
        finalize_kwargs={"q": 0.9},
    ).collect()}
    exact = {r["k"]: r["nanquantile"] for r in groupby_reduce(
        skewed, "k", func="nanquantile", value="v",
        finalize_kwargs={"q": 0.9},
    ).collect()}
    for k in exact:
        assert abs(approx[k] - exact[k]) < 1.0, (k, approx[k], exact[k])


def test_approx_quantile_vector_and_median(skewed):
    out = groupby_reduce(
        skewed, "k", func="approx_quantile", value="v",
        finalize_kwargs={"q": [0.5, 0.9]},
    ).collect()
    med = {r["k"]: r["approx_median"] for r in
           groupby_reduce(skewed, "k", func="approx_median", value="v").collect()}
    for r in out:
        q50, q90 = r["approx_quantile"]
        assert q50 <= q90
        assert med[r["k"]] == pytest.approx(q50, abs=1e-9)


def test_approx_skips_missing(spark):
    NAN = float("nan")
    rows = [(1, 1.0), (1, NAN), (1, None), (1, 3.0), (2, NAN), (2, None)]
    df = spark.createDataFrame(rows, "k bigint, v double")
    nu = {r["k"]: r["nunique"] for r in
          groupby_reduce(df, "k", func="nunique", value="v").collect()}
    assert nu == {1: 2, 2: 0}
    aq = {r["k"]: r["approx_quantile"] for r in groupby_reduce(
        df, "k", func="approx_quantile", value="v", finalize_kwargs={"q": 1.0}
    ).collect()}
    assert aq[1] == 3.0 and (aq[2] is None or np.isnan(aq[2]))


def test_hll_sketch_table_incremental(spark, tmp_path_factory):
    """Incremental sketch loop: per-batch sketches appended to a table must
    merge to the same estimate as sketching everything at once, and land
    within HLL error of the exact distinct count."""
    from dask_groupby_spark.operators.sketches import (
        hll_merge_count,
        hll_read,
        hll_sketch_table,
    )

    rows = [(d % 3, f"user_{d % 997}") for d in range(5000)]
    df = spark.createDataFrame(rows, "grp int, uid string")
    first, second = df.where("grp != 2 OR uid < 'user_5'"), df.where(
        "grp = 2 AND uid >= 'user_5'"
    )

    path = str(tmp_path_factory.mktemp("hll") / "sketches")
    hll_sketch_table(first, "grp", value="uid", path=path)
    hll_sketch_table(second, "grp", value="uid", path=path)  # append batch 2

    merged = {
        r["grp"]: r["approx_distinct"]
        for r in hll_merge_count(hll_read(spark, path), "grp").collect()
    }
    direct = {
        r["grp"]: r["approx_distinct"]
        for r in hll_merge_count(hll_sketch_table(df, "grp", value="uid"), "grp").collect()
    }
    assert merged == direct  # the estimate is canonical: batching never moves it

    exact = {
        r["grp"]: r["n"]
        for r in df.groupBy("grp").agg(__import__("pyspark.sql.functions", fromlist=["F"]).countDistinct("uid").alias("n")).collect()
    }
    for g, est in merged.items():
        assert abs(est - exact[g]) / exact[g] < 0.05

    # global rollup from the same table, no keys
    total = hll_merge_count(hll_read(spark, path)).collect()[0]["approx_distinct"]
    assert abs(total - 997) / 997 < 0.05
