"""Full reduction-inventory sweep against a numpy per-group oracle.

Mirrors the reference's master test ``test_groupby_reduce_all``
(flox/tests/test_core.py:215-260): every func in the registry × NaN-
contaminated values × NaN-contaminated labels, oracle = numpy/scipy applied
per group (``_get_array_func``, test_core.py:79-108).
"""

import math

import numpy as np
import pytest

from dask_groupby_spark import (
    AGGREGATIONS,
    groupby_agg,
    groupby_reduce,
    groupby_reduce_complex,
    groupby_scan,
)

SEED = 12345
N = 60
NGROUPS = 5


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(SEED)
    labels = rng.integers(0, NGROUPS, N)
    vals = rng.random(N) * 10
    vals[[1, 4, 5, 17, 30, 31, 32]] = np.nan
    # group 4 → all NaN
    vals[labels == 4] = np.nan
    label_nan = labels.astype(float)
    label_nan[[2, 9, 40]] = np.nan
    return labels, label_nan, vals


@pytest.fixture(scope="module")
def sdf(spark, data):
    labels, label_nan, vals = data
    rows = [
        (
            int(i),
            int(labels[i]),
            None if math.isnan(label_nan[i]) else int(label_nan[i]),
            float(vals[i]),
        )
        for i in range(N)
    ]
    return spark.createDataFrame(rows, "idx bigint, label bigint, label_nan bigint, val double")


def np_group_oracle(func, vals, sel, ddof=0, q=None):
    """Per-group numpy oracle (ref: test_core.py:79-108 _get_array_func)."""
    g = vals[sel]
    pos = np.flatnonzero(sel)
    has_nan = np.isnan(g).any()
    valid = g[~np.isnan(g)]
    if func == "count":
        return float(len(valid))
    if func in ("sum", "prod", "mean", "var", "std", "median"):
        f = {"var": lambda x: np.var(x, ddof=ddof), "std": lambda x: np.std(x, ddof=ddof)}.get(
            func, getattr(np, func)
        )
        return float(f(g))
    if func in ("nansum", "nanprod", "nanmean", "nanvar", "nanstd", "nanmedian"):
        f = {
            "nanvar": lambda x: np.nanvar(x, ddof=ddof),
            "nanstd": lambda x: np.nanstd(x, ddof=ddof),
        }.get(func, getattr(np, func))
        with np.errstate(all="ignore"):
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                return float(f(g))
    if func in ("min", "max"):
        return float(getattr(np, func)(g))
    if func in ("nanmin", "nanmax"):
        if len(valid) == 0:
            return float("nan")
        return float(getattr(np, func.replace("nan", "nan"))(g))
    if func in ("argmin", "argmax"):
        return int(pos[getattr(np, func)(g)])
    if func in ("nanargmin", "nanargmax"):
        if len(valid) == 0:
            return None  # flox fills -1; we check NA
        return int(pos[getattr(np, func)(g)])
    if func == "first":
        return float(g[0])
    if func == "last":
        return float(g[-1])
    if func == "nanfirst":
        return float(valid[0]) if len(valid) else float("nan")
    if func == "nanlast":
        return float(valid[-1]) if len(valid) else float("nan")
    if func == "any":
        return bool(np.any(g[~np.isnan(g)] != 0) or has_nan)
    if func == "all":
        return bool(np.all(g != 0))  # NaN truthy; NaN != 0 → True in numpy
    if func == "quantile":
        return float("nan") if has_nan else float(np.quantile(g, q))
    if func == "nanquantile":
        if len(valid) == 0:
            return float("nan")
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            return float(np.nanquantile(g, q))
    if func == "mode":
        if has_nan:
            return float("nan")
        vals_u, cnt = np.unique(g, return_counts=True)
        return float(vals_u[np.argmax(cnt)])
    if func == "nanmode":
        if len(valid) == 0:
            return float("nan")
        vals_u, cnt = np.unique(valid, return_counts=True)
        return float(vals_u[np.argmax(cnt)])
    if func == "nunique":
        return float(len(np.unique(valid)))
    raise AssertionError(func)


def eq(a, b, tol=1e-10):
    if a is None and b is None:
        return True
    if a is None or b is None:
        # NA (-NULL) vs NaN mismatch allowed only if both missing-ish
        af = a if a is not None else float("nan")
        bf = b if b is not None else float("nan")
        return isinstance(af, float) and isinstance(bf, float) and math.isnan(af) and math.isnan(bf)
    if isinstance(a, bool) or isinstance(b, bool):
        return bool(a) == bool(b)
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    if isinstance(b, float) and math.isnan(b):
        return False
    return abs(float(a) - float(b)) <= tol * max(1.0, abs(float(a)), abs(float(b)))


# quantile/var/std have dedicated ddof/q tests; approx_* sketches have
# tolerance-based tests in test_approx.py (no exact numpy oracle)
FUNCS = [
    f
    for f in AGGREGATIONS
    if f
    not in (
        "quantile",
        "nanquantile",
        "var",
        "nanvar",
        "std",
        "nanstd",
        "approx_nunique",
        "approx_quantile",
        "approx_median",
        "anyvalue",  # nondeterministic pick by design — membership-tested below
    )
]


def test_anyvalue_membership(sdf, data):
    """anyvalue has no single numpy oracle (ANY group member is correct);
    the contract is: non-null, and a member of the group's valid values."""
    labels, _, vals = data
    out = groupby_reduce(sdf, "label", func="anyvalue", value="val")
    got = {r["label"]: r["anyvalue"] for r in out.collect()}
    for k in range(NGROUPS):
        members = vals[(labels == k)]
        members = members[~np.isnan(members)]
        if len(members) == 0:
            # all-missing group → dtype-NA (NaN for float), like every
            # skipping reduction
            assert math.isnan(got[k]), (k, got[k])
        else:
            assert got[k] in members, (k, got[k])


@pytest.mark.parametrize("func", FUNCS)
def test_reduce_vs_numpy(sdf, data, func):
    labels, _, vals = data
    kw = {}
    out = groupby_reduce(sdf, "label", func=func, value="val", idx_col="idx", finalize_kwargs=kw)
    got = {r["label"]: r[func] for r in out.collect()}
    for k in range(NGROUPS):
        exp = np_group_oracle(func, vals, labels == k)
        assert eq(got[k], exp), f"{func} group {k}: spark={got[k]} numpy={exp}"


@pytest.mark.parametrize("func", ["var", "nanvar", "std", "nanstd"])
@pytest.mark.parametrize("ddof", [0, 1, 2])
def test_var_std_ddof(sdf, data, func, ddof):
    labels, _, vals = data
    out = groupby_reduce(
        sdf, "label", func=func, value="val", finalize_kwargs={"ddof": ddof}
    )
    got = {r["label"]: r[func] for r in out.collect()}
    for k in range(NGROUPS):
        exp = np_group_oracle(func, vals, labels == k, ddof=ddof)
        assert eq(got[k], exp, tol=1e-8), f"{func} ddof={ddof} group {k}: {got[k]} vs {exp}"


@pytest.mark.parametrize("func", ["quantile", "nanquantile"])
@pytest.mark.parametrize("q", [0.5, 0.9, 0.45])
def test_quantile_scalar(sdf, data, func, q):
    labels, _, vals = data
    out = groupby_reduce(sdf, "label", func=func, value="val", finalize_kwargs={"q": q})
    got = {r["label"]: r[func] for r in out.collect()}
    for k in range(NGROUPS):
        exp = np_group_oracle(func, vals, labels == k, q=q)
        assert eq(got[k], exp, tol=1e-12), f"{func} q={q} group {k}: {got[k]} vs {exp}"


def test_quantile_vector(sdf, data):
    labels, _, vals = data
    qs = [0.45, 0.9]
    out = groupby_reduce(
        sdf, "label", func="nanquantile", value="val", finalize_kwargs={"q": qs}
    )
    got = {r["label"]: r["nanquantile"] for r in out.collect()}
    for k in range(NGROUPS):
        for j, q in enumerate(qs):
            exp = np_group_oracle("nanquantile", vals, labels == k, q=q)
            assert eq(got[k][j], exp, tol=1e-12)


def test_nan_labels_excluded(sdf, data):
    labels, label_nan, vals = data
    out = groupby_reduce(sdf, "label_nan", func="count", value="val")
    got = {r["label_nan"]: r["count"] for r in out.collect()}
    assert None not in got
    for k in got:
        sel = (label_nan == k) if k is not None else None
        exp = np_group_oracle("count", vals, label_nan == k)
        assert eq(got[k], exp)


NAN = float("nan")


@pytest.fixture(scope="module")
def fkey(spark):
    """A DOUBLE key holding both NaN (i % 10 == 3) and NULL (i % 10 == 7).
    Values are quarter-integers (some NaN), so every sum is exact in any
    order."""
    rows = []
    for i in range(N):
        k = None if i % 10 == 7 else (NAN if i % 10 == 3 else float(i % 4))
        v = NAN if i % 11 == 0 else (i % 5) * 0.25
        rows.append((i, k, v, (v, 0.5 * (i % 3))))
    return spark.createDataFrame(
        rows, "idx bigint, k double, val double, z struct<re: double, im: double>"
    )


_LABEL_FRONT_ENDS = {
    "reduce": lambda df: groupby_reduce(df, "k", func="nansum", value="val"),
    "agg": lambda df: groupby_agg(
        df, "k", funcs=[("nansum", "val", "s"), ("count", "val", "n")]
    ),
    "complex": lambda df: groupby_reduce_complex(df, "k", func="nansum", value="z"),
    "scan": lambda df: groupby_scan(
        df, "k", func="nancumsum", value="val", idx_col="idx"
    ),
}


def _nan_safe(x):
    """Row → comparable tuple: NaN becomes a token (NaN != NaN)."""
    if isinstance(x, (tuple, list)):
        return tuple(_nan_safe(e) for e in x)
    return "nan" if isinstance(x, float) and math.isnan(x) else x


@pytest.mark.parametrize("front", sorted(_LABEL_FRONT_ENDS))
def test_float_key_nan_and_null_labels_excluded(fkey, front):
    """NaN and NULL float labels are both missing (ref core.py:846-849):
    reductions return no group row for either and match the same data
    with those rows removed; a scan returns NA on exactly those rows and
    leaves the others unchanged."""
    from pyspark.sql import functions as F

    run = _LABEL_FRONT_ENDS[front]
    missing = F.col("k").isNull() | F.isnan("k")
    got = run(fkey).collect()
    ref = run(fkey.where(~missing)).collect()
    if front != "scan":
        assert all(r["k"] is not None and not math.isnan(r["k"]) for r in got)
        assert sorted(map(_nan_safe, got)) == sorted(map(_nan_safe, ref))
        return
    miss = {r["idx"] for r in fkey.where(missing).select("idx").collect()}
    assert len(miss) == 12
    ref = {r["idx"]: _nan_safe(r) for r in ref}
    for r in got:
        if r["idx"] in miss:
            assert math.isnan(r["nancumsum"])
        else:
            assert _nan_safe(r) == ref[r["idx"]]


def test_multi_by_grid(sdf, data):
    """multi-by output = dense cross-product grid (ref core.py:2115-2166)."""
    labels, label_nan, vals = data
    out = groupby_reduce(
        sdf, "label", "label_nan", func="count", value="val", fill_value=0
    )
    rows = out.collect()
    n_l = len(set(labels))
    n_ln = len(set(int(x) for x in label_nan[~np.isnan(label_nan)]))
    assert len(rows) == n_l * n_ln
    got = {(r["label"], r["label_nan"]): r["count"] for r in rows}
    for (a, b), v in got.items():
        exp = np_group_oracle("count", vals, (labels == a) & (label_nan == b))
        assert eq(v, exp), f"({a},{b}): {v} vs {exp}"
