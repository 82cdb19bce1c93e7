"""Weighted grouped reductions — training-mix arithmetic (sampling weights,
token-weighted averages).  No flox counterpart (single-value-column model);
here a weighted reduction is just two fused aggregates in one hash table,
so it costs exactly one shuffle like any other reduction.

Missing-value rule: a row contributes only if BOTH value and weight are
valid (non-NULL, non-NaN) — the nan* convention applied pairwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dtypes import _missing


def _valid(df: DataFrame, col: str) -> Column:
    return ~_missing(F.col(col), df.schema[col].dataType)


def groupby_weighted(
    df: DataFrame,
    *by: str,
    value: str,
    weight: str,
    funcs: tuple = ("wmean",),
    sort: bool = True,
) -> DataFrame:
    """Weighted reductions per group.  ``funcs`` ⊆ {wsum, wmean, wvar}:

    - ``wsum``  = Σ wᵢ·xᵢ
    - ``wmean`` = Σ wᵢ·xᵢ / Σ wᵢ  (NaN when total weight is 0/empty)
    - ``wvar``  = Σ wᵢ·xᵢ² / Σ wᵢ − wmean²  (population, frequency weights)

    All requested funcs share one ``agg()`` → one shuffle.  ``wvar`` is
    computed over values SHIFTED by the group's min (variance is
    shift-invariant; the deterministic shift kills the raw-moment
    cancellation when |mean| ≫ spread) — the min comes from an unordered
    window over the same keys, whose partitioning the aggregate reuses,
    so the plan stays a single Exchange.
    """
    ok = _valid(df, value) & _valid(df, weight)
    x = F.when(ok, F.col(value).cast("double"))
    w = F.when(ok, F.col(weight).cast("double"))
    if "wvar" in funcs:
        from pyspark.sql import Window

        df = df.withColumn("__wv_k", F.min(x).over(Window.partitionBy(*by)))
    wsum_x = F.sum(w * x)
    wsum = F.sum(w)
    aggs = []
    for f in funcs:
        if f == "wsum":
            aggs.append(F.coalesce(wsum_x, F.lit(0.0)).alias("wsum"))
        elif f == "wmean":
            aggs.append((wsum_x / wsum).alias("wmean"))
        elif f == "wvar":
            c = x - F.col("__wv_k")
            swc = F.sum(w * c)
            raw = F.sum(w * c * c) / wsum - (swc / wsum) * (swc / wsum)
            # clamp the tiny negative rounding residue to 0 WITHOUT
            # coercing the all-missing NULL (greatest() would return 0.0
            # for a NULL operand)
            aggs.append(F.when(raw < 0, F.lit(0.0)).otherwise(raw).alias("wvar"))
        else:
            raise ValueError(f"unknown weighted func {f!r}")
    out = df.groupBy(*by).agg(*aggs)
    return out.orderBy(*by) if sort else out


def groupby_bivariate(
    df: DataFrame,
    *by: str,
    x: str,
    y: str,
    funcs: tuple = ("corr",),
    ddof: int = 1,
    sort: bool = True,
) -> DataFrame:
    """Bivariate grouped reductions over two value columns, pairwise-complete
    (a row contributes only when BOTH x and y are non-missing — pandas
    ``DataFrame.corr`` semantics, where NaN poisons nothing).

    ``funcs`` ⊆ {corr, cov, slope, intercept, r2} (``cov`` honors ``ddof``:
    1 = sample, 0 = population; slope/intercept/r2 are the OLS fit of
    y on x).  Built from Spark's NUMERICALLY STABLE co-moment aggregates
    (``corr``/``covar_samp``/``covar_pop`` — Welford-style merge, no
    Σx²−(Σx)²/n cancellation when |mean| ≫ spread) — still one fused
    hash aggregate, map-side combinable, one shuffle.
    """
    ok = _valid(df, x) & _valid(df, y)
    xv = F.when(ok, F.col(x).cast("double"))
    yv = F.when(ok, F.col(y).cast("double"))
    n = F.count(xv)
    cov_pop = F.covar_pop(xv, yv)
    vx = F.var_pop(xv)
    vy = F.var_pop(yv)
    aggs = []
    for f in funcs:
        if f == "cov":
            if ddof == 1:
                aggs.append(F.when(n > 1, F.covar_samp(xv, yv)).alias("cov"))
            elif ddof == 0:
                aggs.append(F.when(n > 0, cov_pop).alias("cov"))
            else:
                denom = n - F.lit(ddof)
                aggs.append(
                    F.when(denom > 0, cov_pop * n / denom).alias("cov")
                )
        elif f == "corr":
            aggs.append(
                F.when((n > 1) & (vx > 0) & (vy > 0), F.corr(xv, yv)).alias("corr")
            )
        elif f == "slope":
            aggs.append(F.when(vx > 0, cov_pop / vx).alias("slope"))
        elif f == "intercept":
            aggs.append(
                F.when(vx > 0, F.avg(yv) - (cov_pop / vx) * F.avg(xv)).alias(
                    "intercept"
                )
            )
        elif f == "r2":
            aggs.append(
                F.when(
                    (vx > 0) & (vy > 0),
                    (cov_pop * cov_pop) / (vx * vy),
                ).alias("r2")
            )
        else:
            raise ValueError(f"unknown bivariate func {f!r}")
    out = df.groupBy(*by).agg(*aggs)
    return out.orderBy(*by) if sort else out


def weighted_quantile(
    df: DataFrame,
    *by: str,
    value: str,
    weight: str,
    q=0.5,
    sort: bool = True,
    prefix: str = "wq_",
) -> DataFrame:
    """Exact weighted quantile(s) per group — inverted-CDF definition: the
    smallest value whose cumulative weight reaches ``q`` of the group's
    total weight (with all weights 1 this is numpy's
    ``interpolation="lower"`` discrete quantile).

    ``q``: scalar or sequence — every requested quantile is answered in the
    SAME pass (one column per q, named ``{prefix}{q}`` with '.'→'_').

    Plan: one window on the group keys (sorted by value: cumulative weight +
    total weight), then a hash aggregate that REUSES the window's
    partitioning — a single Exchange end-to-end.  Rows with missing value
    or non-positive/missing weight are excluded.

    Skew note: like every exact holistic reduction here, a giant group
    serializes through one task's sort; the bounded-state alternative is a
    weighted GK sketch — not shipped, the exact path is the contract.
    """
    qs = [float(q)] if isinstance(q, (int, float)) else [float(x) for x in q]
    if any(not (0.0 <= x <= 1.0) for x in qs):
        raise ValueError("q must be in [0, 1]")
    from pyspark.sql import Window

    ok = _valid(df, value) & _valid(df, weight) & (F.col(weight).cast("double") > 0)
    base = df.where(ok).select(
        *by, F.col(value).cast("double").alias("__x"),
        F.col(weight).cast("double").alias("__w"),
    )
    wcum = (
        Window.partitionBy(*by)
        .orderBy(F.col("__x").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*by)
    staged = base.select(
        *by, "__x",
        F.sum("__w").over(wcum).alias("__cw"),
        F.sum("__w").over(wall).alias("__tw"),
    )
    aggs = []
    for x in qs:
        name = f"{prefix}{x}".replace(".", "_")
        aggs.append(
            F.min(F.when(F.col("__cw") >= F.lit(x) * F.col("__tw"), F.col("__x")))
            .alias(name)
        )
    out = staged.groupBy(*by).agg(*aggs)
    return out.orderBy(*by) if sort else out


def weighted_quantile_sketch(
    df: DataFrame,
    *by: str,
    value: str,
    weight: str,
    q=0.5,
    bins: int = 4096,
    sort: bool = True,
    prefix: str = "wq_",
) -> DataFrame:
    """Bounded-state weighted quantile — the 100 TB skew escape next to
    :func:`weighted_quantile`, the way ``approx_quantile`` (GK sketch) is
    the escape for the exact unweighted path.

    Sketch: a fixed-width weighted HISTOGRAM over each group's value range —
    pass 1 computes per-group min/max (hash agg), pass 2 sums weights per
    (group, bucket) (hash agg, ≤ ``bins`` cells per group), then the
    inverted CDF is read off the ≤``bins``-row cumulative histogram and the
    answering bucket's MIDPOINT is returned.  Absolute error is bounded by
    half a bucket width, (max−min)/bins/2 — value-space rather than GK's
    rank-space bound, but with the same scale property: per-group state is
    O(bins) regardless of group size, so a hot key never serializes a full
    sort through one task the way the exact window path does.

    Deterministic and pure-arithmetic (no sampling), so the result is
    reproducible cross-engine — unlike t-digest-style sketches whose
    cluster boundaries depend on merge order.

    ``q``: scalar or sequence; one column per q, named ``{prefix}{q}``
    with '.'→'_'.  Rows with missing value or non-positive weight are
    excluded, matching the exact path.
    """
    qs = [float(q)] if isinstance(q, (int, float)) else [float(x) for x in q]
    if any(not (0.0 <= x <= 1.0) for x in qs):
        raise ValueError("q must be in [0, 1]")
    if bins < 1:
        raise ValueError("bins must be >= 1")
    from pyspark.sql import Window

    ok = _valid(df, value) & _valid(df, weight) & (F.col(weight).cast("double") > 0)
    base = df.where(ok).select(
        *by, F.col(value).cast("double").alias("__x"),
        F.col(weight).cast("double").alias("__w"),
    )
    mm = base.groupBy(*by).agg(
        F.min("__x").alias("__mn"), F.max("__x").alias("__mx")
    )
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(bins))
    # guard on the WIDTH, not on mx > mn: a subnormal range (mx - mn ~
    # 5e-324) underflows to width == 0.0 while mx > mn still holds, and
    # the bucket division crashes under ANSI (hypothesis-found, r8).
    # Zero-width groups collapse to bucket 0 — the half-width error bound
    # is then (mx - mn)/2 ≤ bins·ulp/2, still honored.
    bucket = F.when(
        width > F.lit(0.0),
        F.least(
            F.floor((F.col("__x") - F.col("__mn")) / width), F.lit(bins - 1)
        ),
    ).otherwise(F.lit(0))
    hist = (
        base.join(mm, on=list(by))
        .select(*by, "__mn", "__mx", bucket.alias("__b"), "__w")
        .groupBy(*by, "__mn", "__mx", "__b")
        .agg(F.sum("__w").alias("__sw"))
    )
    wcum = (
        Window.partitionBy(*by)
        .orderBy(F.col("__b").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*by)
    staged = hist.select(
        *by, "__mn", "__mx", "__b",
        F.sum("__sw").over(wcum).alias("__cw"),
        F.sum("__sw").over(wall).alias("__tw"),
    )
    mid = F.col("__mn") + (F.col("__b") + F.lit(0.5)) * (
        (F.col("__mx") - F.col("__mn")) / F.lit(float(bins))
    )
    # degenerate range (all values equal) → the value itself, not mn+0.5w
    rep = F.when(F.col("__mx") > F.col("__mn"), mid).otherwise(F.col("__mn"))
    aggs = []
    for x in qs:
        name = f"{prefix}{x}".replace(".", "_")
        aggs.append(
            F.min(F.when(F.col("__cw") >= F.lit(x) * F.col("__tw"), rep))
            .alias(name)
        )
    out = staged.groupBy(*by).agg(*aggs)
    return out.orderBy(*by) if sort else out


def time_weighted_mean(
    df: DataFrame,
    *by: str,
    ts_col: str,
    value: str,
    out: str = "twa",
    tiebreak: str | None = None,
    sort: bool = True,
) -> DataFrame:
    """Time-weighted average for irregularly-sampled series: each
    observation is weighted by how long it was current — ``lead(ts) − ts``
    within its group (last observation holds zero duration; a single-row
    group falls back to its value).  The standard TWA of sensor/market
    data, where a value that held for an hour must not count like one that
    held for a second.

    If a group can contain DUPLICATE timestamps, pass ``tiebreak=`` (a
    unique column) — otherwise the lead assignment across the tie, and
    hence the two tied rows' durations, is partition-order-dependent.
    Tied rows get duration 0 except the tiebreak-last one, which is a
    defined convention rather than a modeling choice.

    One ordered window (lead) + one hash aggregate that reuses the window's
    key partitioning — a single Exchange.  Missing values or NULL
    timestamps are excluded pairwise before weighting.
    """
    from pyspark.sql import Window

    from ..dtypes import time_to_seconds

    # a NaN timestamp sorts LAST, so letting it through poisons the whole
    # group: the previous row's lead-duration becomes NaN and the duration
    # sum with it (r9 review) — exclude it like every other missing value
    ok = _valid(df, value) & _valid(df, ts_col)
    base = df.where(ok).select(
        *by,
        time_to_seconds(df, ts_col).alias("__t"),
        F.col(value).cast("double").alias("__x"),
        *([F.col(tiebreak).alias("__tb")] if tiebreak else []),
    )
    order = [F.col("__t").asc()] + ([F.col("__tb").asc()] if tiebreak else [])
    w = Window.partitionBy(*by).orderBy(*order)
    staged = base.select(
        *by, "__x",
        (F.coalesce(F.lead("__t", 1).over(w), F.col("__t")) - F.col("__t")).alias("__dur"),
    )
    res = staged.groupBy(*by).agg(
        F.when(
            F.sum("__dur") > 0, F.sum(F.col("__x") * F.col("__dur")) / F.sum("__dur")
        )
        .otherwise(F.avg("__x"))  # all-zero durations (single point / all-equal ts)
        .alias(out)
    )
    return res.orderBy(*by) if sort else res


def top_terms(
    df: DataFrame,
    *by: str,
    text_col: str = "text",
    k: int = 5,
    min_len: int = 1,
) -> DataFrame:
    """Top-k most frequent tokens per group (corpus inspection / vocabulary
    drift).  explode → count (one shuffle, map-side combine) → per-group
    top-k window; ties break alphabetically for determinism.
    Output: (*by, term, n, rank).
    """
    from .text import tokens

    tok = df.select(
        *by, F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.length("term") >= min_len)
    counts = tok.groupBy(*by, "term").agg(F.count(F.lit(1)).alias("n"))
    from .selection import grouped_topk

    ranked = grouped_topk(
        counts, *by, order_col="n", k=k, descending=True, tiebreak="term"
    )
    return ranked.select(*by, "term", "n", F.col("rank"))
