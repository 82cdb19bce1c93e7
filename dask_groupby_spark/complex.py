"""Complex-number grouped reductions.

The reference supports complex64/128 values in reductions (strategies.py:83
includes complex dtypes in the hypothesis sweep; the quantile kernel's
sort-trick packs (value, index) into a complex, aggregate_flox.py:62-73).
Spark has no complex type (SURVEY.md §1.2), so we represent a complex column
as ``struct<re: double, im: double>`` and build each reduction from per-part
expressions:

- linear ops (sum/mean) reduce re and im independently;
- ordering ops (min/max/arg*/first/last) use Spark's lexicographic struct
  comparison, which matches numpy's complex ordering (compare real parts,
  break ties on imaginary);
- prod uses the polar decomposition: |z| via exp(Σ log|z|) (0 if any zero
  factor) and arg(z) via Σ atan2(im, re) — pure column expressions, no UDF.

Missing-value rule: a complex element is missing when it is NULL or either
part is NaN (numpy: ``isnan(z) = isnan(z.real) | isnan(z.imag)``).  ``nan*``
variants skip missing elements; bare variants poison the group.

Everything here is a single hash aggregation — one shuffle on the keys,
map-side partial aggregation, whole-stage codegen (no Python in the hot
path) — so the 100 TB story is identical to the scalar reductions.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dtypes import _labels_present

NAN = float("nan")

COMPLEX_FUNCS = (
    "count",
    "sum",
    "nansum",
    "mean",
    "nanmean",
    "prod",
    "nanprod",
    "min",
    "max",
    "nanmin",
    "nanmax",
    "first",
    "last",
    "nanfirst",
    "nanlast",
    # real-valued: numpy var/std of complex = mean(|z - E z|^2), a real number
    "var",
    "nanvar",
    "std",
    "nanstd",
    # index of the lexicographic extreme (numpy complex ordering), first
    # occurrence on ties; bare variants return the first missing index when
    # any element is missing (np.argmax NaN-wins semantics)
    "argmin",
    "argmax",
    "nanargmin",
    "nanargmax",
    # lexicographic middle; even count averages the two middles (np.median)
    "median",
    "nanmedian",
    # truthiness: z is truthy iff z != 0 (numpy any/all on complex)
    "any",
    "all",
)


def complex_col(re: Column, im: Column) -> Column:
    """Pack two float columns into the complex struct representation."""
    return F.struct(re.cast("double").alias("re"), im.cast("double").alias("im"))


def _cpx(re, im) -> Column:
    return F.struct(F.lit(re).cast("double").alias("re"), F.lit(im).cast("double").alias("im"))


def groupby_reduce_complex(
    df: DataFrame,
    *by: str,
    func: str,
    value: str,
    idx_col: Optional[str] = None,
    alias: Optional[str] = None,
    sort: bool = True,
    ddof: int = 0,
) -> DataFrame:
    """Grouped reduction over a ``struct<re,im>`` complex column.

    Returns ``(*by, <alias> struct<re,im>)`` — except ``count`` /
    ``arg*`` (bigint), ``var``/``std`` (double: numpy's complex variance
    ``mean(|z - E z|^2)`` is real), and ``any``/``all`` (boolean) —
    one row per observed group.  NaN-in-key rows are excluded like in
    :func:`~dask_groupby_spark.core.groupby_reduce`.  ``ddof`` applies to
    the var/std family.
    """
    if func not in COMPLEX_FUNCS:
        raise ValueError(f"complex reduction {func!r} not supported; one of {COMPLEX_FUNCS}")
    out = alias or func

    v = F.col(value)
    re, im = v["re"], v["im"]
    missing = v.isNull() | F.isnan(re) | F.isnan(im)
    valid = ~missing
    clean = F.when(valid, v)
    skipna = func.startswith("nan") or func == "count"
    base = func[3:] if func.startswith("nan") else func

    # missing-label exclusion matching core.groupby_reduce step 1: NULL
    # keys AND NaN float keys are dropped (r9 review: the NOT NULL filter
    # alone let NaN keys form an extra group the scalar path drops)
    keyed = df.where(_labels_present(df, by))

    if base == "median":
        return _complex_median(
            keyed, by, v, valid, missing, skipna, out, sort
        )

    nmiss = F.sum(missing.cast("long"))

    if func == "count":
        agg = F.count(clean).alias(out)
    elif base == "sum":
        s = F.struct(
            F.coalesce(F.sum(F.when(valid, re)), F.lit(0.0)).alias("re"),
            F.coalesce(F.sum(F.when(valid, im)), F.lit(0.0)).alias("im"),
        )
        agg = s.alias(out)
    elif base == "mean":
        n = F.count(clean)
        s = F.struct(
            (F.sum(F.when(valid, re)) / n).alias("re"),
            (F.sum(F.when(valid, im)) / n).alias("im"),
        )
        agg = s.alias(out)
    elif base == "prod":
        # polar form: Π z = exp(Σ log|z|) · e^{i Σ arg z}; any zero factor → 0
        mag2 = re * re + im * im
        logm = F.sum(F.when(valid, F.log(mag2) / 2))
        ang = F.sum(F.when(valid, F.atan2(im, re)))
        anyzero = F.max(F.when(valid & (mag2 == 0), True).otherwise(False))
        pm = F.when(anyzero, F.lit(0.0)).otherwise(F.exp(logm))
        s = F.struct(
            (pm * F.cos(ang)).alias("re"), (pm * F.sin(ang)).alias("im")
        )
        # empty product (all missing) → identity 1+0i (numpy nanprod)
        s = F.when(F.count(clean) > 0, s).otherwise(_cpx(1.0, 0.0))
        agg = s.alias(out)
    elif base in ("min", "max"):
        # Spark struct ordering == numpy complex lexicographic ordering
        agg = (F.min(clean) if base == "min" else F.max(clean)).alias(out)
    elif base in ("first", "last"):
        if idx_col is None:
            raise ValueError(f"func={func!r} requires idx_col=")
        idx = F.col(idx_col)
        if skipna:
            pick_idx = F.when(valid, idx)
        else:
            pick_idx = idx
        agg = (
            F.min_by(v, pick_idx) if base == "first" else F.max_by(v, pick_idx)
        ).alias(out)
    elif base in ("var", "std"):
        # numpy: var(z) = mean(|z - E z|^2) = E|z|^2 - |E z|^2 — REAL-valued.
        # Computed over values SHIFTED by the group's (min re, min im):
        # variance is shift-invariant for complex z too, the min is
        # deterministic (order-insensitive, unlike a float-mean shift), and
        # shifting kills the raw-moment cancellation when |mean| ≫ spread
        # (r7 numerical-stability sweep).  The unordered window shares the
        # aggregate's key partitioning — still one Exchange.
        from pyspark.sql import Window

        wsh = Window.partitionBy(*by)
        keyed = keyed.withColumn(
            "__c_kre", F.min(F.when(valid, re)).over(wsh)
        ).withColumn("__c_kim", F.min(F.when(valid, im)).over(wsh))
        cre = re - F.col("__c_kre")
        cim = im - F.col("__c_kim")
        n = F.count(clean)
        ssq = F.sum(F.when(valid, cre * cre + cim * cim))
        sre, sim = F.sum(F.when(valid, cre)), F.sum(F.when(valid, cim))
        num = ssq - (sre * sre + sim * sim) / n
        # clamp tiny negative rounding residue like Spark's var_pop does;
        # guard n > ddof (as in aggregations._var_expr) so degenerate groups
        # (n <= ddof, incl. all-missing) yield NULL → NaN downstream instead
        # of ANSI DIVIDE_BY_ZERO / greatest() swallowing the NULL into 0.0
        core = F.greatest(num / (n - F.lit(int(ddof))), F.lit(0.0))
        if base == "std":
            core = F.sqrt(core)
        agg = F.when(n > F.lit(int(ddof)), core).alias(out)
    elif base in ("argmin", "argmax"):
        # lexicographic extreme (numpy complex ordering), smallest-index
        # tie-break via max(struct(key, -idx)) — same trick as the scalar
        # registry (_argextreme).  min == max of the negated parts.
        if idx_col is None:
            raise ValueError(f"func={func!r} requires idx_col=")
        idx = F.col(idx_col)
        key_re, key_im = (re, im) if base == "argmax" else (-re, -im)
        pair = F.when(
            valid, F.struct(key_re.alias("a"), key_im.alias("b"), (-idx).alias("ni"))
        )
        agg = (-F.max(pair)["ni"]).alias(out)
    elif base in ("any", "all"):
        # numpy truthiness: z truthy iff z != 0; NaN parts are truthy.
        # NULL rows stay NULL so bool_or/bool_and SKIP them (the scalar
        # _truthy convention, r9 review: mapping NULL to False poisoned
        # `all` and broke the all-NULL identity)
        truthy = F.when(
            v.isNotNull(), F.isnan(re) | F.isnan(im) | (re != 0) | (im != 0)
        )
        agg = (
            F.coalesce(F.bool_or(truthy), F.lit(False))
            if base == "any"
            else F.coalesce(F.bool_and(truthy), F.lit(True))
        ).alias(out)
    else:  # pragma: no cover
        raise AssertionError(func)

    extra = [nmiss.alias("__nmiss")]
    if base in ("argmin", "argmax") and not skipna:
        # numpy bare arg-reductions: any missing → index of the FIRST missing
        extra.append(F.min(F.when(missing, F.col(idx_col))).alias("__fmi"))
    grouped = keyed.groupBy(*by).agg(agg, *extra)

    col = F.col(out)
    if func == "count" or base in ("any", "all"):
        pass  # never NaN-poisoned (numpy truthiness treats NaN as truthy)
    elif base in ("argmin", "argmax"):
        if not skipna:
            col = F.when(F.col("__nmiss") > 0, F.col("__fmi")).otherwise(col)
        # nan variant: all-missing group stays NULL (numpy raises there)
    elif base in ("var", "std"):
        # real-valued outputs: poison/empty cases are double NaN, not struct
        if skipna:
            col = F.coalesce(col, F.lit(NAN))
        else:
            col = F.when(F.col("__nmiss") > 0, F.lit(NAN)).otherwise(
                F.coalesce(col, F.lit(NAN))
            )
    elif base in ("first", "last"):
        # positional picks: bare first/last return the element at the
        # position — never group-poisoned by NaN elsewhere (flox
        # aggregations.py:496-497); nan variants skip missing, and an
        # all-missing group yields complex NaN
        if skipna:
            col = F.coalesce(col, _cpx(NAN, NAN))
    elif skipna:
        # all-missing group → complex NaN (numpy nan-reduction warning case)
        col = F.coalesce(col, _cpx(NAN, NAN))
        if base == "prod":
            col = F.col(out)  # empty product already 1+0i
    else:
        col = F.when(F.col("__nmiss") > 0, _cpx(NAN, NAN)).otherwise(
            F.coalesce(col, _cpx(NAN, NAN))
        )
    result = grouped.withColumn(out, col).drop("__nmiss", "__fmi")
    if sort:
        result = result.orderBy(*by)
    return result


def _complex_median(
    keyed: DataFrame,
    by: tuple,
    v: Column,
    valid: Column,
    missing: Column,
    skipna: bool,
    out: str,
    sort: bool,
) -> DataFrame:
    """Lexicographic complex median (numpy: sort by (re, im), average the
    two middles on even counts — a complex average).

    Holistic plan: ONE window pass ranks valid elements per group (valid
    rows first, then (re, im)); only the middle one/two rows per group plus
    a representative row for all-missing groups survive to a tiny final
    aggregate.  Same single-Exchange shape as the scalar exact median —
    and the same hot-group caveat (a group's rows sort within one task;
    the sketch path has no complex analog because rank interpolation is
    ill-defined on the complex plane).
    """
    from pyspark.sql import Window

    re, im = v["re"], v["im"]
    w = Window.partitionBy(*by)
    wo = w.orderBy(
        valid.cast("int").desc(),
        F.when(valid, re).asc(),
        F.when(valid, im).asc(),
    )
    ranked = keyed.select(
        *by,
        v.alias("__v"),
        valid.alias("__ok"),
        F.row_number().over(wo).alias("__rn"),
        F.sum(valid.cast("long")).over(w).alias("__nv"),
        F.sum(missing.cast("long")).over(w).alias("__nm"),
    )
    lo = F.floor((F.col("__nv") + 1) / 2)
    hi = F.floor(F.col("__nv") / 2) + 1
    mid = (
        F.col("__ok") & (F.col("__rn") == lo) | (F.col("__ok") & (F.col("__rn") == hi))
    )
    keep_empty = (F.col("__nv") == 0) & (F.col("__rn") == 1)
    picked = ranked.where(mid | keep_empty)
    med = F.struct(
        F.avg(F.when(F.col("__ok"), F.col("__v")["re"])).alias("re"),
        F.avg(F.when(F.col("__ok"), F.col("__v")["im"])).alias("im"),
    )
    grouped = picked.groupBy(*by).agg(med.alias(out), F.max("__nm").alias("__nm"))
    col = F.coalesce(F.col(out), _cpx(NAN, NAN))
    if not skipna:
        col = F.when(F.col("__nm") > 0, _cpx(NAN, NAN)).otherwise(col)
    result = grouped.withColumn(out, col).drop("__nm")
    if sort:
        result = result.orderBy(*by)
    return result
