"""Reshape: long↔wide pivots of grouped reductions.

The reference's multi-``by`` output is an N-D dense grid (one axis per
grouper); a 2-D grid rendered wide IS a pivot table.  This module provides
that rendering for long DataFrames.

Scale design: ``groupby_pivot`` does NOT use ``DataFrame.pivot`` when the
column domain is declared — Spark's pivot without explicit values runs an
EXTRA collect-distinct job over the data to discover the columns, and the
wide row is built driver-side metadata anyway.  Instead the pivot is pure
conditional aggregation: ``agg(func(CASE WHEN col_by = v THEN value END)
for v in col_values)`` — ONE shuffle on ``row_by``, map-side combinable,
identical plan shape to any other grouped reduction.  The declared (or
discovered) column domain must be modest (it becomes the schema — thousands,
not millions); the row axis is unbounded.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dtypes import _missing

_PIVOT_FUNCS = ("count", "nansum", "nanmean", "nanmin", "nanmax")


def _clean(df: DataFrame, value: str) -> Column:
    v = F.col(value)
    return F.when(~_missing(v, df.schema[value].dataType), v)


def groupby_pivot(
    df: DataFrame,
    row_by: str,
    col_by: str,
    func: str = "nansum",
    value: str = "value",
    col_values: Optional[Sequence] = None,
    prefix: Optional[str] = None,
    fill_value=None,
    sort: bool = True,
    max_discovered: int = 1000,
) -> DataFrame:
    """Wide grouped reduction: one row per ``row_by`` label, one column per
    ``col_by`` label (named ``{prefix}{label}``, prefix defaults to
    ``{col_by}_``).

    ``func`` ∈ {count, nansum, nanmean, nanmin, nanmax} (skip-missing
    semantics, as the nan* registry names imply).  ``col_values`` declares
    the column domain — pass it at scale (skipping the discovery job and
    fixing the schema); when omitted, one distinct-collect job discovers
    the observed labels (sorted), and raises if more than
    ``max_discovered`` labels exist — an unbounded label set would both
    flood the driver and produce a pathologically wide plan; a
    high-cardinality ``col_by`` needs an explicit (curated) domain.
    ``fill_value`` fills empty cells.
    """
    if func not in _PIVOT_FUNCS:
        raise ValueError(f"func must be one of {_PIVOT_FUNCS}")
    if col_values is None:
        # limit(N+1) bounds the collect itself — the driver never holds more
        # than max_discovered+1 labels even when col_by is corpus-cardinality
        discovered = [
            r[0]
            for r in df.select(col_by)
            .where(F.col(col_by).isNotNull())
            .distinct()
            .limit(max_discovered + 1)
            .collect()
        ]
        if len(discovered) > max_discovered:
            raise ValueError(
                f"groupby_pivot discovered more than max_discovered="
                f"{max_discovered} distinct {col_by!r} labels; pass "
                f"col_values= with a declared domain (or raise max_discovered)"
            )
        col_values = sorted(discovered)
    prefix = f"{col_by}_" if prefix is None else prefix
    clean = _clean(df, value)
    aggs = []
    for v in col_values:
        cell = F.when(F.col(col_by) == F.lit(v), clean)
        if func == "count":
            a = F.count(cell)
        elif func == "nansum":
            a = F.sum(cell)
        elif func == "nanmean":
            a = F.avg(cell)
        elif func == "nanmin":
            a = F.min(cell)
        else:
            a = F.max(cell)
        if func in ("count", "nansum"):
            a = F.coalesce(a, F.lit(0).cast("double" if func == "nansum" else "long"))
        if fill_value is not None:
            a = F.coalesce(a, F.lit(fill_value))
        name = f"{prefix}{v}".replace(".", "_").replace("-", "_")
        aggs.append(a.alias(name))
    names = [
        f"{prefix}{v}".replace(".", "_").replace("-", "_") for v in col_values
    ]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(
            f"groupby_pivot: distinct col_by labels sanitize to the same "
            f"output column(s) {sorted(dupes)} — disambiguate the labels or "
            f"set prefix="
        )
    out = df.groupBy(row_by).agg(*aggs)
    return out.orderBy(row_by) if sort else out


def groupby_rollup(
    df: DataFrame,
    *by: str,
    func: str = "nansum",
    value: str = "value",
    cube: bool = False,
    sort: bool = True,
) -> DataFrame:
    """Hierarchical (ROLLUP) or full lattice (CUBE) grouped reduction —
    subtotals at every key-prefix level (rollup) or every key subset (cube),
    plus the grand total; NULL marks the rolled-up position and
    ``__grouping_id`` disambiguates it from a genuine NULL label.

    Executes as Spark's native ``rollup``/``cube`` — ONE shuffle with an
    Expand over the grouping sets (map-side row replication × levels), the
    same plan SQL GROUPING SETS produces; Catalyst still applies partial
    aggregation per grouping set, so a hot key combines map-side at every
    level.  ``func`` ∈ {count, nansum, nanmean, nanmin, nanmax}.
    """
    if func not in _PIVOT_FUNCS:
        raise ValueError(f"func must be one of {_PIVOT_FUNCS}")
    clean = _clean(df, value)
    agg = {
        "count": F.count(clean),
        "nansum": F.coalesce(F.sum(clean), F.lit(0.0)),
        "nanmean": F.avg(clean),
        "nanmin": F.min(clean),
        "nanmax": F.max(clean),
    }[func].alias(func)
    gid = F.grouping_id(*[F.col(b) for b in by]).alias("__grouping_id")
    grouped = df.cube(*by) if cube else df.rollup(*by)
    out = grouped.agg(agg, gid)
    cols = [*by, "__grouping_id", func]
    out = out.select(*cols)
    return out.orderBy("__grouping_id", *by) if sort else out


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide→long (pandas ``melt`` / SQL UNPIVOT): map-only, zero shuffle."""
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        var_name,
        value_name,
    )
