"""Distributed linear-model training over DataFrame columns.

The training-data-pipeline use case: fit a small, interpretable model
(quality regressor / quality classifier) over per-document features at
corpus scale, without MLlib — every pass is a single fused Catalyst
aggregate, so the 100 TB cost profile is "one map-combined scan per
iteration, d² doubles to the driver", identical in shape to
``graph.pagerank`` (O(1)-sized collect per step) and
``similarity.kmeans_fit`` (literal-inlined model, re-collect per Lloyd
step).

* :func:`linreg_fit` — exact one-pass OLS: aggregate the normal-equation
  sufficient statistics (upper triangle of XᵀX plus Xᵀy, d(d+3)/2 sums),
  solve the d×d system on the driver.  ONE job regardless of d; no
  iteration.
* :func:`logreg_train` — full-batch gradient-descent logistic regression:
  per iteration one fused aggregate computes the d+1 gradient sums with
  the current weights inlined as literals (map-side combined, JVM-side
  sigmoid), then the driver takes the O(d) step.  Deterministic: no
  sampling, fixed iteration count, order-independent up to float sum
  associativity.
* :func:`linear_predict` — map-only scoring of either model.

Row-at-a-time Python never touches the data; the only collects are the
d²- and d-sized statistic rows (bounded, documented).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core import nullsafe_join
from ..dtypes import _nan_round_trip

__all__ = [
    "linreg_fit",
    "grouped_linreg",
    "logreg_train",
    "grouped_logreg",
    "linear_predict",
    "grouped_linear_predict",
    "target_encode",
]


def _feature_cols(features: list[str], add_bias: bool) -> list[F.Column]:
    cols = [F.col(f).cast("double") for f in features]
    if add_bias:
        cols.append(F.lit(1.0))
    return cols


def _names(features: list[str], add_bias: bool) -> list[str]:
    return list(features) + (["bias"] if add_bias else [])


def _ols_aggs(xs, y, d: int) -> list:
    """Normal-equation sufficient statistics (upper-triangle X'X, X'y, n) —
    ONE definition shared by the global and grouped fits so the two paths
    cannot drift (r9 review: the agg loop was duplicated verbatim)."""
    aggs = []
    for i in range(d):
        for j in range(i, d):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"xx_{i}_{j}"))
    aggs += [F.sum(xs[i] * y).alias(f"xy_{i}") for i in range(d)]
    aggs.append(F.count(F.lit(1)).alias("n"))
    return aggs


def _unpack_normal_eq(row, d: int):
    """(A, b) from one stats row — the inverse of :func:`_ols_aggs`."""
    import numpy as np

    A = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            A[i, j] = A[j, i] = row[f"xx_{i}_{j}"]
    b = np.array([row[f"xy_{i}"] for i in range(d)])
    return A, b


def _clean_rows(df: DataFrame, features: list[str], label: str) -> DataFrame:
    cond = F.col(label).isNotNull() & ~F.isnan(F.col(label).cast("double"))
    for f in features:
        c = F.col(f).cast("double")
        cond = cond & F.col(f).isNotNull() & ~F.isnan(c)
    return df.filter(cond)


def linreg_fit(
    df: DataFrame,
    *,
    features: list[str],
    label: str,
    add_bias: bool = True,
    l2: float = 0.0,
) -> list[tuple[str, float]]:
    """Exact ordinary-least-squares fit of ``label`` on ``features`` via the
    normal equations: one fused aggregate computes XᵀX and Xᵀy (map-side
    combined sufficient statistics — the multi-feature generalization of
    ``stats.grouped_bivariate``'s slope/intercept), then the driver solves
    the d×d system with numpy (``l2`` adds ridge regularization λI, bias
    unpenalized).  Rows with NULL/NaN in any used column are dropped.

    Returns ``[(feature_name, weight), …]`` (bias last when present).
    """
    import numpy as np

    xs = _feature_cols(features, add_bias)
    names = _names(features, add_bias)
    d = len(xs)
    y = F.col(label).cast("double")
    row = _clean_rows(df, features, label).agg(
        *_ols_aggs(xs, y, d)
    ).collect()[0]
    if row["n"] == 0:
        raise ValueError("linreg_fit: no complete rows to fit on")
    A, b = _unpack_normal_eq(row, d)
    if l2:
        for i in range(d):
            if not (add_bias and i == d - 1):
                A[i, i] += float(l2)
    w = np.linalg.solve(A, b)
    return list(zip(names, (float(v) for v in w)))


def grouped_linreg(
    df: DataFrame,
    by: str | list[str],
    *,
    features: list[str],
    label: str,
    add_bias: bool = True,
    l2: float = 0.0,
) -> DataFrame:
    """Per-group exact OLS — one model per ``by`` group (per-segment price
    models, per-source quality regressors).  Same sufficient-statistics
    design as :func:`linreg_fit`, distributed end-to-end:

    * ONE ``groupBy(by)`` aggregate computes each group's XᵀX/Xᵀy sums
      (d(d+3)/2+1 doubles per group, map-side combined) — the data is
      touched once and never re-partitioned per model;
    * the d×d solves run as a vectorized Arrow pass OVER THE STATS TABLE
      (one row per group, ``mapInPandas`` + numpy) — never on the driver,
      so a million segments fit the same plan.

    Singular/underdetermined groups (n ≤ d or rank-deficient XᵀX) return
    NULL weights rather than raising.  Output: ``by`` columns + one row
    per (group, feature): ``feature`` (bias last), ``weight``, ``n``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    by_list = [by] if isinstance(by, str) else list(by)
    clash = set(by_list) & {"feature", "weight", "n"}
    if clash:
        raise ValueError(
            f"grouped_linreg: group column(s) {sorted(clash)} collide with "
            "the output columns (feature/weight/n) — rename them first"
        )
    xs = _feature_cols(features, add_bias)
    names = _names(features, add_bias)
    d = len(xs)
    y = F.col(label).cast("double")
    stats = _clean_rows(df, features, label).groupBy(*by_list).agg(
        *_ols_aggs(xs, y, d)
    )

    pen = np.diag(
        [0.0 if (add_bias and i == d - 1) else float(l2) for i in range(d)]
    )

    def run(src: DataFrame, marks: dict) -> DataFrame:
        mark_cols = list(marks.values())
        schema = T.StructType(
            [src.schema[c] for c in by_list]
            + [T.StructField(m, T.BooleanType(), False) for m in mark_cols]
            + [
                T.StructField("feature", T.StringType(), False),
                T.StructField("weight", T.DoubleType(), True),
                T.StructField("n", T.LongType(), False),
            ]
        )

        def solve(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                out_keys = {c: [] for c in by_list + mark_cols}
                feats, weights, ns = [], [], []
                for _, row in pdf.iterrows():
                    A, b = _unpack_normal_eq(row, d)
                    try:
                        w = np.linalg.solve(A + pen, b)
                        if not np.all(np.isfinite(w)) or row["n"] <= d:
                            raise np.linalg.LinAlgError
                        wlist = [float(v) for v in w]
                    except np.linalg.LinAlgError:
                        wlist = [None] * d
                    for name, wv in zip(names, wlist):
                        for c in by_list:
                            out_keys[c].append(row[c])
                        for m in mark_cols:
                            out_keys[m].append(bool(row[m]))
                        feats.append(name)
                        weights.append(wv)
                        ns.append(int(row["n"]))
                out = dict(out_keys)
                out["feature"] = feats
                out["weight"] = weights
                out["n"] = ns
                yield pd.DataFrame(out)

        return src.mapInPandas(solve, schema=schema)

    # NaN float group keys would come back from the Arrow boundary as SQL
    # NULL, colliding with a real NULL-key group (r10)
    return _nan_round_trip(stats, by_list, "__lr_nan_", run)


def logreg_train(
    df: DataFrame,
    *,
    features: list[str],
    label: str,
    iters: int = 5,
    lr: float = 0.5,
    l2: float = 0.0,
    add_bias: bool = True,
    init: list[float] | None = None,
) -> list[tuple[str, float]]:
    """Full-batch gradient-descent logistic regression of a 0/1 ``label``
    on ``features``: per iteration, gradient_j = (1/n) Σ x_j·(σ(w·x) − y)
    (+ λ·w_j) computed as ONE fused aggregate with the current weights
    inlined as literals — the whole model round-trips d+1 doubles per
    step, the data never moves.  Deterministic for fixed ``iters``/``lr``
    (no sampling; float-sum order is the only nondeterminism, same as any
    distributed sum).

    Returns ``[(feature_name, weight), …]`` after ``iters`` steps from
    ``init`` (zeros by default).  The caller chooses feature scaling;
    roughly unit-scale, roughly centered features keep full-batch GD
    stable at lr≈0.5.
    """
    xs = _feature_cols(features, add_bias)
    names = _names(features, add_bias)
    d = len(xs)
    y = F.col(label).cast("double")
    w = [0.0] * d if init is None else [float(v) for v in init]
    if len(w) != d:
        raise ValueError(f"init has {len(w)} weights, expected {d}")

    clean = _clean_rows(df, features, label)
    # each iteration re-scans `clean`; persist so the scan+filter runs once
    clean = clean.persist()
    try:
        n = clean.count()
        if n == 0:
            raise ValueError("logreg_train: no complete rows to fit on")
        for _ in range(iters):
            z = sum((F.lit(w[i]) * xs[i] for i in range(d)), F.lit(0.0))
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            g = clean.agg(
                *[F.sum((p - y) * xs[i]).alias(f"g_{i}") for i in range(d)]
            ).collect()[0]
            w = [
                w[i]
                - lr
                * (
                    g[f"g_{i}"] / n
                    + (l2 * w[i] if not (add_bias and i == d - 1) else 0.0)
                )
                for i in range(d)
            ]
    finally:
        clean.unpersist()
    return list(zip(names, w))


def grouped_logreg(
    df: DataFrame,
    by: str | list[str],
    *,
    features: list[str],
    label: str,
    iters: int = 5,
    lr: float = 0.5,
    l2: float = 0.0,
    add_bias: bool = True,
    broadcast_weights: bool = True,
) -> DataFrame:
    """Per-group full-batch GD logistic regression — one classifier per
    ``by`` group (per-source quality models, per-language filters).

    The grouped analog of :func:`logreg_train` with the model held as a
    TABLE rather than literals: per iteration, the current (group →
    weights) frame — |groups|·d doubles — BROADCAST-joins onto the data,
    one fused ``groupBy(by)`` aggregate computes every group's gradient
    sums simultaneously (map-side combined), and the weight step is a
    narrow projection on the tiny aggregate.  Iteration count is fixed,
    so the lineage is ``iters`` broadcast-join + aggregate stages over
    the persisted feature frame; per-group n is computed once.  The
    weights table is eagerly materialized each step (localCheckpoint,
    the pagerank discipline) so plan depth stays O(1).

    ``broadcast_weights=False`` drops the broadcast hint for the
    weights-table join (use when \\|groups\\|·d no longer fits an
    executor — e.g. 10⁸ segments): AQE plans a sort-merge join instead,
    and both sides shuffle on the group key EACH step — that per-step
    Exchange of the persisted feature frame is the honest price of a
    model table too big to ship; pre-``repartition`` the input on ``by``
    to keep the shuffles aligned.

    Groups with no complete rows simply don't appear.  Output: ``by``
    columns + ``feature``, ``weight``, ``n`` — same shape as
    :func:`grouped_linreg`.
    """
    by_list = [by] if isinstance(by, str) else list(by)
    clash = set(by_list) & {"feature", "weight", "n"}
    if clash:
        raise ValueError(
            f"grouped_logreg: group column(s) {sorted(clash)} collide with "
            "the output columns (feature/weight/n) — rename them first"
        )
    xs = _feature_cols(features, add_bias)
    names = _names(features, add_bias)
    d = len(xs)
    y = F.col(label).cast("double")

    clean = _clean_rows(df, features, label).select(
        *by_list, *[xs[i].alias(f"__x{i}") for i in range(d)], y.alias("__y")
    )
    clean = clean.persist()
    try:
        counts = clean.groupBy(*by_list).agg(F.count(F.lit(1)).alias("__n"))
        w = counts.select(
            *by_list, "__n", *[F.lit(0.0).alias(f"__w{i}") for i in range(d)]
        ).localCheckpoint()
        for _ in range(iters):
            # null-safe equality per key column: NULL groups train like any
            # other (GROUP BY kept their counts row; a plain equi-join
            # would silently drop them after the first step)
            joined = nullsafe_join(
                clean, w, by_list, broadcast=broadcast_weights,
                prefix="__lw_by",
            )
            z = sum(
                (F.col(f"__w{i}") * F.col(f"__x{i}") for i in range(d)),
                F.lit(0.0),
            )
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            grads = joined.groupBy(*by_list).agg(
                *[
                    F.sum((p - F.col("__y")) * F.col(f"__x{i}")).alias(f"__g{i}")
                    for i in range(d)
                ]
            )
            w = (
                nullsafe_join(w, grads, by_list, prefix="__lg_by")
                .select(
                    *by_list,
                    "__n",
                    *[
                        (
                            F.col(f"__w{i}")
                            - F.lit(lr)
                            * (
                                F.col(f"__g{i}") / F.col("__n")
                                + (
                                    F.lit(l2) * F.col(f"__w{i}")
                                    if not (add_bias and i == d - 1)
                                    else F.lit(0.0)
                                )
                            )
                        ).alias(f"__w{i}")
                        for i in range(d)
                    ],
                )
                .localCheckpoint()
            )
    finally:
        clean.unpersist()
    name_arr = F.array(*[F.lit(n) for n in names])
    w_arr = F.array(*[F.col(f"__w{i}") for i in range(d)])
    return (
        w.select(
            *by_list,
            F.col("__n").alias("n"),
            F.explode(F.arrays_zip(name_arr.alias("feature"), w_arr.alias("weight"))).alias("__fw"),
        )
        .select(*by_list, "__fw.feature", "__fw.weight", "n")
    )


def grouped_linear_predict(
    df: DataFrame,
    model_df: DataFrame,
    by: str | list[str],
    *,
    out: str = "score",
    kind: str = "linear",
) -> DataFrame:
    """Score every row against ITS group's model — the serving side of
    :func:`grouped_linreg` / :func:`grouped_logreg` (``model_df`` is
    their long output: ``by`` + ``feature``/``weight`` rows).

    The model pivots wide (one row per group, d weight columns — a tiny
    aggregate over the model table) and BROADCAST-joins onto the data;
    the score itself is a map-side expression, so the data never
    shuffles.  Rows whose group has no model (or NULL weights from a
    singular :func:`grouped_linreg` fit) get a NULL score.  Non-``bias``
    features must be columns of ``df``; ``kind`` as in
    :func:`linear_predict`.
    """
    by_list = [by] if isinstance(by, str) else list(by)
    feats = [
        r["feature"]
        for r in model_df.select("feature").distinct().collect()
    ]
    if not feats:
        return df.withColumn(out, F.lit(None).cast("double"))
    wide = model_df.groupBy(*by_list).pivot("feature", feats).agg(
        F.first("weight")
    )
    renames = {f: f"__w_{f}" for f in feats}
    for f, wf in renames.items():
        wide = wide.withColumnRenamed(f, wf)
    # null-safe join: a NULL group's model (grouped_linreg/grouped_logreg
    # emit one under GROUP BY semantics) must score its own rows
    joined = nullsafe_join(
        df, wide.select(*by_list, *[renames[f] for f in feats]),
        by_list, how="left", broadcast=True, prefix="__m_by",
    )
    z = F.lit(0.0)
    for f in feats:
        wcol = F.col(renames[f])
        z = z + (wcol if f == "bias" else wcol * F.col(f).cast("double"))
    if kind == "logistic":
        z = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    elif kind != "linear":
        raise ValueError(f"kind must be 'linear' or 'logistic', got {kind!r}")
    return joined.withColumn(out, z.cast("double")).drop(
        *[renames[f] for f in feats]
    )


def linear_predict(
    df: DataFrame,
    model: list[tuple[str, float]],
    *,
    out: str = "score",
    kind: str = "linear",
) -> DataFrame:
    """Map-only scoring against a fitted model (``linreg_fit`` /
    ``logreg_train`` output): ``kind="linear"`` emits w·x,
    ``kind="logistic"`` emits σ(w·x).  The ``bias`` entry (if present)
    is the intercept; every other name must be a column of ``df``."""
    z = F.lit(0.0)
    for name, weight in model:
        if name == "bias":
            z = z + F.lit(float(weight))
        else:
            z = z + F.lit(float(weight)) * F.col(name).cast("double")
    if kind == "logistic":
        z = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    elif kind != "linear":
        raise ValueError(f"kind must be 'linear' or 'logistic', got {kind!r}")
    return df.withColumn(out, z)


def target_encode(
    df: DataFrame,
    by: str | list[str],
    *,
    label: str,
    out: str = "te",
    smoothing: float = 20.0,
    leave_one_out: bool = True,
    prior: float | None = None,
) -> DataFrame:
    """Smoothed target encoding of a categorical key — the standard
    high-cardinality feature-engineering step (Micci-Barreca 2001):
    replace the category with a shrunk estimate of the per-category label
    mean, ``(sum_y + m·prior) / (n + m)`` with ``m = smoothing`` and
    ``prior`` the global label mean (computed in the same pass unless
    given).

    ``leave_one_out=True`` (the train-time form) excludes the row's OWN
    label — ``(sum_y − y_i + m·prior) / (n − 1 + m)`` — so the encoding
    never leaks the row's target into its feature (rows with NULL/NaN
    labels, i.e. serving rows, fall back to the inclusive estimate).

    One map-combined ``groupBy`` over the key + a broadcast join back —
    the ``groupby_fill_stat(method="join")`` zero-big-shuffle shape; the
    global prior is a single scalar collect.  Category statistics are
    (n, Σy): mergeable, so the encoder can also be persisted and applied
    to unseen data (unseen categories encode to the prior: n = 0).
    """
    by_list = [by] if isinstance(by, str) else list(by)
    clash = [c for c in df.columns if c in ("__te_n", "__te_s")]
    if clash:
        raise ValueError(
            f"target_encode: input column(s) {clash} collide with the "
            "internal __te_* namespace — rename them first"
        )
    y = F.col(label).cast("double")
    y_valid = F.when(~F.isnan(y), y)
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0, got {smoothing}")
    if leave_one_out and smoothing == 0:
        # a singleton category would divide by n-1+m = 0
        raise ValueError("leave_one_out needs smoothing > 0")
    if prior is None:
        prior = df.agg(F.avg(y_valid)).collect()[0][0]
        if prior is None:
            # empty frame / all-NULL labels: the prior — and with it every
            # encoding — is undefined.  Emit NULL te with the stable schema
            # (an upstream filter matching nothing must flow through, r9
            # empty-relation audit) instead of raising.
            return df.withColumn(out, F.lit(None).cast("double"))
    stats = df.groupBy(*by_list).agg(
        F.count(y_valid).alias("__te_n"), F.sum(y_valid).alias("__te_s")
    )
    # NULL-SAFE join back (the fill_stat(method="join") convention): a
    # NULL category is its own group — GROUP BY keeps its stats row, and
    # a plain equi-join would strand those rows at n=0 and feed the LOO
    # formula garbage ((0 − y + m·p)/(m − 1)) instead of their group's
    # estimate
    j = nullsafe_join(
        df, stats, by_list, how="left", broadcast=True, prefix="__te_by"
    )
    n = F.coalesce(F.col("__te_n"), F.lit(0)).cast("double")
    s = F.coalesce(F.col("__te_s"), F.lit(0.0))
    m = F.lit(float(smoothing))
    p = F.lit(float(prior))
    inclusive = (s + m * p) / (n + m) if smoothing > 0 else F.try_divide(s, n)
    if leave_one_out:
        loo = (s - y_valid + m * p) / (n - 1 + m)
        enc = F.when(y_valid.isNotNull(), loo).otherwise(inclusive)
    else:
        enc = inclusive
    return j.withColumn(out, enc.cast("double")).drop("__te_n", "__te_s")
