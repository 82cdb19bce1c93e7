"""Physical-layout helpers: the Spark analogs of the reference's rechunking
pre-optimizers, plus plan-inspection utilities used by tests/benchmarks.

- :func:`rechunk_for_blockwise` ≈ flox.rechunk_for_blockwise
  (flox/core.py:634-664): lay data out so each group lives in one partition,
  letting a subsequent groupBy aggregate without a (second) shuffle.  In
  Spark terms: ``repartition(cols)`` — the shuffle is *moved*, not removed,
  but it is paid once and reused by every downstream grouped op on the same
  keys (Exchange reuse / AQE elision).
- :func:`rechunk_for_cohorts` ≈ flox.rechunk_for_cohorts
  (flox/__init__.py:8-13, flox/core.py:540-631): in the reference this
  rewrites dask chunk boundaries so groups that recur with a shared period
  (cohorts) land in the same blocks.  Spark has no user-visible chunk
  topology — the hash shuffle already routes every group's rows to one
  partition, which is the end state cohort rechunking approximates — so the
  Spark counterpart IS the blockwise layout, and this export is a documented
  alias of :func:`rechunk_for_blockwise` to keep the public API surface
  1:1 (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def rechunk_for_blockwise(df: DataFrame, *by: str, partitions: int | None = None) -> DataFrame:
    """Pre-partition by group keys so later grouped ops on the same keys
    avoid an extra Exchange (ref: flox/core.py:634-664)."""
    if partitions:
        return df.repartition(partitions, *by)
    return df.repartition(*by)


def rechunk_for_cohorts(
    df: DataFrame,
    *by: str,
    partitions: int | None = None,
    **_ignored,
) -> DataFrame:
    """Public-API parity alias for the reference's ``rechunk_for_cohorts``
    (flox/__init__.py:8-13, impl flox/core.py:540-631).

    The reference's version exists because dask reduces block-by-block along
    a fixed chunk grid: when groups recur periodically (e.g. day-of-year
    across a 40-year daily series), re-cutting chunks so each cohort of
    co-occurring groups shares blocks turns a global tree reduction into
    many small independent ones.  Spark's shuffle already routes by key
    hash — every group's rows meet in exactly one post-shuffle partition
    regardless of input layout, with AQE coalescing/splitting partitions at
    runtime — so the cohort heuristic has nothing to optimize here; the
    useful half (pay the layout cost once, reuse it) is exactly
    :func:`rechunk_for_blockwise` / :func:`bucket_table`.  Extra reference
    keywords (``found_groups``, ``force_new_dim``, …) are accepted and
    ignored for drop-in compatibility.
    """
    return rechunk_for_blockwise(df, *by, partitions=partitions)


def bucket_table(
    df: DataFrame,
    name: str,
    *by: str,
    n_buckets: int = 32,
    path: str | None = None,
    sort_by: tuple[str, ...] = (),
) -> DataFrame:
    """Persist ``df`` as a bucketed table on the group keys and return the
    bucketed scan — the *durable* blockwise layout (ref:
    flox.rechunk_for_blockwise, flox/core.py:634-664, but written to storage
    so EVERY future job skips the shuffle, not just this lineage).

    A groupBy on the bucket keys over the returned DataFrame aggregates with
    ZERO Exchange nodes (asserted in tests/test_plans.py): the scan's
    hash-bucket layout already satisfies the aggregation's distribution
    requirement.  At 100 TB this converts the dominant cost of repeated
    grouped queries (the full-data shuffle) into a one-time write.
    ``sort_by`` additionally orders rows within each bucket, which turns
    order-sensitive ops (first/last/scans) into sequential in-bucket reads.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)
    return df.sparkSession.table(name)


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan string (for plan-shape assertions in tests);
    ``mode`` ∈ formatted|simple|extended|codegen|cost."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def count_exchanges(df: DataFrame) -> int:
    """# of shuffle (Exchange) nodes in the formatted physical plan."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", physical_plan(df), re.M))


def zorder_key(
    df: DataFrame,
    cols: "list[str]",
    bits: int = 16,
) -> Column:
    """Z-order (Morton) clustering key over numeric ``cols``: each
    column min/max-normalizes to a ``bits``-bit integer, and the bit
    planes interleave into one BIGINT whose sort order traces the
    space-filling Z-curve.  Sorting a table by this key clusters rows
    that are close in EVERY listed dimension, so parquet row-group
    min/max statistics become selective for range filters on ANY of the
    columns — the multi-column completion of ``save_table(sort_by=...)``
    (optimal for one column, useless for the second).

    Cost: ONE bounded stats job (min/max per column — 2·|cols| scalars
    to the driver, same documented KB-collect class as the IVF
    quantizer) to inline the scaling constants; the key itself is a pure
    projection (constant-shift ``shiftright``/``shiftleft``/OR chain,
    whole-stage codegen, no UDF).  NULLs scale to cell 0; a constant
    column contributes 0 to every key (try_divide).  Requires
    ``len(cols) * bits <= 63``.
    """
    from pyspark.sql import functions as F

    if not cols or len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns (one column: sort_by)")
    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds 63 key bits")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    m = (1 << bits) - 1
    planes = []
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None:  # all-NULL column
            planes.append(F.lit(0).cast("bigint"))
            continue
        scaled = F.floor(
            F.try_divide(F.col(c).cast("double") - F.lit(mn), F.lit(mx - mn)) * F.lit(float(m))
        )
        planes.append(F.coalesce(scaled, F.lit(0)).cast("bigint"))
    key = F.lit(0).cast("bigint")
    n = len(cols)
    for j in range(bits):
        for i, p in enumerate(planes):
            # bit j of column i lands at position j*n + i
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(p, j).bitwiseAND(F.lit(1)), j * n + i)
            )
    return key


def cluster_by_zorder(
    df: DataFrame,
    cols: "list[str]",
    bits: int = 16,
    partitions: int | None = None,
) -> DataFrame:
    """Physically cluster ``df`` along the Z-curve of ``cols`` for
    writing: range-partition on the Z-key (so each output file owns a
    contiguous curve segment — balanced via range sampling, skew-safe)
    and sort within partitions, then drop the key.  Feed the result
    straight to ``save_table`` (no extra ``sort_by``):

        save_table(cluster_by_zorder(df, ["x", "y"]), path)

    One Exchange (rangepartitioning) + in-partition sort — the same
    cost as a single-column sorted write, but every listed column gets
    data skipping.
    """
    k = zorder_key(df, cols, bits)
    out = df.withColumn("__zkey", k)
    out = (
        out.repartitionByRange(partitions, "__zkey")
        if partitions
        else out.repartitionByRange("__zkey")
    )
    return out.sortWithinPartitions("__zkey").drop("__zkey")
