"""Mergeable-sketch tables: the incremental-aggregation pattern for 100 TB
streams of history (distinct users per day, cardinality per key) where
recounting the full corpus per query is the cost being amortized away.

Built on Spark's native DataSketches HLL expressions (JVM-side,
map-combinable, order-insensitive): per-batch sketch rows are persisted as
plain binary columns in parquet; queries union the sketches — never the
raw data.  A year of daily sketches is |keys|·365 KB-sized rows, and the
merge is associative, so any slice (per-day, per-month, all-time) computes
from the same table.  This is the same write-once/reuse-every-query
philosophy as ``plans.bucket_table`` and the persisted IVF/MinHash
indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def hll_sketch_table(
    df: DataFrame,
    *by: str,
    value: str,
    lg_k: int = 12,
    path: str | None = None,
    mode: str = "append",
) -> DataFrame:
    """Per-group HLL sketches of ``value``: one binary sketch row per group
    (±~1.6% at the default lg_k=12, ~2.5 KB each; raise lg_k for tighter
    error).  One map-combined shuffle — raw values never leave their
    aggregation.  With ``path``, the rows are also appended to a parquet
    sketch table for :func:`hll_merge_count` queries (the incremental
    loop: sketch each new day/batch, append, never recount history)."""
    out = df.groupBy(*by).agg(F.hll_sketch_agg(F.col(value), F.lit(lg_k)).alias("hll"))
    if path is not None:
        out.write.mode(mode).parquet(path)
    return out


def hll_merge_count(
    sketches: DataFrame,
    *by: str,
    out: str = "approx_distinct",
) -> DataFrame:
    """Merged distinct-count estimates from sketch rows (the output of one
    or many :func:`hll_sketch_table` batches): groups the sketch rows by
    ``by`` (or fully, when no keys are given) and unions per group, so
    daily rows roll up to any window.  The shuffle carries KB-sized
    sketches, never raw values.

    The union's registers do not depend on how the rows were batched or
    partitioned, but the estimator can: a sketch built in a single pass
    keeps DataSketches' order-dependent HIP estimate, while a merged one
    uses the composite estimator.  Unioning the merged sketch with itself
    always yields the composite estimate, a function of the registers
    alone — so one-shot and batched sketches of the same rows give the
    same estimate at any partition count."""
    merged = F.hll_union_agg(F.col("hll"), F.lit(True))
    agg = F.hll_sketch_estimate(F.hll_union(merged, merged)).alias(out)
    if by:
        return sketches.groupBy(*by).agg(agg)
    return sketches.agg(agg)


def hll_read(spark: SparkSession, path: str) -> DataFrame:
    """Load a persisted sketch table (parquet of (by…, hll) rows)."""
    return spark.read.parquet(path)


def cms_sketch_table(
    df: DataFrame,
    value: str,
    width: int = 1024,
    depth: int = 4,
    path: str | None = None,
    mode: str = "append",
    hasher: str = "fast",
) -> DataFrame:
    """Count-min sketch of ``value`` frequencies as a mergeable table of
    ``(d, bucket, cnt)`` rows — the frequency-estimation sibling of
    :func:`hll_sketch_table` (Cormode & Muthukrishnan 2005).

    Each input row maps to ``depth`` (row, bucket) counter increments; the
    groupBy is map-side combined, so the shuffle carries at most
    ``partitions x depth x width`` counter rows regardless of corpus size
    — raw values never leave their partition.  Sketch rows from separate
    batches/days ADD (counters are linear), so an appended parquet table
    rolls up over any time window without recounting history.

    ``width`` bounds the overestimate (error ~ 2N/width with probability
    1 - (1/2)^depth over the N total increments); ``hasher='portable'``
    switches to the md5-based cross-engine hash for oracle checking.
    """
    from .dedup import _hasher

    h = _hasher(hasher)
    col = F.col(value).cast("string")
    buckets = F.array(
        *[F.pmod(h(col, seed=f"cms{d}"), F.lit(width)) for d in range(depth)]
    )
    out = (
        # NULLs carry no countable identity and are dropped, matching
        # hist_sketch_table / hll_sketch_agg (previously the fast hasher
        # piled every NULL onto one bucket per depth — inflating N and
        # the 2N/width bound — and the portable hasher emitted junk
        # (d, NULL) counter rows)
        df.where(F.col(value).isNotNull())
        .select(F.posexplode(buckets).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if path is not None:
        out.write.mode(mode).parquet(path)
    return out


def cms_estimate(
    sketches: DataFrame,
    queries: DataFrame,
    value: str,
    width: int = 1024,
    depth: int = 4,
    out: str = "est_count",
    hasher: str = "fast",
) -> DataFrame:
    """Frequency estimates for ``queries[value]`` from count-min sketch
    rows (one or many :func:`cms_sketch_table` batches, pre-unioned).

    Per query value: recompute its ``depth`` buckets, LEFT-join the
    counter rows (missing bucket = 0), SUM within each depth (batches
    add), then MIN across depths — the classic CM estimate, an upper
    bound on the true count.  The SKETCH side is broadcast — it is
    bounded at ``depth x width`` counter rows by construction (the
    preserved side of a left join cannot be the build side), so the
    query list may be arbitrarily large and the corpus is never
    rescanned.
    """
    from .dedup import _hasher

    h = _hasher(hasher)
    col = F.col(value).cast("string")
    buckets = F.array(
        *[F.pmod(h(col, seed=f"cms{d}"), F.lit(width)) for d in range(depth)]
    )
    # distinct query values: duplicate rows in `queries` would each join
    # the same counter rows and the per-depth SUM would multiply the
    # estimate by the multiplicity — no longer a CM upper bound
    q = queries.select(value).where(F.col(value).isNotNull()).distinct().select(
        F.col(value), F.posexplode(buckets).alias("d", "bucket")
    )
    joined = q.join(F.broadcast(sketches), on=["d", "bucket"], how="left")
    per_depth = joined.groupBy(value, "d").agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("__c")
    )
    return per_depth.groupBy(value).agg(F.min("__c").alias(out))


def hist_sketch_table(
    df: DataFrame,
    value: str,
    lo: float,
    hi: float,
    by: "tuple[str, ...] | list[str]" = (),
    bins: int = 256,
    path: str | None = None,
    mode: str = "append",
) -> DataFrame:
    """Fixed-domain histogram of ``value`` as a mergeable table of
    ``(by…, bin, cnt)`` rows — the order-statistics member of the sketch
    trio (:func:`hll_sketch_table` = distinct counts,
    :func:`cms_sketch_table` = frequencies, this = quantiles).

    The domain ``[lo, hi)`` is DECLARED, not measured — that is what makes
    batches mergeable: every batch buckets against the same edges, so
    counter rows from different days simply add (contrast
    ``weighted_quantile_sketch``, whose per-group min/max pass is the
    right call for one-shot queries but pins the edges to one batch's
    range).  Out-of-range values clamp into the edge bins (count
    preserved; their value error is unbounded — declare a domain that
    covers the data).  NULL/NaN rows are dropped.

    One map-combined shuffle bounded at ``|groups| x bins`` counter rows
    per task, regardless of corpus size.
    """
    if not hi > lo:
        raise ValueError(f"need hi > lo (got [{lo}, {hi}))")
    if bins < 1:
        raise ValueError(f"bins must be >= 1 (got {bins})")
    from .stats import uniform_bin

    by = [by] if isinstance(by, str) else list(by)
    x = F.col(value).cast("double")
    out = (
        df.where(x.isNotNull() & ~F.isnan(x))
        .select(*by, uniform_bin(x, lo, hi, bins).alias("bin"))
        .groupBy(*by, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if path is not None:
        out.write.mode(mode).parquet(path)
    return out


def hist_quantile(
    sketches: DataFrame,
    q,
    lo: float,
    hi: float,
    by: "tuple[str, ...] | list[str]" = (),
    bins: int = 256,
    prefix: str = "p",
    sort: bool = True,
) -> DataFrame:
    """Quantile estimates from histogram sketch rows (one or many
    :func:`hist_sketch_table` batches, pre-unioned): merge counters per
    ``(by…, bin)``, read the inverted CDF off the ≤``bins``-row cumulative
    histogram, return the answering bin's MIDPOINT — the same convention
    (and half-bin-width error bound, ``(hi-lo)/bins/2``) as
    ``weighted_quantile_sketch``.  Deterministic pure arithmetic, so
    cross-engine reproducible.  ``q``: scalar or sequence; one column per
    q named ``{prefix}{q}`` with '.'→'_'.
    """
    from pyspark.sql import Window

    qs = [float(q)] if isinstance(q, (int, float)) else [float(x) for x in q]
    if any(not (0.0 <= x <= 1.0) for x in qs):
        raise ValueError("q must be in [0, 1]")
    by = [by] if isinstance(by, str) else list(by)
    merged = sketches.groupBy(*by, "bin").agg(F.sum("cnt").alias("__c"))
    wcum = (
        Window.partitionBy(*by)
        .orderBy(F.col("bin").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*by)
    staged = merged.select(
        *by,
        "bin",
        F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(wall).alias("__tot"),
    )
    mid = F.lit(float(lo)) + (F.col("bin") + F.lit(0.5)) * F.lit(
        (hi - lo) / bins
    )
    aggs = [
        F.min(F.when(F.col("__cum") >= F.lit(x) * F.col("__tot"), mid)).alias(
            f"{prefix}{x}".replace(".", "_")
        )
        for x in qs
    ]
    out = staged.groupBy(*by).agg(*aggs) if by else staged.groupBy().agg(*aggs)
    return out.orderBy(*by) if sort and by else out


def psi_from_histograms(
    ref_hist: DataFrame,
    cur_hist: DataFrame,
    by: "tuple[str, ...] | list[str]" = (),
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index computed FROM two mergeable histogram
    tables (:func:`hist_sketch_table` outputs with the SAME declared
    domain/bins) instead of from raw data — the incremental/streaming
    form of :func:`~dask_groupby_spark.operators.stats.population_stability`:
    persist one histogram per day via ``stream_hist_update`` or batch
    appends, then diff ANY two windows without rescanning the corpus.

    Accepts multi-batch tables (rows re-aggregate by summing ``cnt``)
    and an optional ``by`` grouping (per-segment PSI).  Returns one row
    per (by…, bin) with ``ref_frac``/``cur_frac``/``psi_term``
    (eps-smoothed ``(p−q)·ln(p/q)``; Σ per group = PSI).  Bins absent
    from one side get fraction 0.  Everything runs on bounded
    |groups|·bins counter rows — data size left the picture when the
    histograms were built.
    """
    from pyspark.sql import Window

    from .stats import psi_terms

    by = [by] if isinstance(by, str) else list(by)

    def _frac(h: DataFrame, out: str) -> DataFrame:
        c = h.groupBy(*by, "bin").agg(F.sum("cnt").alias("cnt"))
        w = Window.partitionBy(*by) if by else Window.partitionBy()
        return c.select(
            *by, "bin", (F.col("cnt") / F.sum("cnt").over(w)).alias(out)
        )

    # alignment + smoothing shared with population_stability (ONE
    # definition of the convention — the two PSI paths cannot drift)
    return psi_terms(_frac(ref_hist, "ref_frac"), _frac(cur_hist, "cur_frac"), by, eps)


def ks_from_histograms(
    ref_hist: DataFrame,
    cur_hist: DataFrame,
    by: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """Approximate two-sample KS statistic FROM two mergeable histogram
    tables (same declared domain/bins) — the incremental form of
    :func:`~dask_groupby_spark.operators.stats.grouped_ks`, exact up to
    bin resolution: the empirical CDFs are evaluated at bin edges, so
    ``|D_hist − D_exact| ≤`` the largest single-bin mass (shrink bins to
    tighten).

    Returns one row per group ``(by…, n_ref, n_cur, ks_stat)``; with no
    ``by``, one row.  Runs entirely on |groups|·bins counter rows.
    """
    from pyspark.sql import Window

    by = [by] if isinstance(by, str) else list(by)

    def _cdf(h: DataFrame, tag: str) -> DataFrame:
        c = h.groupBy(*by, "bin").agg(F.sum("cnt").alias("cnt"))
        w = Window.partitionBy(*by) if by else Window.partitionBy()
        wc = (
            Window.partitionBy(*by).orderBy("bin")
            if by
            else Window.partitionBy().orderBy("bin")
        ).rangeBetween(Window.unboundedPreceding, Window.currentRow)
        return c.select(
            *by,
            "bin",
            F.sum("cnt").over(w).alias(f"n_{tag}"),
            (F.sum("cnt").over(wc) / F.sum("cnt").over(w)).alias(f"f_{tag}"),
        )

    p, q = _cdf(ref_hist, "ref").alias("__kp"), _cdf(cur_hist, "cur").alias("__kq")
    # NULL-SAFE key match (module invariant, see stats.py psi_terms): a
    # NULL-key group's ref and cur rows must pair, not produce duplicate
    # bin rows whose arbitrary tie order corrupts the forward-filled CDFs.
    # String-qualified refs — ref_hist and cur_hist may be the same frame.
    pc, qc = (lambda c: F.col(f"__kp.{c}")), (lambda c: F.col(f"__kq.{c}"))
    cond = pc("bin").eqNullSafe(qc("bin"))
    for k in by:
        cond = cond & pc(k).eqNullSafe(qc(k))
    j = p.join(q, cond, how="full").select(
        *[F.coalesce(pc(k), qc(k)).alias(k) for k in by],
        F.coalesce(pc("bin"), qc("bin")).alias("bin"),
        "n_ref", "f_ref", "n_cur", "f_cur",
    )
    # a bin absent from one side keeps that side's PREVIOUS cdf value —
    # fill by carrying the last non-null forward over the bin order
    wf = (
        Window.partitionBy(*by).orderBy("bin")
        if by
        else Window.partitionBy().orderBy("bin")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    f_ref = F.coalesce(F.last("f_ref", ignorenulls=True).over(wf), F.lit(0.0))
    f_cur = F.coalesce(F.last("f_cur", ignorenulls=True).over(wf), F.lit(0.0))
    wg = Window.partitionBy(*by) if by else Window.partitionBy()
    n_ref = F.coalesce(F.max("n_ref").over(wg), F.lit(0))
    n_cur = F.coalesce(F.max("n_cur").over(wg), F.lit(0))
    # one-sided groups (all mass on one histogram) must agree with
    # grouped_ks, whose try_divide yields NULL there — not a phantom
    # D=1.0 against an empty side's all-zero CDF
    d = F.when(
        (n_ref > 0) & (n_cur > 0), F.abs(f_ref - f_cur)
    ).otherwise(F.lit(None).cast("double"))
    stepped = j.select(
        *by,
        n_ref.alias("n_ref"),
        n_cur.alias("n_cur"),
        d.alias("__d"),
    )
    return stepped.groupBy(*by).agg(
        F.first("n_ref").alias("n_ref"),
        F.first("n_cur").alias("n_cur"),
        F.max("__d").alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketches and set operations.
#
# The HLL tier above answers "how many distinct"; KMV additionally answers
# SET questions — union / intersection / Jaccard between groups or corpora —
# because the k smallest hash values of a set are a uniform bottom-k sample
# of its distinct elements (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07).
# State is exactly k bigints per group, mergeable by "union then keep the k
# smallest", so sketches of daily batches compose like the HLL table does.
# When a group has fewer than k distinct values the sketch IS the distinct
# hash set and every estimate below is exact — the property the contract
# keys pin against COUNT(DISTINCT) oracles.
# ---------------------------------------------------------------------------

def _KMV_DOMAIN(hasher: str) -> float:
    # single source of truth for the hashers' output domains (r9 review:
    # the 2^60/2^63 constants were duplicated across three modules)
    from .dedup import _hash_domain

    return _hash_domain(hasher)


def kmv_sketch_table(
    df: DataFrame,
    *by: str,
    value: str,
    k: int = 1024,
    hasher: str = "fast",
    method: str = "distinct",
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct hash values of
    ``value``, as a sorted ``array<bigint>`` column ``kmv``.  The sketch is
    a deterministic function of the value SET, so both methods produce
    bit-identical output — they differ only in cost profile:

    ``method="distinct"`` (default; pure JVM): distinct ``(by, h)`` — the
    shuffle key INCLUDES the hash, so a hot group spreads over the whole
    cluster and map-side combine dedupes before the wire — then
    per-shuffle-partition k-smallest partials and a P·k-sized final merge.
    Plan-audited caveat: the partial collect_list buffers ship UNsliced
    (the slice evaluates post-shuffle), so both exchanges carry the full
    distinct-pair stream — fine while distinct(value) per group is
    shuffle-sized, which is exactly when you might as well COUNT(DISTINCT).

    ``method="partial"`` (the 100 TB path): one ``mapInPandas`` pass keeps
    a k-truncated sorted distinct buffer PER GROUP PER PARTITION (state
    k·\\|groups in partition\\| bigints, accumulated across all Arrow
    batches of the partition — the ``embedding_pca`` partial pattern) and
    emits one k-array row per (group, partition); the only shuffle is the
    P·k-sized partial merge.  The raw/distinct stream never crosses the
    wire.  Arrow transfer of (by, h) rows is the price.
    """
    from .dedup import _hasher

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = _hasher(hasher)(F.col(value).cast("string"), seed="kmv")
    if method == "partial":
        # filter NULL values BEFORE hashing: xxhash64(NULL) returns the
        # (non-null) seed, so a post-hash isNotNull filter would count NULL
        # as a distinct element and inject a near-minimum hash into every
        # sketch containing one — diverging from method='distinct' and
        # breaking the bit-identical contract above (ADVICE r8)
        partial = _kmv_partials(df.filter(F.col(value).isNotNull()), by, h, k)
    elif method == "distinct":
        pairs = (
            df.filter(F.col(value).isNotNull())
            .select(*by, h.alias("__h"))
            .groupBy(*by, "__h")
            .agg(F.lit(1))
            .select(*by, "__h", F.spark_partition_id().alias("__pid"))
        )
        partial = pairs.groupBy(*by, "__pid").agg(
            F.slice(F.array_sort(F.collect_list("__h")), 1, k).alias("__hs")
        )
    else:
        raise ValueError(
            f"method must be 'distinct' or 'partial', got {method!r}"
        )
    merged = partial.groupBy(*by).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("__hs")))),
            1,
            k,
        ).alias("kmv")
    )
    return merged.withColumn("kmv_k", F.lit(k).cast("int"))


def _kmv_partials(df: DataFrame, by: tuple, h, k: int) -> DataFrame:
    """One k-truncated sorted distinct hash buffer per group per partition
    (``method="partial"`` engine of :func:`kmv_sketch_table`)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    src = df.select(*by, h.alias("__h")).filter(F.col("__h").isNotNull())
    schema = T.StructType(
        [src.schema[c] for c in by]
        + [T.StructField("__hs", T.ArrayType(T.LongType()), False)]
    )
    by_list = list(by)

    def partials(batches):
        bufs: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for key, grp in pdf.groupby(by_list, dropna=False, sort=False):
                if not isinstance(key, tuple):
                    key = (key,)
                hs = np.unique(grp["__h"].to_numpy(dtype="int64"))[:k]
                prev = bufs.get(key)
                if prev is None:
                    bufs[key] = hs
                else:
                    bufs[key] = np.unique(np.concatenate([prev, hs]))[:k]
        if bufs:
            keys = list(bufs.keys())
            out = {
                c: [kk[i] for kk in keys] for i, c in enumerate(by_list)
            }
            out["__hs"] = [bufs[kk].tolist() for kk in keys]
            yield pd.DataFrame(out)

    return src.mapInPandas(partials, schema=schema)


def _kmv_estimate(kmv: F.Column, k: int, domain: float) -> F.Column:
    """(k-1)/u_(k) when the sketch is full, exact retained count otherwise."""
    n = F.size(kmv)
    u_k = F.element_at(kmv, k).cast("double") / F.lit(domain)
    return F.when(n < k, n.cast("double")).otherwise(F.lit(float(k - 1)) / u_k)


def kmv_distinct(
    df: DataFrame,
    *by: str,
    value: str,
    k: int = 1024,
    hasher: str = "fast",
    out: str = "distinct_est",
    method: str = "distinct",
) -> DataFrame:
    """Per-group distinct-count estimate from a KMV sketch (exact while the
    group has < k distinct values; relative error ~1/sqrt(k-2) once
    estimating).  Use :func:`hll_sketch_table` when only cardinality is
    needed — HLL state is smaller; KMV buys the set operations."""
    sk = kmv_sketch_table(df, *by, value=value, k=k, hasher=hasher, method=method)
    return sk.select(
        *by, _kmv_estimate(F.col("kmv"), k, _KMV_DOMAIN(hasher)).alias(out)
    )


def kmv_merge(df: DataFrame, *by: str, k: int, sketch_col: str = "kmv") -> DataFrame:
    """Re-aggregate KMV sketch rows (e.g. per-day sketches → all-time):
    union the retained hash sets, keep the k smallest — associative and
    idempotent, so any slicing of the sketch table composes."""
    return df.groupBy(*by).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(sketch_col)))),
            1,
            k,
        ).alias(sketch_col)
    )


def kmv_overlap(
    sketches: DataFrame,
    *,
    group_col: str,
    k: int,
    hasher: str = "fast",
) -> DataFrame:
    """Pairwise set-overlap estimates between every unordered pair of groups
    in a KMV sketch table (``group_col``, ``kmv``): estimated union size,
    intersection size and Jaccard similarity.

    The standard KMV set algebra: with U = the k smallest of A ∪ B (itself
    a valid sketch of the union), Jaccard ≈ \\|U ∩ A ∩ B\\| / \\|U\\| and
    \\|A ∩ B\\| ≈ Jaccard · \\|A ∪ B\\|.  While both groups hold < k distinct
    values all three are exact.  The join operates on sketch ROWS (one per
    group, k bigints each) — never on the raw data; with G groups this is
    a G²/2 broadcast join of KB-sized rows.
    """
    domain = _KMV_DOMAIN(hasher)
    a = sketches.select(
        F.col(group_col).alias("group_a"), F.col("kmv").alias("__kmv_a")
    )
    b = sketches.select(
        F.col(group_col).alias("group_b"), F.col("kmv").alias("__kmv_b")
    )
    j = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
    u = F.slice(F.array_sort(F.array_union("__kmv_a", "__kmv_b")), 1, k)
    j = j.select("group_a", "group_b", "__kmv_a", "__kmv_b", u.alias("__u"))
    nu = F.size("__u")
    matches = F.size(
        F.array_intersect(F.array_intersect("__kmv_a", "__kmv_b"), "__u")
    )
    union_est = _kmv_estimate(F.col("__u"), k, domain)
    jaccard = matches.cast("double") / nu.cast("double")
    inter_est = F.when(nu < k, matches.cast("double")).otherwise(
        jaccard * union_est
    )
    return j.select(
        "group_a",
        "group_b",
        union_est.alias("union_est"),
        inter_est.alias("inter_est"),
        jaccard.alias("jaccard"),
    )
