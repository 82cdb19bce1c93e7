"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md §2
(the full flox reduction/scan inventory) plus the LLM-pipeline operators
(dedup / similarity / text analysis).  ``oracle_sql()`` holds the equivalent
DuckDB SQL for each.  Conventions used to make cross-engine value-hash
comparison robust:

- every computed column is aliased identically on both sides;
- float aggregates that involve arithmetic are ``round()``ed the same way on
  both sides (sums of doubles are order-dependent across engines);
- NaN-propagating ("bare") reductions emit a ``*_isnan`` flag plus a
  NULL-when-NaN "clean" value, because NaN payload bits are not guaranteed
  to hash identically across engines;
- missing values are injected deterministically (CASE on data columns) so
  NaN-skip/propagate semantics are actually exercised on the clean TPC-H-ish
  tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_groupby_spark import (
    Bins,
    groupby_agg,
    groupby_reduce,
    groupby_scan,
    quantile_bins,
)
from dask_groupby_spark.operators.dedup import (
    duplicate_spans,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    remove_duplicate_spans,
    simhash,
)
from dask_groupby_spark.operators.multimodal import attach_fake_media, extract_image_features
from dask_groupby_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    ivf_topk,
    lsh_bucketed_topk,
)
from dask_groupby_spark.operators.text import (
    add_text_features,
    document_fingerprint,
    language_id,
)
from dask_groupby_spark.sources import load_table

NAN = float("nan")


def _prep(spark: SparkSession) -> None:
    """Session settings the queries rely on (safe on any session)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def _li(spark, sf):
    """lineitem + deterministic helper columns: unique order index ``idx``
    and NaN-contaminated ``v`` (only the 'A' return-flag groups are
    contaminated, so propagate vs skip differ).

    ``idx`` is a portable 60-bit hash of the full distinguishing tuple —
    the driver's synthetic lineitem DUPLICATES (l_orderkey, l_linenumber)
    pairs (rows sampled with replacement), so the natural
    ``orderkey*8+linenumber`` index has ties with DIFFERENT values, making
    first/last/arg* genuinely ambiguous between engines.  Hash order is an
    arbitrary but shared, collision-free total order; floats enter as
    ×100 integers so the hashed string renders identically in both
    engines."""
    li = load_table(spark, sf, "lineitem")
    key = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.round(F.col("l_quantity") * 100).cast("bigint").cast("string"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").cast("string"),
    )
    idx = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
    return li.withColumn("idx", idx).withColumn(
        "v",
        F.when((F.col("l_returnflag") == "A") & (F.col("l_quantity") < 5), F.lit(NAN)).otherwise(
            F.col("l_quantity")
        ),
    )


# the same derivation in DuckDB SQL lives in oracle_queries.py (_LI/_LIP,
# sharing the md5-hash idx via _LI_IDX)

_KEYS = ["l_returnflag", "l_linestatus"]
_KEYS_SQL = "l_returnflag, l_linestatus"


def _ev(spark, sf):
    """events + injected missing values: ``vnan`` (NaN when value<5) and
    ``vnull`` (NULL when value<50) for scan semantics."""
    ev = load_table(spark, sf, "events")
    return ev.withColumn(
        "vnan", F.when(F.col("value") < 5, F.lit(NAN)).otherwise(F.col("value"))
    ).withColumn("vnull", F.when(F.col("value") < 50, F.lit(None)).otherwise(F.col("value")))


def _flagged(df: DataFrame, col: str, ndigits: int | None) -> DataFrame:
    """Split a possibly-NaN float column into (<col>_isnan, <col> clean)."""
    clean = F.when(F.isnan(F.col(col)), F.lit(None)).otherwise(F.col(col))
    if ndigits is not None:
        clean = F.round(clean, ndigits)
    return df.withColumn(f"{col}_isnan", F.isnan(F.col(col))).withColumn(col, clean)


# --------------------------------------------------------------------------
# reductions on lineitem


def q_count(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="count", value="v")
    return out


def q_nansum(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="nansum", value="v")
    return out.withColumn("nansum", F.round("nansum", 4))


def q_sum(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="sum", value="v")
    return _flagged(out, "sum", 4)


def q_nanmean(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="nanmean", value="v")
    return out.withColumn("nanmean", F.round("nanmean", 6))


def q_mean(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="mean", value="v")
    return _flagged(out, "mean", 6)


def q_prod(spark, sf):
    li = _li(spark, sf).withColumn(
        "pv",
        F.when(F.col("l_tax") < 0.005, F.lit(NAN)).otherwise(1.0 + F.col("l_tax")),
    )
    out = groupby_reduce(li, "l_orderkey", func="prod", value="pv")
    return _flagged(out, "prod", 6)


def q_nanprod(spark, sf):
    li = _li(spark, sf).withColumn(
        "pv",
        F.when(F.col("l_tax") < 0.005, F.lit(NAN)).otherwise(1.0 + F.col("l_tax")),
    )
    out = groupby_reduce(li, "l_orderkey", func="nanprod", value="pv")
    return out.withColumn("nanprod", F.round("nanprod", 6))


def q_var(spark, sf):
    out = groupby_reduce(
        _li(spark, sf), *_KEYS, func="var", value="v", finalize_kwargs={"ddof": 0}
    )
    return _flagged(out, "var", 6)


def q_nanvar(spark, sf):
    out = groupby_reduce(
        _li(spark, sf), *_KEYS, func="nanvar", value="v", finalize_kwargs={"ddof": 1}
    )
    return out.withColumn("nanvar", F.round("nanvar", 6))


def q_std(spark, sf):
    out = groupby_reduce(
        _li(spark, sf), *_KEYS, func="std", value="v", finalize_kwargs={"ddof": 1}
    )
    return _flagged(out, "std", 6)


def q_nanstd(spark, sf):
    out = groupby_reduce(
        _li(spark, sf), *_KEYS, func="nanstd", value="v", finalize_kwargs={"ddof": 0}
    )
    return out.withColumn("nanstd", F.round("nanstd", 6))


def q_min(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="min", value="v")
    return _flagged(out, "min", None)


def q_max(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="max", value="v")
    return _flagged(out, "max", None)


def q_nanmin(spark, sf):
    return groupby_reduce(_li(spark, sf), *_KEYS, func="nanmin", value="v")


def q_nanmax(spark, sf):
    return groupby_reduce(_li(spark, sf), *_KEYS, func="nanmax", value="v")


def _li_price_nan(spark, sf):
    return _li(spark, sf).withColumn(
        "pv",
        F.when((F.col("l_returnflag") == "A") & (F.col("l_quantity") < 5), F.lit(NAN)).otherwise(
            F.col("l_extendedprice")
        ),
    )


def q_argmax(spark, sf):
    return groupby_reduce(_li_price_nan(spark, sf), *_KEYS, func="argmax", value="pv", idx_col="idx")


def q_argmin(spark, sf):
    return groupby_reduce(_li_price_nan(spark, sf), *_KEYS, func="argmin", value="pv", idx_col="idx")


def q_nanargmax(spark, sf):
    return groupby_reduce(
        _li_price_nan(spark, sf), *_KEYS, func="nanargmax", value="pv", idx_col="idx"
    )


def q_nanargmin(spark, sf):
    return groupby_reduce(
        _li_price_nan(spark, sf), *_KEYS, func="nanargmin", value="pv", idx_col="idx"
    )


def q_first(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="first", value="v", idx_col="idx")
    return _flagged(out, "first", None)


def q_last(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="last", value="v", idx_col="idx")
    return _flagged(out, "last", None)


def q_nanfirst(spark, sf):
    return groupby_reduce(_li(spark, sf), *_KEYS, func="nanfirst", value="v", idx_col="idx")


def q_nanlast(spark, sf):
    return groupby_reduce(_li(spark, sf), *_KEYS, func="nanlast", value="v", idx_col="idx")


def q_any(spark, sf):
    li = _li(spark, sf).withColumn("b", F.col("l_quantity") > 40)
    return groupby_reduce(li, "l_orderkey", func="any", value="b")


def q_all(spark, sf):
    li = _li(spark, sf).withColumn("b", F.col("l_quantity") > 10)
    return groupby_reduce(li, "l_orderkey", func="all", value="b")


def q_median(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="median", value="v")
    return _flagged(out, "median", 6)


def q_nanmedian(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="nanmedian", value="v")
    return out.withColumn("nanmedian", F.round("nanmedian", 6))


def q_quantile(spark, sf):
    out = groupby_reduce(
        _li(spark, sf), *_KEYS, func="quantile", value="v", finalize_kwargs={"q": 0.9}
    )
    return _flagged(out, "quantile", 6)


def q_nanquantile_vec(spark, sf):
    out = groupby_reduce(
        _li(spark, sf),
        *_KEYS,
        func="nanquantile",
        value="v",
        finalize_kwargs={"q": [0.45, 0.9]},
    )
    return out.select(
        *_KEYS,
        F.posexplode(F.col("nanquantile")).alias("qi", "nanquantile"),
    ).select(
        *_KEYS,
        F.col("qi").cast("bigint").alias("qi"),
        F.round("nanquantile", 6).alias("nanquantile"),
    )


def q_complex_nanmean(spark, sf):
    """complex (struct<re,im>) grouped mean — re carries the NaN-contaminated
    quantity so an element is missing when either part is NaN."""
    from dask_groupby_spark import complex_col, groupby_reduce_complex

    li = _li(spark, sf).withColumn(
        "z", complex_col(F.col("v"), F.col("l_extendedprice"))
    )
    out = groupby_reduce_complex(li, *_KEYS, func="nanmean", value="z")
    return out.select(
        *_KEYS,
        F.round(F.col("nanmean.re"), 6).alias("re"),
        F.round(F.col("nanmean.im"), 6).alias("im"),
    )


def _complex_li(spark, sf):
    from dask_groupby_spark import complex_col

    return _li(spark, sf).withColumn(
        "z", complex_col(F.col("v"), F.col("l_extendedprice"))
    )


def q_complex_nanvar(spark, sf):
    """complex variance (real-valued: E|z|^2 - |E z|^2, ddof=1) over the
    NaN-contaminated complex column — round-2 parity extension.  The
    imaginary part is l_tax (small magnitude) so the cross-engine rounded
    comparison is not dominated by |z|^2 summation-order noise."""
    from dask_groupby_spark import complex_col, groupby_reduce_complex

    li = _li(spark, sf).withColumn("z", complex_col(F.col("v"), F.col("l_tax")))
    out = groupby_reduce_complex(li, *_KEYS, func="nanvar", value="z", ddof=1)
    return out.select(*_KEYS, F.round(F.col("nanvar"), 4).alias("cvar"))


def q_complex_argmax(spark, sf):
    """index of the lexicographically-largest complex element per group
    (numpy complex ordering: real, then imaginary; first occurrence on
    ties) — skip-missing variant."""
    from dask_groupby_spark import groupby_reduce_complex

    return groupby_reduce_complex(
        _complex_li(spark, sf), *_KEYS, func="nanargmax", value="z", idx_col="idx"
    ).select(*_KEYS, F.col("nanargmax").alias("amax_idx"))


def q_complex_nanmedian(spark, sf):
    """lexicographic complex median (numpy sorts complex by (re, im) and
    averages the two middles on even counts)."""
    from dask_groupby_spark import groupby_reduce_complex

    out = groupby_reduce_complex(
        _complex_li(spark, sf), *_KEYS, func="nanmedian", value="z"
    )
    return out.select(
        *_KEYS,
        F.round(F.col("nanmedian.re"), 6).alias("re"),
        F.round(F.col("nanmedian.im"), 6).alias("im"),
    )


def q_nunique(spark, sf):
    """capability+: exact distinct non-missing count per group."""
    return groupby_reduce(_li(spark, sf), *_KEYS, func="nunique", value="v")


def q_approx_quantile(spark, sf):
    """capability+: sketch-backed quantile (skew-safe scale path).  Pinned to
    the EXACT regime for the oracle: Greenwald-Khanna with accuracy ≥ group
    size returns the true discrete quantile element, which equals DuckDB
    quantile_disc (rank convention verified on n∈{4,5,7,10} boundaries).
    Group sizes are ~10k at sf0.01 / ~100k at sf0.1, so accuracy=1e6 is
    exact at both; production callers use the default sketchy accuracy
    (tests/test_approx.py asserts the error bound there)."""
    out = groupby_reduce(
        _li(spark, sf),
        *_KEYS,
        func="approx_quantile",
        value="v",
        finalize_kwargs={"q": 0.9, "accuracy": 1_000_000},
    )
    return out


def q_mode(spark, sf):
    out = groupby_reduce(_li(spark, sf), *_KEYS, func="mode", value="v")
    return _flagged(out, "mode", None)


def q_nanmode(spark, sf):
    return groupby_reduce(_li(spark, sf), *_KEYS, func="nanmode", value="v")


# --------------------------------------------------------------------------
# grouping features: bins, reindex/fill, dense grid, min_count, datetime keys


def q_bins_right(spark, sf):
    out = groupby_reduce(
        _li(spark, sf),
        "l_quantity",
        func="count",
        value="l_extendedprice",
        expected_groups=Bins([0.0, 10.0, 20.0, 30.0, 40.0, 50.0], closed="right"),
    )
    return out.withColumn("l_quantity_bin", F.col("l_quantity_bin").cast("bigint"))


def q_bins_left(spark, sf):
    out = groupby_reduce(
        _li(spark, sf),
        "l_quantity",
        func="nansum",
        value="l_extendedprice",
        expected_groups=Bins([1.0, 10.0, 20.0, 30.0, 40.0, 51.0], closed="left"),
        fill_value=0.0,
    )
    # round-1: these 5 bins each sum ~5e9 of doubles, where cross-engine
    # summation-order noise (~1e-4) sits AT the round-4 half-grid — the
    # 3-decades-above-noise rule wants a 0.1 grid (r9 entry-layer review)
    return out.withColumn("l_quantity_bin", F.col("l_quantity_bin").cast("bigint")).withColumn(
        "nansum", F.round("nansum", 1)
    )


def q_reindex_fill(spark, sf):
    cust = load_table(spark, sf, "customer")
    return groupby_reduce(
        cust,
        "c_nationkey",
        func="count",
        value="c_acctbal",
        expected_groups=list(range(25)),
        fill_value=0,
    )


def q_grid_fill(spark, sf):
    orders = load_table(spark, sf, "orders")
    return groupby_reduce(
        orders,
        "o_orderstatus",
        "o_orderpriority",
        func="count",
        value="o_totalprice",
        fill_value=0,
    )


def q_min_count(spark, sf):
    li = _li(spark, sf).withColumn(
        "mv", F.when(F.col("l_quantity") < 48, F.lit(NAN)).otherwise(F.col("l_quantity"))
    )
    out = groupby_reduce(
        li, *_KEYS, func="nansum", value="mv", min_count=600, fill_value=-1.0
    )
    return out.withColumn("nansum", F.round("nansum", 4))


def q_dayofyear(spark, sf):
    ev = _ev(spark, sf).withColumn("doy", F.dayofyear("ts").cast("bigint"))
    out = groupby_reduce(ev, "doy", func="nanmean", value="vnan")
    return out.withColumn("nanmean", F.round("nanmean", 6))


def q_month_hour(spark, sf):
    ev = (
        _ev(spark, sf)
        .withColumn("m", F.month("ts").cast("bigint"))
        .withColumn("h", F.hour("ts").cast("bigint"))
    )
    out = groupby_reduce(ev, "m", "h", func="nansum", value="vnan", fill_value=0.0)
    return out.withColumn("nansum", F.round("nansum", 4))


def q_resample_5d(spark, sf):
    orders = load_table(spark, sf, "orders").withColumn(
        "bucket",
        F.floor(F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")) / 5).cast(
            "bigint"
        ),
    )
    out = groupby_reduce(orders, "bucket", func="nansum", value="o_totalprice")
    return out.withColumn("nansum", F.round("nansum", 2))


def q_resample_time(spark, sf):
    """resample API: daily nanmean of events (epoch-anchored buckets,
    real timestamp labels)."""
    from dask_groupby_spark.resample import resample

    ev = _ev(spark, sf)
    out = resample(ev, "ts", "1 day", "nanmean", "vnan")
    return out.withColumn("nanmean", F.round("nanmean", 6))


def q_resample_dense_keys(spark, sf):
    """resample dense=True crossed with extra_by: the FULL (bucket ×
    observed event_type) grid, empty cells filled with 0 (round-2 fix —
    previously the dense branch joined on the bucket only)."""
    from dask_groupby_spark.resample import resample

    ev = _ev(spark, sf)
    out = resample(
        ev, "ts", "1 day", "nansum", "vnan", "event_type",
        dense=True, fill_value=0.0,
    )
    return out.withColumn("nansum", F.round("nansum", 4))


def q_accessor_climatology(spark, sf):
    """datetime virtual-accessor groupers (round 2): group directly by
    "ts.month"/"ts.hour" — the flox/xarray front-end's groupby("time.month")
    resolved engine-side to map-side expressions, no manual key derivation."""
    ev = _ev(spark, sf)
    out = groupby_reduce(ev, "ts.month", "ts.hour", func="nanmean", value="vnan")
    return out.withColumn("nanmean", F.round("nanmean", 6))


def q_xdim_reduce(spark, sf):
    """named-dimension front-end (xarray_reduce, flox/xarray.py:65-160
    analog): dims (ts.month, user_id), reduce over user_id, retain ts.month
    as an output axis alongside the event_type grouper."""
    from dask_groupby_spark import xarray_reduce

    ev = _ev(spark, sf)
    out = xarray_reduce(
        ev, "event_type", func="nanmean", value="vnan",
        dims=["ts.month", "user_id"], dim="user_id",
    )
    return out.withColumn("nanmean", F.round("nanmean", 6))


def q_xdim_bins(spark, sf):
    """xarray front-end over a BINNED grouper with interval-coordinate
    output (flox/xarray.py:370-378 attaches a pd.IntervalIndex coord):
    the bin axis carries pandas-style interval labels, not bare codes."""
    from dask_groupby_spark import xarray_reduce

    li = _li(spark, sf)
    out = xarray_reduce(
        li, "l_quantity", func="nansum", value="l_extendedprice",
        dims=["l_orderkey"], dim="l_orderkey",
        expected_groups=Bins([0.0, 10.0, 20.0, 30.0, 40.0, 50.0], closed="right"),
        interval_labels=True,
    )
    # round-1 for the same ~5e9-per-bin float-sum reason as q_bins_left
    return out.select(
        F.col("l_quantity_bin").alias("quantity_interval"),
        F.round("nansum", 1).alias("nansum"),
    )


def q_xdim_dataset(spark, sf):
    """xarray front-end Dataset form: value=list reduces EVERY data
    variable in one fused aggregate (flox/xarray.py loops data_vars; here
    Catalyst shares one shuffle/hash table across the variables)."""
    from dask_groupby_spark import xarray_reduce

    ev = _ev(spark, sf)
    out = xarray_reduce(
        ev, "event_type", func="mean", value=["vnan", "value"],
        dims=["ts.month", "user_id"], dim="user_id", skipna=True,
    )
    return out.select(
        "event_type", "month",
        F.round("vnan", 6).alias("vnan"),
        F.round("value", 6).alias("value"),
    )


def q_calendar_mean(spark, sf):
    """non-standard-calendar datetimes (cftime parity, xrutils.py:189-247
    datetime_to_numeric): string calendar axis → exact integer epoch
    offsets (pure Catalyst regexp+arithmetic, no cftime dep) → grouped
    mean.  The test axis reuses events.ts formatted as strings (valid in
    both calendars), so the oracle can re-derive the same offsets.

    floor(mean) is computed EXACTLY — decimal sum S, then (S - S%n)/n —
    because per-group double sums reach ~1e15 where ulp ≈ 0.25, and
    Spark-vs-DuckDB summation order could flip floor() when the true mean
    lands near an integer (same trick as _nanmean's timestamp path)."""
    from dask_groupby_spark.calendar import encode_calendar_datetime

    ev = _ev(spark, sf).withColumn(
        "cal", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    enc = ev.withColumn(
        "e", encode_calendar_datetime(F.col("cal"), "noleap").cast("decimal(38,0)")
    )
    out = (
        enc.where(F.col("e").isNotNull())
        .groupBy("event_type")
        .agg(F.sum("e").alias("S"), F.count("e").alias("n"))
    )
    return out.select(
        "event_type",
        ((F.col("S") - F.col("S") % F.col("n")) / F.col("n"))
        .cast("bigint")
        .alias("mean_noleap_sec"),
    )


def _event_stream(spark, sf, convert_ts=True, drop_null_ts=True):
    """The events table as a file STREAM — one definition for the eight
    formerly copy-pasted setup blocks (r9 entry-layer review).  Streaming
    file sources scan a directory (single-file paths break the
    partition-inference file index), so the schema is read batch-side and
    the glob selects just events.parquet.  ``convert_ts`` normalizes the
    rounds-1/2 bigint-nanos encoding with the SAME floor division as
    sources.load_table; ``drop_null_ts`` mirrors the event-time queries'
    NULL-ts exclusion (watermarks need a timestamp).  The dedup/cumsum
    keys consume raw rows and pass False for both."""
    import os

    from dask_groupby_spark.sources import read_stream

    p = os.path.join(sf, "events.parquet")
    raw_schema = spark.read.parquet(p).schema
    if os.path.isdir(p):
        # Spark-written table = a DIRECTORY of part files; a
        # pathGlobFilter on the parent dir would match no leaf (the
        # leaves are part-*.parquet) and silently stream 0 rows — found
        # by the r10 sf1 battery, where make_sf1 tables are directories.
        stream = read_stream(spark, p, schema=raw_schema)
    else:
        stream = read_stream(
            spark, sf, schema=raw_schema, pathGlobFilter="events.parquet"
        )
    if convert_ts and dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
        )
    if drop_null_ts:
        stream = stream.where(F.col("ts").isNotNull())
    return stream


def q_stream_window(spark, sf):
    """Structured Streaming, oracle-checked: events consumed as a FILE
    STREAM (explicit schema, Trigger.AvailableNow) through
    streaming.windowed_reduce (tumbling 1-day event-time windows +
    watermark) into a memory sink in complete mode — the finite-input
    streaming result must equal the batch GROUP BY time-bucket exactly,
    which is what the DuckDB oracle computes."""
    import os

    from dask_groupby_spark.sources import read_stream
    from dask_groupby_spark.streaming import windowed_reduce

    stream = _event_stream(spark, sf)

    out = windowed_reduce(
        stream, "event_type", func="nansum", value="value",
        ts_col="ts", window="1 day", watermark="0 seconds",
    )
    name = "stream_window_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "window_start",
        "event_type",
        F.round("nansum", 4).alias("nansum"),
    )


def q_stream_sliding(spark, sf):
    """Sliding event-time windows (2-day window, 1-day slide): every event
    contributes to exactly two overlapping windows; oracle enumerates both
    epoch-aligned window starts per event."""
    import os

    from dask_groupby_spark.sources import read_stream
    from dask_groupby_spark.streaming import windowed_reduce

    stream = _event_stream(spark, sf)

    out = windowed_reduce(
        stream, "event_type", func="nansum", value="value",
        ts_col="ts", window="2 days", slide="1 day", watermark="0 seconds",
    )
    name = "stream_sliding_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "window_start",
        "window_end",
        "event_type",
        F.round("nansum", 4).alias("nansum"),
    )


def q_stream_late(spark, sf):
    """Late/out-of-order data contract: events arriving BEYOND the watermark
    are dropped, and append mode emits exactly the watermark-finalized
    windows.  Four staged file-batches (maxFilesPerTrigger=1, mtime-ordered)
    replay the corpus out of order, with W = 3 days:

      batch 1: Jan 1-10   (on time)      -> wm ~= Jan 7.9
      batch 2: Jan 21-25  (jump ahead)   -> wm ~= Jan 22.9
      batch 3: Jan 26-30  (on time)      -> wm ~= Jan 27.9
      batch 4: Jan 11-20  (stragglers)   -> dropped: every straggler's
               day-window ends <= Jan 21

    Spark >= 3.4 filters late events with a ONE-BATCH-DELAYED watermark
    (SPARK-40925: lateEvents wm vs eviction wm in StateStoreSave), which is
    why batch 3 exists: when the stragglers arrive, even the delayed
    watermark (~Jan 22.9, from batch 2) is past their window ends
    (<= Jan 21, ~1.9-day margin), so they are dropped under either
    semantics — not aggregated-then-instantly-evicted.

    Expected (= the DuckDB oracle): day windows with window_end <= the
    final watermark (max ts - 3d ~= Jan 27.9), aggregated over the on-time
    batches only.  A wrong implementation that buffers without eviction
    would merge the stragglers and mismatch; one that never finalizes would
    emit nothing.  All boundaries sit mid-day (max ts ~23:57), so <= vs <
    at the watermark can't flip the result."""
    import glob
    import os
    import shutil
    import tempfile

    from dask_groupby_spark.streaming import windowed_reduce

    ev = _ev(spark, sf).where(F.col("ts").isNotNull()).select(
        "event_type", "ts", "value"
    )
    # deterministic staging dir, cleared on entry: the returned DataFrame
    # reads it lazily, so in-function cleanup would break the driver's
    # later collect — reuse bounds the /tmp footprint to ONE copy per key
    # instead of one per run (r9 entry-layer review)
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_late_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    stage = os.path.join(base, "in")
    os.makedirs(stage)
    batches = [
        ev.where(F.col("ts") < "2024-01-11"),
        ev.where((F.col("ts") >= "2024-01-21") & (F.col("ts") < "2024-01-26")),
        ev.where(F.col("ts") >= "2024-01-26"),
        ev.where((F.col("ts") >= "2024-01-11") & (F.col("ts") < "2024-01-21")),
    ]
    for i, b in enumerate(batches, 1):
        d = os.path.join(base, f"b{i}")
        b.coalesce(1).write.mode("overwrite").parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(stage, f"batch{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1700000000 + i * 100,) * 2)

    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    out = windowed_reduce(
        stream, "event_type", func="nansum", value="value",
        ts_col="ts", window="1 day", watermark="3 days",
    )
    name = "stream_late_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "window_start",
        "event_type",
        F.round("nansum", 4).alias("nansum"),
    )


def q_stream_session(spark, sf):
    """Structured Streaming session windows, oracle-checked: per-user
    sessions split at >= 30-minute silence (F.session_window semantics:
    a session's end is last_event + gap; an event exactly at the end
    starts a NEW session).  DuckDB oracle = classic gaps-and-islands."""
    import os

    from dask_groupby_spark.sources import read_stream
    from dask_groupby_spark.streaming import session_reduce

    stream = _event_stream(spark, sf)

    out = session_reduce(
        stream, "user_id", func="nansum", value="value",
        ts_col="ts", gap="30 minutes", watermark="0 seconds",
    )
    name = "stream_session_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "session_start",
        "session_end",
        "user_id",
        F.round("nansum", 4).alias("nansum"),
    )


def q_stream_agg(spark, sf):
    """Streaming fused MULTI-aggregate (windowed_agg — the streaming
    groupby_agg): count + nansum + nanmean of value per (1-day window,
    event_type), ONE state store, finite stream == batch."""
    import os

    from dask_groupby_spark.sources import read_stream
    from dask_groupby_spark.streaming import windowed_agg

    stream = _event_stream(spark, sf)

    out = windowed_agg(
        stream, "event_type",
        funcs=[
            ("count", "value", "n"),
            ("nansum", "value", "total"),
            ("nanmean", "value", "avg_v"),
        ],
        ts_col="ts", window="1 day", watermark="0 seconds",
    )
    name = "stream_agg_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "window_start",
        "event_type",
        "n",
        F.round("total", 4).alias("total"),
        F.round("avg_v", 6).alias("avg_v"),
    )


def q_stream_join(spark, sf):
    """Stream-stream inner join with an event-time range constraint: each
    click pairs with the same user's views in the 2 hours before it
    (both sides watermarked so buffered state is evictable); finite
    stream == batch self-join."""
    from dask_groupby_spark.streaming import stream_stream_join

    def side(etype, ts_alias, id_alias):
        s = _event_stream(spark, sf, drop_null_ts=False)
        return s.where(F.col("event_type") == etype).select(
            F.col("event_id").alias(id_alias),
            F.col("ts").alias(ts_alias),
            "user_id",
        )

    clicks = side("click", "click_ts", "click_id")
    views = side("view", "view_ts", "view_id")
    out = stream_stream_join(
        clicks, views, on="user_id",
        left_ts="click_ts", right_ts="view_ts",
        before="2 hours", after="0 seconds", watermark="1 day",
    )
    name = "stream_join_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("user_id", "click_id", "view_id")


def q_stream_enrich(spark, sf):
    """Stream-static enrichment: events stream LEFT-joined to the customer
    dim (broadcast — the stream never shuffles) on user_id=c_custkey, then
    a windowed count per market segment; finite stream == batch."""
    import os

    from dask_groupby_spark.sources import load_table, read_stream
    from dask_groupby_spark.streaming import stream_enrich, windowed_reduce

    stream = _event_stream(spark, sf)

    dim = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_enrich(stream, dim, on="user_id", how="left").withColumn(
        "seg", F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN"))
    )
    out = windowed_reduce(
        enriched, "seg", func="count", value="value",
        ts_col="ts", window="1 day", watermark="0 seconds", alias="n",
    )
    name = "stream_enrich_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("window_start", "seg", "n")


def q_stream_dedup(spark, sf):
    """Streaming exact dedup, oracle-checked: dropDuplicates state over
    (user_id, event_type) keys feeding a streaming count per event_type —
    on finite input this must equal the batch COUNT(DISTINCT user_id)."""
    import os

    from dask_groupby_spark.sources import read_stream
    from dask_groupby_spark.streaming import streaming_dedup

    stream = _event_stream(spark, sf, convert_ts=False, drop_null_ts=False)
    deduped = streaming_dedup(stream, "user_id", "event_type")
    out = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    name = "stream_dedup_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("event_type", "n_users")


def q_stream_cumsum(spark, sf):
    """Stateful streaming scan (applyInPandasWithState running sum),
    oracle-checked on its FINAL state: after AvailableNow drains the finite
    file stream, each key's last update row (max n_seen) must equal the
    batch per-key count + sum."""
    import os

    from dask_groupby_spark.sources import read_stream
    from dask_groupby_spark.streaming import streaming_cumsum

    stream = _event_stream(spark, sf, convert_ts=False, drop_null_ts=False)
    out = streaming_cumsum(stream, "user_id", "value")
    name = "stream_cumsum_tbl"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the output key column keeps the input's name/type since r7
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max(F.struct("n_seen", "running_sum")).alias("s"))
    )
    return final.select(
        "user_id",
        F.col("s.n_seen").alias("n_seen"),
        F.round("s.running_sum", 4).alias("running_sum"),
    )


def q_first_ts(spark, sf):
    """order-sensitive first over timestamp *values* (dtype preservation)."""
    ev = _ev(spark, sf)
    return groupby_reduce(ev, "event_type", func="nanfirst", value="ts", idx_col="event_id")


def q_mean_ts(spark, sf):
    """mean of timestamps: int64-micros view + restore (ref core.py:2506-2520)."""
    ev = _ev(spark, sf)
    return groupby_reduce(ev, "event_type", func="nanmean", value="ts")


# --------------------------------------------------------------------------
# scans


def q_scan_nancumsum(spark, sf):
    """method='window' PINNED (r12 reassociation audit, VERDICT r11 #3):
    the window tier folds in the same sequential order as the oracle's
    window SQL — bit-identical at ANY scale, so the round-6 grid can
    never flip.  Unpinned, auto-dispatch flips to the chunked two-pass
    tier once a group exceeds rows_per_chunk (event_type groups = n/5
    rows, flips at ~10M events), whose reassociated partial sums drift
    ~1e-13 relative — off this absolute grid at 1e8-scale sums (proven
    at sf10).  The auto path itself stays covered by
    scripts/tier_reassoc_check.py (window-vs-two_pass differential) and
    the dispatch tests; the chunked tier's own contract key is
    scan_two_pass."""
    ev = _ev(spark, sf)
    out = groupby_scan(
        ev, "event_type", func="nancumsum", value="vnan", idx_col="event_id",
        method="window",
    )
    return out.select("event_id", "event_type", F.round("nancumsum", 6).alias("nancumsum"))


def q_scan_two_pass(spark, sf):
    """The Blelloch-style two-pass scan path (r8, VERDICT r7 item #2 —
    core.py groupby_scan(method='two_pass'), dask_groupby_spark/
    two_pass.py): nancumsum executed as chunked partial scans +
    prefix-combined chunk states + broadcast recombine, so a huge group
    spans MANY tasks instead of one.  rows_per_chunk=2000 forces
    multi-chunk groups at every test SF; the oracle is the plain window
    SQL.

    r12 (reassociation audit, VERDICT r11 #3): the scanned value is
    INTEGER-QUANTIZED — round(vnan·100), cents — so every partial and
    prefix sum is an integer-valued double, and integer addition below
    2^53 is EXACT under ANY association: the chunked tier, the window
    tier, and DuckDB's sequential window agree BIT-FOR-BIT at any scale
    (exact through ~2e12 rows on this value range).  The raw-float form
    of this key was proven off-grid at sf10 (chunked drift ~1e-13
    relative = 9.2e-6 absolute on 1e8-scale sums, vs the 1e-6 round-6
    grid) — the key's purpose is to verify the CHUNKING MACHINERY
    (offsets, NaN skipping, recombine), which the integer grid checks
    losslessly; raw-float tier drift is bounded separately by
    scripts/tier_reassoc_check.py.  The /100 at the end is one IEEE
    division of identical doubles on both engines — still exact
    comparison."""
    ev = _ev(spark, sf).withColumn(
        "vcents",
        F.when(F.isnan(F.col("vnan")), F.lit(NAN)).otherwise(
            F.round(F.col("vnan") * 100)
        ),
    )
    out = groupby_scan(
        ev, "event_type", func="nancumsum", value="vcents", idx_col="event_id",
        method="two_pass", rows_per_chunk=2000,
    )
    return out.select(
        "event_id", "event_type",
        (F.col("nancumsum") / 100.0).alias("nancumsum"),
    )


def q_scan_two_pass_ffill(spark, sf):
    """Two-pass ffill (r8): the ORDER-CARRY combine family (chunk edge
    states carried by struct-max, offsets by ordered last-valid) on the
    same contract frame as scan_ffill; NaN→NULL normalized like the
    window key."""
    ev = _ev(spark, sf)
    out = groupby_scan(
        ev, "event_type", func="ffill", value="vnull", idx_col="event_id",
        method="two_pass", rows_per_chunk=2000,
    )
    clean = F.when(F.isnan(F.col("ffill")), F.lit(None)).otherwise(F.col("ffill"))
    return out.select("event_id", "event_type", clean.alias("ffill"))


def q_scan_cumsum(spark, sf):
    ev = _ev(spark, sf)
    out = groupby_scan(ev, "event_type", func="cumsum", value="vnan", idx_col="event_id")
    out = _flagged(out, "cumsum", 6)
    return out.select("event_id", "event_type", "cumsum_isnan", "cumsum")


def q_scan_ffill(spark, sf):
    ev = _ev(spark, sf)
    out = groupby_scan(ev, "event_type", func="ffill", value="vnull", idx_col="event_id")
    clean = F.when(F.isnan(F.col("ffill")), F.lit(None)).otherwise(F.col("ffill"))
    return out.select("event_id", "event_type", clean.alias("ffill"))


def q_scan_bfill(spark, sf):
    ev = _ev(spark, sf)
    out = groupby_scan(ev, "event_type", func="bfill", value="vnull", idx_col="event_id")
    clean = F.when(F.isnan(F.col("bfill")), F.lit(None)).otherwise(F.col("bfill"))
    return out.select("event_id", "event_type", clean.alias("bfill"))


def q_scan_cummax(spark, sf):
    """bare cummax: NaN poisons the rest of the group (np.maximum.accumulate)."""
    ev = _ev(spark, sf)
    out = groupby_scan(ev, "event_type", func="cummax", value="vnan", idx_col="event_id")
    out = _flagged(out, "cummax", None)
    return out.select("event_id", "event_type", "cummax_isnan", "cummax")


def q_scan_nancummin(spark, sf):
    """running min of valid values (np.fmin.accumulate semantics)."""
    ev = _ev(spark, sf)
    out = groupby_scan(ev, "event_type", func="nancummin", value="vnan", idx_col="event_id")
    clean = F.when(F.isnan(F.col("nancummin")), F.lit(None)).otherwise(F.col("nancummin"))
    return out.select(
        "event_id",
        "event_type",
        F.isnan("nancummin").alias("nancummin_isnan"),
        clean.alias("nancummin"),
    )


def q_scan_cummin(spark, sf):
    """bare cummin: NaN poisons the rest of the group (np.minimum.accumulate)."""
    ev = _ev(spark, sf)
    out = groupby_scan(ev, "event_type", func="cummin", value="vnan", idx_col="event_id")
    out = _flagged(out, "cummin", None)
    return out.select("event_id", "event_type", "cummin_isnan", "cummin")


def q_scan_nancummax(spark, sf):
    """running max of valid values (np.fmax.accumulate semantics)."""
    ev = _ev(spark, sf)
    out = groupby_scan(ev, "event_type", func="nancummax", value="vnan", idx_col="event_id")
    clean = F.when(F.isnan(F.col("nancummax")), F.lit(None)).otherwise(F.col("nancummax"))
    return out.select(
        "event_id",
        "event_type",
        F.isnan("nancummax").alias("nancummax_isnan"),
        clean.alias("nancummax"),
    )


def q_scan_cumcount(spark, sf):
    """running count of valid values per group."""
    ev = _ev(spark, sf)
    out = groupby_scan(ev, "event_type", func="cumcount", value="vnan", idx_col="event_id")
    return out.select("event_id", "event_type", "cumcount")


def q_scan_shift(spark, sf):
    """grouped shift (pandas GroupBy.shift; lag over unframed window)."""
    ev = _ev(spark, sf)
    out = groupby_scan(
        ev, "event_type", func="shift", value="value", idx_col="event_id",
        finalize_kwargs={"periods": 2},
    )
    clean = F.when(F.isnan(F.col("shift")), F.lit(None)).otherwise(F.col("shift"))
    return out.select("event_id", "event_type", clean.alias("shift"))


def q_scan_diff(spark, sf):
    """grouped diff (pandas GroupBy.diff; x - lag(x) over unframed window)."""
    ev = _ev(spark, sf)
    out = groupby_scan(
        ev, "event_type", func="diff", value="value", idx_col="event_id",
        finalize_kwargs={"periods": 1},
    )
    clean = F.when(F.isnan(F.col("diff")), F.lit(None)).otherwise(F.col("diff"))
    return out.select("event_id", "event_type", clean.alias("diff"))


def q_rank(spark, sf):
    """grouped rank transform, method='average' with pct (pandas
    GroupBy.rank parity; single fused WindowExec)."""
    from dask_groupby_spark import groupby_rank

    ev = _ev(spark, sf)
    out = groupby_rank(
        ev, "event_type", value="value", method="average", pct=True, alias="rank"
    )
    return out.select(
        "event_id", "event_type", F.round(F.col("rank"), 6).alias("rank")
    )


def q_rank_two_pass(spark, sf):
    """The chunked rank tier (r8 — core.py groupby_rank
    execution='two_pass', two_pass.py rank_two_pass): same average-tie
    pct semantics as the rank key, executed as value-bucketed chunk
    ranks + prefix-combined valid counts, so one huge group spans many
    tasks.  rows_per_chunk=2000 forces multi-chunk at every test SF; the
    oracle is the plain window rank SQL — the two plans must agree to
    the last rounded digit."""
    from dask_groupby_spark import groupby_rank

    ev = _ev(spark, sf)
    out = groupby_rank(
        ev, "event_type", value="value", method="average", pct=True,
        alias="rank", execution="two_pass", rows_per_chunk=2000,
    )
    return out.select(
        "event_id", "event_type", F.round(F.col("rank"), 6).alias("rank")
    )


def q_fill_stat(spark, sf):
    """per-group missing-value imputation — pandas
    ``x.fillna(g.transform("mean"))``; one unordered window, single
    Exchange, no join back."""
    from dask_groupby_spark import groupby_fill_stat

    ev = _ev(spark, sf)
    out = groupby_fill_stat(ev, "event_type", value="vnull", func="nanmean", out="filled")
    return out.select(
        "event_id", "event_type", F.round(F.col("filled"), 6).alias("filled")
    )


def q_winsorize(spark, sf):
    """per-group winsorization into the [0.05, 0.95] exact-quantile band
    (outlier capping; missing values pass through unchanged)."""
    from dask_groupby_spark import groupby_winsorize

    ev = _ev(spark, sf)
    out = groupby_winsorize(
        ev, "event_type", value="vnull", lower=0.05, upper=0.95, out="wz"
    )
    return out.select("event_id", "event_type", F.round(F.col("wz"), 6).alias("wz"))


def q_corr(spark, sf):
    """bivariate grouped corr+cov (pairwise-complete, one fused aggregate
    over Spark's stable co-moment builtins)."""
    from dask_groupby_spark.operators.weighted import groupby_bivariate

    li = load_table(spark, sf, "lineitem")
    out = groupby_bivariate(
        li, "l_returnflag", x="l_quantity", y="l_extendedprice",
        funcs=("corr", "cov", "slope", "intercept", "r2"),
    )
    return out.select(
        "l_returnflag",
        F.round("corr", 6).alias("corr"),
        F.round("cov", 4).alias("cov"),
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


def q_wquantile(spark, sf):
    """exact weighted quantiles (inverted CDF), 3 q's fused into one
    window + one reusing aggregate (single Exchange)."""
    from dask_groupby_spark.operators.weighted import weighted_quantile

    ev = _ev(spark, sf).withColumn(
        "w", (F.lit(1.0) + (F.col("user_id") % 5).cast("double"))
    )
    out = weighted_quantile(
        ev, "event_type", value="value", weight="w", q=[0.25, 0.5, 0.9]
    )
    return out.select(
        "event_type",
        F.round("wq_0_25", 6).alias("wq_0_25"),
        F.round("wq_0_5", 6).alias("wq_0_5"),
        F.round("wq_0_9", 6).alias("wq_0_9"),
    )


def q_wquantile_sketch(spark, sf):
    """bounded-state weighted quantile (fixed-width weighted histogram,
    O(bins) state per group — the 100 TB skew escape for the weighted
    path).  Deterministic arithmetic → exact oracle parity: the weights
    are integer-valued doubles, so per-bucket sums are order-independent."""
    from dask_groupby_spark.operators.weighted import weighted_quantile_sketch

    ev = _ev(spark, sf).withColumn(
        "w", (F.lit(1.0) + (F.col("user_id") % 5).cast("double"))
    )
    out = weighted_quantile_sketch(
        ev, "event_type", value="value", weight="w", q=[0.25, 0.5, 0.9],
        bins=1024,
    )
    return out.select(
        "event_type",
        F.round("wq_0_25", 6).alias("wq_0_25"),
        F.round("wq_0_5", 6).alias("wq_0_5"),
        F.round("wq_0_9", 6).alias("wq_0_9"),
    )


def q_rolling(spark, sf):
    """trailing-5-row rolling mean per event_type (pandas semantics:
    NaN-skipping, min_periods on valid observations)."""
    from dask_groupby_spark import groupby_rolling

    ev = _ev(spark, sf)
    out = groupby_rolling(
        ev, "event_type", funcs="mean", value="vnan", idx_col="event_id",
        window=5, min_periods=2,
    )
    clean = F.when(F.isnan(F.col("rolling_mean")), F.lit(None)).otherwise(
        F.round("rolling_mean", 6)
    )
    return out.select("event_id", "event_type", clean.alias("rolling_mean"))


def q_rolling_frac(spark, sf):
    """FRACTIONAL range frame (r10): trailing 2.5-SECOND sum/count per
    user over the event-time axis.  Inexpressible through PySpark's
    ``WindowSpec.rangeBetween`` (integer-only binding) — runs via the
    SQL-text frame tier of ``groupby_rolling``; DuckDB evaluates the
    identical ``RANGE BETWEEN 2.5 PRECEDING`` frame."""
    from dask_groupby_spark import groupby_rolling

    ev = _ev(spark, sf).withColumn("sec", F.unix_micros("ts") / F.lit(1e6))
    out = groupby_rolling(
        ev, "user_id", funcs=("sum", "count"), value="vnan", idx_col="sec",
        window=1, range_between=(-2.5, 0.0),
    )
    s = F.when(F.isnan("rolling_sum"), F.lit(None)).otherwise(
        F.round("rolling_sum", 6)
    )
    return out.select(
        "event_id",
        "user_id",
        s.alias("roll_sum"),
        F.col("rolling_count").cast("bigint").alias("roll_n"),
    )


def q_scan_cumprod(spark, sf):
    ev = _ev(spark, sf).withColumn("x", 1.0 + F.col("value") / 10000.0)
    out = groupby_scan(ev, "user_id", func="cumprod", value="x", idx_col="event_id")
    return out.select("event_id", "user_id", F.round("cumprod", 6).alias("cumprod"))


def q_scan_nancumprod(spark, sf):
    ev = _ev(spark, sf).withColumn(
        "x",
        F.when(F.col("value") < 5, F.lit(NAN)).otherwise(1.0 + F.col("value") / 10000.0),
    )
    out = groupby_scan(ev, "user_id", func="nancumprod", value="x", idx_col="event_id")
    return out.select("event_id", "user_id", F.round("nancumprod", 6).alias("nancumprod"))


# --------------------------------------------------------------------------
# LLM-pipeline operators (documents / embeddings)


def q_dup_spans(spark, sf):
    """exact duplicated 8-token span statistics (substring-dedup discovery,
    Lee et al. 2022 formulation; one shuffle on the span key)."""
    docs = load_table(spark, sf, "documents")
    return duplicate_spans(docs, k=8, min_repeats=2).orderBy("span")


def q_span_dedup(spark, sf):
    """substring-level dedup: non-first occurrences of duplicated 8-token
    spans have their token positions removed, text reassembled."""
    docs = load_table(spark, sf, "documents")
    out = remove_duplicate_spans(docs, k=8, min_repeats=2, out_col="text_clean")
    return out.select("doc_id", "text_clean").orderBy("doc_id")


def q_entropy(spark, sf):
    """per-document token-distribution Shannon entropy (quality signal;
    zero-shuffle sorted-run fold, no explode/groupBy)."""
    from dask_groupby_spark.operators.text import token_entropy

    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id", F.round(token_entropy(F.col("text")), 6).alias("entropy")
    ).orderBy("doc_id")


def q_dedup_exact(spark, sf):
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(F.col("source"), F.md5("text").alias("digest"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("digest").alias("n_unique"),
        )
        .orderBy("source")
    )


def q_minhash(spark, sf):
    # hasher="portable": md5-derived hash reproducible in DuckDB; the
    # library default is xxhash64 (fast path, not SQL-expressible)
    docs = load_table(spark, sf, "documents")
    return minhash_signatures(
        docs, "doc_id", "text", num_hashes=4, shingle_k=3, hasher="portable"
    ).orderBy("id")


def q_lsh_pairs(spark, sf):
    docs = load_table(spark, sf, "documents")
    sig = minhash_signatures(
        docs, "doc_id", "text", num_hashes=4, shingle_k=3, hasher="portable"
    )
    return lsh_candidate_pairs(sig, num_hashes=4, bands=4, hasher="portable").orderBy(
        "id_a", "id_b"
    )


def q_dup_clusters(spark, sf):
    """LSH pairs → transitive duplicate clusters (min-label connected
    components): (doc, cluster) assignments."""
    from dask_groupby_spark.operators.dedup import duplicate_clusters

    docs = load_table(spark, sf, "documents")
    sig = minhash_signatures(
        docs, "doc_id", "text", num_hashes=4, shingle_k=3, hasher="portable"
    )
    pairs = lsh_candidate_pairs(sig, num_hashes=4, bands=4, hasher="portable")
    return duplicate_clusters(pairs).orderBy("id")


def q_keep_by_dedup(spark, sf):
    """One-call near-dedup with the QUALITY keeper rule (r8, VERDICT r7
    item #7 — the keep_by= path's first contract key): each near-dup
    cluster keeps its highest-quality member (quality = text length
    here; ties → smallest id) instead of the arbitrary min-id one.  The
    oracle recomputes the full portable-MinHash → band → pair →
    recursive-CTE closure chain (the dup_clusters oracle) and applies
    the identical keeper window — survivors compared exactly."""
    from dask_groupby_spark.operators.dedup import near_deduplicate

    docs = load_table(spark, sf, "documents").withColumn(
        "q", F.length("text").cast("bigint")
    )
    kept = near_deduplicate(
        docs,
        num_hashes=4,
        bands=4,
        shingle_k=3,
        hasher="portable",
        keep_by="q",
    )
    return kept.select("doc_id", F.col("q").alias("quality")).orderBy("doc_id")


def q_ngram_jaccard(spark, sf):
    """Exact bigram-Jaccard pairs WITH the boilerplate-shingle cap the
    100 TB plan documents (r8: max_shingle_df=256 — the r8 sf0.1 sweep
    measured the uncapped key at 39 s because the synthetic vocabulary
    puts most bigrams at df≈300, Σdf² = 73M enumeration rows; the cap
    keeps 2.4M and the semantics become 'exact Jaccard over the
    stop-shingle-filtered space', the standard formulation).  The
    oracle applies the identical df filter, so the compare is exact at
    every SF — at sf0.01 the cap never binds and values equal the
    uncapped baseline."""
    docs = load_table(spark, sf, "documents")
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=2, threshold=0.35, max_shingle_df=256
    )
    res = out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")
    return res


def q_simhash(spark, sf):
    docs = load_table(spark, sf, "documents")
    return simhash(docs, "doc_id", "text", bits=16, hasher="portable").orderBy("id")


def q_text_stats(spark, sf):
    docs = add_text_features(load_table(spark, sf, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.round(F.avg("mean_token_len"), 6).alias("avg_token_len"),
            F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        )
        .orderBy("lang")
    )


def q_langid(spark, sf):
    docs = language_id(load_table(spark, sf, "documents"))
    return (
        docs.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n")).orderBy(
            "lang", "lang_pred"
        )
    )


def q_repetition(spark, sf):
    """within-doc repetition signals (Gopher-style), averaged per language."""
    from dask_groupby_spark.operators.text import repetition_features

    docs = repetition_features(load_table(spark, sf, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.round(F.avg("rep_dup_token_frac"), 6).alias("avg_dup"),
            F.round(F.avg("rep_top_bigram_frac"), 6).alias("avg_topbigram"),
        )
        .orderBy("lang")
    )


def q_tfidf(spark, sf):
    """per-doc top TF-IDF terms (smooth-idf; lazy corpus-size aggregate)."""
    from dask_groupby_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf, "documents")
    out = tfidf_top_terms(docs, k=3)
    return out.select(
        "doc_id",
        "term",
        "tf",
        F.round("tfidf", 6).alias("tfidf"),
        F.col("rank").cast("bigint").alias("rank"),
    ).orderBy("doc_id", "rank")


def q_bpe_tokens(spark, sf):
    """BPE-ish token-count estimate (GPT-2-style pre-tokenizer regex + the
    ~4-chars-per-token heuristic) next to the exact whitespace count (r5)."""
    from dask_groupby_spark.operators.text import bpe_token_estimate, token_count

    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("ws_tokens"),
        bpe_token_estimate(F.col("text")).alias("bpe_tokens"),
    ).orderBy("doc_id")


def q_gopher(spark, sf):
    """Gopher document-quality rules (Rae et al. 2021) as typed flag
    columns + pass verdict (r5)."""
    from dask_groupby_spark.operators.text import gopher_quality_flags

    docs = load_table(spark, sf, "documents")
    out = gopher_quality_flags(docs)
    return out.select(
        "doc_id",
        "g_n_words",
        F.round("g_mean_word_len", 6).alias("g_mean_word_len"),
        "g_stop_hits",
        F.round("g_alpha_ratio", 6).alias("g_alpha_ratio"),
        F.round("g_symbol_ratio", 6).alias("g_symbol_ratio"),
        "gopher_pass",
    ).orderBy("doc_id")


def q_mh_index_probe(spark, sf):
    """Persisted MinHash-LSH index round-trip (r5): write a REAL index for
    the corpus half (doc_id < 250) to disk, probe the batch half against
    it, and hash-match the result against the oracle's pure-SQL band-pair
    computation over the same split — end-to-end evidence that the
    storage layout + stored-parameter probe produce exactly the
    batch-computation answer."""
    import tempfile

    from dask_groupby_spark.operators.dedup import (
        minhash_index_probe,
        minhash_index_write,
    )

    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") < 250)
    batch = docs.where(F.col("doc_id") >= 250)
    # deterministic index dir, cleared on entry (see q_stream_late note)
    import os
    import shutil
    import tempfile

    path = os.path.join(tempfile.gettempdir(), f"spark_graft_mh_index_contract_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    minhash_index_write(
        corpus, path, num_hashes=4, bands=4, shingle_k=3, hasher="portable"
    )
    return minhash_index_probe(spark, path, batch).orderBy("new_id", "index_id")


def q_pca_embed(spark, sf):
    """Embedding PCA fit + projection — VALUE-CHECKED since r8 (VERDICT
    r7 item #4): runs over the committed deterministic fixture
    (tests/fixtures/pca_embeddings.parquet, 240 vectors × dim 8,
    scripts/make_pca_fixture.py — well-separated spectrum, skewed
    components) and compares against pinned VALUES computed by a pure
    numpy differential in that script — so the distributed moment
    accumulation (mapInPandas per-PARTITION partials), driver eigh,
    Arrow projection plumbing, and the Σval³ sign orientation are all
    exact-value checked.  The sf dir is intentionally unused, like the
    media keys, so the pinned oracle holds at every SF the battery runs.
    The ArrayType projection is flattened with posexplode to scalar rows
    (the driver's canonicalizer can't hash lists, r5 red); values are
    emitted as floor(x·1e5 + 0.5) integer micro-units — the repo's
    cross-engine rounding (quantize/qnorm convention), no float literal
    round-trip in the oracle at all.  Per-dim sign orientation by Σval³
    (jitter-robust, ADVICE r6 #4); an exactly-zero Σval³ orients
    positive.  Random-size numpy differentials stay in tests."""
    import os

    from dask_groupby_spark.operators.similarity import embedding_pca, pca_project

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "fixtures", "pca_embeddings.parquet")
    emb = spark.read.parquet(path)
    model = embedding_pca(emb, k=4)
    flat = pca_project(emb, model).select(
        "vec_id", F.posexplode("pca").alias("dim", "val")
    )
    # per-dim sign orientation: one map-combined aggregate over 4 dims
    anchor = flat.groupBy("dim").agg(
        F.when(F.sum(F.pow("val", 3)) < 0, F.lit(-1.0))
        .otherwise(F.lit(1.0))
        .alias("sgn")
    )
    return (
        flat.join(F.broadcast(anchor), "dim")
        .select(
            "vec_id",
            "dim",
            F.floor(F.col("val") * F.col("sgn") * 1e5 + 0.5)
            .cast("bigint")
            .alias("val_u"),
        )
        .orderBy("vec_id", "dim")
    )


def q_lm_score(spark, sf):
    """unigram-LM quality score (mean per-token log-prob, corpus-fit LM) —
    the cheap perplexity proxy for corpus filtering (r5)."""
    from dask_groupby_spark.operators.text import lm_quality_score

    docs = load_table(spark, sf, "documents")
    out = lm_quality_score(docs)
    return out.select(
        "doc_id", "n_tokens", F.round("lm_logprob", 6).alias("lm_logprob")
    ).orderBy("doc_id")


def q_fingerprint(spark, sf):
    docs = document_fingerprint(load_table(spark, sf, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_fingerprints"),
        )
        .orderBy("lang")
    )


def q_ann_topk(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = cosine_topk(emb, queries, k=3)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("cosine", 4).alias("cosine"),
    ).orderBy("query_id", "rank")


def q_ann_lsh(spark, sf):
    """Scale-path ANN: random-hyperplane LSH bucketing + in-bucket exact
    re-scoring (recall < 1 by construction; oracle runs the same algorithm)."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = lsh_bucketed_topk(emb, queries, k=3, dim=64, n_planes=6)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("cosine", 4).alias("cosine"),
    ).orderBy("query_id", "rank")


def q_ann_ivf(spark, sf):
    """IVF ANN: deterministic coarse quantizer (8 cells, seeded from the 8
    lowest-id vectors, inlined as literals → map-side assignment), nprobe=2."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = ivf_topk(emb, queries, k=3, n_cells=8, nprobe=2)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("cosine", 4).alias("cosine"),
    ).orderBy("query_id", "rank")


def q_centroids(spark, sf):
    """per-group mean embedding: shuffle moves (group, dim) partial sums,
    never raw vectors."""
    from dask_groupby_spark.operators.similarity import group_centroids

    emb = load_table(spark, sf, "embeddings").withColumn(
        "g", F.pmod(F.col("vec_id"), F.lit(8))
    )
    out = group_centroids(emb, "g")
    return (
        out.select("g", F.posexplode("centroid").alias("d", "comp"))
        .select(
            "g",
            F.col("d").cast("bigint").alias("d"),
            F.round("comp", 6).alias("comp"),
        )
        .orderBy("g", "d")
    )


def q_emb_neardup(spark, sf):
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact verify."""
    emb = load_table(spark, sf, "embeddings")
    out = embedding_near_duplicates(
        emb, threshold=0.25, id_col="vec_id", vec_col="embedding", dim=64, n_planes=4
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    ).orderBy("id_a", "id_b")


def q_range_join(spark, sf):
    """range join via interval bucketing (hash equi-join on (key, bucket) +
    exact containment filter — no per-key cartesian)."""
    from dask_groupby_spark.operators.joins import range_join

    ev = load_table(spark, sf, "events")
    right = ev.where(F.col("value") > 99).select(
        "event_type",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("s"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("e"),
        F.col("event_id").alias("win_id"),
    )
    left = ev.where(F.col("value") < 2).select("event_type", "event_id", "ts")
    out = range_join(
        left, right, on="ts", start="s", end="e", by=["event_type"],
        bucket_width=3600.0,
    )
    return out.select("event_type", "event_id", F.col("win_id_right").alias("win_id")).orderBy(
        "event_type", "event_id", "win_id"
    )


def q_group_topk(spark, sf):
    """per-group top-k rows (no flox counterpart — SURVEY §2.4 extension)."""
    from dask_groupby_spark.operators.selection import grouped_topk

    ev = load_table(spark, sf, "events")
    out = grouped_topk(ev, "event_type", order_col="value", k=3, tiebreak="event_id")
    return out.select(
        "event_type",
        "event_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("value", 6).alias("value"),
    ).orderBy("event_type", "rank")


def q_sessionize(spark, sf):
    """batch sessionization: session stats per user (gap = 6h)."""
    from dask_groupby_spark.operators.selection import sessionize

    ev = load_table(spark, sf, "events")
    sess = sessionize(ev, "user_id", ts_col="ts", gap=6 * 3600.0)
    return (
        sess.groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_sample_per_group(spark, sf):
    """deterministic per-group sampling (portable hash → oracle-checkable)."""
    from dask_groupby_spark.operators.selection import sample_per_group

    docs = load_table(spark, sf, "documents")
    out = sample_per_group(
        docs, "lang", n=5, id_col="doc_id", seed="mix", hasher="portable"
    )
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


def q_asof_join(spark, sf):
    """as-of join (union+window-carry plan, one shuffle) vs DuckDB's native
    ASOF JOIN: most recent 'view' value at or before each 'purchase'."""
    from dask_groupby_spark.operators.joins import asof_join

    ev = load_table(spark, sf, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(left, right, on="ts", by=["user_id"], right_cols=["value"])
    return out.select(
        "event_id", "user_id", "value_right", "ts_right"
    ).orderBy("event_id")


def q_wmean(spark, sf):
    """weighted mean/sum — fused, one shuffle; pairwise missing rule."""
    from dask_groupby_spark.operators.weighted import groupby_weighted

    # wmean only: the Σwx/Σw division cancels magnitude, so round(…, 6) is
    # reorder-safe; raw wsum (~1e9) is not hash-comparable across engines
    # (sum-order error exceeds any fixed rounding) — covered with tolerance
    # in tests/test_weighted.py instead
    out = groupby_weighted(
        _li(spark, sf), *_KEYS, value="l_extendedprice", weight="v",
        funcs=("wmean",),
    )
    return out.select(*_KEYS, F.round("wmean", 6).alias("wmean"))


def q_top_terms(spark, sf):
    """per-group top-k most frequent tokens (explode → count → topk)."""
    from dask_groupby_spark.operators.weighted import top_terms

    docs = load_table(spark, sf, "documents")
    out = top_terms(docs, "lang", text_col="text", k=3)
    return out.select(
        "lang", "term", "n", F.col("rank").cast("bigint").alias("rank")
    ).orderBy("lang", "rank")


def q_curate(spark, sf):
    """end-to-end curation: quality gate → exact dedup (min id) →
    per-language balanced sample; two shuffles total."""
    from dask_groupby_spark.operators.curate import curate_documents

    docs = load_table(spark, sf, "documents")
    out = curate_documents(
        docs, min_tokens=5, max_punct_ratio=0.2, per_lang=10,
        seed="mix", hasher="portable",
    )
    return out.select("lang", "doc_id", "n_tokens").orderBy("lang", "doc_id")


def q_split(spark, sf):
    """deterministic train/test assignment (map-only, growth-stable)."""
    from dask_groupby_spark.operators.curate import train_test_split

    docs = load_table(spark, sf, "documents")
    out = train_test_split(docs, 0.25, id_col="doc_id", seed="s1", hasher="portable")
    return out.select("doc_id", "split").orderBy("doc_id")


def q_chunk_docs(spark, sf):
    """overlapping token-window document chunking (32-token windows,
    16-token stride) — map-only explode, the context-window preprocessing
    step; pairs with pack_sequences."""
    from dask_groupby_spark.operators.text import chunk_documents

    docs = load_table(spark, sf, "documents")
    out = chunk_documents(
        docs.select("doc_id", "text"), max_tokens=32, overlap=16
    )
    return out.select("doc_id", "chunk_id", "chunk_text", "n_tokens")


def q_mixture(spark, sf):
    """deterministic mixture re-weighting: per-source resampling rates
    (2.5x upsample / 0.5x downsample / 0x drop / 1x passthrough), map-only,
    copies numbered for downstream packing."""
    from dask_groupby_spark.operators.curate import mixture_sample

    docs = load_table(spark, sf, "documents")
    out = mixture_sample(
        docs.select("doc_id", "source"),
        rates={"src0": 2.5, "src1": 0.5, "src2": 0.0},
        strata_col="source",
        id_col="doc_id",
        seed="mix1",
        hasher="portable",
    )
    return out.select("doc_id", "source", "copy_id")


def q_pack(spark, sf):
    """greedy sequential sequence packing: documents of each source packed
    into bins of <=2000 chars in doc_id order (running-total-with-reset —
    the Arrow applyInPandas linear-recurrence tier)."""
    from dask_groupby_spark.operators.curate import pack_sequences

    docs = load_table(spark, sf, "documents").select("doc_id", "source", "n_chars")
    out = pack_sequences(
        docs, "source", size_col="n_chars", order_col="doc_id", capacity=2000
    )
    return out.select("doc_id", "source", "bin_id")


def q_decontaminate(spark, sf):
    """n-gram decontamination: docs sharing an 8-gram with the 'benchmark'
    (here: the 20 lowest-id docs) are dropped; count survivors per lang."""
    from dask_groupby_spark.operators.curate import decontaminate

    docs = load_table(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") < 20).select("text")
    kept = decontaminate(docs.where(F.col("doc_id") >= 20), bench, k=8)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("lang")


def q_wsample(spark, sf):
    """weighted per-group sampling (Efraimidis-Spirakis exponential keys,
    portable hash): 20 docs per lang, inclusion ∝ n_chars."""
    from dask_groupby_spark.operators.selection import sample_per_group

    docs = load_table(spark, sf, "documents")
    out = sample_per_group(
        docs, "lang", n=20, id_col="doc_id", seed="wsamp",
        hasher="portable", weight_col="n_chars",
    )
    return out.select("lang", "doc_id").orderBy("lang", "doc_id")


def q_semdedup(spark, sf):
    """SemDeDup composition (LSH buckets → exact cosine pairs → transitive
    clusters → keep min id): survivors of embedding-space dedup.  Threshold
    sits in the synthetic data's observed cosine range so edges exist."""
    from dask_groupby_spark.operators.similarity import semantic_deduplicate

    emb = load_table(spark, sf, "embeddings")
    kept = semantic_deduplicate(emb, threshold=0.25, dim=64, n_planes=4)
    return kept.select("vec_id", "label").orderBy("vec_id")


def q_ewma(spark, sf):
    """grouped EWMA (pandas ewm parity) — the Arrow applyInPandas tier's
    contract query: a linear recurrence no window aggregate expresses;
    oracle = the closed-form weighted sum in DuckDB."""
    from dask_groupby_spark.udaf import ewma

    ev = _ev(spark, sf)
    out = ewma(ev, "event_type", value="value", idx_col="event_id", alpha=0.3)
    return out.select(
        "event_id", "event_type", F.round("ewma", 6).alias("ewma")
    )


def q_rollup(spark, sf):
    """hierarchical subtotals (ROLLUP): leaf/per-type/grand-total levels in
    one Expand + single shuffle; __grouping_id disambiguates rolled-up
    NULLs from genuine NULL labels."""
    from dask_groupby_spark.reshape import groupby_rollup

    ev = _ev(spark, sf).withColumn("hour", F.hour("ts").cast("int"))
    out = groupby_rollup(ev, "event_type", "hour", func="nansum", value="vnan")
    return out.select(
        "event_type", "hour",
        F.col("__grouping_id").cast("bigint").alias("__grouping_id"),
        F.round("nansum", 4).alias("nansum"),
    )


def q_twa(spark, sf):
    """time-weighted mean (irregular series: value weighted by how long it
    held) — one lead window + one reusing aggregate."""
    from dask_groupby_spark.operators.weighted import time_weighted_mean

    ev = _ev(spark, sf)
    out = time_weighted_mean(ev, "event_type", ts_col="ts", value="value")
    return out.select("event_type", F.round("twa", 6).alias("twa"))


def q_describe(spark, sf):
    """pandas-describe summary in ONE fused aggregate (count/mean/std/min/
    p25/p50/p75/max share a single shuffle + hash table)."""
    from dask_groupby_spark import groupby_describe

    ev = _ev(spark, sf)
    out = groupby_describe(ev, "event_type", value="vnan")
    return out.select(
        "event_type",
        "count",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        F.round("min", 6).alias("min"),
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
        F.round("max", 6).alias("max"),
    )


def q_pivot(spark, sf):
    """wide grouped reduction (pivot): event_type rows × hour-of-day
    columns, nansum — conditional aggregation with a DECLARED column
    domain (no discovery job), single shuffle."""
    from dask_groupby_spark.reshape import groupby_pivot

    ev = _ev(spark, sf).withColumn("hour", F.hour("ts").cast("int"))
    out = groupby_pivot(
        ev, "event_type", "hour", func="nansum", value="vnan",
        col_values=list(range(24)),
    )
    cols = [F.round(F.col(f"hour_{h}"), 4).alias(f"hour_{h}") for h in range(24)]
    return out.select("event_type", *cols)


def q_bloom_decontam(spark, sf):
    """Bloom-summarized decontamination (blocklist broadcast as an m-bit
    filter, never as raw shingles) — at zero-FP sizing the result equals
    exact n-gram decontamination, which is what the oracle computes."""
    from dask_groupby_spark.operators.curate import decontaminate_bloom

    docs = load_table(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") < 20).select("text")
    kept = decontaminate_bloom(docs.where(F.col("doc_id") >= 20), bench, k=8)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept")).orderBy("lang")


def q_multimodal_meta(spark, sf):
    """Multimodal plumbing: fake binary payloads → Arrow-batched mapInPandas
    feature extraction → aggregate.  Oracle-checked (round 2): the
    aggregation reads n_bytes (payload length) and the declared meta_*
    columns, all of which the Pandas UDF must carry through the Arrow batch
    faithfully and DuckDB can recompute from the documents table."""
    docs = load_table(spark, sf, "documents")
    media = attach_fake_media(docs)
    feats = extract_image_features(media)
    return feats.groupBy("meta_format").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("meta_width"), 6).alias("avg_w"),
        F.max("meta_height").alias("max_h"),
    )


def q_media_phash(spark, sf):
    """Multimodal pixel/FFT contract key (r6, VERDICT r5 item #6): REAL
    PNG pixel decode → DCT pHash and REAL WAV sample decode → spectral
    fingerprint, over the committed deterministic fixture table
    (tests/fixtures/media.parquet — stdlib-built PNGs + PCM WAVs,
    scripts/make_media_fixture.py).  The oracle inlines the pinned
    expected (media_id, kind, phash) rows as SQL VALUES — generated
    once by the same script, so the key catches any behavior drift in
    the decode/DCT/FFT tier AND proves the Arrow mapInPandas plumbing
    returns byte-identical hashes under distribution.  The sf dir is
    intentionally unused: the fixture is the table under test."""
    import os

    from dask_groupby_spark.operators.multimodal import (
        audio_fingerprint,
        image_phash,
    )

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "fixtures", "media.parquet")
    media = spark.read.parquet(path)
    img = image_phash(
        media.where(F.col("kind") == "image"), id_col="media_id"
    ).select("id", F.lit("image").alias("kind"), "phash")
    aud = audio_fingerprint(
        media.where(F.col("kind") == "audio"), id_col="media_id"
    ).select("id", F.lit("audio").alias("kind"), "phash")
    return (
        img.unionByName(aud)
        .select(F.col("id").alias("media_id"), "kind", "phash")
        .orderBy("media_id")
    )


def q_media_video(spark, sf):
    """Video-tier contract key (r7): the keyframe fingerprint table —
    `sample_video_frames` 1→N mapInPandas fan-out (stub byte-slice
    decode until an ffmpeg kernel lands; this container ships no video
    libs) → per-frame pHash over the committed deterministic fixture
    (tests/fixtures/media_video.parquet, seeded byte payloads,
    scripts/make_video_fixture.py).  The oracle inlines the pinned
    (media_id, frame_idx, phash) rows as SQL VALUES from
    media_video_expected.py, so the key catches any drift in the
    fan-out shape, the frame slicing, or the byte-stub hash tier, AND
    proves the Arrow 1→N plumbing is byte-stable under distribution.
    The sf dir is intentionally unused: the fixture is the table under
    test."""
    import os

    from dask_groupby_spark.operators.multimodal import video_phash

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "fixtures", "media_video.parquet")
    media = spark.read.parquet(path)
    return (
        video_phash(media, every_nth=16, max_frames=8, id_col="media_id")
        .select(F.col("id").alias("media_id"), "frame_idx", "phash")
        .orderBy("media_id", "frame_idx")
    )


def q_audio_neardup(spark, sf):
    """Audio near-duplicate pairs end-to-end (r8, VERDICT r7 item #7):
    REAL WAV sample decode → windowed-FFT spectral fingerprint
    (audio_fingerprint) → banded hamming buckets → pair enumeration →
    hamming filter (phash_near_duplicates, max_hamming=4, bands=4) over
    the committed media fixture's audio clips.  The oracle pins the
    expected (id_a, id_b, hamming) triples computed from the
    media_expected.py fingerprints — clip 13 is clip 11 gain-scaled and
    clip 14 is clip 11 with extra tail, so (11,13,2), (11,14,2) and
    (13,14,4) are the true near-dups; all three share a 16-bit band, so
    the banding's pigeonhole recall finds them deterministically.  The
    sf dir is intentionally unused: the fixture is the table under
    test."""
    import os

    from dask_groupby_spark.operators.multimodal import (
        audio_fingerprint,
        phash_near_duplicates,
    )

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "fixtures", "media.parquet")
    media = spark.read.parquet(path).where(F.col("kind") == "audio")
    fp = audio_fingerprint(media, id_col="media_id")
    return (
        phash_near_duplicates(fp, max_hamming=4, bands=4)
        .orderBy("id_a", "id_b")
    )


#: fixed query-term set for the bm25 contract key (synthetic-vocabulary
#: terms + one absent term exercising the zero-df path)
_BM25_TERMS = ["hash", "spark", "the", "window", "zzzmissing"]


def q_bm25(spark, sf):
    """Okapi BM25 document scoring (operators/text.py bm25_scores, r7):
    every document ranked against a fixed query-term set — the lexical
    retrieval ranker of data-selection pipelines.  Fully SQL-expressible
    (tokenize → literal-filtered tf → df → the Lucene-smoothed IDF
    formula), so the oracle recomputes exact values; both sides round
    the term-sum to 6dp (sum order over the ≤5 query terms differs
    between engines).  Scale: the corpus token stream is filtered
    map-side to query-term hits BEFORE any shuffle; doc length rides
    the groupBy keys; df re-enters by broadcast."""
    from dask_groupby_spark.operators import bm25_scores

    docs = load_table(spark, sf, "documents")
    out = bm25_scores(docs, _BM25_TERMS)
    return out.select(
        "doc_id", "dl", F.round("bm25", 6).alias("bm25")
    ).orderBy("doc_id")


def q_leak_split(spark, sf):
    """Leakage-safe train/test split (operators/curate.py
    leakage_safe_split, r7): near-dup clusters are atomic — LSH pairs →
    min-label connected components → every member hashes on the CLUSTER
    label, singletons on their own id, through train_test_split's exact
    seeded-portable-hash rule.  The oracle recomposes the dup_clusters
    recursive-CTE closure + the split oracle's md5 threshold on
    coalesce(cluster_id, doc_id) — exact values, including the invariant
    the operator exists for: no cluster straddles the split."""
    from dask_groupby_spark.operators.curate import leakage_safe_split

    docs = load_table(spark, sf, "documents")
    sig = minhash_signatures(
        docs, "doc_id", "text", num_hashes=4, shingle_k=3, hasher="portable"
    )
    pairs = lsh_candidate_pairs(sig, num_hashes=4, bands=4, hasher="portable")
    out = leakage_safe_split(
        docs, pairs, 0.25, hasher="portable", seed="s1"
    )
    return out.select("doc_id", "cluster_id", "split").orderBy("doc_id")


def q_interp_time(spark, sf):
    """Per-group linear time interpolation of missing values
    (core.py groupby_interpolate, r7): vnull gaps fill along the line
    between the nearest valid neighbors with epoch-micros/1e6 as the
    x-axis (irregular sampling interpolates by TIME); one-sided gaps
    stay NULL.  The oracle mirrors the two window carries + row-local
    lerp term-for-term (epoch_us/1e6 = unix_micros/1e6, identical
    IEEE op order); NaN values count as missing on both sides."""
    from dask_groupby_spark import groupby_interpolate

    ev = _ev(spark, sf)
    out = groupby_interpolate(
        ev, "event_type", value="vnull", order_by=["ts", "event_id"],
        out="interp",
    )
    return out.select(
        "event_id", "event_type", F.round("interp", 6).alias("interp")
    ).orderBy("event_id")


def q_salted_join(spark, sf):
    """Skew-salted equi-join (r5): lineitem⋈orders through the salting
    rewrite must be row-identical to the plain SQL join — the oracle IS
    the plain join, so the key proves salt-replication changes the
    shuffle shape and nothing else.  Exercises the partial (hot_keys)
    path, the form that survives fact⋈fact at scale: only declared hot
    keys split, everything else keeps salt 0."""
    from dask_groupby_spark.operators.joins import salted_join

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    joined = salted_join(li, orders, on="l_orderkey", salt=8, hot_keys=[1, 2, 3])
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # l_quantity values are dyadic (.0/.5) so their sum is exact;
            # o_totalprice sums reach ~3e10 where cross-engine summation
            # order exceeds any fixed rounding (the q_wmean rule) — exact
            # integer cents instead (r9 entry-layer review)
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "price_cents"
            ),
        )
        .orderBy("o_orderpriority")
    )


#: fixed heavy-hitter candidates for the cms_heavy contract key (terms from
#: the synthetic vocabulary + one absent term exercising the zero path)
_CMS_TERMS = ["hash", "spark", "table", "the", "value", "window", "zzzmissing"]


def q_cms_heavy(spark, sf):
    """Count-min sketch frequency estimates (r5): corpus terms → bounded
    (d, bucket, cnt) counter table → CM estimates for a fixed candidate
    list.  Portable hasher, so DuckDB reproduces the identical buckets and
    min-over-depths arithmetic."""
    from dask_groupby_spark.operators.sketches import cms_estimate, cms_sketch_table
    from dask_groupby_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    tk = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    sk = cms_sketch_table(tk, "term", width=256, depth=4, hasher="portable")
    q = spark.createDataFrame([(t,) for t in _CMS_TERMS], "term string")
    return cms_estimate(
        sk, q, "term", width=256, depth=4, hasher="portable"
    ).orderBy("term")


def q_vocab(spark, sf):
    """Frequency-ranked corpus vocabulary (r5): distributed top-k cut +
    deterministic (cnt DESC, term ASC) id assignment."""
    from dask_groupby_spark.operators.vocab import build_vocab

    docs = load_table(spark, sf, "documents")
    return build_vocab(docs, max_size=25).orderBy("term_id")


def q_encode_ids(spark, sf):
    """Token-id encoding, flat form (r5): posexplode + broadcast vocab
    join, OOV → -1 — the map-only trainer-feed path."""
    from dask_groupby_spark.operators.vocab import build_vocab, encode_tokens_flat

    docs = load_table(spark, sf, "documents")
    vocab = build_vocab(docs, max_size=16)
    flat = encode_tokens_flat(docs, vocab)
    return flat.select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "token_id"
    ).orderBy("doc_id", "pos")


def q_clf_score(spark, sf):
    """Hashing-trick linear classifier scores (r5): fastText-style
    sigmoid(mean(w[h(token) % dim])) with hash-derived pseudo-weights —
    zero-shuffle model scoring, bucket arithmetic mirrored in DuckDB."""
    from dask_groupby_spark.operators.text import hash_classifier_score

    docs = load_table(spark, sf, "documents")
    out = hash_classifier_score(docs, dim=64, hasher="portable")
    return out.select(
        "doc_id", "n_tokens", F.round("clf_score", 6).alias("clf_score")
    ).orderBy("doc_id")


def q_pii_redact(spark, sf):
    """PII redaction (r5): deterministic synthetic email + IPv4 injected
    per doc (both engines), then the regex scrub — counts on the original
    text, sentinel replacements in dict order."""
    from dask_groupby_spark.operators.curate import redact_pii

    docs = load_table(spark, sf, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@mail"),
            F.pmod(F.col("doc_id"), F.lit(7)),
            F.lit(".com from 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)),
            F.lit("."),
            F.pmod(F.col("doc_id"), F.lit(100)),
        ).alias("text"),
    )
    out = redact_pii(salted)
    return out.select(
        "doc_id", "email_n", "ipv4_n", "phone_n", "text"
    ).orderBy("doc_id")


def q_stream_cms(spark, sf):
    """Streaming heavy hitters (late r5): the documents corpus replayed as
    two mtime-ordered file batches through stream_cms_update; the merged
    batch_id-partitioned sketch table answers the SAME frequency estimates
    as the one-shot batch sketch (counters are linear), so the oracle is
    the identical min-over-depths SQL as cms_heavy."""
    import glob
    import os
    import shutil
    import tempfile

    from dask_groupby_spark.operators.sketches import cms_estimate
    from dask_groupby_spark.operators.text import tokens

    docs = load_table(spark, sf, "documents")
    tk = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # deterministic staging dir, cleared on entry (see q_stream_late note)
    import shutil

    base = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_cms_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    stage = os.path.join(base, "in")
    os.makedirs(stage)
    half = [tk.where(F.col("doc_id") % 2 == i).select("term") for i in (0, 1)]
    for i, b in enumerate(half, 1):
        d = os.path.join(base, f"b{i}")
        b.coalesce(1).write.mode("overwrite").parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(stage, f"batch{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1700000000 + i * 100,) * 2)

    from dask_groupby_spark.streaming import stream_cms_update

    stream = (
        spark.readStream.schema("term string")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    skpath = os.path.join(base, "sk")
    q = stream_cms_update(
        stream, "term", skpath, os.path.join(base, "ckpt"),
        width=256, depth=4, hasher="portable",
    )
    # untimed, like every other streaming key: a timed wait that expires
    # on a loaded host would read a partial sketch and fail with a value
    # mismatch instead of a clear hang
    q.awaitTermination()
    merged = spark.read.parquet(skpath)
    qdf = spark.createDataFrame([(t,) for t in _CMS_TERMS], "term string")
    return cms_estimate(
        merged, qdf, "term", width=256, depth=4, hasher="portable"
    ).orderBy("term")


def q_hist_quantile(spark, sf):
    """Mergeable histogram-sketch quantiles (late r5): declared-domain
    fixed-bin counters per event_type, inverted CDF read off the
    cumulative histogram, bin-midpoint estimates — deterministic pure
    arithmetic, mirrored exactly in DuckDB."""
    from dask_groupby_spark.operators.sketches import hist_quantile, hist_sketch_table

    ev = load_table(spark, sf, "events")
    sk = hist_sketch_table(
        ev, "value", lo=0.0, hi=500.0, by=["event_type"], bins=100
    )
    out = hist_quantile(
        sk, [0.5, 0.9, 0.99], lo=0.0, hi=500.0, by=["event_type"], bins=100
    )
    return out.select(
        "event_type",
        F.round("p0_5", 6).alias("p0_5"),
        F.round("p0_9", 6).alias("p0_9"),
        F.round("p0_99", 6).alias("p0_99"),
    ).orderBy("event_type")


def q_seg_dedup(spark, sf):
    """Intra-document repeated-segment removal (late r5): two copies of
    each doc's 40-char prefix injected as extra newline segments in BOTH
    engines; the second copy must vanish (first occurrence wins), and for
    docs shorter than 40 chars the prefix equals the whole text, so both
    injected copies vanish — exercises both branches."""
    from dask_groupby_spark.operators.text import remove_repeated_segments

    docs = load_table(spark, sf, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.substring(F.col("text"), 1, 40),
            F.lit("\n"),
            F.substring(F.col("text"), 1, 40),
        ).alias("text"),
    )
    out = remove_repeated_segments(salted, count_cols=True)
    return out.select(
        "doc_id", "seg_n_before", "seg_n_after", "text"
    ).orderBy("doc_id")


def q_quantize(spark, sf):
    """int8 embedding quantization (late r5): per-vector symmetric codes
    flattened to (vec_id, i, q) plus the scale — explicit floor(+0.5)
    rounding makes the codes bit-identical cross-engine."""
    from dask_groupby_spark.operators.similarity import quantize_embeddings

    emb = load_table(spark, sf, "embeddings")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round("q_scale", 6).alias("q_scale"),
        F.posexplode("q_vec").alias("i", "qv"),
    ).select(
        "vec_id",
        F.col("i").cast("bigint").alias("i"),
        F.col("qv").cast("int").alias("qv"),
        "q_scale",
    ).orderBy("vec_id", "i")


def q_skew_stats(spark, sf):
    """Hot-key diagnostic (late r5): top-10 l_suppkey counts with total
    and cumulative fractions — the pre-pass that feeds
    salted_join(hot_keys=...)."""
    from dask_groupby_spark.operators.selection import key_skew_stats

    li = load_table(spark, sf, "lineitem")
    out = key_skew_stats(li, "l_suppkey", top=10)
    return out.select(
        "l_suppkey",
        "n",
        F.round("frac", 9).alias("frac"),
        F.round("cum_frac", 9).alias("cum_frac"),
    ).orderBy("l_suppkey")


def q_ngram_counts(spark, sf):
    """Corpus bigram count table (late r5): map-side n-gram generation,
    one map-combined shuffle — the KenLM-style count-LM raw material."""
    from dask_groupby_spark.operators.text import ngram_counts

    docs = load_table(spark, sf, "documents")
    return ngram_counts(docs, n=2, min_count=2).orderBy("ngram")


def q_profile(spark, sf):
    """One-pass table profile (late r5): per-column nonnull/distinct/min/
    max over the integer and string lineitem columns in ONE fused
    aggregate (exact distincts for oracle parity; float/timestamp columns
    excluded from the key because engine-native string rendering of
    doubles is not contract-stable)."""
    from dask_groupby_spark.operators.profile import table_profile

    li = load_table(spark, sf, "lineitem")
    out = table_profile(
        li,
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_returnflag", "l_linestatus",
        ],
        exact_distinct=True,
    )
    return out.orderBy("column")


def q_bivar(spark, sf):
    """Grouped bivariate statistics (operators/stats.py
    grouped_bivariate): pairwise n / Pearson corr / covariances / OLS fit
    of extendedprice on the NaN-contaminated quantity, per return flag —
    seven sufficient-statistic aggregates fused into ONE map-combined
    aggregate (single Exchange).  The NaN rows exercise pairwise
    deletion; rounding granularities sit ≥3 decades above the
    engine-noise floor of each statistic's magnitude."""
    from dask_groupby_spark.operators import grouped_bivariate

    out = grouped_bivariate(_li(spark, sf), "l_returnflag", "v", "l_extendedprice")
    return out.select(
        "l_returnflag",
        "n",
        F.round("corr", 6).alias("corr"),
        F.round("covar_samp", 2).alias("covar_samp"),
        F.round("covar_pop", 2).alias("covar_pop"),
        F.round("slope", 4).alias("slope"),
        F.round("intercept", 2).alias("intercept"),
        F.round("r2", 8).alias("r2"),
    )


def q_spearman(spark, sf):
    """Grouped Spearman rank correlation (operators/stats.py
    grouped_spearman): average-tie fractional ranks from rank() + a
    per-(group,value) count — both windows and the final corr share ONE
    Exchange on the group key."""
    from dask_groupby_spark.operators import grouped_spearman

    out = grouped_spearman(_li(spark, sf), "l_returnflag", "v", "l_extendedprice")
    return out.select(
        "l_returnflag", "n", F.round("spearman", 6).alias("spearman")
    )


def q_psi(spark, sf):
    """Population Stability Index (operators/stats.py
    population_stability): drift of events.value between the first and
    second half of the January timeline over fixed breaks — each
    snapshot collapses to ≤6 bin rows via one map-combined count, so
    everything after the two scans is bounded."""
    from dask_groupby_spark.operators import population_stability

    ev = load_table(spark, sf, "events")
    ref = ev.where(F.dayofmonth("ts") <= 15)
    cur = ev.where(F.dayofmonth("ts") > 15)
    out = population_stability(ref, cur, "value", [10.0, 20.0, 35.0, 60.0, 100.0])
    return out.select(
        "bin",
        F.round("ref_frac", 6).alias("ref_frac"),
        F.round("cur_frac", 6).alias("cur_frac"),
        F.round("psi_term", 6).alias("psi_term"),
    )


def q_para_dedup(spark, sf):
    """Cross-document paragraph dedup with reconstruction
    (operators/dedup.py dedup_paragraphs): a shared boilerplate line and
    each doc's own 40-char prefix are injected as extra paragraphs in
    BOTH engines; globally, the boilerplate must survive only in the
    smallest doc_id and each prefix only where it is first — one
    fingerprint window + one reassembly groupBy, rank-1 decision (no
    pairwise blow-up on the 5000-way hot paragraph)."""
    from dask_groupby_spark.operators import dedup_paragraphs

    docs = load_table(spark, sf, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.lit("NAVBAR HOME ABOUT CONTACT"),
            F.lit("\n"),
            F.col("text"),
            F.lit("\n"),
            F.substring("text", 1, 40),
        ).alias("text"),
    )
    out = dedup_paragraphs(salted, count_cols=True)
    return out.select(
        "doc_id",
        "seg_n_before",
        "seg_n_after",
        F.md5("text").alias("text_md5"),
    )


def q_bloom_join(spark, sf):
    """Bloom-prefiltered exact semi join (operators/joins.py
    bloom_semi_join): lineitem rows whose order is a high-value order —
    the key-side bitmap broadcasts (the big side NEVER shuffles during
    the prefilter), then the exact semi join removes the ~0.01% false
    positives, so the result equals a plain SEMI JOIN bit-for-bit.
    Aggregated to cents (exact integer sums) for the contract."""
    from dask_groupby_spark.operators import bloom_semi_join

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_totalprice") > 150000
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    hits = bloom_semi_join(li, orders, "l_orderkey", num_bits=1 << 18)
    return hits.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "sum_cents"
        ),
    )


def q_zorder(spark, sf):
    """Z-order clustering key (plans.py zorder_key): 8-bit Morton
    interleave of (l_quantity, l_tax), aggregated per high-byte curve
    cell with an exact integer key sum — every row's full bit interleave
    must match DuckDB's mirrored expression (min/max scaling constants
    are engine-computed but identical: min/max involve no summation, and
    the scaling arithmetic is the same IEEE op sequence)."""
    from dask_groupby_spark.plans import zorder_key

    li = load_table(spark, sf, "lineitem")
    z = li.select(zorder_key(li, ["l_quantity", "l_tax"], bits=8).alias("zkey"))
    return z.groupBy(F.shiftright("zkey", 8).alias("cell")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("zkey").alias("zsum")
    )


def q_ttest(spark, sf):
    """Grouped Welch t-test (operators/stats.py grouped_ttest): per
    event_type mean shift between the first and second half of the
    events month — two map-combined (n, mean, var) aggregates joined on
    group-level rows, t and Welch–Satterthwaite df from the sufficient
    statistics."""
    from dask_groupby_spark.operators import grouped_ttest

    ev = load_table(spark, sf, "events")
    ref = ev.where(F.dayofmonth("ts") <= 15)
    cur = ev.where(F.dayofmonth("ts") > 15)
    out = grouped_ttest(ref, cur, "event_type", "value")
    return out.select(
        "event_type",
        "n_ref",
        "n_cur",
        F.round("mean_ref", 6).alias("mean_ref"),
        F.round("mean_cur", 6).alias("mean_cur"),
        F.round("t_stat", 6).alias("t_stat"),
        F.round("df", 4).alias("df"),
    )


def q_validate(spark, sf):
    """Declarative quality gate (operators/validate.py check_rules):
    four row-level rules over lineitem counted in ONE fused aggregate
    over ONE scan (NULL predicate = violation, the conservative
    reading)."""
    from dask_groupby_spark.operators import check_rules

    li = load_table(spark, sf, "lineitem")
    out = check_rules(
        li,
        {
            "qty_positive": F.col("l_quantity") > 0,
            "price_nonneg": F.col("l_extendedprice") >= 0,
            "flag_enum": F.col("l_returnflag").isin("A", "N", "R"),
            "discount_range": (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
        },
    )
    return out.select(
        "rule",
        "n_rows",
        "n_violations",
        F.round("violation_frac", 6).alias("violation_frac"),
    )


def q_chisq(spark, sf):
    """Grouped chi-squared homogeneity (operators/stats.py
    grouped_chisq): did each user cohort's event-type mix move between
    the two month halves?  One union + one map-combined (group,
    category) count shuffle; expectations and the per-group fold run on
    cohort×category rows."""
    from dask_groupby_spark.operators import grouped_chisq

    ev = load_table(spark, sf, "events").withColumn(
        "cohort", F.pmod(F.col("user_id"), F.lit(5))
    )
    ref = ev.where(F.dayofmonth("ts") <= 15)
    cur = ev.where(F.dayofmonth("ts") > 15)
    out = grouped_chisq(ref, cur, "cohort", "event_type")
    return out.select(
        "cohort",
        "n_ref",
        "n_cur",
        "n_cats",
        F.round("chisq", 6).alias("chisq"),
        "dof",
    )


def q_ks(spark, sf):
    """Grouped two-sample Kolmogorov–Smirnov (operators/stats.py
    grouped_ks): bin-free drift of events.value between the month
    halves per event_type — tie-exact via RANGE-frame cumulative
    counts, one Exchange."""
    from dask_groupby_spark.operators import grouped_ks

    ev = load_table(spark, sf, "events")
    ref = ev.where(F.dayofmonth("ts") <= 15)
    cur = ev.where(F.dayofmonth("ts") > 15)
    out = grouped_ks(ref, cur, "event_type", "value")
    return out.select(
        "event_type", "n_ref", "n_cur", F.round("ks_stat", 6).alias("ks_stat")
    )


def q_mad(spark, sf):
    """Grouped Median Absolute Deviation (operators/stats.py
    grouped_mad): robust dispersion of extendedprice per return flag —
    exact median, then median of absolute deviations (DuckDB's built-in
    mad() is the oracle)."""
    from dask_groupby_spark.operators import grouped_mad

    li = load_table(spark, sf, "lineitem")
    out = grouped_mad(li, "l_returnflag", "l_extendedprice")
    return out.select(
        "l_returnflag",
        "n",
        F.round("median", 6).alias("median"),
        F.round("mad", 6).alias("mad"),
    )


def q_overlap_join(spark, sf):
    """Interval-overlap join (operators/joins.py interval_overlap_join):
    click-sessions [ts, ts+30m] x view-sessions [ts, ts+45m] per user —
    grid-bucket equi-join with the overlap-start anchor rule (each pair
    from exactly one bucket, no dedup pass), aggregated to per-user pair
    counts with an exact integer id checksum."""
    from dask_groupby_spark.operators import interval_overlap_join

    ev = load_table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("lid"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("rid"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("e"),
    )
    pairs = interval_overlap_join(
        clicks, views, "s", "e", "s", "e", by=["user_id"], bucket_width=3600.0
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("lid") + F.col("rid")).alias("pair_sum"),
    )


def q_psi_hist(spark, sf):
    """Incremental PSI from mergeable histogram tables
    (operators/sketches.py psi_from_histograms over hist_sketch_table):
    same month-half drift as `psi` but via the persisted-sketch path —
    each half collapses to ≤8 declared-domain counter rows first, so the
    diff never rescans raw data."""
    from dask_groupby_spark.operators import hist_sketch_table, psi_from_histograms

    ev = load_table(spark, sf, "events")
    ref = ev.where(F.dayofmonth("ts") <= 15)
    cur = ev.where(F.dayofmonth("ts") > 15)
    hr = hist_sketch_table(ref, "value", 0.0, 200.0, bins=8)
    hc = hist_sketch_table(cur, "value", 0.0, 200.0, bins=8)
    out = psi_from_histograms(hr, hc)
    return out.select(
        "bin",
        F.round("ref_frac", 6).alias("ref_frac"),
        F.round("cur_frac", 6).alias("cur_frac"),
        F.round("psi_term", 6).alias("psi_term"),
    )


def q_pagerank(spark, sf):
    """PageRank authority scores (operators/graph.py pagerank) over a
    deterministic user→item graph derived from events (user_id →
    event_id mod 997).  VALUE-CHECKED since r6 (VERDICT r5 item #4):
    the 5-iteration power iteration is unrolled as 5 chained CTEs in
    the DuckDB oracle, including exact dangling-mass redistribution.
    Ordering/limit use the ROUNDED rank (then id) so last-ulp
    sum-order differences between engines cannot reorder the top-100
    cut; r8 coarsened the compare to round-5 (VERDICT r7 #5 — round-6
    left a residual boundary-flake risk at larger SFs); the numpy
    differential stays in tests/test_graph.py."""
    from dask_groupby_spark.operators import pagerank

    ev = load_table(spark, sf, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        F.pmod(F.col("event_id"), F.lit(997)).alias("dst"),
    )
    pr = pagerank(edges, iters=5)
    r = F.round("rank", 5).alias("rank")
    return (
        pr.select(F.col("id").cast("bigint").alias("id"), r)
        .orderBy(F.col("rank").desc(), "id")
        .limit(100)
    )


def q_auc(spark, sf):
    """Per-group ROC AUC via the Mann–Whitney rank-sum identity
    (operators/stats.py grouped_auc): does extendedprice 'predict'
    return-flag A within each linestatus — average-tie ranks, one
    Exchange shared by the window and both aggregates."""
    from dask_groupby_spark.operators import grouped_auc

    li = load_table(spark, sf, "lineitem").withColumn(
        "is_a", (F.col("l_returnflag") == "A").cast("int")
    )
    out = grouped_auc(li, "l_linestatus", "is_a", "l_extendedprice")
    return out.select(
        "l_linestatus", "n_pos", "n_neg", F.round("auc", 6).alias("auc")
    )


def q_calibration(spark, sf):
    """Reliability-diagram bins (operators/stats.py calibration_bins):
    events.value scaled to [0,1] as the 'score', label = high-value
    event — per-bin n / mean_score / pos_rate in one map-combined
    aggregate."""
    from dask_groupby_spark.operators import calibration_bins

    ev = load_table(spark, sf, "events").select(
        "event_type",
        (F.col("value") / 200.0).alias("score"),
        (F.col("value") > 40).cast("int").alias("label"),
    )
    out = calibration_bins(ev, "event_type", "label", "score", bins=8)
    return out.select(
        "event_type",
        "bin",
        "n",
        F.round("mean_score", 6).alias("mean_score"),
        F.round("pos_rate", 6).alias("pos_rate"),
    )


def q_table_diff(spark, sf):
    """Snapshot diff (operators/validate.py table_diff): events vs a
    deterministically edited copy — 10% of keys removed, every 7th
    value bumped, early-day rows re-keyed as additions; classification
    happens in ONE tag-union-groupBy shuffle with null-safe comparison."""
    from dask_groupby_spark.operators import table_diff

    ev = load_table(spark, sf, "events")
    old = ev.select(F.col("event_id").alias("k"), "event_type", "value")
    new = (
        ev.where(F.pmod("event_id", F.lit(10)) != 0)
        .select(
            F.col("event_id").alias("k"),
            "event_type",
            F.when(F.pmod("event_id", F.lit(7)) == 0, F.col("value") + 1)
            .otherwise(F.col("value"))
            .alias("value"),
        )
        .unionByName(
            ev.where(F.dayofmonth("ts") <= 2).select(
                (F.col("event_id") + 10_000_000).alias("k"), "event_type", "value"
            )
        )
    )
    return table_diff(old, new, "k")


def q_qnorm(spark, sf):
    """Quantile normalization (operators/stats.py quantile_normalize):
    extendedprice per return flag mapped onto the pooled distribution —
    exact-percentile grid (1001 points, bounded collect), one rank
    window, literal-array interpolation.  Aggregated to per-group
    explicit-floor cent sums (the cross-engine rounding used by
    quantize)."""
    from dask_groupby_spark.operators import quantile_normalize

    li = load_table(spark, sf, "lineitem").select("l_returnflag", "l_extendedprice")
    out = quantile_normalize(li, "l_returnflag", "l_extendedprice")
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("l_extendedprice_qnorm") * 100 + 0.5).cast("bigint")
        ).alias("sum_cents"),
    )


def q_outliers(spark, sf):
    """Robust outlier flagging (operators/stats.py flag_outliers):
    modified z-score |0.6745·(x−med)/MAD| > 2 per event_type, counted
    per group (k=2 so the synthetic uniform-ish values actually flag
    some rows)."""
    from dask_groupby_spark.operators import flag_outliers

    ev = load_table(spark, sf, "events").select("event_type", "value")
    out = flag_outliers(ev, "event_type", "value", k=2.0)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value_outlier").cast("bigint")).alias("n_flagged"),
    )


def q_sql_entry(spark, sf):
    """Pure-SQL entry point (sources.register_views + spark.sql): the
    engine's second front door — the same ANSI text runs on Spark and
    on the DuckDB oracle verbatim, demonstrating that a user can drive
    this engine entirely through SQL (the reference has no SQL surface
    at all; Catalyst gives us one for free).  Exact integer cents keep
    the sums engine-stable."""
    from dask_groupby_spark.sources import register_views

    register_views(spark, sf, names=("lineitem", "orders"))
    return spark.sql(_SQL_ENTRY)


_SQL_ENTRY = """
SELECT l.l_returnflag,
       o.o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(l.l_quantity) AS min_qty,
       max(l.l_quantity) AS max_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 50000
GROUP BY l.l_returnflag, o.o_orderpriority
"""


# --------------------------------------------------------------------------
# driver API


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fused TPC-H-Q1-style multi-reduction through groupby_agg
    (one shuffle, shared hash table — ref fused pass core.py:1068-1076)."""
    _prep(spark)
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    li = li.withColumn("idx", F.col("l_orderkey") * 8 + F.col("l_linenumber"))
    return groupby_agg(
        li,
        "l_returnflag",
        "l_linestatus",
        funcs=[
            ("count", "l_quantity", "count_qty"),
            ("nansum", "l_quantity", "sum_qty"),
            ("nansum", "l_extendedprice", "sum_price"),
            ("nanmean", "l_quantity", "avg_qty"),
            ("nanmean", "l_discount", "avg_disc"),
            ("nanmin", "l_extendedprice", "min_price"),
            ("nanmax", "l_extendedprice", "max_price"),
            ("nanvar", "l_quantity", "var_qty", {"ddof": 1}),
        ],
    )


def q_funnel(spark, sf):
    """Strict-order conversion funnel view→click→purchase over events
    (operators/funnel.py funnel_conversion, r8 first registration —
    beyond-reference event-pipeline op): per step, the number of users
    that reached it, each step's event STRICTLY after the user's
    previous-step time.  Executed as chained min-after-t aggregates
    joined on user_id — the event_type filter prunes each stage's
    shuffle at the scan; no per-entity window carries the firehose.
    conversion = n_k / n_1 is a bigint/bigint double division, bitwise
    identical across engines — no rounding needed.  Oracle: the same
    chain as ANSI CTEs."""
    from dask_groupby_spark.operators.funnel import funnel_conversion

    ev = load_table(spark, sf, "events")
    out = funnel_conversion(
        ev,
        ["view", "click", "purchase"],
        entity_col="user_id",
        type_col="event_type",
        ts_col="ts",
    )
    return out.select("step_idx", "step", "n_entities", "conversion").orderBy("step_idx")


def q_kmv_distinct(spark, sf):
    """KMV (k-minimum-values) distinct sketch (operators/sketches.py
    kmv_distinct, r8 first registration): per-event_type distinct-user
    estimate with k=65536 — larger than any group's distinct count at
    the contract SFs, so the sketch retains every distinct hash and the
    estimate is EXACT by construction (the documented exactness regime;
    the <k tests cover the estimating regime).  Oracle: plain
    COUNT(DISTINCT) cast to the estimator's double."""
    from dask_groupby_spark.operators import kmv_distinct

    ev = load_table(spark, sf, "events")
    out = kmv_distinct(ev, "event_type", value="user_id", k=1 << 16,
                       out="distinct_users")
    return out.orderBy("event_type")


def q_kmv_overlap(spark, sf):
    """KMV set algebra (operators/sketches.py kmv_overlap, r8 first
    registration): estimated union / intersection / Jaccard of the USER
    SETS behind every unordered pair of event types, from k=65536
    sketches (exact regime at contract SFs — union fits the sketch).
    jaccard = |I|/|U| is an int/int double division, bitwise identical
    across engines.  Oracle: inclusion-exclusion over COUNT(DISTINCT)
    joins."""
    from dask_groupby_spark.operators import kmv_overlap, kmv_sketch_table

    ev = load_table(spark, sf, "events")
    sk = kmv_sketch_table(ev, "event_type", value="user_id", k=1 << 16)
    out = kmv_overlap(sk, group_col="event_type", k=1 << 16)
    return out.select(
        F.col("group_a").alias("type_a"),
        F.col("group_b").alias("type_b"),
        "union_est", "inter_est", "jaccard",
    ).orderBy("type_a", "type_b")


def q_linreg(spark, sf):
    """Multi-feature exact OLS (operators/linear.py linreg_fit, r8 first
    registration): l_extendedprice ~ l_quantity + l_discount + bias over
    lineitem — ONE fused normal-equation aggregate (XᵀX, Xᵀy sufficient
    statistics, map-side combined), d×d driver solve.  Oracle: the same
    3×3 system solved in closed form via Cramer's rule in SQL.  Weights
    rounded to 3 decimals on both sides (weights are O(10³); float-sum
    order and solve-path differences sit at ~1e-7 — the pagerank
    round-coarsening precedent)."""
    from dask_groupby_spark.operators import linreg_fit

    li = load_table(spark, sf, "lineitem")
    model = linreg_fit(
        li, features=["l_quantity", "l_discount"], label="l_extendedprice"
    )
    rows = [(name, round(w, 3)) for name, w in model]
    return spark.createDataFrame(rows, "feature string, weight double").orderBy(
        "feature"
    )


def q_logreg_quality(spark, sf):
    """Distributed full-batch GD logistic regression (operators/linear.py
    logreg_train, r8 first registration): train an is-English quality
    classifier on two deterministic text features (scaled n_chars,
    scaled arithmetic token count) for 5 steps at lr=0.5 — one fused
    gradient aggregate per step with the weights literal-inlined, d+1
    doubles to the driver per iteration (the pagerank cost shape).
    Oracle: the SAME 5 GD steps unrolled as chained one-row CTEs in
    DuckDB, identical feature arithmetic; weights round-6 (weights are
    O(1), cross-engine float-sum drift ~1e-13)."""
    from dask_groupby_spark.operators import logreg_train

    docs = load_table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
        & F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
    )
    feat = docs.select(
        (F.col("n_chars").cast("double") / F.lit(100.0) - F.lit(3.0)).alias("f1"),
        (
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + F.lit(1.0)
            )
            / F.lit(50.0)
            - F.lit(1.0)
        ).alias("f2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    model = logreg_train(feat, features=["f1", "f2"], label="y", iters=5, lr=0.5)
    rows = [(name, round(w, 6)) for name, w in model]
    return spark.createDataFrame(rows, "feature string, weight double").orderBy(
        "feature"
    )


def q_grouped_linreg(spark, sf):
    """Per-group exact OLS (operators/linear.py grouped_linreg, r8 first
    registration): one price ~ quantity + discount model per
    l_returnflag — sufficient statistics via ONE map-combined groupBy
    aggregate, then vectorized numpy solves over the one-row-per-group
    STATS table (mapInPandas — a million segments would run the same
    plan, nothing collects).  Oracle: the same per-group 3×3 normal
    equations via Cramer's rule under GROUP BY; weights round-3 (the
    linreg precedent)."""
    from dask_groupby_spark.operators import grouped_linreg

    li = load_table(spark, sf, "lineitem")
    out = grouped_linreg(
        li, "l_returnflag", features=["l_quantity", "l_discount"],
        label="l_extendedprice",
    )
    return out.select(
        "l_returnflag", "feature", F.round("weight", 3).alias("weight"), "n"
    ).orderBy("l_returnflag", "feature")


def q_retention(spark, sf):
    """Weekly cohort retention over events (operators/funnel.py
    retention, r8 first registration): entities cohorted by the
    epoch-aligned week of their first event; per (cohort, offset) the
    active count and the retained fraction.  Period buckets are
    floor((micros/1e6)/604800) — the identical double arithmetic on
    both engines; retention = bigint/bigint double division.  Oracle:
    the same distinct-activity → min-cohort → offset-count CTEs."""
    from dask_groupby_spark.operators import retention

    ev = load_table(spark, sf, "events")
    out = retention(ev, entity_col="user_id", ts_col="ts", period="week",
                    horizon=12)
    return out.orderBy("cohort", "offset")


def q_grouped_logreg(spark, sf):
    """Per-group GD logistic regression (operators/linear.py
    grouped_logreg, r8 first registration): one is-English classifier
    PER SOURCE over documents — the model is a TABLE (|groups|·d
    doubles) broadcast onto the data each step; one fused groupBy
    gradient aggregate trains every group's model simultaneously.  Same
    features/steps as logreg_quality.  Oracle: the 5 GD steps unrolled
    as chained per-group CTEs (GROUP BY + joins on the group key),
    round-6."""
    from dask_groupby_spark.operators import grouped_logreg

    docs = load_table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
        & F.col("n_chars").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    feat = docs.select(
        F.col("source"),
        (F.col("n_chars").cast("double") / F.lit(100.0) - F.lit(3.0)).alias("f1"),
        (
            (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + F.lit(1.0)
            )
            / F.lit(50.0)
            - F.lit(1.0)
        ).alias("f2"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )
    out = grouped_logreg(
        feat, "source", features=["f1", "f2"], label="y", iters=5, lr=0.5
    )
    return out.select(
        "source", "feature", F.round("weight", 6).alias("weight"), "n"
    ).orderBy("source", "feature")


def q_target_encode(spark, sf):
    """Leave-one-out smoothed target encoding (operators/linear.py
    target_encode, r8 first registration): l_partkey (2000 categories)
    encoded against l_quantity with m=20 — (Σy − y_i + m·prior)/(n−1+m),
    one map-combined groupBy + broadcast join back, prior a single
    scalar collect.  l_quantity is integer-valued, so every sum/division
    is bit-identical across engines — no rounding.  Oracle: the same
    arithmetic as SQL with the identical association order."""
    from dask_groupby_spark.operators import target_encode

    li = _li(spark, sf)
    out = target_encode(li, "l_partkey", label="l_quantity", smoothing=20.0)
    return out.select("idx", "l_partkey", "te").orderBy("idx")


def q_funnel_window(spark, sf):
    """The funnel's Mixpanel-style conversion window, value-checked
    (operators/funnel.py funnel(within=86400), r8 first registration):
    one-day window from funnel entry cuts sf0.01 conversions from
    150/150/150 to 150/60/14 — the window provably bites.  The oracle
    mirrors the boundary-inclusive double-seconds comparison
    (epoch_us/1e6 arithmetic, identical on both engines)."""
    from dask_groupby_spark.operators.funnel import funnel_conversion

    ev = load_table(spark, sf, "events")
    out = funnel_conversion(
        ev,
        ["view", "click", "purchase"],
        entity_col="user_id",
        type_col="event_type",
        ts_col="ts",
        within=86400.0,
    )
    return out.select("step_idx", "step", "n_entities", "conversion").orderBy("step_idx")


def q_funnel_timing(spark, sf):
    """Time-to-convert statistics (operators/funnel.py funnel_timing, r8
    first registration): per funnel transition the survivor count, mean
    and exact median of t_k − t_{k−1} seconds.  Gap values are exact
    micros/1e6 doubles on both engines; the mean is a float sum (order-
    dependent) so both sides round-6; the median interpolates two exact
    doubles identically."""
    from dask_groupby_spark.operators import funnel_timing

    ev = load_table(spark, sf, "events")
    out = funnel_timing(
        ev,
        ["view", "click", "purchase"],
        entity_col="user_id",
        type_col="event_type",
        ts_col="ts",
    )
    return out.select(
        "step_idx", "step", "n",
        F.round("mean_gap_s", 6).alias("mean_gap_s"),
        F.round("median_gap_s", 6).alias("median_gap_s"),
    ).orderBy("step_idx")


def q_ann_recall(spark, sf):
    """Retrieval-quality evaluation (operators/similarity.py ann_recall,
    r8 first registration): ivf_topk (8 cells, nprobe=2 — the ann_ivf
    key's exact configuration) scored against cosine_topk ground truth —
    per query recall@3 and the reciprocal rank of the true nearest
    neighbor.  recall = hit/3 and rr = 1/rank are exact rationals.
    Oracle: the ann_topk and ann_ivf CTE bodies composed into one
    statement plus the same join algebra."""
    from dask_groupby_spark.operators import ann_recall, cosine_topk
    from dask_groupby_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=3)
    approx = ivf_topk(emb, queries, k=3, n_cells=8, nprobe=2)
    return ann_recall(approx, exact).orderBy("query_id")


def q_qcut(spark, sf):
    """Global equal-frequency binning (binning.py quantile_bins, r8
    first registration — pd.qcut parity): decile bins of
    l_extendedprice.  Edges come from the distributed exact-rank grid
    (`_pooled_exact_grid`, proven bitwise-equal to DuckDB quantile_cont
    by the qnorm key), binning is a map-side fold against literals.
    Oracle: quantile_cont interior edges + list_filter count."""
    li = _li(spark, sf)
    out = quantile_bins(li, "l_extendedprice", q=10, out="qbin")
    return out.select("idx", "qbin").orderBy("idx")


def q_qcut_grouped(spark, sf):
    """Per-group equal-frequency binning (binning.py quantile_bins
    by=l_returnflag, r8 first registration): per-flag deciles.  The
    per-group edges are interpolated IN-ENGINE with DuckDB's own
    lo·(1−d)+hi·d lerp over anchor ranks, so the oracle mirrors every
    arithmetic step bit-for-bit — no rounding anywhere."""
    li = _li(spark, sf)
    out = quantile_bins(li, "l_extendedprice", q=10, by="l_returnflag", out="qbin")
    return out.select("idx", "l_returnflag", "qbin").orderBy("idx")


def q_dsir(spark, sf):
    """DSIR importance weights (operators/text.py dsir_log_weights, r8
    first registration — Xie et al. 2023): every document scored by the
    log-likelihood ratio of its hashed-bigram profile under the TARGET
    (the English documents) vs the raw corpus, add-1 smoothed, dim=1024
    buckets, portable hasher so DuckDB rebuilds both profiles
    bit-for-bit.  Fold order and libm log differ at the last ulp →
    round-6 both sides (the repo's float-sum convention)."""
    from dask_groupby_spark.operators import dsir_log_weights

    docs = load_table(spark, sf, "documents")
    target = docs.filter(F.col("lang") == "en")
    out = dsir_log_weights(
        docs, target, n=2, dim=1024, alpha=1.0, hasher="portable"
    )
    return out.select(
        "doc_id", F.round("dsir_logw", 6).alias("dsir_logw")
    ).orderBy("doc_id")


def q_k_anonymity(spark, sf):
    """k-anonymity privacy audit (operators/validate.py k_anonymity, r8
    first registration): is any (mktsegment, nationkey) quasi-identifier
    combination shared by fewer than k=25 customers?  One map-combined
    count shuffle + a tiny rollup.  Oracle: the same GROUP BY rollup."""
    from dask_groupby_spark.operators import k_anonymity

    cust = load_table(spark, sf, "customer")
    return k_anonymity(cust, ["c_mktsegment", "c_nationkey"], k=25)


def q_ngram_containment(spark, sf):
    """Broder containment pairs (dedup.py ngram_jaccard_pairs
    metric='containment', r8 first registration): |A∩B|/min(|A|,|B|) —
    the sub-document duplicate detector Jaccard misses.  Same shingle
    pipeline, cap, and oracle shape as ngram_jaccard with the
    containment denominator."""
    docs = load_table(spark, sf, "documents")
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=2, threshold=0.5,
        max_shingle_df=256, metric="containment",
    )
    return out.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment")
    ).orderBy("id_a", "id_b")


def q_qcut_two_pass(spark, sf):
    """quantile_bins method='two_pass' (r8): the grouped tier's window
    replaced by the chunked two-pass rank — rows_per_chunk=2000 forces
    multi-chunk groups at every contract SF; bins must equal the window
    tier's to the last bit, so the oracle is qcut_grouped's text."""
    li = _li(spark, sf)
    out = quantile_bins(
        li, "l_extendedprice", q=10, by="l_returnflag", out="qbin",
        method="two_pass", rows_per_chunk=2000,
    )
    return out.select("idx", "l_returnflag", "qbin").orderBy("idx")


def q_fuzzy_match(spark, sf):
    """Edit-distance record linkage (dedup.py edit_distance_pairs, r8
    first registration; config MIGRATED r11 — VERDICT r10 item #3):
    customer-name pairs within Levenshtein 2, found by char-3-gram
    blocking under the new DENSITY-ROBUST default stop-gram cap
    ``max(256, ceil(0.05·|records|))`` — this key now pins the library
    DEFAULT (no cap args), so the contract gate checks exactly what a
    default caller gets.  At sf0.01/sf0.1 the floor binds (cap=256,
    bit-identical to the r8-r10 rows); at sf1 density the relative term
    takes over and the result is non-degenerate where the old absolute
    default silently returned 0 of ~10M true pairs (the r10 sf1-battery
    finding).  Verified with the built-in banded DP distance.  Oracle:
    identical blocking arithmetic + DuckDB levenshtein."""
    from dask_groupby_spark.operators import edit_distance_pairs

    cust = load_table(spark, sf, "customer")
    out = edit_distance_pairs(cust, "c_custkey", "c_name", max_dist=2, gram_k=3)
    return out.orderBy("id_a", "id_b")


def q_fuzzy_scaled(spark, sf):
    """Density-relative fuzzy matching (r10): the fix for the absolute
    df-cap's silent sf1 emptiness — the stop-gram cap scales with the
    corpus (``rel_gram_df=0.05`` → cap = ceil(0.05·|records|)), so the
    blocking stays meaningful at ANY density (sf0.01: 6.6k pairs; sf1:
    3.2M pairs where the absolute default found 0).  Runs the PPJoin
    prefix tier (provably lossless vs full blocking for qualifying
    pairs — Xiao et al., WWW'08 prefix-filter theorem, asserted against
    brute force in tests), which the oracle mirrors with the SIMPLER
    full-blocking SQL: identical output by the theorem, so the oracle
    also end-to-end-checks the prefix filter itself."""
    from dask_groupby_spark.operators import edit_distance_pairs

    cust = load_table(spark, sf, "customer")
    out = edit_distance_pairs(
        cust, "c_custkey", "c_name", max_dist=1, gram_k=3,
        max_gram_df=None, rel_gram_df=0.05, prefix_blocking=True,
    )
    return out.orderBy("id_a", "id_b")


def q_fuzzy_coverage(spark, sf):
    """Blocking-coverage audit (dedup.py gram_blocking_stats, r10): the
    one-row diagnostic, pinned to the ABSOLUTE df<=256 cap (the
    pre-r11 library default) — records with zero SURVIVING grams cannot
    appear in any candidate pair, which is how an absolute cap silently
    returns an empty result on dense corpora (observed at sf1: every
    customer-name gram exceeded df 256 and that default found 0 of ~10M
    true pairs — the finding that drove r11's density-robust default,
    which fuzzy_match now pins).  This key deliberately keeps the
    absolute config: it is the audit PROVING that failure mode as data.
    Oracle: the identical distinct-gram / df-cap arithmetic in SQL."""
    from dask_groupby_spark.operators import gram_blocking_stats

    cust = load_table(spark, sf, "customer")
    return gram_blocking_stats(
        cust, "c_custkey", "c_name", gram_k=3, max_gram_df=256
    )


def q_lsh_coverage(spark, sf):
    """Bucket-occupancy audit for the embedding-LSH family (similarity.py
    lsh_bucket_stats, r12 — VERDICT r11 #2): the embedding analog of
    fuzzy_coverage's gram_blocking_stats.  At FIXED n_planes, bucket
    occupancy grows linearly with the corpus and members past
    max_bucket_size are scored against the anchor set only (SCALE.md) —
    the same silent-recall-cap shape as the r10 fuzzy-cap cliff, made
    visible as data (truncated_member_frac / scored_pair_frac) plus an
    integer-exact recommended_n_planes.  Pinned to cap 16 so the
    anchor-star truncation arithmetic is EXERCISED at sf0.01 (max bucket
    45 > 16), not just zeros.  Oracle: identical bucket assignment
    (shared md5 planes, left-to-right sign fold) and identical pair/cap
    arithmetic in SQL."""
    from dask_groupby_spark.operators import lsh_bucket_stats

    emb = load_table(spark, sf, "embeddings")
    return lsh_bucket_stats(
        emb, vec_col="embedding", dim=64, n_planes=4,
        max_bucket_size=16, target_occupancy=16,
    )


def q_json_extract(spark, sf):
    """Schema-on-read JSON payload extraction (sources.
    extract_json_fields, r8 first registration): pull the typed $.k
    field out of events.props (the until-now-unused semi-structured
    column) and aggregate it per event_type — map-side path extraction,
    then one map-combined shuffle.  Oracle: DuckDB json_extract with the
    identical path and cast; integer sums are exact."""
    from dask_groupby_spark.sources import extract_json_fields

    ev = load_table(spark, sf, "events")
    out = extract_json_fields(ev, "props", {"pk": ("$.k", "bigint")})
    return (
        out.groupBy("event_type")
        .agg(
            F.count("pk").alias("n"),
            F.sum("pk").alias("sum_k"),
            F.min("pk").alias("min_k"),
            F.max("pk").alias("max_k"),
        )
        .orderBy("event_type")
    )


# NOTE on ordering: the round driver verifies the FIRST 50 entries of this
# dict (insertion order) against the DuckDB oracle.  r7 ROTATION (VERDICT r6
# item 1, executed for real this time — the r6 edit was a comment-only no-op):
# the window is (a) the 26 late-r5 keys that have NEVER had a driver row
# (stream_cms..sql_entry — the whole stats/drift/eval family plus the audit
# and storage keys; pagerank now carries its r6 value-checked CTE oracle,
# qnorm its r6 distributed exact-rank grid, para_dedup its r7-fixed
# empty-segment-aware oracle), (b) the FIVE first-registration r7 keys —
# media_phash + media_video (pixel/FFT + video multimodal tiers, pinned
# VALUES oracles), bm25, leak_split, interp_time (exact SQL oracles),
# (c) pca_embed to re-confirm the r6-cleaned rows-only row, and (d) the 18
# keys holding the OLDEST official rows (r2-r3 era:
# approx_quantile..dedup_exact, rank..wsample) for a freshness re-check.
# 26+5+1+18 = exactly 50.  After this round EVERY registered key has at
# least one official driver row.  DISPLACED below the marker: rollup,
# ewma_scan, text_stats, langid (official r3 rows stand — each pushed out
# by one of the late-r7 key insertions) and all keys holding fresh green
# r4-r6 rows (the r5/r6 window, the r1-era re-checks, the 30
# count..nunique reductions, streaming, joins — positions don't affect
# registration; scripts/check_driver_contract.py runs the full set).
#
# R8 ROTATION GUIDANCE (for the next round, AFTER CORRECTNESS_r07.json
# confirms the r7 window went green): every key then has an official
# row, so the r8 first-50 should become a pure FRESHNESS window — the 50
# keys whose latest official row is oldest (start from the r3-era rows
# displaced this round: rollup, ewma_scan, text_stats, langid, then the
# r4 block).  Keep any key that r7's driver run flagged red at the FRONT
# instead, fixed first.
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- r7 window: the 26 keys with no driver row in r1-r6 ---
    "stream_cms": q_stream_cms,
    "seg_dedup": q_seg_dedup,
    "quantize": q_quantize,
    "skew_stats": q_skew_stats,
    "ngram_counts": q_ngram_counts,
    "profile": q_profile,
    "bivar": q_bivar,
    "spearman": q_spearman,
    "psi": q_psi,
    "para_dedup": q_para_dedup,
    "bloom_join": q_bloom_join,
    "zorder": q_zorder,
    "ttest": q_ttest,
    "validate": q_validate,
    "chisq": q_chisq,
    "ks": q_ks,
    "mad": q_mad,
    "overlap_join": q_overlap_join,
    "psi_hist": q_psi_hist,
    "pagerank": q_pagerank,
    "auc": q_auc,
    "calibration": q_calibration,
    "table_diff": q_table_diff,
    "qnorm": q_qnorm,
    "outliers": q_outliers,
    "sql_entry": q_sql_entry,
    # --- r7 window: first registrations (pixel/FFT + video multimodal tiers;
    # media_video pushes langid — freshest of the r3-era refresh block — just
    # past the marker, where its official r3 row stands) ---
    "media_phash": q_media_phash,
    "media_video": q_media_video,
    # --- r7 window: new operator this round (BM25 retrieval scoring;
    # pushes text_stats below the marker next to langid — both hold
    # official r3 rows) ---
    "bm25": q_bm25,
    # --- r7 window: leakage-safe split (cluster-atomic; displaces
    # ewma_scan below the marker — official r3 row stands) ---
    "leak_split": q_leak_split,
    # --- r7 window: per-group linear time interpolation (displaces
    # rollup below the marker — official r3 row stands) ---
    "interp_time": q_interp_time,
    # --- r7 window: re-confirm the r6-cleaned rows-only row
    # (r8: promoted to VALUE-CHECKED via the committed-fixture pinned
    # oracle — see q_pca_embed) ---
    "pca_embed": q_pca_embed,
    # --- r8 first registrations ---
    "funnel": q_funnel,
    "funnel_window": q_funnel_window,
    "funnel_timing": q_funnel_timing,
    "ann_recall": q_ann_recall,
    "retention": q_retention,
    "kmv_distinct": q_kmv_distinct,
    "kmv_overlap": q_kmv_overlap,
    "linreg": q_linreg,
    "grouped_linreg": q_grouped_linreg,
    "logreg_quality": q_logreg_quality,
    "grouped_logreg": q_grouped_logreg,
    "target_encode": q_target_encode,
    "qcut": q_qcut,
    "qcut_grouped": q_qcut_grouped,
    "dsir": q_dsir,
    "k_anonymity": q_k_anonymity,
    "ngram_containment": q_ngram_containment,
    "qcut_two_pass": q_qcut_two_pass,
    "fuzzy_match": q_fuzzy_match,
    "fuzzy_scaled": q_fuzzy_scaled,
    "fuzzy_coverage": q_fuzzy_coverage,
    "lsh_coverage": q_lsh_coverage,
    "json_extract": q_json_extract,
    "rank_two_pass": q_rank_two_pass,
    "keep_by_dedup": q_keep_by_dedup,
    "audio_neardup": q_audio_neardup,
    "scan_two_pass": q_scan_two_pass,
    "scan_two_pass_ffill": q_scan_two_pass_ffill,
    # --- r7 window: oldest official rows (r2-r3 era) re-checked ---
    "approx_quantile": q_approx_quantile,
    "dup_spans": q_dup_spans,
    "span_dedup": q_span_dedup,
    "xdim_reduce": q_xdim_reduce,
    "accessor_climatology": q_accessor_climatology,
    "stream_dedup": q_stream_dedup,
    "stream_cumsum": q_stream_cumsum,
    "entropy": q_entropy,
    "resample_dense_keys": q_resample_dense_keys,
    "multimodal_meta": q_multimodal_meta,
    "simhash": q_simhash,
    "dedup_exact": q_dedup_exact,
    "rank": q_rank,
    "wquantile": q_wquantile,
    "corr": q_corr,
    "bloom_decontam": q_bloom_decontam,
    "describe": q_describe,
    "wsample": q_wsample,
    # ----------------------------------------------------------------- 50
    # --- displaced: fresh green r3-r6 rows ---
    "rollup": q_rollup,
    "ewma_scan": q_ewma,
    "text_stats": q_text_stats,
    "langid": q_langid,
    "salted_join": q_salted_join,
    "cms_heavy": q_cms_heavy,
    "hist_quantile": q_hist_quantile,
    "vocab": q_vocab,
    "encode_ids": q_encode_ids,
    "clf_score": q_clf_score,
    "pii_redact": q_pii_redact,
    "lm_score": q_lm_score,
    "bpe_tokens": q_bpe_tokens,
    "mh_index_probe": q_mh_index_probe,
    "gopher": q_gopher,
    "stream_late": q_stream_late,
    "chunk_docs": q_chunk_docs,
    "calendar_mean": q_calendar_mean,
    "lsh_pairs": q_lsh_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "semdedup": q_semdedup,
    "emb_neardup": q_emb_neardup,
    "dup_clusters": q_dup_clusters,
    "minhash": q_minhash,
    "pivot": q_pivot,
    "mode": q_mode,
    "nanmode": q_nanmode,
    "bins_right": q_bins_right,
    "bins_left": q_bins_left,
    "reindex_fill": q_reindex_fill,
    "grid_fill": q_grid_fill,
    "min_count": q_min_count,
    "dayofyear": q_dayofyear,
    "month_hour": q_month_hour,
    "resample_5d": q_resample_5d,
    "first_ts": q_first_ts,
    "complex_nanmean": q_complex_nanmean,
    "complex_nanvar": q_complex_nanvar,
    "complex_argmax": q_complex_argmax,
    "complex_nanmedian": q_complex_nanmedian,
    "scan_nancumsum": q_scan_nancumsum,
    "scan_cumsum": q_scan_cumsum,
    "scan_ffill": q_scan_ffill,
    "scan_bfill": q_scan_bfill,
    "scan_cummax": q_scan_cummax,
    "scan_nancummin": q_scan_nancummin,
    "scan_cummin": q_scan_cummin,
    "scan_nancummax": q_scan_nancummax,
    "scan_cumcount": q_scan_cumcount,
    "scan_shift": q_scan_shift,
    "scan_cumprod": q_scan_cumprod,
    "scan_nancumprod": q_scan_nancumprod,
    "scan_diff": q_scan_diff,
    "wquantile_sketch": q_wquantile_sketch,
    "xdim_bins": q_xdim_bins,
    "xdim_dataset": q_xdim_dataset,
    "stream_agg": q_stream_agg,
    "stream_enrich": q_stream_enrich,
    "fill_stat": q_fill_stat,
    "winsorize": q_winsorize,
    "stream_join": q_stream_join,
    "mixture": q_mixture,
    "pack": q_pack,
    "twa": q_twa,
    "stream_sliding": q_stream_sliding,
    "range_join": q_range_join,
    "sessionize": q_sessionize,
    "mean_ts": q_mean_ts,
    "resample_time": q_resample_time,
    "stream_window": q_stream_window,
    "stream_session": q_stream_session,
    "count": q_count,
    "sum": q_sum,
    "nansum": q_nansum,
    "prod": q_prod,
    "nanprod": q_nanprod,
    "mean": q_mean,
    "nanmean": q_nanmean,
    "var": q_var,
    "nanvar": q_nanvar,
    "std": q_std,
    "nanstd": q_nanstd,
    "min": q_min,
    "max": q_max,
    "nanmin": q_nanmin,
    "nanmax": q_nanmax,
    "argmax": q_argmax,
    "argmin": q_argmin,
    "nanargmax": q_nanargmax,
    "nanargmin": q_nanargmin,
    "first": q_first,
    "last": q_last,
    "nanfirst": q_nanfirst,
    "nanlast": q_nanlast,
    "any": q_any,
    "all": q_all,
    "median": q_median,
    "nanmedian": q_nanmedian,
    "quantile": q_quantile,
    "nanquantile_vec": q_nanquantile_vec,
    "nunique": q_nunique,
    "fingerprint": q_fingerprint,
    "tfidf": q_tfidf,
    "repetition": q_repetition,
    "ann_topk": q_ann_topk,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "centroids": q_centroids,
    "asof_join": q_asof_join,
    "group_topk": q_group_topk,
    "sample_per_group": q_sample_per_group,
    "wmean": q_wmean,
    "curate": q_curate,
    "split": q_split,
    "decontaminate": q_decontaminate,
    "top_terms": q_top_terms,
    "rolling": q_rolling,
    "rolling_frac": q_rolling_frac,
}


# R12 WINDOW (CORRECTNESS_r11 was 50/50 green so there are no red keys
# to front-load): the r12-new lsh_coverage key first (no official row
# yet — new keys outrank freshness), then the 45 keys whose latest
# official row is r8 (the stalest block), then the alphabetical head of
# the r9-row block (4 keys — the new key displaced calendar_mean to R13).
_R12_WINDOW = [
    # r12-NEW key: the embedding-LSH occupancy audit (VERDICT r11 #2)
    "lsh_coverage",
    # latest official row = r8 (45 keys)
    "argmax", "argmin", "asof_join", "audio_neardup", "centroids",
    "count", "curate", "decontaminate", "ewma_scan", "fill_stat",
    "fingerprint", "first", "group_topk", "keep_by_dedup", "langid",
    "last", "max", "mean", "mean_ts", "median", "min", "mixture",
    "nanargmax", "nanargmin", "nanfirst", "nanlast", "nanmax",
    "nanmean", "nanmedian", "nanmin", "nanprod", "pca_embed",
    "rank_two_pass", "repetition", "rolling", "rollup",
    "sample_per_group", "scan_two_pass", "scan_two_pass_ffill",
    "split", "sql_entry", "text_stats", "tfidf", "top_terms", "wmean",
    # balance: the r9-row block's alphabetical head (4 keys — the new
    # key displaced calendar_mean to R13)
    "ann_recall", "bins_left", "bins_right", "bpe_tokens",
]
assert len(_R12_WINDOW) == 50 and len(set(_R12_WINDOW)) == 50
# R13 WINDOW PLAN (pre-written, rotation discipline): assuming
# CORRECTNESS_r12.json comes back green, the exact list is — any red
# r12 keys first (displacing from the tail), then any r12/r13-new keys
# (new keys outrank freshness), then:
#
# _R13_WINDOW = [
#     # latest official row = r9 (the 46 keys left after R12 took the
#     # alphabetical head; fuzzy_match sits here with its migrated
#     # density-relative config, r11)
#     "calendar_mean", "chunk_docs", "dsir", "funnel", "funnel_timing",
#     "funnel_window", "fuzzy_match", "grouped_linreg",
#     "grouped_logreg", "json_extract", "k_anonymity", "kmv_distinct",
#     "kmv_overlap", "linreg", "logreg_quality", "nanquantile_vec",
#     "nanstd", "nansum", "nanvar", "ngram_containment", "nunique",
#     "pack", "prod", "qcut", "qcut_grouped", "qcut_two_pass",
#     "quantile", "range_join", "resample_time", "retention",
#     "sessionize", "std", "stream_agg", "stream_enrich",
#     "stream_join", "stream_session", "stream_sliding",
#     "stream_window", "sum", "target_encode", "twa", "var",
#     "winsorize", "wquantile_sketch", "xdim_bins", "xdim_dataset",
#     # balance: the r10-row block's alphabetical head (4 keys)
#     "accessor_climatology", "approx_quantile", "auc", "bivar",
# ]
#
# The remaining r10-row keys (bloom_decontam, bloom_join, …) are the
# natural R14 window, same ordering.
_QUERIES = {k: _QUERIES[k] for k in _R12_WINDOW} | {
    k: v for k, v in _QUERIES.items() if k not in set(_R12_WINDOW)
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark, sf_dir):
            _prep(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from oracle_queries import ORACLE_SQL

    return dict(ORACLE_SQL)
