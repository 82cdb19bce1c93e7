"""dtype promotion, result-type, and fill-value rules.

Mirrors the semantics of the reference's ``flox/xrdtypes.py:153-209``
(``_normalize_dtype`` / ``_get_fill_value``) and ``xrdtypes.py:175-185``
(``_maybe_promote_int``) re-expressed for Spark SQL types:

- sum/prod of small ints promote to BIGINT (platform int in numpy).
- mean/var/std force floating point but *preserve float32*
  (Spark's ``avg(float)`` returns double → we cast back).
- min/max/first/last/mode preserve the input dtype.
- count and arg-reductions are BIGINT (``np.intp``).
- The missing-value sentinel ("dtype NA") is float NaN for float columns,
  NULL for everything else; filling an integral result with NA promotes it
  to DOUBLE (ref: flox/core.py:707-711 promotion-on-fill).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql import types as T

NAN = float("nan")

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT = (T.FloatType, T.DoubleType)


def is_float(dt: T.DataType) -> bool:
    return isinstance(dt, _FLOAT)


def is_integral(dt: T.DataType) -> bool:
    return isinstance(dt, _INTEGRAL)


def is_bool(dt: T.DataType) -> bool:
    return isinstance(dt, T.BooleanType)


def is_timestamp(dt: T.DataType) -> bool:
    return isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType))


def is_string(dt: T.DataType) -> bool:
    return isinstance(dt, T.StringType)


def normalize_time(df, *cols):
    """Cast any TIMESTAMP_NTZ columns to TIMESTAMP.

    Parquet writes a naive ``timestamp[us]`` column as TIMESTAMP_NTZ in
    Spark 4, a type that cannot cast to DOUBLE, feed ``unix_micros`` or carry
    an event-time watermark.  The session timezone is pinned to UTC
    (session.py), so the NTZ→TIMESTAMP cast is instant-preserving and keeps
    DuckDB-oracle parity exact (DuckDB reads the same column as naive
    TIMESTAMP).  Columns of any other type pass through untouched.
    """
    for c in cols:
        if c in df.columns and isinstance(df.schema[c].dataType, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def time_expr_to_seconds(c: F.Column, dt: T.DataType) -> F.Column:
    """Expression-level form of :func:`time_to_seconds` for when the input
    is not a top-level column (e.g. a struct field) — caller supplies the
    DataType."""
    if isinstance(dt, T.TimestampNTZType):
        c = c.cast("timestamp")  # session tz pinned UTC → same instant
        dt = T.TimestampType()
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(c) / F.lit(1_000_000.0)
    if isinstance(dt, T.DateType):
        return F.unix_date(c).cast("double") * F.lit(86400.0)
    return c.cast("double")


def time_to_seconds(df, col: str) -> F.Column:
    """Epoch-seconds DOUBLE view of a time-like column, robust to every
    encoding the driver data has shipped (TIMESTAMP, TIMESTAMP_NTZ, DATE,
    plain numeric epoch seconds).

    Uses ``unix_micros`` rather than ``cast("double")`` on timestamps: the
    cast is not even defined for TIMESTAMP_NTZ in Spark 4, and the
    int64-micros view divided by 1e6 is exact (epoch micros ≈ 1.7e15 < 2^53).
    """
    return time_expr_to_seconds(F.col(col), df.schema[col].dataType)


def sum_result_type(dt: T.DataType) -> T.DataType:
    """sum/prod promotion (ref: xrdtypes.py:175-185): ints+bool → BIGINT,
    float32 stays float32, float64 stays float64."""
    if isinstance(dt, T.FloatType):
        return T.FloatType()
    if isinstance(dt, T.DoubleType):
        return T.DoubleType()
    if isinstance(dt, T.DecimalType):
        return dt
    return T.LongType()


def float_result_type(dt: T.DataType) -> T.DataType:
    """mean/var/std/median/quantile: force floating, preserve float32
    (ref: xrdtypes.py:158-165)."""
    if isinstance(dt, T.FloatType):
        return T.FloatType()
    return T.DoubleType()


def preserve_result_type(dt: T.DataType) -> T.DataType:
    """min/max/first/last/mode preserve input dtype
    (ref: aggregations.py:391-408,496-511 preserves_dtype)."""
    return dt


def na_lit(dt: T.DataType) -> F.Column:
    """The dtype-NA literal: NaN for floats, NULL otherwise
    (ref: xrdtypes.py:188-209 ``_get_fill_value`` with dtypes.NA)."""
    if is_float(dt):
        return F.lit(NAN).cast(dt)
    return F.lit(None).cast(dt)


def fill_lit(fill_value, dt: T.DataType) -> F.Column:
    """A user fill value as a literal of the result dtype, or dtype-NA."""
    if fill_value is None:
        return na_lit(dt)
    if isinstance(fill_value, float) and math.isnan(fill_value):
        # NaN fill on a non-float result promotes to double (ref: core.py:707-711)
        return F.lit(NAN).cast(T.DoubleType() if not is_float(dt) else dt)
    return F.lit(fill_value).cast(dt)


def _missing(c: F.Column, dt: T.DataType) -> F.Column:
    """The missing-value test: NULL, or NaN for float/double ``dt``.  NaN
    and NULL are both missing; ``~_missing`` is the valid-row test."""
    if is_float(dt):
        return c.isNull() | F.isnan(c)
    return c.isNull()


def _labels_present(df, keys) -> F.Column:
    """The missing-label filter: every key of ``keys`` is present.  A row
    whose group label is missing belongs to no group and is left out of
    the result (ref: flox core.py:846-849, label code -1)."""
    cond = F.lit(True)
    for k in keys:
        cond = cond & ~_missing(F.col(k), df.schema[k].dataType)
    return cond


def _nan_round_trip(df, cols, prefix: str, run):
    """Carry NaN across an Arrow/pandas UDF.  The boundary renders a float
    NaN as pandas' missing sentinel and hands it back as SQL NULL, so each
    float/double column of ``cols`` travels with a boolean ``isnan`` marker
    named ``{prefix}{i}`` and gets its NaN back afterwards.

    ``run(src, marks)`` applies the UDF to ``src`` (``df`` plus the
    markers); its output schema must carry every marker of ``marks``
    ({column: marker}) as a boolean column.  IsNaN is false on NULL, so
    NULL stays NULL."""
    dts = {c: df.schema[c].dataType for c in cols}
    marks = {c: f"{prefix}{i}" for i, c in enumerate(c for c in cols if is_float(dts[c]))}
    if not marks:
        return run(df, marks)
    out = run(df.withColumns({m: F.isnan(F.col(c)) for c, m in marks.items()}), marks)
    for c, m in marks.items():
        out = out.withColumn(c, F.when(F.col(m), F.lit(NAN)).otherwise(F.col(c)).cast(dts[c]))
    return out.drop(*marks.values())


def needs_na_promotion(fill_value, dt: T.DataType) -> bool:
    """True when filling this dtype with ``fill_value`` (or dtype-NA) cannot be
    represented → result must be promoted to DOUBLE (ref: core.py:707-711)."""
    if is_float(dt) or is_string(dt) or is_timestamp(dt):
        return False
    if is_bool(dt):
        # dtype-NA is a NULL boolean (representable), but an explicit
        # NaN/fractional float fill cannot live in a boolean column —
        # without promotion fill_lit emits a DOUBLE literal into a boolean
        # CASE branch and the plan fails analysis (r9 review); flox
        # promotes bool-filled-with-NaN likewise
        return isinstance(fill_value, float) and (
            math.isnan(fill_value) or not float(fill_value).is_integer()
        )
    if fill_value is None:
        return True  # NA into integral → NaN → double
    if isinstance(fill_value, float):
        return math.isnan(fill_value) or not float(fill_value).is_integer()
    return False
