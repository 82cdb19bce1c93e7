"""Structured Streaming front-end: the same aggregation registry applied to
unbounded data.

The reference is batch-only (SURVEY.md §2.4: no watermarks/sessionization/
state) — this module is part of our Spark-native surface extension:

- :func:`windowed_reduce` — tumbling/sliding event-time windows + watermark
  over any registry reduction (the streaming analog of ``groupby_reduce``
  with a time-binned grouper).
- :func:`streaming_cumsum` / :func:`streaming_ffill` — custom *stateful*
  grouped scans via ``applyInPandasWithState``: per-key running totals /
  last-valid-value that survive across micro-batches (the streaming analogs
  of ``groupby_scan('nancumsum')`` / ``groupby_scan('ffill')``).

Scale notes: windowed aggregation state is partitioned by (window, keys) and
pruned by the watermark; the stateful scan keeps O(1) state per key.

Known boundary (r10 audit): the stateful ops emit the group key through the
Arrow/pandas boundary, which renders a float NaN as pandas' missing sentinel
and hands it back as SQL NULL — a NaN FLOAT stream key therefore arrives
NULL in the OUTPUT key column (the state itself is keyed correctly).  The
batch tiers carry isnan markers to restore such keys
(``dtypes._nan_round_trip``); the stateful streaming path does not —
key streams on float columns that can be NaN should cast the key to
string/long first.  All in-repo stream keys are ids/strings.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..aggregations import AGGREGATIONS
from ..core import _make_ctx
from ..dtypes import _labels_present, normalize_time

# Registry functions whose Catalyst aggregate cannot run under a streaming
# state store even though they pass the grouped_build/needs_idx gate:
# median/quantile buffer EVERY value of the group (Percentile is a
# TypedImperativeAggregate with O(rows) state — the watermark prunes
# windows, not within-window buffers), and nunique lowers to a distinct
# aggregation, which streaming rejects at analysis.  The approx_* sketch
# forms (HLL / ApproximatePercentile) are the supported alternatives.
_STREAMING_UNSUPPORTED = frozenset(
    {"median", "nanmedian", "quantile", "nanquantile", "nunique"}
)


def _stream_spec(stream: DataFrame, func: str, value: str, kw=None):
    """Gate + ctx builder shared by the streaming reducers: reject
    order-sensitive / holistic-buffer / distinct reductions; the bool→int
    cast rides the ctx EXPRESSIONS (``_make_ctx(bool_to_long=)``), scoped
    to THIS func — a frame-level withColumn would leak the cast into
    sibling aggregations of the same boolean column in ``windowed_agg``,
    flipping their result type on item order (r9 meta-review; same fix as
    batch ``groupby_agg``)."""
    spec = AGGREGATIONS[func]
    if spec.grouped_build or spec.needs_idx or spec.name in _STREAMING_UNSUPPORTED:
        raise ValueError(f"{func} is not supported in streaming mode")
    ctx = _make_ctx(stream, value, None, kw or {}, bool_to_long=spec.bool_to_int)
    return spec, ctx


def windowed_reduce(
    stream: DataFrame,
    *by: str,
    func: str,
    value: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    alias: str | None = None,
) -> DataFrame:
    """Event-time windowed grouped reduction with late-data handling.

    Emits one row per (window, *by) with the reduction applied to the
    window's rows; rows later than ``watermark`` behind the max seen event
    time are dropped and their window state reclaimed.
    """
    out = alias or func
    # watermarks require TIMESTAMP — NTZ event time throws
    # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE (plain projection, streaming-safe)
    stream = normalize_time(stream, ts_col)
    stream = stream.where(_labels_present(stream, by))
    spec, ctx = _stream_spec(stream, func, value)
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"), *by)
        .agg(spec.build(ctx).alias(out))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *by,
            out,
        )
    )


def windowed_agg(
    stream: DataFrame,
    *by: str,
    funcs,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Fused MULTI-reduction per event-time window — the streaming analog
    of :func:`~dask_groupby_spark.core.groupby_agg`: every requested
    reduction shares ONE stateful aggregation (one state store per
    (window, keys), one shuffle per micro-batch), exactly as Catalyst
    shares the hash table across agg columns in batch.

    ``funcs``: sequence of ``(func_name, value_col, alias)`` or
    ``(func_name, value_col, alias, finalize_kwargs)`` — same contract as
    ``groupby_agg``; order-sensitive and multi-stage reductions
    (first/last/arg*/mode/median) are rejected, as in
    :func:`windowed_reduce`.
    """
    stream = normalize_time(stream, ts_col)
    stream = stream.where(_labels_present(stream, by))
    aggs = []
    for item in funcs:
        name, vcol, out = item[0], item[1], item[2]
        kw = dict(item[3]) if len(item) > 3 else {}
        spec, ctx = _stream_spec(stream, name, vcol, kw)
        aggs.append(spec.build(ctx).alias(out))
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"), *by)
        .agg(*aggs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *by,
            *[item[2] for item in funcs],
        )
    )


def stream_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    attributes to a stream (the label/metadata-attach step of a streaming
    feature pipeline).

    The static side is broadcast (stream-static joins never shuffle the
    stream when the dim side is broadcast — each micro-batch joins against
    the executor-local hash table), and is RE-READ per micro-batch by
    Structured Streaming, so a dim table updated in place is picked up
    without restarting the query.  Inner and left joins are the
    streaming-supported shapes for a left-side stream; right/full would
    need the static side to observe stream completion and are rejected.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            "stream-static joins support how='inner' or 'left' "
            "(the stream is the left/preserved side)"
        )
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on=on, how=how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    before: str = "1 hour",
    after: str = "0 seconds",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time range constraint — the
    correlate-two-event-streams primitive (attribute a conversion to the
    impressions that preceded it, pair requests with responses).

    Matches ``left`` rows with ``right`` rows sharing the ``on`` key(s)
    whose event time falls in ``[left_ts - before, left_ts + after]``.
    BOTH sides get a watermark and the range condition is part of the join
    predicate — that pair is what lets Spark evict buffered rows once they
    can no longer match anything, so per-side state is O(rows within
    watermark + range horizon), not O(stream length).  Without the range
    condition a stream-stream outer join is rejected by Spark and an inner
    join buffers forever; this wrapper makes the bounded form the only
    expressible one.

    ``how`` ∈ inner/left/right/full (outer rows emit NULLs only after the
    watermark proves no match can arrive).  EVERY non-key right column whose
    name collides with a left column is suffixed ``_r`` in the output (not
    just ``right_ts`` — a shared payload column would otherwise make the
    join predicate ambiguous or duplicate output names); the equality keys
    themselves are merged into single columns.
    """
    joins = {"inner": "inner", "left": "leftOuter", "right": "rightOuter", "full": "fullOuter"}
    if how not in joins:
        raise ValueError(f"how must be one of {sorted(joins)}")
    keys = [on] if isinstance(on, str) else list(on)

    left = normalize_time(left, left_ts).withWatermark(left_ts, watermark)
    right = normalize_time(right, right_ts)
    for c in right.columns:
        if c in left.columns and c not in keys:
            if f"{c}_r" in right.columns or f"{c}_r" in left.columns:
                raise ValueError(
                    f"cannot disambiguate colliding column {c!r}: {c}_r exists"
                )
            right = right.withColumnRenamed(c, f"{c}_r")
            if c == right_ts:
                right_ts = f"{right_ts}_r"
    right = right.withWatermark(right_ts, watermark)

    cond = None
    for k in keys:
        eq = left[k] == right[k]
        cond = eq if cond is None else cond & eq
    cond = (
        cond
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {before}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {after}"))
    )
    joined = left.join(right, cond, joins[how])
    # merge the duplicated equality-key columns (coalesce for outer shapes)
    for k in keys:
        joined = joined.withColumn(f"__{k}", F.coalesce(left[k], right[k]))
        joined = joined.drop(left[k]).drop(right[k]).withColumnRenamed(f"__{k}", k)
    return joined


def session_reduce(
    stream: DataFrame,
    *by: str,
    func: str,
    value: str,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    alias: str | None = None,
) -> DataFrame:
    """Sessionized grouped reduction: rows of a key whose event times are
    within ``gap`` of each other merge into one session window
    (``F.session_window``); the reduction runs per (session, *by).

    Session state is watermark-pruned like tumbling windows — a key that
    goes quiet for ``gap`` closes its session and frees its state, so state
    size is O(active keys), not O(stream length).
    """
    out = alias or func
    stream = normalize_time(stream, ts_col)
    stream = stream.where(_labels_present(stream, by))
    spec, ctx = _stream_spec(stream, func, value)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), *by)
        .agg(spec.build(ctx).alias(out))
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            *by,
            out,
        )
    )


def streaming_dedup(
    stream: DataFrame,
    *id_cols: str,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: keep the first row per key, with the
    dedup state bounded by the watermark (a key older than ``watermark``
    can be evicted because any future duplicate would be dropped as late
    data anyway).  Without ``ts_col`` the state grows unboundedly — only
    valid for finite keyspaces.
    """
    if ts_col is None:
        return stream.dropDuplicates(list(id_cols))
    stream = normalize_time(stream, ts_col)
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(id_cols)
    )


def streaming_ffill(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "ts",
    out_col: str = "ffill",
) -> DataFrame:
    """Streaming forward-fill: the stateful analog of
    ``groupby_scan('ffill')`` — each key remembers its last non-null value
    across micro-batches (O(1) state per key) and fills nulls forward.

    Within a micro-batch rows are ordered by ``ts_col`` (arrival order
    inside a batch is not an event-time guarantee; pair with a watermark
    upstream if late data matters).  Unfillable leading gaps surface as
    NULL (Arrow maps pandas NaN to null), where the batch scan emits NaN.
    The output key/timestamp columns keep the INPUT's name and type (r7:
    the former hardcoded ``key bigint`` schema broke on string keys).
    """
    out_schema = T.StructType(
        [
            T.StructField(key_col, stream.schema[key_col].dataType),
            T.StructField(ts_col, stream.schema[ts_col].dataType),
            T.StructField(out_col, T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last", T.DoubleType())])

    def update(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last = state.get[0] if state.exists else None
        # Arrow delivers a key's batch rows as MULTIPLE chunks (maxRecordsPerBatch)
        # with no global ts order — sorting per chunk would fill earlier-ts rows
        # from a later-ts chunk and persist the wrong `last`.  Concat the key's
        # chunks (bounded by its rows in THIS micro-batch) and sort once.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ts_col, kind="stable"
            )
            vals = pdf[value_col].to_numpy(dtype="float64", na_value=float("nan"))
            filled = vals.copy()
            for i in range(len(filled)):
                if np.isnan(filled[i]):
                    filled[i] = last if last is not None else float("nan")
                else:
                    last = float(filled[i])
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(pdf),
                    ts_col: pdf[ts_col].to_numpy(),
                    out_col: filled,
                }
            )
        state.update((last,))

    return (
        stream.groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_cumsum(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    out_col: str = "running_sum",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Per-key running sum across micro-batches via arbitrary stateful
    processing (``applyInPandasWithState``) — state is a single float per
    key, so memory is O(#keys) regardless of stream length.  The output
    key column keeps the input's name and type (r7: the former hardcoded
    ``key bigint`` schema broke on string keys)."""
    out_schema = T.StructType(
        [
            T.StructField(key_col, stream.schema[key_col].dataType),
            T.StructField("n_seen", T.LongType()),
            T.StructField(out_col, T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("total", T.DoubleType()), T.StructField("n", T.LongType())]
    )

    def update(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            total, n = state.get
        else:
            total, n = 0.0, 0
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            total += float(vals.sum())
            n += int(len(vals))
        state.update((total, n))
        yield pd.DataFrame({key_col: [key[0]], "n_seen": [n], out_col: [total]})

    return (
        stream.groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_ingest_dedup(
    stream_docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    append_survivors: bool = True,
    max_pushdown_buckets: int = 10_000,
    trigger: dict | None = None,
):
    """Streaming ingest with incremental near-dedup: each micro-batch is
    checked against the persisted MinHash-LSH index
    (:func:`~dask_groupby_spark.operators.dedup.minhash_index_write`),
    survivors are appended to ``out_path`` and (optionally) to the index
    itself — the production crawl-ingest loop, unbounded, with the corpus
    never recomputed.

    Per batch (inside ``foreachBatch``, so the batch APIs and their scale
    plans apply — bh-pushdown probe, broadcast batch side):

    1. cross-batch: drop docs whose estimated Jaccard against an index
       document is ≥ ``threshold``;
    2. intra-batch: of the remaining docs, drop any that pairs (est-Jaccard
       ≥ threshold) with a smaller surviving id — the one-hop min-id keeper
       (exact transitive closure is a batch concern;
       ``duplicate_clusters`` exists for that);
    3. append survivors to ``out_path`` and, when ``append_survivors``,
       to the index (``mode="append"``, parameters validated against the
       stored meta) so later batches dedupe against them.

    Delivery is Structured Streaming's foreachBatch contract: at-least-once
    on failure/replay — re-running a batch re-appends its survivors, which
    step 1 then treats as index members; downstream consumers of
    ``out_path`` should key on ``id_col`` for exactly-once reads.

    Returns the started :class:`~pyspark.sql.streaming.StreamingQuery`.
    """
    from ..operators.dedup import (
        _index_meta,
        lsh_candidate_pairs,
        minhash_index_write,
        minhash_signatures,
        near_duplicates_against_index,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        meta = _index_meta(spark, index_path)
        batch = batch.localCheckpoint(eager=True)  # reused 3-4× below
        nd = near_duplicates_against_index(
            spark, index_path, batch, id_col, text_col,
            threshold=threshold, max_pushdown_buckets=max_pushdown_buckets,
        )
        # finally-guarded: a transient sink failure must not leak the
        # batch's persisted signature table into the next trigger (r7:
        # the batch is sketched once per trigger; without the unpersist,
        # state accumulates across micro-batches until LRU eviction)
        try:
            dup_vs_index = nd.select(F.col("new_id").alias(id_col)).distinct()
            remaining = batch.join(dup_vs_index, on=id_col, how="left_anti")
            # the intra-batch signature table feeds THREE consumers
            # (bucketing + both verify sides) — materialize it once, same
            # rule as nd.batch_signatures for the cross-batch path
            sig = minhash_signatures(
                remaining, id_col, text_col,
                meta["num_hashes"], meta["shingle_k"], meta["hasher"],
            ).localCheckpoint(eager=True)
            h = meta["num_hashes"]
            agree = sum(
                F.when(F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}"), 1).otherwise(0)
                for i in range(h)
            )
            intra_losers = (
                lsh_candidate_pairs(sig, h, meta["bands"], meta["hasher"])
                .join(sig.alias("a"), F.col("id_a") == F.col("a.id"))
                .join(sig.alias("b"), F.col("id_b") == F.col("b.id"))
                .where(agree / F.lit(float(h)) >= threshold)
                .select(F.col("id_b").alias(id_col))
                .distinct()
            )
            survivors = remaining.join(intra_losers, on=id_col, how="left_anti")
            survivors = survivors.localCheckpoint(eager=True)  # written twice
            survivors.write.mode("append").parquet(out_path)
            if append_survivors:
                minhash_index_write(
                    survivors, index_path, id_col, text_col,
                    meta["num_hashes"], meta["bands"], meta["shingle_k"],
                    meta["hasher"], mode="append",
                )
        finally:
            nd.batch_signatures.unpersist()

    return (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def _stream_sketch_update(
    stream_df: DataFrame,
    build_fn,
    path: str,
    checkpoint: str,
    trigger: dict | None,
):
    """Shared scaffolding for streaming mergeable-sketch sinks: each
    micro-batch is folded by ``build_fn(batch) -> DataFrame`` and written
    to its own ``batch_id=<n>`` partition with overwrite mode — replays
    of a batch REWRITE their partition instead of appending, so the
    counters are effectively exactly-once (contrast the at-least-once
    append loop of :func:`stream_ingest_dedup`, where over-delivery is
    semantically harmless; double-counted sketch rows would not be)."""

    def process(batch: DataFrame, batch_id: int) -> None:
        build_fn(batch).write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def stream_cms_update(
    stream_df: DataFrame,
    value: str,
    path: str,
    checkpoint: str,
    width: int = 1024,
    depth: int = 4,
    hasher: str = "fast",
    trigger: dict | None = None,
):
    """Streaming heavy-hitter counters: per-batch count-min sketches
    (:func:`~dask_groupby_spark.operators.sketches.cms_sketch_table`)
    under the idempotent ``batch_id=``-partition contract of
    :func:`_stream_sketch_update`.  Counters are linear, so
    :func:`~dask_groupby_spark.operators.sketches.cms_estimate` over the
    merged table answers frequency queries for the WHOLE stream history
    at any moment, at ``depth x width`` rows of state per batch and no
    raw-value retention.

    Returns the started :class:`~pyspark.sql.streaming.StreamingQuery`.
    """
    from ..operators.sketches import cms_sketch_table

    return _stream_sketch_update(
        stream_df,
        lambda b: cms_sketch_table(
            b, value, width=width, depth=depth, hasher=hasher
        ),
        path,
        checkpoint,
        trigger,
    )


def stream_hist_update(
    stream_df: DataFrame,
    value: str,
    path: str,
    checkpoint: str,
    lo: float,
    hi: float,
    by: "tuple[str, ...] | list[str]" = (),
    bins: int = 256,
    trigger: dict | None = None,
):
    """Streaming quantiles: per-batch declared-domain histograms
    (:func:`~dask_groupby_spark.operators.sketches.hist_sketch_table`)
    under the same idempotent partition contract.
    :func:`~dask_groupby_spark.operators.sketches.hist_quantile` over the
    merged table answers p50/p99-style queries for the whole stream
    history at ``|groups| x bins`` rows of state per batch.

    Returns the started :class:`~pyspark.sql.streaming.StreamingQuery`.
    """
    from ..operators.sketches import hist_sketch_table

    return _stream_sketch_update(
        stream_df,
        lambda b: hist_sketch_table(b, value, lo=lo, hi=hi, by=by, bins=bins),
        path,
        checkpoint,
        trigger,
    )


def stream_hll_update(
    stream_df: DataFrame,
    *by: str,
    value: str,
    path: str,
    checkpoint: str,
    lg_k: int = 12,
    trigger: dict | None = None,
):
    """Streaming distinct counts: per-batch HLL sketch rows
    (:func:`~dask_groupby_spark.operators.sketches.hll_sketch_table`)
    under the same idempotent partition contract — HLL union is
    idempotent AND commutative, so
    :func:`~dask_groupby_spark.operators.sketches.hll_merge_count` over
    the merged table gives whole-history per-group distinct estimates at
    ~2.5 KB of state per (group, batch).

    Returns the started :class:`~pyspark.sql.streaming.StreamingQuery`.
    """
    from ..operators.sketches import hll_sketch_table

    return _stream_sketch_update(
        stream_df,
        lambda b: hll_sketch_table(b, *by, value=value, lg_k=lg_k),
        path,
        checkpoint,
        trigger,
    )


def stream_kmv_update(
    stream_df: DataFrame,
    *by: str,
    value: str,
    path: str,
    checkpoint: str,
    k: int = 1024,
    hasher: str = "fast",
    trigger: dict | None = None,
):
    """Streaming set sketches: per-batch KMV bottom-k rows
    (:func:`~dask_groupby_spark.operators.sketches.kmv_sketch_table`)
    under the same idempotent ``batch_id=``-partition contract.  The KMV
    merge ("union the retained hashes, keep the k smallest",
    :func:`~dask_groupby_spark.operators.sketches.kmv_merge`) is
    idempotent AND commutative — replays rewrite, late merges commute —
    so the merged table answers whole-history distinct counts AND set
    overlap (:func:`~dask_groupby_spark.operators.sketches.kmv_overlap`
    between groups/streams) at k bigints per (group, batch).

    Returns the started :class:`~pyspark.sql.streaming.StreamingQuery`.
    """
    from ..operators.sketches import kmv_sketch_table

    return _stream_sketch_update(
        stream_df,
        lambda b: kmv_sketch_table(b, *by, value=value, k=k, hasher=hasher),
        path,
        checkpoint,
        trigger,
    )


def stream_rules_update(
    stream_df: DataFrame,
    rules,
    path: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Streaming data-quality monitoring: evaluate a
    :func:`~dask_groupby_spark.operators.validate.check_rules` rule set
    on every micro-batch and append the per-batch violation counts to a
    ``batch_id=``-partitioned metrics table — the quality time series a
    pipeline dashboards/alerts on (a jump in ``violation_frac`` is the
    earliest sign an upstream producer broke).

    Same idempotent per-partition overwrite contract as the sketch
    updaters (:func:`_stream_sketch_update`): a replayed batch rewrites
    its own partition, never double-counts.  Counts are linear, so the
    whole-history rates roll up from the table with one aggregate:
    ``SUM(n_violations)/SUM(n_rows)`` per rule.

    Returns the started :class:`~pyspark.sql.streaming.StreamingQuery`.
    """
    from ..operators.validate import check_rules

    return _stream_sketch_update(
        stream_df,
        lambda b: check_rules(b, rules),
        path,
        checkpoint,
        trigger,
    )
