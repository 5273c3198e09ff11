"""Streaming point-in-time (as-of) joins.

Semantics are identical to the batch operator
(:mod:`timefence_spark.operators.asof`, mirroring the reference's generated
SQL, /root/reference/src/timefence/engine.py:762-925): for every label row
``(keys, label_time)`` emit the single most recent feature row with

    feature_time  <  label_time - embargo      (strict;  <= inclusive)
    feature_time  >= label_time - max_lookback         (when set)
    feature_time  >= label_time - max_staleness        (when set)

Two physical forms:

* :func:`streaming_asof_join` — both sides are streams. Implemented as a
  keyed stateful operator (``applyInPandasWithState`` + event-time timeout):
  label and feature rows are unioned, watermarked, grouped by entity key;
  per-key state buffers pending labels and the feature history still able to
  match a future label. A label row is emitted only once the watermark has
  passed ``label_time - embargo`` — at that point every feature the label is
  allowed to see (all have ``feature_time < label_time - embargo`` ≤
  watermark) has arrived, so the emitted match is final and the output is a
  clean append stream. The embargo therefore *is* the latency budget: a
  larger embargo means labels can be finalized earlier relative to their own
  timestamp. Feature history is pruned to ``watermark - lookback`` (or, with
  no lookback, to the single newest row already shadowed for every possible
  future label), so state is bounded by key cardinality × window width, not
  by stream length.

* :func:`stream_static_asof_join` — label stream against a *static* feature
  table. The static side is compacted to one row per entity key (its
  feature history as a sorted struct array) and broadcast through a native
  stream-static equi-join; the as-of pick is pure array expressions.
  Stateless, append mode, no watermark, no driver-side collect — the memory
  bound is the executor broadcast limit.

Scale notes (100 TB): the stateful plan shuffles each stream once by entity
key — the same single-shuffle-per-side shape as the batch union strategy —
and its state size is what RocksDB state stores are built for; enable
``spark.sql.streaming.stateStore.providerClass=RocksDBStateStoreProvider``
for large key cardinalities.
"""

from __future__ import annotations

import json
from bisect import bisect_left, bisect_right
from datetime import date, datetime, timedelta
from typing import Any, Callable, Iterable, Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from timefence_spark._duration import duration_seconds, parse_duration
from timefence_spark.operators.asof import _payload_orderable

US = 1_000_000  # microseconds per second


def _seconds(value: str | timedelta | int | None) -> int | None:
    if value is None:
        return None
    if isinstance(value, int):
        return value
    return duration_seconds(parse_duration(value))


def _key_pairs(
    on: str | Sequence[str] | Sequence[tuple[str, str]],
) -> list[tuple[str, str]]:
    if isinstance(on, str):
        return [(on, on)]
    return [(p, p) if isinstance(p, str) else (p[0], p[1]) for p in on]


# ---------------------------------------------------------------------------
# JSON row codec — state holds rows as JSON strings so one static state
# schema serves every label/feature schema. Timestamps round-trip as epoch
# micros (exact), dates as ISO strings.
#
# The Spark-side to_json encoding needs explicit microsecond formats:
# the defaults render only milliseconds, silently truncating sub-ms event
# times through the state round-trip (caught by the differential oracle on
# the events table's microsecond timestamps).
# ---------------------------------------------------------------------------

_JSON_TS_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _encoder(dtype: DataType) -> Callable[[Any], Any]:
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return lambda v: None if v is None or v != v else int(pd.Timestamp(v).value // 1000)
    if isinstance(dtype, DateType):
        return lambda v: None if v is None else v.isoformat()
    return lambda v: None if v is None or (isinstance(v, float) and v != v) else v


def _decoder(dtype: DataType) -> Callable[[Any], Any]:
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return lambda v: None if v is None else pd.Timestamp(v, unit="us")
    if isinstance(dtype, DateType):
        return lambda v: None if v is None else date.fromisoformat(v)
    if isinstance(dtype, BooleanType):
        return lambda v: None if v is None else bool(v)
    return lambda v: v


def _py(v: Any) -> Any:
    """Normalize numpy scalars to JSON-serializable Python values."""
    if v is None:
        return None
    if isinstance(v, (pd.Timestamp, datetime)):
        return v
    item = getattr(v, "item", None)
    return item() if item is not None else v


_STATE_SCHEMA = StructType(
    [
        StructField("feat_ft", ArrayType(LongType())),  # sorted epoch micros
        StructField("feat_json", ArrayType(StringType())),
        StructField("lbl_due", ArrayType(LongType())),  # label_time - embargo, micros
        StructField("lbl_lt", ArrayType(LongType())),  # label_time, micros
        StructField("lbl_json", ArrayType(StringType())),
    ]
)


def streaming_asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | Sequence[str] | Sequence[tuple[str, str]],
    left_time: str,
    right_time: str,
    value_cols: Sequence[str] | None = None,
    prefix: str = "f",
    embargo: str | timedelta | int = 0,
    lookback: str | timedelta | int | None = None,
    staleness: str | timedelta | int | None = None,
    strict: bool = True,
    max_delay: str = "0 seconds",
) -> DataFrame:
    """Stream-stream as-of join; returns an append-mode streaming DataFrame
    ``[*left.columns, {prefix}__{c}..., {prefix}__feature_time]``.

    ``max_delay`` is the watermark delay applied to both streams — the
    out-of-orderness bound. A label is emitted once
    ``watermark >= label_time - embargo``; features arriving later than
    ``max_delay`` after their event time may be missed (standard watermark
    semantics — the batch engine's embargo plays exactly this role for
    training-data correctness, docs/concepts/embargo.md:1-30).
    """
    pairs = _key_pairs(on)
    embargo_s = _seconds(embargo) or 0
    lookback_s = _seconds(lookback)
    staleness_s = _seconds(staleness)
    bounds = [b for b in (lookback_s, staleness_s) if b is not None]
    lower_s = min(bounds) if bounds else None

    if value_cols is None:
        skip = {r for _, r in pairs} | {right_time}
        value_cols = [c for c in right.columns if c not in skip]
    value_cols = list(value_cols)

    left_fields = [left.schema[c] for c in left.columns]
    value_fields = [right.schema[c] for c in value_cols]
    ft_type = right.schema[right_time].dataType
    out_schema = StructType(
        list(left_fields)
        + [StructField(f"{prefix}__{f.name}", f.dataType) for f in value_fields]
        + [StructField(f"{prefix}__feature_time", ft_type)]
    )

    lbl_enc = [(f.name, _encoder(f.dataType)) for f in left_fields]
    val_enc = [(f.name, _encoder(f.dataType)) for f in value_fields]
    lbl_dec = [(f.name, _decoder(f.dataType)) for f in left_fields]
    val_dec = [(f.name, _decoder(f.dataType)) for f in value_fields]
    ft_dec = _decoder(ft_type)

    key_aliases = [f"__k{i}" for i in range(len(pairs))]

    # Normalized union: [keys..., __event_time, __is_label, __t(micros),
    # __due(micros), __row(json)]. Event time is cast to TimestampType for
    # the watermark (session tz is pinned to UTC, so NTZ casts are exact).
    lt = F.col(left_time)
    lbl_row = F.to_json(F.struct(*[F.col(c) for c in left.columns]), _JSON_TS_OPTS)
    lbl_side = left.select(
        *[F.col(k).alias(a) for (k, _), a in zip(pairs, key_aliases)],
        lt.cast("timestamp").alias("__event_time"),
        F.lit(True).alias("__is_label"),
        F.unix_micros(lt.cast("timestamp")).alias("__t"),
        (F.unix_micros(lt.cast("timestamp")) - F.lit(embargo_s * US)).alias("__due"),
        lbl_row.alias("__row"),
    )
    ft = F.col(right_time)
    feat_row = F.to_json(F.struct(*[F.col(c) for c in value_cols]), _JSON_TS_OPTS)
    feat_side = right.select(
        *[F.col(k).alias(a) for (_, k), a in zip(pairs, key_aliases)],
        ft.cast("timestamp").alias("__event_time"),
        F.lit(False).alias("__is_label"),
        F.unix_micros(ft.cast("timestamp")).alias("__t"),
        F.lit(None).cast("long").alias("__due"),
        feat_row.alias("__row"),
    )
    unioned = lbl_side.unionByName(feat_side).withWatermark("__event_time", max_delay)

    def _parse(js: str, decoders: list[tuple[str, Callable[[Any], Any]]]) -> list[Any]:
        d = json.loads(js)
        return [dec(d.get(name)) for name, dec in decoders]

    def process(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        feat_ft: list[int]
        feat_json: list[str]
        lbl_due: list[int]
        lbl_lt: list[int]
        lbl_json: list[str]
        if state.exists:
            s = state.get
            feat_ft, feat_json = list(s[0]), list(s[1])
            lbl_due, lbl_lt, lbl_json = list(s[2]), list(s[3]), list(s[4])
        else:
            feat_ft, feat_json, lbl_due, lbl_lt, lbl_json = [], [], [], [], []

        if not state.hasTimedOut:
            new_feats: list[tuple[int, str]] = []
            for pdf in pdfs:
                for is_l, t, due, row in zip(
                    pdf["__is_label"], pdf["__t"], pdf["__due"], pdf["__row"]
                ):
                    if is_l:
                        lbl_due.append(int(due))
                        lbl_lt.append(int(t))
                        lbl_json.append(row)
                    else:
                        new_feats.append((int(t), row))
            if new_feats:
                merged = sorted(
                    list(zip(feat_ft, feat_json)) + new_feats
                )  # (ft, json) — json tiebreak keeps duplicate-ft picks stable
                feat_ft = [t for t, _ in merged]
                feat_json = [r for _, r in merged]

        wm_us = state.getCurrentWatermarkMs() * 1000

        # Emit every label finalized by the watermark.
        out_rows: list[list[Any]] = []
        pending = sorted(range(len(lbl_due)), key=lambda i: lbl_due[i])
        still: list[int] = []
        for i in pending:
            due = lbl_due[i]
            # strict: matches need ft < due, and any such feature is already
            # past the watermark once due <= wm. inclusive: ft == due is
            # matchable and an event at exactly the watermark is NOT late
            # (event time >= watermark is still accepted), so a label only
            # finalizes once wm has moved strictly past its due time.
            not_final = (due > wm_us) if strict else (due >= wm_us)
            if not_final:
                still.append(i)
                continue
            idx = (bisect_left if strict else bisect_right)(feat_ft, due) - 1
            match: list[Any] | None = None
            match_ft: int | None = None
            if idx >= 0:
                cand_ft = feat_ft[idx]
                if lower_s is None or cand_ft >= lbl_lt[i] - lower_s * US:
                    match = _parse(feat_json[idx], val_dec)
                    match_ft = cand_ft
            row = _parse(lbl_json[i], lbl_dec)
            row += match if match is not None else [None] * len(val_dec)
            row.append(ft_dec(match_ft))
            out_rows.append(row)

        lbl_due = [lbl_due[i] for i in still]
        lbl_lt = [lbl_lt[i] for i in still]
        lbl_json = [lbl_json[i] for i in still]

        # Prune feature history no future label can match (see module doc).
        if lower_s is not None:
            cut = bisect_left(feat_ft, wm_us - lower_s * US)
        else:
            cut = max(0, bisect_right(feat_ft, wm_us - embargo_s * US) - 1)
        if cut:
            feat_ft = feat_ft[cut:]
            feat_json = feat_json[cut:]

        if not feat_ft and not lbl_due:
            state.remove()
        else:
            state.update((feat_ft, feat_json, lbl_due, lbl_lt, lbl_json))
            if lbl_due:
                # Re-fire once the watermark reaches the earliest pending
                # label (+1ms: the timestamp must exceed the watermark).
                state.setTimeoutTimestamp(min(lbl_due) // 1000 + 1)

        cols = (
            [n for n, _ in lbl_dec]
            + [f"{prefix}__{n}" for n, _ in val_dec]
            + [f"{prefix}__feature_time"]
        )
        if out_rows:
            yield pd.DataFrame(out_rows, columns=cols, dtype=object)

    return unioned.groupBy(*key_aliases).applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_static_asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | Sequence[str] | Sequence[tuple[str, str]],
    left_time: str,
    right_time: str,
    value_cols: Sequence[str] | None = None,
    prefix: str = "f",
    embargo: str | timedelta | int = 0,
    lookback: str | timedelta | int | None = None,
    staleness: str | timedelta | int | None = None,
    strict: bool = True,
    broadcast_features: bool | None = None,
) -> DataFrame:
    """As-of join of a (streaming) label DataFrame against a *static*
    feature DataFrame — the streaming analogue of the batch range join
    (``strategy='join'``) with a broadcast feature side, entirely
    JVM-side.

    The static side is compacted to ONE row per entity key holding its
    feature history as an array of (ft, values) structs sorted ascending,
    then broadcast through a native stream-static equi-join (no fanout: the
    join is 1:1 on keys). The as-of pick is pure expressions — filter the
    array to the label's validity window and take the last element, which
    is the latest feature_time with max-payload tie-break (identical to the
    batch strategies). Stateless: append mode, no watermark, no state
    store; works identically on a batch ``left``. Memory bound is the
    executor broadcast limit, not a driver-side collect.

    ``broadcast_features`` follows the batch range join's broadcast rule
    (:data:`timefence_spark.operators.asof.BROADCAST_BYTES_THRESHOLD`):
    the default ``None`` hints the broadcast only when the *raw static
    side's* Catalyst size estimate fits the threshold (the compacted
    aggregate carries the same bytes in fewer rows, and aggregate
    estimates are unreliable), ``True`` forces it, ``False`` suppresses it
    — for histories past executor-broadcast scale, where each micro-batch
    then shuffle-joins against the compacted table. If that recurring
    shuffle dominates, switch to :func:`streaming_asof_join`, whose state
    store holds the history instead.
    """
    pairs = _key_pairs(on)
    embargo_s = _seconds(embargo) or 0
    lookback_s = _seconds(lookback)
    staleness_s = _seconds(staleness)
    bounds = [b for b in (lookback_s, staleness_s) if b is not None]
    lower_s = min(bounds) if bounds else None

    if value_cols is None:
        skip = {r for _, r in pairs} | {right_time}
        value_cols = [c for c in right.columns if c not in skip]
    value_cols = list(value_cols)
    left_keys = [lk for lk, _ in pairs]

    # One row per key: sorted feature history. Struct ordering sorts by ft
    # first, then payload values — so element_at(..., -1) after the window
    # filter reproduces the batch tie-break (latest ft, max payload).
    # Map-typed payloads are not orderable (sort_array rejects them at
    # analysis); mirror the batch strategies' fallback and sort with an
    # array_sort comparator on __ft alone — duplicate-ft rows then resolve
    # arbitrarily, the reference's keep_any semantics.
    payload_struct = F.collect_list(
        F.struct(
            F.col(right_time).alias("__ft"),
            *[F.col(c).alias(f"__v{i}") for i, c in enumerate(value_cols)],
        )
    )
    if _payload_orderable(right, value_cols):
        hist = F.sort_array(payload_struct).alias("__hist")
    else:
        hist = F.array_sort(
            payload_struct,
            lambda a, b: F.when(a["__ft"] < b["__ft"], F.lit(-1))
            .when(a["__ft"] > b["__ft"], F.lit(1))
            .otherwise(F.lit(0)),
        ).alias("__hist")
    compact = right.groupBy(
        *[F.col(rk).alias(f"__k{i}") for i, (_, rk) in enumerate(pairs)]
    ).agg(hist)

    if broadcast_features is None:
        from timefence_spark.operators.asof import (
            BROADCAST_BYTES_THRESHOLD,
            estimated_size_bytes,
        )

        est = estimated_size_bytes(right)
        broadcast_features = est is not None and est <= BROADCAST_BYTES_THRESHOLD
    compacted = compact.alias("__r")
    if broadcast_features:
        compacted = F.broadcast(compacted)
    cond = None
    for i, (lk, _) in enumerate(pairs):
        c = F.col(f"__l.{lk}") == F.col(f"__r.__k{i}")
        cond = c if cond is None else (cond & c)
    joined = left.alias("__l").join(compacted, cond, "left")

    lt = F.col(f"__l.{left_time}")
    upper = lt - F.make_dt_interval(secs=F.lit(embargo_s)) if embargo_s else lt
    in_window = (
        (lambda x: x["__ft"] < upper) if strict else (lambda x: x["__ft"] <= upper)
    )
    if lower_s is not None:
        lower_bound = lt - F.make_dt_interval(secs=F.lit(lower_s))
        outer = in_window
        in_window = lambda x: outer(x) & (x["__ft"] >= lower_bound)  # noqa: E731
    # try_element_at: NULL (unmatched) when no feature falls in the window.
    match = F.try_element_at(F.filter(F.col("__r.__hist"), in_window), F.lit(-1))

    return joined.select(
        *[F.col(f"__l.{c}") for c in left.columns],
        *[
            match[f"__v{i}"].alias(f"{prefix}__{c}")
            for i, c in enumerate(value_cols)
        ],
        match["__ft"].alias(f"{prefix}__feature_time"),
    )
